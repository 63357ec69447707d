"""SPARQL text front-end (SURVEY D5 consumer side): parse a SPARQL
SELECT subset into the relational BGP machinery (kgspark/bgp.py) —
the store's query surface as upstream consumers actually write it
(the RES stack / `bbcarchdev/quilt` `[U~]` issued textual SPARQL).

Supported subset::

    SELECT [DISTINCT] (?v ... | * | (AGG([DISTINCT] ?v | *) AS ?a) ...)
    WHERE { group [ UNION { group } ... ] }
    [GROUP BY ?v ...] [HAVING ( expr )]
    [ORDER BY (?v | ASC(?v) | DESC(?v)) ...] [LIMIT n] [OFFSET n]

    AGG := COUNT | SUM | MIN | MAX | AVG   (SUM casts to BIGINT —
    exact on every engine; AVG = exact-BIGINT SUM / COUNT divided in
    DOUBLE, so its bits are engine-deterministic)

    CONSTRUCT { template-patterns } WHERE { group }
    CONSTRUCT WHERE { triple-patterns }              (§10.2.2 shorthand)
    ASK [WHERE] { group }
    DESCRIBE (<iri>... | ?v ... WHERE { group })

    group := ( triple-pattern '.'
             | { group } [ UNION { group } ... ]      (nested groups)
             | { SELECT ... }                         (subquery)
             | GRAPH (?g | iri) { triple-patterns }
             | OPTIONAL { group }                     (FULL group body)
             | FILTER [NOT] EXISTS { group }
             | MINUS { group }
             | FILTER ( expression )
             | BIND ( expression AS ?v )
             | VALUES ?v { lit ... }
             | VALUES (?a ?b ...) { (lit lit ...) ... } )*

    Functions: REGEX, STR, xsd:integer, CONTAINS, STRSTARTS, STRENDS,
    STRLEN, UCASE, LCASE, SUBSTR, CONCAT, IF, ABS, CEIL, FLOOR, ROUND,
    MD5, SHA1, SHA256, BOUND, COALESCE, REPLACE, STRBEFORE, STRAFTER,
    IN, isBlank (lexical ``_:`` test), and — requiring a full-term
    (s,p,o,o_kind,o_lang,o_datatype) input frame, e.g. kg_triples_full
    — LANG, DATATYPE, LANGMATCHES(LANG(?v), "range"), isIRI/isURI,
    isLiteral.  Same-shape builtins nest freely (they translate by
    name and their arguments stream through the expression loop).

IRIs may be written bracketed (``<doc://1>``) or as prefixed-name-style
bare tokens; both match on the bare IRI text.  Triple patterns may use
property paths: ``pred+``, ``pred*``, ``pred?``, ``^pred``, sequences
``p1/p2``, alternatives ``(a|^b)`` with optional closure, and the
symmetric-closure coref idiom ``(pred|^pred)+`` (see bgp._parse_path).
FILTER expressions support ?var references, comparison operators,
``&&``/``||``/``!``, ``REGEX(?v, "pat")``, ``STR(?v)``,
``xsd:integer(?v)`` casts, and string/number literals — translated to
Spark SQL expression strings, so they stay in whole-stage codegen and
Catalyst pushes single-variable predicates into the pattern scans.

The parser is driver-side work over a query STRING (bytes of config,
not data) — the resulting plan is exactly the bgp_match plan.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bgp import HIDDEN_PREFIXES
from .rdfio import compact_str
from .session import local_frame

_TOKEN = re.compile(
    r"""\s*(?:
        (?P<str>"(?:[^"\\]|\\.)*")
      | (?P<iri><[^<>\s]*>)
      | (?P<punct><=|>=|!=|&&|\|\||[{}().,<>=!*])
      | (?P<word>[^\s{}().,<>=!"]+)
    )""",
    re.VERBOSE,
)


def _tokenize(q: str) -> list[str]:
    q = q.strip()
    toks, i = [], 0
    while i < len(q):
        m = _TOKEN.match(q, i)
        if not m:
            raise ValueError(f"SPARQL tokenizer stuck at: {q[i:i+30]!r}")
        if m.end() == m.start():
            break
        toks.append(
            m.group("str") or m.group("iri") or m.group("punct")
            or m.group("word")
        )
        i = m.end()
    return toks


class _P:
    """Recursive-descent parser over the token stream."""

    def __init__(self, toks: list[str]):
        self.toks = toks
        self.i = 0

    def peek(self, k: int = 0) -> str | None:
        j = self.i + k
        return self.toks[j] if j < len(self.toks) else None

    def kw(self, word: str) -> bool:
        t = self.peek()
        if t is not None and t.upper() == word:
            self.i += 1
            return True
        return False

    def expect(self, word: str) -> None:
        if not self.kw(word):
            raise ValueError(
                f"SPARQL parse error: expected {word!r} at {self.peek()!r}"
            )

    def take(self) -> str:
        t = self.peek()
        if t is None:
            raise ValueError("SPARQL parse error: unexpected end of query")
        self.i += 1
        return t


def _take_path_term(p: _P) -> str:
    """Reassemble a predicate-position term that the tokenizer may have
    split: ``*`` is a punct token (SELECT *), parens are punct, and a
    sequence continuation after them rides as a ``/…`` word — so e.g.
    ``ex:a*/ex:b`` arrives as ``ex:a`` ``*`` ``/ex:b`` and
    ``(ex:a|^ex:a)+`` as ``(`` ``ex:a|^ex:a`` ``)`` ``+``.  Path
    VALIDATION happens in bgp._parse_path (ValueError on junk)."""

    def group() -> str:
        inner = p.take()
        p.expect(")")
        return f"({inner})"

    t = p.take()
    neg = ""
    if t == "!":  # negated property set !p / !(p|^q)
        neg = "!"
        t = p.take()
    out = neg + (group() if t == "(" else t)
    while True:
        nxt = p.peek()
        if nxt in ("*", "+", "?"):
            out += p.take()
        elif nxt == "(" and out.endswith("/"):
            p.take()
            out += group()
        elif nxt is not None and nxt.startswith("/"):
            out += p.take()
        else:
            return out


_GROUP_KEYWORDS = ("OPTIONAL", "FILTER", "UNION", "VALUES", "BIND", "MINUS",
                   "GRAPH")


def _at_triple(p: _P) -> bool:
    """True while the next token starts a triple pattern of the block."""
    return (p.peek() not in ("}", "{", None)
            and p.peek().upper() not in _GROUP_KEYWORDS)


def _take_subject_predicate(p: _P) -> tuple[str, str]:
    s = _term(p.take())
    pred = _term(_take_path_term(p))
    return s, "rdf:type" if pred == "a" else pred  # SPARQL shorthand


def _parse_patterns(p: _P) -> list[tuple[str, str, str]]:
    """Triple patterns up to the closing '}' (not consumed)."""
    pats = []
    while _at_triple(p):
        pats.append(_take_subject_predicate(p) + (_term(p.take()),))
        p.kw(".")  # trailing dot optional before }
    return pats


def _term(tok: str) -> str:
    """A query token → the text it matches: a quoted literal loses its
    quotes, and a bracketed IRI is compacted to the prefixed form the
    store and the triples table hold (``rdfio.compact_str``)."""
    if tok.startswith('"') and tok.endswith('"'):
        return tok[1:-1]
    if tok.startswith("<") and tok.endswith(">") and len(tok) >= 2:
        return compact_str(tok[1:-1])
    return tok


_VAR = re.compile(r"\?([A-Za-z_][A-Za-z0-9_]*)")


def _var(tok: str | None, what: str = "variable") -> str:
    """Variable token → bare name, ValueError otherwise — the parser's
    single error surface for variable positions (round-4 ADVICE: a bare
    ``_VAR.fullmatch(...).group(1)`` crashes with AttributeError on
    e.g. ``COUNT(5)`` / ``ORDER BY DESC(ex:a)``)."""
    m = _VAR.fullmatch(tok) if tok is not None else None
    if not m:
        raise ValueError(f"SPARQL parse error: expected {what}, got {tok!r}")
    return m.group(1)


def _arg_sql(p: _P) -> str:
    """One function argument: variable, string literal, or number."""
    t = p.take()
    if t.startswith("?"):
        return _var(t)
    if t.startswith('"'):
        return "'" + _term(t).replace("'", "''") + "'"
    return t


def _bind_term_ctor(p: _P, fn: str) -> list[tuple[str, str]]:
    """Parse a BIND-only term constructor — ``STRLANG(arg, "tag")``,
    ``STRDT(arg, datatype)``, ``IRI(arg)`` / ``URI(arg)`` — with the
    constructor name already consumed and ``p`` sitting on its opening
    paren.  The first argument is restricted to ``STR(?v)``, a bare
    variable, or a string literal (the common idioms; arbitrary nested
    expressions stay on the plain-BIND path).  Returns entries
    ``[("", value_sql), (hidden_prefix, carrier_sql), ...]`` — the
    caller appends the target variable name to each hidden prefix so
    the constructed term's language tag / datatype / kind ride the
    same carrier columns the BGP matcher emits for object bindings."""
    p.expect("(")
    t = p.take()
    if t.upper() == "STR" and p.peek() == "(":
        p.expect("(")
        v = _var(p.take(), "STR argument (a variable)")
        p.expect(")")
        val = f"CAST({v} AS STRING)"
    elif t.startswith("?"):
        val = _var(t)
    elif t.startswith('"'):
        val = "'" + _term(t).replace("'", "''") + "'"
    else:
        raise ValueError(
            f"{fn} argument must be STR(?v), a variable, or a string "
            f"literal (got {t!r})"
        )
    if fn == "STRLANG":
        p.expect(",")
        tag = _term(p.take()).replace("'", "''")
        p.expect(")")
        return [("", val), ("__lang_", f"'{tag}'"), ("__dt_", "''"),
                ("__kind_", "'literal'")]
    if fn == "STRDT":
        p.expect(",")
        dt = _term(p.take()).replace("'", "''")
        p.expect(")")
        return [("", val), ("__lang_", "''"), ("__dt_", f"'{dt}'"),
                ("__kind_", "'literal'")]
    p.expect(")")  # IRI / URI
    return [("", val), ("__lang_", "''"), ("__dt_", "''"),
            ("__kind_", "'iri'")]


_AGG_FNS = ("COUNT", "SUM", "MIN", "MAX", "AVG")


def _expr_to_sql(p: _P, until_as: bool = False, agg_sink: list | None = None) -> str:
    """Consume a parenthesized expression, translating SPARQL operators
    and functions to Spark SQL.  With ``until_as``, stop (and consume)
    at a top-level AS instead of the closing paren — the BIND form.
    With ``agg_sink`` (the HAVING form), inline aggregate calls like
    ``COUNT(?e)`` are parsed out into (fn, distinct, arg, alias)
    entries and replaced by their hidden ``__hav_i`` alias — computed
    in the aggregation step, filtered on, then dropped."""
    p.expect("(")
    depth, parts = 1, []
    while depth > 0:
        if until_as and depth == 1 and (p.peek() or "").upper() == "AS":
            p.take()
            break
        t = p.take()
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
            if depth == 0:
                break
        up = t.upper()
        if agg_sink is not None and up in _AGG_FNS and p.peek() == "(":
            p.expect("(")
            agg_distinct = p.kw("DISTINCT")
            arg = (
                None if p.kw("*")
                else _var(p.take(), f"{up} argument (a variable)")
            )
            p.expect(")")
            if arg is None and up != "COUNT":
                raise ValueError(f"{up}(*) is not valid SPARQL")
            alias = f"__hav_{len(agg_sink)}"
            agg_sink.append((up, agg_distinct, arg, alias, None))
            parts.append(alias)
            continue
        if up == "&&":
            parts.append("AND")
        elif up == "||":
            parts.append("OR")
        elif t == "!" and p.peek() != "=":
            parts.append("NOT")
        elif up == "REGEX":
            # REGEX(?v, "pat") → v rlike 'pat'; the pattern literal is
            # quote-escaped like every other literal (round-4 ADVICE:
            # an unescaped ' broke the generated SQL and let query text
            # inject into the filter expression)
            p.expect("(")
            var = _var(p.take(), "REGEX first argument (a variable)")
            p.expect(",")
            pat = p.take()
            p.expect(")")
            parts.append(f"{var} rlike '" + _term(pat).replace("'", "''") + "'")
        elif up == "STR":
            p.expect("(")
            var = _var(p.take(), "STR argument (a variable)")
            p.expect(")")
            parts.append(f"CAST({var} AS STRING)")
        elif up == "LANG":
            # LANG(?v) → the hidden language column carried by
            # full-term inputs (empty string for plain literals/IRIs,
            # matching SPARQL's "" for no language tag)
            p.expect("(")
            var = _var(p.take(), "LANG argument (a variable)")
            p.expect(")")
            parts.append(f"coalesce(__lang_{var}, '')")
        elif up == "DATATYPE":
            # DATATYPE(?v) → the hidden datatype column of a full-term
            # OBJECT binding ('' when untyped — subset semantics: the
            # implicit xsd:string/rdf:langString of the spec is not
            # materialized)
            p.expect("(")
            var = _var(p.take(), "DATATYPE argument (a variable)")
            p.expect(")")
            parts.append(f"coalesce(__dt_{var}, '')")
        elif up in ("XSD:INTEGER", "XSD:INT"):
            p.expect("(")
            var = _var(p.take(), f"{up.lower()} argument (a variable)")
            p.expect(")")
            parts.append(f"CAST({var} AS INT)")
        elif up == "BOUND":
            # BOUND(?v): true iff the OPTIONAL-bound variable is non-NULL
            p.expect("(")
            var = _var(p.take(), "BOUND argument (a variable)")
            p.expect(")")
            parts.append(f"({var} IS NOT NULL)")
        elif up == "REPLACE":
            # REPLACE(?v, "pat", "rep") — regex replace, quote-escaped
            p.expect("(")
            a = _arg_sql(p)
            p.expect(",")
            pat = _term(p.take()).replace("'", "''")
            p.expect(",")
            rep = _term(p.take()).replace("'", "''")
            p.expect(")")
            parts.append(f"regexp_replace({a}, '{pat}', '{rep}')")
        elif up in ("STRBEFORE", "STRAFTER"):
            # SPARQL returns "" (not the whole string) when the
            # delimiter is absent — hence the instr() guard
            p.expect("(")
            a = _arg_sql(p)
            p.expect(",")
            b = _arg_sql(p)
            p.expect(")")
            if up == "STRBEFORE":
                parts.append(
                    f"(CASE WHEN instr({a}, {b}) > 0 THEN "
                    f"substring({a}, 1, instr({a}, {b}) - 1) ELSE '' END)"
                )
            else:
                parts.append(
                    f"(CASE WHEN instr({a}, {b}) > 0 THEN "
                    f"substring({a}, instr({a}, {b}) + length({b})) "
                    f"ELSE '' END)"
                )
        elif up in _FN_PASS and p.peek() == "(":
            # direct-translation builtins: same call shape in Spark
            # SQL; nested arguments flow through this same token loop
            # (the delimiters ( ) , are pass-through), so expressions
            # like CONCAT(UCASE(?a), "-", STR(?b)) nest for free
            parts.append(_FN_PASS[up])
        elif up in ("SHA256", "SHA1"):
            p.expect("(")
            a = _arg_sql(p)
            p.expect(")")
            parts.append(f"sha2({a}, 256)" if up == "SHA256" else f"sha1({a})")
        elif up in ("ISIRI", "ISURI", "ISLITERAL"):
            # term-kind test of an OBJECT binding from a full-term
            # input — rides the hidden __kind_ carrier column the way
            # LANG()/DATATYPE() ride __lang_/__dt_ (subset semantics:
            # only object positions carry kind)
            p.expect("(")
            var = _var(p.take(), f"{up} argument (a variable)")
            p.expect(")")
            want = "literal" if up == "ISLITERAL" else "iri"
            parts.append(f"(coalesce(__kind_{var}, '') = '{want}')")
        elif up == "ISBLANK":
            # blank nodes are lexically '_:'-prefixed in the term model
            # (rdfio N-Triples/Turtle parsers keep the _: label)
            p.expect("(")
            var = _var(p.take(), "ISBLANK argument (a variable)")
            p.expect(")")
            parts.append(f"startswith({var}, '_:')")
        elif up == "ISNUMERIC":
            # isNumeric(?v): true iff the object binding carries a
            # numeric xsd datatype on its hidden __dt_ column (the
            # term model stores datatypes in prefixed form) — requires
            # a full-term input, like LANG()/DATATYPE()
            p.expect("(")
            var = _var(p.take(), "ISNUMERIC argument (a variable)")
            p.expect(")")
            parts.append(
                f"(coalesce(__dt_{var}, '') IN ('xsd:integer', 'xsd:int',"
                " 'xsd:long', 'xsd:short', 'xsd:byte', 'xsd:decimal',"
                " 'xsd:double', 'xsd:float'))"
            )
        elif up == "SAMETERM":
            # sameTerm(?a, ?b): RDF-term identity — lexical equality
            # PLUS equal language tag and datatype (two literals with
            # the same lexical form but different tags are different
            # terms).  Both arguments must be OBJECT bindings of a
            # full-term input so the hidden carriers exist.
            p.expect("(")
            a = _var(p.take(), "SAMETERM first argument (a variable)")
            p.expect(",")
            b = _var(p.take(), "SAMETERM second argument (a variable)")
            p.expect(")")
            parts.append(
                f"({a} = {b}"
                f" AND coalesce(__lang_{a}, '') = coalesce(__lang_{b}, '')"
                f" AND coalesce(__dt_{a}, '') = coalesce(__dt_{b}, ''))"
            )
        elif up == "ENCODE_FOR_URI":
            # ENCODE_FOR_URI(?v) — percent-encode for an IRI path
            # segment.  Subset semantics: rides Spark's url_encode
            # (Java URLEncoder) with the form-encoding '+' for space
            # rewritten to the %20 the SPARQL spec requires; the
            # unreserved set differs from RFC 3986 only on '*'/'~',
            # which the fixture grammar never emits.
            p.expect("(")
            a = _arg_sql(p)
            p.expect(")")
            parts.append(f"replace(url_encode({a}), '+', '%20')")
        elif up == "LANGMATCHES":
            # LANGMATCHES(LANG(?v), "range") — basic filtering: '*'
            # matches any non-empty tag, otherwise case-insensitive
            # exact tag or prefix-with-'-' (en matches en, en-GB)
            p.expect("(")
            if p.take().upper() != "LANG":
                raise ValueError(
                    "LANGMATCHES first argument must be LANG(?var)"
                )
            p.expect("(")
            var = _var(p.take(), "LANG argument (a variable)")
            p.expect(")")
            p.expect(",")
            rng = _term(p.take()).replace("'", "''").lower()
            p.expect(")")
            lang = f"lower(coalesce(__lang_{var}, ''))"
            if rng == "*":
                parts.append(f"({lang} != '')")
            else:
                parts.append(
                    f"({lang} = '{rng}' OR startswith({lang}, '{rng}-'))"
                )
        elif t.startswith("?"):
            parts.append(_var(t))
        elif t.startswith('"'):
            parts.append("'" + _term(t).replace("'", "''") + "'")
        elif up in _EXPR_PASS or re.fullmatch(r"\d+(\.\d+)?", t):
            parts.append(up if up in ("IN", "NOT", "AND", "OR", "TRUE",
                                      "FALSE") else t)
        else:
            # anything else (an IRI term, a stray word) would inject
            # invalid text into the generated Spark SQL and surface as
            # a ParseException at execution — reject at parse time, the
            # expression surface's single error type (round-6)
            raise ValueError(
                f"SPARQL expression: unsupported token {t!r}"
            )
    return " ".join(parts)


_EXPR_PASS = {"+", "-", "/", "%", "*", "(", ")", ",", "<", ">", "=",
              "!=", "<=", ">=", "IN", "NOT", "AND", "OR", "TRUE", "FALSE"}

# SPARQL builtins whose Spark SQL counterpart takes the same argument
# shape — translated by name; arguments stream through the main
# expression loop (delimiters are pass-through), so calls nest freely:
# CONCAT(UCASE(SUBSTR(?n, 1, 1)), LCASE(SUBSTR(?n, 2)))
_FN_PASS = {"IF": "if", "CONCAT": "concat", "SUBSTR": "substring",
            "ABS": "abs", "CEIL": "ceil", "FLOOR": "floor",
            "ROUND": "round", "MD5": "md5", "COALESCE": "coalesce",
            "CONTAINS": "contains", "STRSTARTS": "startswith",
            "STRENDS": "endswith", "STRLEN": "length",
            "UCASE": "upper", "LCASE": "lower"}


def _parse_group(p: _P) -> dict:
    """One { ... } group body → a group spec dict (brace not consumed
    at entry; closing brace consumed).  Beyond the flat bgp_match
    kwargs, a group may contain NESTED group graph patterns —
    ``{ {A} UNION {B} ... }`` under ``subgroups`` (a list of
    union-branch lists) — and ``{ SELECT … }`` subqueries under
    ``subselects``; both are evaluated recursively by _eval_group and
    joined on their shared variables."""
    p.expect("{")
    patterns: list = []
    optionals: list = []
    anti: list = []
    minus: list = []
    exists: list = []
    filters: list[str] = []
    binds: list[tuple[str, str]] = []
    values: list[tuple[list[str], list[tuple]]] = []
    subgroups: list[list[dict]] = []
    subselects: list[dict] = []
    while True:
        t = p.peek()
        if t is None:
            raise ValueError("SPARQL parse error: unclosed group")
        if t == "}":
            p.take()
            break
        up = t.upper()
        if t == ".":
            p.take()  # stray dot after a nested group / subquery
        elif t == "{":
            if (p.peek(1) or "").upper() == "SELECT":
                p.take()
                subselects.append(_parse_select_body(p, subquery=True))
                p.expect("}")
            else:
                branches = [_parse_group(p)]
                while (p.peek() or "").upper() == "UNION":
                    p.take()
                    branches.append(_parse_group(p))
                subgroups.append(branches)
        elif up == "VALUES":
            # UNDEF rides as None: that variable is UNBOUND in the row,
            # which then constrains only its defined variables (1.1)
            def vterm(tok: str):
                return None if tok.upper() == "UNDEF" else _term(tok)

            p.take()
            if p.peek() == "(":
                p.take()
                varnames = []
                while p.peek() not in (")", None):
                    varnames.append(_var(p.take(), "VALUES variable"))
                p.expect(")")
                p.expect("{")
                rows = []
                while p.peek() == "(":
                    p.take()
                    row = []
                    while p.peek() not in (")", None):
                        row.append(vterm(p.take()))
                    p.expect(")")
                    rows.append(tuple(row))
                p.expect("}")
            else:
                varnames = [_var(p.take(), "VALUES variable")]
                p.expect("{")
                rows = []
                while p.peek() not in ("}", None):
                    rows.append((vterm(p.take()),))
                p.expect("}")
            values.append((varnames, rows))
        elif up == "GRAPH":
            # GRAPH (?g | iri) { patterns } → 4-term quad patterns
            p.take()
            gterm = _term(p.take())
            p.expect("{")
            inner = _parse_patterns(p)
            p.expect("}")
            patterns.extend([(gterm,) + pat for pat in inner])
        elif up == "BIND":
            p.take()
            ctor = (p.peek(1) or "").upper()
            if (p.peek() == "(" and p.peek(2) == "("
                    and ctor in ("STRLANG", "STRDT", "IRI", "URI")):
                # term-constructor BIND forms: the produced binding
                # carries hidden __lang_/__dt_/__kind_ columns so a
                # downstream LANG()/DATATYPE()/isIRI() observes the
                # constructed term, not just its lexical value
                p.expect("(")
                p.take()  # the constructor name
                entries = _bind_term_ctor(p, ctor)
                p.expect("AS")
                var = _var(p.take(), "BIND target variable")
                p.expect(")")
                binds.append((entries[0][1], var))
                for suffix, sql in entries[1:]:
                    binds.append((sql, suffix + var))
            else:
                expr = _expr_to_sql(p, until_as=True)
                var = _var(p.take(), "BIND target variable")
                p.expect(")")
                binds.append((expr, var))
        elif up == "MINUS":
            # tracked apart from FILTER NOT EXISTS: a MINUS group whose
            # domain is disjoint from the outer bindings removes
            # NOTHING (spec 8.3), where NOT EXISTS would anti-gate.
            # The body is a FULL group graph pattern (may itself carry
            # FILTER/OPTIONAL/nested groups — round-5).
            p.take()
            minus.append(_parse_group(p))
        elif up == "OPTIONAL":
            p.take()
            optionals.append(_parse_group(p))
        elif up == "FILTER":
            p.take()
            nxt = (p.peek() or "").upper()
            if nxt == "NOT":
                p.take()
                p.expect("EXISTS")
                anti.append(_parse_group(p))
            elif nxt == "EXISTS":
                p.take()
                exists.append(_parse_group(p))
            else:
                filters.append(_expr_to_sql(p))
        else:
            got = _parse_patterns(p)
            if not got:
                raise ValueError(f"SPARQL parse error at {p.peek()!r}")
            patterns.extend(got)
    out: dict = {"patterns": patterns}
    if optionals:
        out["optionals"] = optionals
    if anti:
        out["anti"] = anti
    if minus:
        out["minus"] = minus
    if exists:
        out["exists"] = exists
    if filters:
        out["filters"] = filters
    if binds:
        out["binds"] = binds
    if values:
        out["values"] = values
    if subgroups:
        out["subgroups"] = subgroups
    if subselects:
        out["subselects"] = subselects
    return out


def _parse_select_body(p: _P, subquery: bool = False) -> dict:
    """SELECT query starting at the SELECT keyword → spec dict.  With
    ``subquery`` (a ``{ SELECT … }`` nested inside a group) parsing
    stops at the group's closing ``}`` (not consumed) instead of
    requiring end-of-input."""
    p.expect("SELECT")
    distinct = p.kw("DISTINCT")
    select: list[str] | None = []
    aggregates: list[tuple[str, bool, str | None, str, str | None]] = []
    proj_exprs: list[tuple[str, str]] = []
    if p.kw("*"):
        select = None
    else:
        while True:
            t = p.peek() or ""
            if t.startswith("?"):
                select.append(_var(p.take()))
            elif t == "(" and not (
                (p.peek(1) or "").upper() in
                ("COUNT", "SUM", "MIN", "MAX", "AVG",
                 "GROUP_CONCAT", "SAMPLE")
                and p.peek(2) == "("
            ):
                # (expr AS ?alias) projection expression — the BIND-free
                # form (round-6); _expr_to_sql consumes the '(' and
                # stops at the top-level AS
                expr = _expr_to_sql(p, until_as=True)
                alias = _var(p.take(), "projection alias (a variable)")
                p.expect(")")
                proj_exprs.append((expr, alias))
            elif t == "(":
                # (AGG([DISTINCT] ?v | *) AS ?alias); GROUP_CONCAT may
                # carry `; SEPARATOR[=]"sep"` before its closing paren
                p.take()
                fn = p.take().upper()
                if fn not in ("COUNT", "SUM", "MIN", "MAX", "AVG",
                              "GROUP_CONCAT", "SAMPLE"):
                    raise ValueError(f"unsupported aggregate {fn!r}")
                p.expect("(")
                agg_distinct = p.kw("DISTINCT")
                arg = (
                    None if p.kw("*")
                    else _var(p.take(), f"{fn} argument (a variable)")
                )
                extra = None
                if fn == "GROUP_CONCAT" and p.peek() == ";":
                    p.take()
                    p.expect("SEPARATOR")
                    p.kw("=")
                    sep = p.take()
                    if not sep.startswith('"'):
                        raise ValueError(
                            f"SEPARATOR needs a string literal, got {sep!r}"
                        )
                    extra = _term(sep)
                p.expect(")")
                p.expect("AS")
                alias = _var(p.take(), "aggregate alias (a variable)")
                p.expect(")")
                if arg is None and fn != "COUNT":
                    raise ValueError(f"{fn}(*) is not valid SPARQL")
                aggregates.append((fn, agg_distinct, arg, alias, extra))
            else:
                break
        if not select and not aggregates and not proj_exprs:
            raise ValueError("SELECT needs variables, aggregates or *")
    p.expect("WHERE")
    groups = [_parse_group(p)]
    while (p.peek() or "").upper() == "UNION":
        p.take()
        groups.append(_parse_group(p))

    group_by: list[str] = []
    having: list[str] = []
    if (p.peek() or "").upper() == "GROUP":
        p.take()
        p.expect("BY")
        while (p.peek() or "").startswith("?"):
            group_by.append(_var(p.take(), "GROUP BY variable"))
        if not group_by:
            raise ValueError("GROUP BY needs variables")
    having_aggs: list = []
    if (p.peek() or "").upper() == "HAVING":
        p.take()
        having.append(_expr_to_sql(p, agg_sink=having_aggs))

    order: list[tuple[str, bool]] = []
    if (p.peek() or "").upper() == "ORDER":
        p.take()
        p.expect("BY")
        while True:
            t = p.peek()
            if t is None:
                break
            up = t.upper()
            if up in ("ASC", "DESC"):
                # ASC(expr)/DESC(expr) — the argument is a FULL
                # expression (round-6), ?v being the common case
                p.take()
                order.append((_expr_to_sql(p), up == "DESC"))
            elif t.startswith("?"):
                order.append((_var(p.take()), False))
            elif t == "(":
                # bare bracketted expression key, ascending
                order.append((_expr_to_sql(p), False))
            else:
                break
    limit = offset = None
    if (p.peek() or "").upper() == "LIMIT":
        p.take()
        limit = int(p.take())
    if (p.peek() or "").upper() == "OFFSET":
        p.take()
        offset = int(p.take())
    if subquery:
        if p.peek() != "}":
            raise ValueError(
                f"SPARQL parse error: trailing {p.peek()!r} in subquery"
            )
    elif p.peek() is not None:
        raise ValueError(f"SPARQL parse error: trailing {p.peek()!r}")
    return {
        "distinct": distinct,
        "select": select,
        "aggregates": aggregates,
        "proj_exprs": proj_exprs,
        "group_by": group_by,
        "having": having,
        "having_aggs": having_aggs,
        "groups": groups,
        "order": order,
        "limit": limit,
        "offset": offset,
    }


def parse_sparql(q: str) -> dict:
    """Parse the SELECT subset → a spec dict (inspectable, testable)."""
    return _parse_select_body(_P(_tokenize(q)))


def _is_gate_frame(df: DataFrame) -> bool:
    """A frame carrying no variables — a constant-only group reduced to
    its 0/1-row existence gate (column ``matched``)."""
    return all(
        c == "matched" or c.startswith("_exists_") for c in df.columns
    )


def _shared_vars(bound: DataFrame, g: DataFrame) -> list[str]:
    return [
        c for c in g.columns
        if c in bound.columns
        and c != "matched"
        and not c.startswith(("_exists_",) + HIDDEN_PREFIXES)
    ]


def _eval_group(
    triples: DataFrame, g: dict, allow_product: bool = False
) -> DataFrame:
    return _eval_group_mn(triples, g, allow_product)[0]


def _union_pad_mn(
    pairs: list[tuple[DataFrame, set]],
) -> tuple[DataFrame, set]:
    """union_pad_frames + maybe-null bookkeeping: a variable is
    maybe-null after a UNION if any branch marks it OR any branch
    lacks it (the pad writes NULL there)."""
    from .bgp import union_pad_frames

    frames = [df for df, _ in pairs]
    if len(frames) == 1:
        return pairs[0]
    all_vars = {c for df in frames for c in df.columns}
    mn: set = set()
    for df, m in pairs:
        mn |= m
        mn |= {
            v for v in all_vars
            if v not in df.columns and not v.startswith(HIDDEN_PREFIXES)
        }
    return union_pad_frames(frames), mn


def _eval_group_mn(
    triples: DataFrame, g: dict, allow_product: bool = False
) -> tuple[DataFrame, set]:
    """Evaluate one group spec (from _parse_group) — the recursive
    heart of the front-end: the flat pattern conjunction, nested
    subgroup/UNION frames and ``{ SELECT … }`` subquery frames are
    joined on their shared variables; then the group-level operators
    apply in SPARQL order — VALUES, OPTIONAL (whose bodies are FULL
    group specs, so they may carry their own FILTER/OPTIONAL/nested
    groups — round-5), BIND, FILTER, EXISTS, NOT EXISTS, MINUS.

    Returns ``(frame, maybe_null)`` where ``maybe_null`` is the set of
    variables that can be UNBOUND (NULL) in the frame — introduced by
    OPTIONAL, UNION padding, VALUES UNDEF branches, subqueries or BIND.
    EXISTS/NOT EXISTS/MINUS use it to divert from the plain equi-join
    fast path to the null-compatible evaluation (round-6 ADVICE: an
    unbound shared variable is compatible-with-anything, which an
    equi-join silently gets wrong)."""
    from .bgp import _conjunction, union_pad_frames

    patterns = g.get("patterns") or []
    bound = (
        _conjunction(triples, patterns, allow_product=allow_product)
        if patterns
        else None
    )
    mn: set = set()  # maybe-null variables of `bound` (BGP binds all)
    subs: list[tuple[DataFrame, set]] = []
    for branches in g.get("subgroups") or []:
        pairs = [_eval_group_mn(triples, b, allow_product) for b in branches]
        subs.append(_union_pad_mn(pairs))
    for sq in g.get("subselects") or []:
        sdf = _exec_select(triples, sq, allow_product=allow_product)
        # conservative: a subquery's projection may emit NULLs (its own
        # OPTIONAL/UNION) — mark every column; only costs the slower
        # null-compatible path if one of them later feeds EXISTS/MINUS
        subs.append((sdf, set(sdf.columns)))
    def _drop_dup_hidden(incoming: DataFrame, base: DataFrame) -> DataFrame:
        # Both sides may carry hidden __lang_/__dt_ columns for the
        # SAME object variable (each bound it from a full-term frame);
        # keep the base frame's copy so a later FILTER(LANG(?v)) never
        # hits an ambiguous-column AnalysisException (round-6 ADVICE —
        # mirrors _conjunction's dup_lang handling, bgp.py:421).
        dup = [
            c for c in incoming.columns
            if c.startswith(HIDDEN_PREFIXES) and c in base.columns
        ]
        return incoming.drop(*dup) if dup else incoming

    for sf, sf_mn in subs:
        if bound is None:
            bound, mn = sf, set(sf_mn)
            continue
        if all(c.startswith("_exists_") for c in bound.columns):
            # constant-only flat part gates the subgroup frame
            bound, mn = sf.join(bound, F.lit(True), "left_semi"), set(sf_mn)
            continue
        sf = _drop_dup_hidden(sf, bound)
        shared = [
            c for c in sf.columns
            if c in bound.columns and not c.startswith(HIDDEN_PREFIXES)
        ]
        if shared:
            # inner equi-join: NULL keys never match, so the shared
            # variables are definitely bound afterwards (the engine's
            # documented group-join subset — full SPARQL compatible-
            # merge join of two maybe-null sides is not expressible
            # as one equi-join)
            bound = bound.join(sf, shared)
            mn = (mn | sf_mn) - set(shared)
        elif allow_product:
            bound = bound.crossJoin(sf)
            mn = mn | sf_mn
        else:
            raise ValueError(
                "nested group shares no variable with the outer group; "
                "a cross product at store scale is corpus-quadratic — "
                "pass allow_product=True to opt in"
            )
    if bound is None:
        raise ValueError("empty SPARQL group")
    if all(c.startswith("_exists_") for c in bound.columns):
        bound = bound.select(F.lit(True).alias("matched"))

    spark = triples.sparkSession
    for varnames, rows in g.get("values") or []:
        # inline solution-mapping table: query TEXT, config-sized —
        # broadcast join (product when no variable is shared, per
        # spec).  Rows are GROUPED BY their defined-variable mask
        # (UNDEF = None): each group joins only on its defined
        # variables, and the branches pad-union — a (ex:a UNDEF) row
        # constrains ?x alone instead of demanding a NULL match.
        by_mask: dict[tuple, list[tuple]] = {}
        for row in rows:
            mask = tuple(i for i, v in enumerate(row) if v is not None)
            by_mask.setdefault(mask, []).append(tuple(row[i] for i in mask))
        branches = []
        branch_mns = []
        for mask, mrows in sorted(by_mask.items()):
            mvars = [varnames[i] for i in mask]
            if not mvars:
                # all-UNDEF row: compatible with every solution
                branches.append(bound)
                branch_mns.append(set(mn))
                continue
            vdf = local_frame(
                spark, mrows, ", ".join(f"{v} string" for v in mvars)
            ).distinct()
            shared = [c for c in vdf.columns if c in bound.columns]
            if shared:
                branches.append(bound.join(F.broadcast(vdf), shared))
                branch_mns.append(set(mn) - set(shared))
            else:
                branches.append(bound.crossJoin(F.broadcast(vdf)))
                branch_mns.append(set(mn))
        bound, mn = _union_pad_mn(list(zip(branches, branch_mns)))
    for og in g.get("optionals") or []:
        gdf, g_mn = _eval_group_mn(triples, og, allow_product)
        if _is_gate_frame(gdf):
            continue  # OPTIONAL {constant-only} binds nothing — no-op
        shared = _shared_vars(bound, gdf)
        if not shared:
            raise ValueError("OPTIONAL group shares no variable with the BGP")
        gdf = _drop_dup_hidden(gdf, bound)
        bound = bound.join(gdf, shared, "left")
        # every variable the OPTIONAL newly introduces is maybe-null
        mn |= {
            c for c in gdf.columns
            if c not in shared and not c.startswith(HIDDEN_PREFIXES)
        }
    for expr, var in g.get("binds") or []:
        if var in bound.columns:
            raise ValueError(f"BIND target ?{var} is already bound")
        bound = bound.withColumn(var, F.expr(expr))
        if not var.startswith(HIDDEN_PREFIXES):
            # conservative: the expression may evaluate to NULL; the
            # hidden carrier columns of a term-constructor BIND are
            # not solution variables and stay out of the null-mask set
            mn.add(var)
    for f in g.get("filters") or []:
        bound = bound.filter(F.expr(f))
    for eg in g.get("exists") or []:
        gdf, g_mn = _eval_group_mn(triples, eg, allow_product)
        shared = _shared_vars(bound, gdf)
        sb = sorted(mn & set(shared))
        sg = sorted(g_mn & set(shared))
        if shared and (sb or sg):
            bound = _null_compat_join(bound, gdf, shared, sb, sg, "exists")
        elif shared:
            bound = bound.join(gdf.select(*shared).distinct(), shared, "left_semi")
        elif _is_gate_frame(gdf):
            bound = bound.join(gdf, F.lit(True), "left_semi")
        else:
            raise ValueError("EXISTS group shares no variable with the BGP")
    for ag in g.get("anti") or []:
        gdf, g_mn = _eval_group_mn(triples, ag, allow_product)
        shared = _shared_vars(bound, gdf)
        sb = sorted(mn & set(shared))
        sg = sorted(g_mn & set(shared))
        if shared and (sb or sg):
            bound = _null_compat_join(bound, gdf, shared, sb, sg, "not_exists")
        elif shared:
            bound = bound.join(gdf.select(*shared).distinct(), shared, "left_anti")
        elif _is_gate_frame(gdf):
            # constant-only NOT EXISTS: empties iff the gate matched
            bound = bound.join(gdf, F.lit(True), "left_anti")
        else:
            raise ValueError("NOT-EXISTS group shares no variable with the BGP")
    for mg in g.get("minus") or []:
        gdf, g_mn = _eval_group_mn(triples, mg, allow_product)
        shared = _shared_vars(bound, gdf)
        sb = sorted(mn & set(shared))
        sg = sorted(g_mn & set(shared))
        if shared and (sb or sg):
            bound = _null_compat_join(bound, gdf, shared, sb, sg, "minus")
        elif shared:
            bound = bound.join(gdf.select(*shared).distinct(), shared, "left_anti")
        # else: disjoint-domain MINUS removes nothing (spec 8.3)
    # Hidden __lang_/__dt_ columns stay ON the frame across group
    # boundaries (round-6: an outer FILTER(LANG(?v)) may reference a
    # variable bound inside a nested group or OPTIONAL; joins above are
    # dup-safe via _drop_dup_hidden).  External consumers drop them
    # through _drop_hidden.
    return bound, mn


def _null_compat_join(
    bound: DataFrame,
    gdf: DataFrame,
    shared: list[str],
    sb: list[str],
    sg: list[str],
    mode: str,
) -> DataFrame:
    """EXISTS / NOT EXISTS / MINUS when a shared variable can be
    UNBOUND (NULL) on either side — compatible-solution semantics: two
    solutions are compatible when they agree on every shared variable
    bound in BOTH (an unbound variable is compatible with anything);
    MINUS additionally requires at least one variable bound in both
    (dom-overlap, SPARQL 8.3).

    A single equi-join can't express this (NULL keys never match), and
    an OR-of-IS-NULL join condition would force a broadcast-nested-loop
    join — quadratic at store scale.  Instead the nullable shared
    variables are branch-enumerated: each side splits by its exact
    null-mask (statically enumerated subsets of ``sb``/``sg``), and
    every (mask, mask) pair joins on the variables non-null in both —
    plain equi-joins throughout, so each pair stays hash-joinable and
    skew-aware under AQE.  Bound-side rows are routed to exactly one
    mask branch (disjoint filters), so bag multiplicity is preserved;
    within a branch the gdf mask groups are consumed via chained
    semi/anti joins so no row is counted twice.  Guarded at ≤6 total
    nullable shared variables (≤64 joins); beyond that the query is
    rejected rather than silently exploding the plan."""
    from itertools import combinations

    if len(sb) + len(sg) > 6:
        raise ValueError(
            "EXISTS/NOT EXISTS/MINUS with more than 6 maybe-unbound "
            f"shared variables ({sb + sg}) — the null-compatible "
            "evaluation enumerates their null-masks; restructure the "
            "query (bind the variables in the required part)"
        )

    def _subsets(vs: list[str]) -> list[set]:
        return [set(c) for r in range(len(vs) + 1) for c in combinations(vs, r)]

    def _mask_filter(df: DataFrame, nullable: list[str], mask: set) -> DataFrame:
        for v in nullable:
            df = df.filter(
                F.col(v).isNotNull() if v in mask else F.col(v).isNull()
            )
        return df

    out_frames: list[DataFrame] = []
    for m in _subsets(sb):
        remaining = _mask_filter(bound, sb, m)
        kept: list[DataFrame] = []
        for mg in _subsets(sg):
            gpart = _mask_filter(gdf, sg, mg)
            join_vars = [
                v for v in shared
                if (v not in sb or v in m) and (v not in sg or v in mg)
            ]
            if not join_vars:
                if mode == "minus":
                    continue  # no dom-overlap → MINUS removes nothing
                gate = gpart.select(F.lit(True).alias("matched")).limit(1)
                matched = remaining.join(gate, F.lit(True), "left_semi")
                remaining = remaining.join(gate, F.lit(True), "left_anti")
            else:
                gj = gpart.select(*join_vars).distinct()
                matched = remaining.join(gj, join_vars, "left_semi")
                remaining = remaining.join(gj, join_vars, "left_anti")
            if mode == "exists":
                kept.append(matched)
        out_frames.extend(kept if mode == "exists" else [remaining])
    out = out_frames[0]
    for fr in out_frames[1:]:
        out = out.unionByName(fr)
    return out


def _drop_hidden(df: DataFrame) -> DataFrame:
    """Strip hidden __lang_/__dt_ carrier columns at the points where a
    solution frame leaves the group-evaluation recursion (projection,
    DISTINCT, CONSTRUCT/ASK/DESCRIBE) — they must never reach results
    or affect solution multiplicity."""
    hidden = [c for c in df.columns if c.startswith(HIDDEN_PREFIXES)]
    return df.drop(*hidden) if hidden else df


def _exec_select(
    triples: DataFrame, spec: dict, allow_product: bool = False
) -> DataFrame:
    """Execute a parsed SELECT spec — shared by sparql_select and
    ``{ SELECT … }`` subquery evaluation."""
    from .bgp import union_pad_frames

    frames = [_eval_group(triples, g, allow_product) for g in spec["groups"]]
    out = _drop_hidden(frames[0] if len(frames) == 1 else union_pad_frames(frames))
    hav_aggs = spec.get("having_aggs") or []
    if spec["aggregates"] or (spec["group_by"] and hav_aggs):
        # SPARQL aggregation: GROUP BY keys must cover every bare
        # SELECT variable.  SUM casts its argument to BIGINT (the
        # store's literals ride as strings; an integer sum is exact on
        # every engine).  AVG is defined as exact-BIGINT SUM / COUNT
        # divided in DOUBLE — deterministic IEEE-754 bits on any
        # engine, unlike a running mean (oracle-bridged through
        # floor(1e6·x), see kg_sparql_avg).  Aggregates are
        # map-side-combinable: partial + final hash aggregate around
        # one shuffle.
        stray = [v for v in (spec["select"] or []) if v not in spec["group_by"]]
        if stray:
            raise ValueError(f"SELECT variables not in GROUP BY: {stray}")
        aggs = []
        for fn, agg_distinct, arg, alias, extra in (
            list(spec["aggregates"]) + hav_aggs
        ):
            if fn == "COUNT" and arg is None:
                c = F.count(F.lit(1))
            elif fn == "COUNT":
                c = (
                    F.countDistinct(arg)
                    if agg_distinct
                    else F.count(F.col(arg))
                )
            elif fn == "SUM":
                col = F.col(arg).cast("bigint")
                c = F.sum_distinct(col) if agg_distinct else F.sum(col)
            elif fn == "AVG":
                col = F.col(arg).cast("bigint")
                s = F.sum_distinct(col) if agg_distinct else F.sum(col)
                n = (
                    F.count_distinct(col) if agg_distinct
                    else F.count(col)
                )
                c = s.cast("double") / n.cast("double")
            elif fn == "SAMPLE":
                # SAMPLE returns an arbitrary value per group; the
                # deterministic MIN is a valid (and oracle-able) choice
                c = F.min(F.col(arg))
            elif fn == "GROUP_CONCAT":
                vals = (
                    F.collect_set(F.col(arg)) if agg_distinct
                    else F.collect_list(F.col(arg))
                )
                # sorted before joining — deterministic on every
                # engine (the SPARQL spec leaves the order open)
                c = F.array_join(F.array_sort(vals), extra if extra is not None else " ")
            else:  # MIN / MAX — distinct is a no-op
                c = getattr(F, fn.lower())(F.col(arg))
            aggs.append(c.alias(alias))
        out = out.groupBy(*spec["group_by"]).agg(*aggs)
        # HAVING runs BEFORE the SELECT projection so it can reference
        # GROUP BY keys the SELECT list drops (round-6 ADVICE —
        # SELECT (SUM(?s) AS ?x) … GROUP BY ?t HAVING(?t != "a") is
        # valid SPARQL); hidden __hav_ aliases then drop with it.
        for h in spec["having"]:
            out = out.filter(F.expr(h))
        if hav_aggs:
            out = out.drop(*[a for _, _, _, a, _x in hav_aggs])
        out = _apply_proj_exprs(out, spec)
        if spec["select"] is not None:
            # aggregate-only SELECT lists still project ONLY the listed
            # aliases — the GROUP BY keys don't leak (SELECT * keeps all)
            out = out.select(
                *spec["select"],
                *[a for _, _, _, a, _x in spec["aggregates"]],
                *[a for _, a in spec.get("proj_exprs") or []],
            )
    elif spec["group_by"]:
        # GROUP BY without aggregates: one solution per group — the
        # grouped projection (round-4 ADVICE: this used to be parsed
        # then silently ignored).  Non-grouped SELECT variables are a
        # spec violation, as in the aggregate branch.
        proj = spec["select"] if spec["select"] is not None else spec["group_by"]
        stray = [v for v in proj if v not in spec["group_by"]]
        if stray:
            raise ValueError(f"SELECT variables not in GROUP BY: {stray}")
        out = out.select(*spec["group_by"]).distinct()
        for h in spec["having"]:
            out = out.filter(F.expr(h))
        out = _apply_proj_exprs(out, spec)
        out = out.select(*proj, *[a for _, a in spec.get("proj_exprs") or []])
    elif spec["having"]:
        raise ValueError("HAVING requires GROUP BY or aggregates")
    elif spec["select"] is not None or spec.get("proj_exprs"):
        out = _apply_proj_exprs(out, spec)
        sel = spec["select"] if spec["select"] is not None else []
        missing = [v for v in sel if v not in out.columns]
        if missing:
            raise ValueError(f"SELECT variables not bound: {missing}")
        out = out.select(*sel, *[a for _, a in spec.get("proj_exprs") or []])
    if spec["distinct"]:
        out = out.distinct()
    if spec["order"]:
        # keys are column names or compiled SQL expressions — both go
        # through F.expr; ?v-with-LIMIT still plans as TakeOrdered
        out = out.orderBy(
            *[
                F.expr(k).desc() if d else F.expr(k).asc()
                for k, d in spec["order"]
            ]
        )
    if spec["offset"]:
        out = out.offset(spec["offset"])
    if spec["limit"] is not None:
        out = out.limit(spec["limit"])
    return out


def _apply_proj_exprs(out: DataFrame, spec: dict) -> DataFrame:
    """(expr AS ?alias) SELECT projection expressions (round-6) — the
    BIND-free form; evaluated after grouping/HAVING so they can
    reference aggregate aliases as well as plain variables."""
    for expr, alias in spec.get("proj_exprs") or []:
        if alias in out.columns:
            raise ValueError(f"projection alias ?{alias} is already bound")
        out = out.withColumn(alias, F.expr(expr))
    return out


def sparql_select(
    triples: DataFrame, query: str, allow_product: bool = False
) -> DataFrame:
    """Execute a SPARQL SELECT (subset) against a (s,p,o) DataFrame.

    ORDER BY + LIMIT compile to orderBy().limit() — Spark plans that as
    TakeOrdered (per-partition top-k, no global sort).  Without ORDER
    BY the solution sequence is unordered, as in SPARQL."""
    return _exec_select(triples, parse_sparql(query), allow_product)


def sparql_construct(
    triples: DataFrame, query: str, allow_product: bool = False
) -> DataFrame:
    """Execute a SPARQL CONSTRUCT (subset)::

        CONSTRUCT { template patterns } WHERE { group }

    Returns the constructed GRAPH — distinct (s, p, o); template
    instances with an unbound variable are dropped (spec semantics)."""
    from .bgp import construct_from_solutions

    from .bgp import _parse_path

    p = _P(_tokenize(query))
    p.expect("CONSTRUCT")
    if p.kw("WHERE"):
        # CONSTRUCT WHERE { patterns } shorthand (SPARQL 1.1 §10.2.2):
        # the template IS the pattern group — restricted to a flat BGP
        # (no FILTER/OPTIONAL/paths), per spec
        p.expect("{")
        template = _parse_patterns(p)
        p.expect("}")
        for _s, _pp, _o in template:
            if not _pp.startswith("?") and _parse_path(_pp) is not None:
                raise ValueError(
                    "CONSTRUCT WHERE patterns cannot use property "
                    f"paths: {_pp!r}"
                )
        g = {"patterns": template}
    else:
        p.expect("{")
        template = _parse_patterns(p)
        p.expect("}")
        for _s, _p, _o in template:
            if not _p.startswith("?") and _parse_path(_p) is not None:
                raise ValueError(
                    f"CONSTRUCT template predicate cannot be a property "
                    f"path: {_p!r}"
                )
        p.expect("WHERE")
        g = _parse_group(p)
    if p.peek() is not None:
        raise ValueError(f"SPARQL parse error: trailing {p.peek()!r}")
    sol = _drop_hidden(_eval_group(triples, g, allow_product=allow_product))
    return construct_from_solutions(sol, template)


def sparql_ask(
    triples: DataFrame, query: str, allow_product: bool = False
) -> DataFrame:
    """Execute a SPARQL ASK (subset): ``ASK [WHERE] { group }`` →
    one row ``(ask: boolean)``."""
    from .bgp import ask_from_solutions

    p = _P(_tokenize(query))
    p.expect("ASK")
    p.kw("WHERE")
    g = _parse_group(p)
    if p.peek() is not None:
        raise ValueError(f"SPARQL parse error: trailing {p.peek()!r}")
    return ask_from_solutions(
        _drop_hidden(_eval_group(triples, g, allow_product=allow_product))
    )


def store_sparql(
    spark,
    path: str,
    query: str,
    graph=None,
    allow_product: bool = False,
) -> DataFrame:
    """SPARQL over the per-graph partitioned N-Quads file store
    (rdfio.write_nquads_store) — the D5/D6 store consumed through its
    query surface.

    ``graph`` (IRI or list) is the graph-scoped fetch: read_nquads_store
    lists and scans only the requested graphs' directories, BEFORE the
    parse kernel runs, so a scoped query costs the graphs it reads, not
    the graphs the store holds (a filter on the parsed frame would not
    prune: filters do not push through MapInPandas).  The predicate
    also stays on the raw partition column as a guard (plan-gated in
    tests).  The queried default graph is the RDF MERGE of the selected
    graphs (set semantics — distinct before matching); a query using
    GRAPH clauses instead keeps the quad frame's ``g`` column so the
    4-term patterns can see the named graphs (round-4 ADVICE: the
    unconditional merge made the documented GRAPH support fail on the
    store surface)."""
    from .bgp import DATASET_DEFAULT
    from .rdfio import read_nquads_store

    toks = _tokenize(query)
    from_g, named_g, toks = _strip_dataset(toks)
    if from_g or named_g:
        # explicit dataset (SPARQL §13.2): default graph = RDF merge
        # of the FROM graphs (rows re-labelled with the sentinel),
        # named graphs = exactly the FROM NAMED set.  Each side is a
        # partition-PRUNED read of only its graphs' directories.
        if graph is not None:
            raise ValueError(
                "pass either a graph= scope or FROM/FROM NAMED clauses,"
                " not both"
            )
        parts = []
        if from_g:
            parts.append(
                read_nquads_store(spark, path, graph=sorted(set(from_g)))
                .withColumn("g", F.lit(DATASET_DEFAULT))
            )
        if named_g:
            parts.append(
                read_nquads_store(spark, path, graph=sorted(set(named_g)))
            )
        ds = parts[0]
        for p_ in parts[1:]:
            ds = ds.unionByName(p_)
        triples = ds.withColumn("__ds", F.lit(True))
        return sparql_query(
            triples, " ".join(toks), allow_product=allow_product
        )
    quads = read_nquads_store(spark, path, graph=graph)
    if any(t.upper() == "GRAPH" for t in toks):
        triples = quads.select("g", "s", "p", "o")
    else:
        triples = quads.select("s", "p", "o").distinct()
    return sparql_query(triples, query, allow_product=allow_product)


def _strip_dataset(toks: list[str]) -> tuple[list[str], list[str], list[str]]:
    """Extract ``FROM <g>`` / ``FROM NAMED <g>`` dataset clauses from a
    token stream (they sit between the projection and WHERE) and
    return (from_graphs, named_graphs, remaining_tokens).  Inside a
    brace group FROM cannot occur in the supported grammar, so a flat
    scan outside braces is exact."""
    from_g: list[str] = []
    named_g: list[str] = []
    out: list[str] = []
    i, depth = 0, 0
    while i < len(toks):
        t = toks[i]
        if t == "{":
            depth += 1
        elif t == "}":
            depth -= 1
        if depth == 0 and t.upper() == "FROM":
            i += 1
            tgt = from_g
            if i < len(toks) and toks[i].upper() == "NAMED":
                tgt = named_g
                i += 1
            if i >= len(toks):
                raise ValueError("FROM needs a graph IRI")
            tgt.append(_ground_term(toks[i]))
            i += 1
            continue
        out.append(t)
        i += 1
    return from_g, named_g, out


def sparql_query(
    triples: DataFrame, query: str, allow_product: bool = False
) -> DataFrame:
    """Verb dispatch: run any supported SPARQL form (SELECT /
    CONSTRUCT / ASK / DESCRIBE) against a (s,p,o[,g]) frame — the
    single entry point the runner CLI and store surface share."""
    toks = _tokenize(query)
    verb = (toks or [""])[0].upper()
    if verb == "SELECT":
        return sparql_select(triples, query, allow_product=allow_product)
    if verb == "CONSTRUCT":
        return sparql_construct(triples, query, allow_product=allow_product)
    if verb == "ASK":
        return sparql_ask(triples, query, allow_product=allow_product)
    if verb == "DESCRIBE":
        return sparql_describe(triples, query, allow_product=allow_product)
    raise ValueError(f"unsupported SPARQL verb: {verb!r}")


def sparql_describe(
    triples: DataFrame, query: str, allow_product: bool = False
) -> DataFrame:
    """SPARQL DESCRIBE (subset — outgoing-edge description):
    ``DESCRIBE iri ...`` or ``DESCRIBE ?v ... WHERE { group }``.
    Returns every (s, p, o) whose subject is a described resource —
    one semi-join against the (distinct) subject set, no collect."""
    p = _P(_tokenize(query))
    p.expect("DESCRIBE")
    consts: list[str] = []
    vars_: list[str] = []
    while p.peek() is not None and (p.peek() or "").upper() != "WHERE":
        t = p.take()
        if t.startswith("?"):
            vars_.append(_var(t))
        else:
            consts.append(_term(t))
    if not consts and not vars_:
        raise ValueError("DESCRIBE needs resources or variables")
    spark = triples.sparkSession
    t = triples
    if "g" in t.columns:
        t = t.select("s", "p", "o").distinct()
    subjects = None
    if consts:
        subjects = local_frame(spark, [(c,) for c in consts], "subj string")
    if vars_:
        if (p.peek() or "").upper() != "WHERE":
            raise ValueError("DESCRIBE with variables needs a WHERE group")
        p.expect("WHERE")
        g = _parse_group(p)
        sol = _drop_hidden(_eval_group(triples, g, allow_product=allow_product))
        for v in vars_:
            if v not in sol.columns:
                raise ValueError(f"DESCRIBE variable ?{v} not bound")
            sv = sol.select(F.col(v).alias("subj"))
            subjects = sv if subjects is None else subjects.unionByName(sv)
    if p.peek() is not None:
        raise ValueError(f"SPARQL parse error: trailing {p.peek()!r}")
    return t.join(
        subjects.distinct(), t["s"] == F.col("subj"), "left_semi"
    )


def construct_into_store(
    spark,
    path: str,
    query: str,
    graph: str,
    source: DataFrame | None = None,
    allow_product: bool = False,
) -> None:
    """Twine's process-and-put loop on the store surface: run a
    CONSTRUCT query (over the store's merged default graph, or over an
    explicit ``source`` frame) and REPLACE named graph ``graph`` with
    the constructed result — a serialized per-graph overwrite
    (rdfio.replace_graphs, writerd semantics), other graphs untouched."""
    from .rdfio import read_nquads_store, replace_graphs

    if source is None:
        quads = read_nquads_store(spark, path)
        source = quads.select("s", "p", "o").distinct()
    g = sparql_construct(source, query, allow_product=allow_product)
    replace_graphs(
        g.select(F.lit(graph).alias("g"), "s", "p", "o"), path
    )


# --- SPARQL UPDATE (subset) ---------------------------------------------------
# Twine's ingest consumers WRITE through the store surface (sparql-put,
# writerd serialization — SURVEY §2 O5/O6).  The read-only text surface
# above gains the four update verbs that cover that path: INSERT DATA,
# DELETE DATA, DELETE WHERE, CLEAR/DROP GRAPH (plus CLEAR DEFAULT/ALL),
# executed against the per-graph partitioned N-Quads store.  A request
# may chain operations with ';' — the whole request runs under ONE
# store write lock, so concurrent updaters serialize request-at-a-time
# exactly like replace_graphs writers.

DEFAULT_GRAPH = "urn:x-kgspark:default"
"""Graph that bare (non-GRAPH) triples in INSERT/DELETE DATA target —
the store keys every row by named graph (partition column), so the
default graph is itself a named partition."""

_PY_UNESCAPE = {"n": "\n", "t": "\t", "r": "\r"}


def _unescape_str(s: str) -> str:
    """Single-pass ``\\x`` unescape for ground literals in an UPDATE
    request — mirrors the parse kernels' _unescape so inserted rows
    compare equal to parsed store rows."""
    out, i = [], 0
    while i < len(s):
        if s[i] == "\\" and i + 1 < len(s):
            out.append(_PY_UNESCAPE.get(s[i + 1], s[i + 1]))
            i += 2
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


def _ground_term(tok: str) -> str:
    if tok.startswith("?"):
        raise ValueError(
            "INSERT DATA / DELETE DATA must be ground — no variables"
        )
    return _term(tok)


def _take_object(p: _P) -> tuple:
    """The object of an update-block triple with its @lang or ^^datatype
    suffix → (o, o_kind, o_lang, o_datatype): a literal's unescaped
    text, a constant IRI's compact text, or a variable kept with its
    '?' and a None o_kind."""
    o = p.take()
    if o.startswith("?"):
        return o, None, "", ""
    if not o.startswith('"'):
        return _term(o), "iri", "", ""
    lang = dt = ""
    nxt = p.peek() or ""
    if nxt.startswith("@"):
        lang = p.take()[1:]
    elif nxt.startswith("^^"):
        dt = _ground_term(p.take()[2:])
    return _unescape_str(_term(o)), "literal", lang, dt


def _parse_data_triples(p: _P) -> list[tuple]:
    """Ground triples inside a DATA block → (s, p, o, o_kind, o_lang,
    o_datatype) rows.  Literal objects may carry @lang or ^^datatype
    suffixes; predicates must be plain terms (no property paths)."""
    from .bgp import _parse_path

    rows = []
    while p.peek() not in ("}", None) and (p.peek() or "").upper() != "GRAPH":
        s, pred = _take_subject_predicate(p)
        o, o_kind, o_lang, o_dt = _take_object(p)
        if _parse_path(pred) is not None:
            raise ValueError(
                f"property path not allowed in a DATA block: {pred!r}"
            )
        rows.append((
            _ground_term(s), _ground_term(pred),
            o if o_kind == "literal" else _ground_term(o),
            o_kind, o_lang, o_dt,
        ))
        p.kw(".")
    return rows


def _parse_quad_data(p: _P) -> list[tuple]:
    """``{ triples… GRAPH <g> { triples… } … }`` → (graph-or-None, s,
    p, o, o_kind, o_lang, o_datatype) rows; None marks the default
    graph (resolved by the executor)."""
    p.expect("{")
    quads: list[tuple] = []
    while (p.peek() or "}") != "}":
        if (p.peek() or "").upper() == "GRAPH":
            p.take()
            gtok = p.take()
            if gtok.startswith("?"):
                raise ValueError("GRAPH in a DATA block needs a constant IRI")
            gname = _ground_term(gtok)
            p.expect("{")
            rows = _parse_data_triples(p)
            p.expect("}")
            p.kw(".")
            quads += [(gname,) + r for r in rows]
        else:
            rows = _parse_data_triples(p)
            if not rows:
                raise ValueError(
                    f"SPARQL UPDATE parse error at {p.peek()!r}"
                )
            quads += [(None,) + r for r in rows]
    p.expect("}")
    if not quads:
        raise ValueError("empty DATA block")
    return quads


def _parse_quad_patterns(p: _P) -> dict:
    """DELETE WHERE body: quad patterns only (the spec's QuadPattern —
    no FILTER/OPTIONAL).  Bare patterns get the implicit shared graph
    variable ``?__g``: they match within a single named graph at a
    time and delete from that graph — the per-document-graph semantics
    of this store (a bare pattern spanning two graphs is not a match).
    ``GRAPH <iri>/{?v} { … }`` scopes explicitly.

    → ``patterns``, the (g, s, p, o) text of each pattern, and
    ``objects``, each object's (o_kind, o_lang, o_datatype) (a None
    o_kind for a variable)."""
    from .bgp import _parse_path

    def triples() -> list[tuple]:
        rows = []
        while _at_triple(p):
            rows.append(_take_subject_predicate(p) + _take_object(p))
            p.kw(".")
        return rows

    p.expect("{")
    quads: list[tuple] = []
    while (p.peek() or "}") != "}":
        if (p.peek() or "").upper() == "GRAPH":
            p.take()
            gterm = _term(p.take())
            p.expect("{")
            inner = triples()
            p.expect("}")
            p.kw(".")
            quads += [(gterm,) + t for t in inner]
        else:
            inner = triples()
            if not inner:
                raise ValueError(
                    f"SPARQL UPDATE parse error at {p.peek()!r} — "
                    "DELETE WHERE allows quad patterns only"
                )
            quads += [("?__g",) + t for t in inner]
    p.expect("}")
    if not quads:
        raise ValueError("empty DELETE WHERE block")
    for q in quads:
        if not q[2].startswith("?") and _parse_path(q[2]) is not None:
            raise ValueError(
                f"property path not allowed in DELETE WHERE: {q[2]!r}"
            )
    return {"patterns": [q[:4] for q in quads],
            "objects": [q[4:] for q in quads]}


def _parse_using(p: _P) -> tuple[list[str], list[str]]:
    """``USING <g>`` / ``USING NAMED <g>`` clauses of the modify form
    (SPARQL 1.1 Update §3.1.3) — the FROM / FROM NAMED equivalent for
    the WHERE dataset; they sit between the templates and WHERE."""
    using: list[str] = []
    named: list[str] = []
    while (p.peek() or "").upper() == "USING":
        p.take()
        if p.kw("NAMED"):
            named.append(_ground_term(p.take()))
        else:
            using.append(_ground_term(p.take()))
    return using, named


def parse_update(update: str) -> list[dict]:
    """Parse an UPDATE request (operations chained with ';') → op
    specs: {"op": "insert_data"|"delete_data", "quads": […]},
    {"op": "delete_where", "patterns": […], "objects": […]}, {"op": "clear",
    "scope": "graph"|"default"|"named"|"all", "graph": iri?,
    "silent": bool}."""
    p = _P(_tokenize(update))
    ops: list[dict] = []
    while p.peek() is not None:
        verb = p.take().upper()
        if verb == "WITH":
            # WITH <g>: the modify form scoped to ONE named graph — the
            # WHERE matches against g only and bare templates target g
            # (SPARQL 1.1 Update §3.1.3)
            with_g = _ground_term(p.take())
            dels: list = []
            ins: list = []
            if p.kw("DELETE"):
                dels = _parse_quad_templates(p)
                if p.kw("INSERT"):
                    ins = _parse_quad_templates(p)
            elif p.kw("INSERT"):
                ins = _parse_quad_templates(p)
            else:
                raise ValueError("WITH needs DELETE/INSERT template blocks")
            using, using_named = _parse_using(p)
            p.expect("WHERE")
            ops.append({"op": "modify", "delete": dels, "insert": ins,
                        "where": _parse_group(p), "with": with_g,
                        "using": using, "using_named": using_named})
        elif verb == "INSERT":
            if p.peek() == "{":
                # insert-only modify form: INSERT { tpl } WHERE { g }
                ins = _parse_quad_templates(p)
                using, using_named = _parse_using(p)
                p.expect("WHERE")
                ops.append({"op": "modify", "delete": [], "insert": ins,
                            "where": _parse_group(p),
                            "using": using, "using_named": using_named})
            else:
                p.expect("DATA")
                ops.append(
                    {"op": "insert_data", "quads": _parse_quad_data(p)}
                )
        elif verb == "DELETE":
            if p.kw("DATA"):
                ops.append({"op": "delete_data", "quads": _parse_quad_data(p)})
            elif p.kw("WHERE"):
                ops.append({"op": "delete_where", **_parse_quad_patterns(p)})
            elif p.peek() == "{":
                # modify form: DELETE { tpl } [INSERT { tpl }] WHERE { g }
                dels = _parse_quad_templates(p)
                ins = _parse_quad_templates(p) if p.kw("INSERT") else []
                using, using_named = _parse_using(p)
                p.expect("WHERE")
                ops.append({"op": "modify", "delete": dels, "insert": ins,
                            "where": _parse_group(p),
                            "using": using, "using_named": using_named})
            else:
                raise ValueError(
                    "DELETE needs DATA / WHERE / a template block "
                    f"(got DELETE {p.peek()!r})"
                )
        elif verb == "CREATE":
            # CREATE [SILENT] GRAPH <g> (§3.2.1): the partitioned
            # store has no representation for an EMPTY named graph (a
            # graph exists iff it has statements), so creation itself
            # is a no-op — but the spec's already-exists error is
            # still honored unless SILENT
            silent = p.kw("SILENT")
            p.expect("GRAPH")
            ops.append({"op": "create", "graph": _ground_term(p.take()),
                        "silent": silent})
        elif verb in ("CLEAR", "DROP"):
            silent = p.kw("SILENT")
            if p.kw("GRAPH"):
                ops.append({
                    "op": "clear", "scope": "graph",
                    "graph": _ground_term(p.take()), "silent": silent,
                })
            elif p.kw("DEFAULT"):
                ops.append({"op": "clear", "scope": "default",
                            "graph": None, "silent": silent})
            elif p.kw("NAMED"):
                ops.append({"op": "clear", "scope": "named",
                            "graph": None, "silent": silent})
            elif p.kw("ALL"):
                ops.append({"op": "clear", "scope": "all",
                            "graph": None, "silent": silent})
            else:
                raise ValueError(f"{verb} needs GRAPH <iri> / DEFAULT / "
                                 f"NAMED / ALL (got {p.peek()!r})")
        elif verb == "LOAD":
            # LOAD [SILENT] <source-iri> [INTO GRAPH <g>] — the
            # file-ingest verb (Twine's CLI inject path on the text
            # surface); source must be a bracketed IRI (file:// or a
            # plain path inside brackets), format by extension
            silent = p.kw("SILENT")
            src = p.take()
            if not (src.startswith("<") and src.endswith(">")):
                raise ValueError(
                    f"LOAD source must be a bracketed IRI, got {src!r}"
                )
            src = src[1:-1]
            graph = None
            if p.kw("INTO"):
                p.expect("GRAPH")
                graph = _ground_term(p.take())
            ops.append({"op": "load", "src": src, "graph": graph,
                        "silent": silent})
        elif verb in ("ADD", "MOVE", "COPY"):
            # graph-management verbs (SPARQL 1.1 Update §3.2.3–5):
            # (ADD|MOVE|COPY) [SILENT] (GRAPH <g>|DEFAULT) TO
            # (GRAPH <g>|DEFAULT)
            silent = p.kw("SILENT")

            def _graph_ref() -> str | None:
                if p.kw("DEFAULT"):
                    return None
                p.kw("GRAPH")  # optional keyword before the IRI
                return _ground_term(p.take())

            src_g = _graph_ref()
            p.expect("TO")
            dst_g = _graph_ref()
            ops.append({"op": verb.lower(), "src": src_g, "dst": dst_g,
                        "silent": silent})
        else:
            raise ValueError(f"unsupported SPARQL UPDATE verb: {verb!r}")
        if not p.kw(";") and p.peek() is not None:
            raise ValueError(
                f"SPARQL UPDATE parse error: expected ';' or end, "
                f"got {p.peek()!r}"
            )
    if not ops:
        raise ValueError("empty SPARQL UPDATE request")
    return ops


def store_update(
    spark,
    path: str,
    update: str,
    default_graph: str = DEFAULT_GRAPH,
    allow_product: bool = False,
    lock_timeout: float = 60.0,
) -> dict:
    """Execute a SPARQL UPDATE request against the partitioned N-Quads
    store — the write half of the store surface (Twine's sparql-put /
    writerd loop; the read half is :func:`store_sparql`).

    The WHOLE request (all ';'-chained operations) runs under one
    :class:`_StoreWriteLock`, so concurrent updaters serialize
    request-at-a-time and every read-modify-write inside is atomic
    with respect to other writers.  Each operation touches only the
    graphs it affects — a dynamic partition overwrite of exactly those
    graph directories (plus explicit directory removal for graphs an
    operation empties, which a zero-row overwrite cannot express).

    Scale shape: INSERT/DELETE DATA list and read only the affected
    graphs' directories (the store's other graphs are never listed),
    union/anti-join against a broadcast-sized ground-quad frame, and
    rewrite only those partitions; the graphs a DELETE empties are
    observed during the write itself, so the touched graphs are parsed
    once.  DELETE WHERE is a conjunctive quad match (the same
    _conjunction equi-join plan the read surface uses) followed by a
    left_anti join per affected graph; when every pattern names a
    constant graph it reads only those graphs.  Its affected-graph
    collect is metadata-scale (bounded by the store's graph count)."""
    from . import rdfio

    ops = parse_update(update)
    results: list[dict] = []
    with rdfio._StoreWriteLock(path, timeout=lock_timeout):
        for op in ops:
            results.append(
                _exec_update_op(spark, path, op, default_graph, allow_product)
            )
    return {"ops": results}


def _object_key(o: str, o_kind: str, o_lang: str, o_datatype: str) -> str:
    """One text per RDF object term: an IRI is its text, a literal its
    quoted text with any @lang or ^^datatype (an IRI never starts with
    '"', and neither a tag nor a datatype holds one)."""
    if o_kind != "literal":
        return o
    return (f'"{o}"' + (f"@{o_lang}" if o_lang else "")
            + (f"^^{o_datatype}" if o_datatype else ""))


def _object_key_col():
    """:func:`_object_key` of a quad frame's object columns."""
    def suffix(mark: str, c: str):
        return F.when(F.col(c) != "", F.concat(F.lit(mark), c)).otherwise("")

    literal = F.concat(F.lit('"'), "o", F.lit('"'), suffix("@", "o_lang"),
                       suffix("^^", "o_datatype"))
    return F.when(F.col("o_kind") == "literal", literal).otherwise(F.col("o"))


def _exec_update_op(
    spark, path: str, op: dict, default_graph: str, allow_product: bool
) -> dict:
    from . import rdfio
    from .bgp import _conjunction

    kind = op["op"]
    if kind == "modify":
        return _exec_modify(spark, path, op, default_graph, allow_product)
    if kind in ("insert_data", "delete_data"):
        rows = [
            ((q[0] if q[0] is not None else default_graph),) + tuple(q[1:])
            for q in op["quads"]
        ]
        # a local relation: no Python-worker stage, one partition for a
        # one-quad request, and a size the planner sees for the broadcast
        data = local_frame(spark, rows, rdfio.QUADS_PARSED_DDL)
        affected = sorted({r[0] for r in rows})
        dirs = rdfio.store_graph_dirs(path)
        have = [g for g in affected if g in dirs]
        if kind == "insert_data":
            new = data
            if have:
                new = rdfio.read_nquads_store(spark, path, graph=have) \
                    .unionByName(data)
            rdfio._replace_graphs_unlocked(new.distinct(), path)
            return {"op": kind, "graphs": affected, "quads": len(rows)}
        # delete_data: only graphs that exist can lose rows
        if not have:
            return {"op": kind, "graphs": [], "quads": 0}
        # equal RDF terms only: the object's kind, language and datatype
        # are part of the term (ex:b is not "ex:b", "chat"@en not @fr)
        existing = rdfio.read_nquads_store(spark, path, graph=have)
        remaining = existing.join(F.broadcast(data), data.columns, "left_anti")
        nonempty = rdfio._replace_graphs_unlocked(remaining, path)
        rdfio._remove_graph_dirs(path, [g for g in have if g not in nonempty])
        return {"op": kind, "graphs": have, "quads": len(rows)}

    if kind == "create":
        # CREATE GRAPH: graphs exist iff they hold statements in this
        # store, so creation is metadata-only — just the spec's
        # already-exists check (suppressed by SILENT)
        if op["graph"] in rdfio.store_graph_dirs(path) and not op["silent"]:
            raise ValueError(
                f"CREATE: graph already in store: {op['graph']}"
            )
        return {"op": kind, "graphs": [], "quads": 0}

    if kind == "delete_where":
        named = {g4[0] for g4 in op["patterns"]}
        dirs = rdfio.store_graph_dirs(path)
        scope = None  # a graph variable can match in any graph
        if not any(g.startswith("?") for g in named):
            scope = sorted(named & dirs.keys())
        if not dirs or scope == []:
            return {"op": kind, "graphs": [], "quads": 0}
        # match on RDF terms: the object column holds each quad's
        # object key, and a constant object pattern its own key
        quads = rdfio.read_nquads_store(spark, path, graph=scope) \
            .withColumn("o", _object_key_col())
        patterns = [
            (g, s_, p_, o if kind_ is None else _object_key(o, kind_, lang, dt))
            for (g, s_, p_, o), (kind_, lang, dt)
            in zip(op["patterns"], op["objects"])
        ]
        sol = _conjunction(quads, patterns, allow_product=allow_product)

        def term(t: str):
            return F.col(_var(t)) if t.startswith("?") else F.lit(t)

        dels = None
        for g4 in patterns:
            inst = sol.select(
                term(g4[0]).alias("g"), term(g4[1]).alias("s"),
                term(g4[2]).alias("p"), term(g4[3]).alias("_okey"),
            )
            dels = inst if dels is None else dels.unionByName(inst)
        # every instantiated pattern is a quad its solution matched, so
        # the distinct instances are exactly the quads removed
        dels = dels.dropna().distinct()
        per_graph = {r["g"]: r["n"] for r in dels.groupBy("g").agg(
            F.count("*").alias("n")).collect()}
        if not per_graph:
            return {"op": kind, "graphs": [], "quads": 0}
        affected, n_dels = sorted(per_graph), sum(per_graph.values())
        existing = rdfio.read_nquads_store(spark, path, graph=affected)
        remaining = existing.withColumn("_okey", _object_key_col()).join(
            dels, ["g", "s", "p", "_okey"], "left_anti").drop("_okey")
        nonempty = rdfio._replace_graphs_unlocked(remaining, path)
        rdfio._remove_graph_dirs(
            path, [g for g in affected if g not in nonempty]
        )
        return {"op": kind, "graphs": affected, "quads": n_dels}

    if kind == "load":
        # LOAD: parse the source file with the extension-dispatched
        # rdfio parser and merge its statements into the store —
        # additive (set-union) semantics per SPARQL 1.1 Update §3.1.4.
        # INTO GRAPH overrides any graph the source carries; a
        # triples-format source without INTO lands in the default
        # graph.  Scale shape: the parse is a distributed scan of the
        # source (a directory of files splits per-file), and only the
        # affected graphs' partitions are read back and rewritten.
        import os

        src = op["src"]
        fs = src[7:] if src.startswith("file://") else src
        if not os.path.exists(fs):
            if op["silent"]:
                return {"op": kind, "src": src, "graphs": [], "quads": 0}
            raise ValueError(f"LOAD: source not found: {src}")
        parsed = rdfio.read_rdf_file(spark, fs)
        if "g" in parsed.columns and op["graph"] is None:
            quads = parsed
        else:
            dst = op["graph"] if op["graph"] is not None else default_graph
            cols = [c for c in parsed.columns if c != "g"]
            quads = parsed.select(F.lit(dst).alias("g"), *cols)
        n_new = quads.count()
        affected = sorted(
            r["g"] for r in quads.select("g").distinct().collect()
        )
        if not affected:
            return {"op": kind, "src": src, "graphs": [], "quads": 0}
        dirs = rdfio.store_graph_dirs(path)
        have = [g for g in affected if g in dirs]
        new = quads
        if have:
            new = rdfio.read_nquads_store(spark, path, graph=have) \
                .unionByName(quads)
        rdfio._replace_graphs_unlocked(new.distinct(), path)
        return {"op": kind, "src": src, "graphs": affected, "quads": n_new}

    if kind in ("add", "move", "copy"):
        # Graph management (SPARQL 1.1 Update §3.2.3–5).  COPY/MOVE are
        # METADATA-scale file operations (directory copy/rename — the
        # graph name lives only in the partition directory name); at
        # cluster scale these are the table format's manifest/snapshot
        # operations.  ADD routes through read-union-distinct-rewrite
        # (r7 ADVICE fix): the old raw file-copy union emitted
        # duplicate N-Quads lines for quads present in both src and dst
        # (and on re-ADD after a src rewrite), breaking the set
        # invariant every other write path maintains via .distinct(),
        # so graph-scoped bag reads double-counted.
        import os
        import shutil

        src_g = op["src"] if op["src"] is not None else default_graph
        dst_g = op["dst"] if op["dst"] is not None else default_graph
        dirs = rdfio.store_graph_dirs(path)
        if src_g == dst_g:
            return {"op": kind, "src": src_g, "dst": dst_g, "graphs": []}
        src_dir = dirs.get(src_g)
        if src_dir is None:
            if op["src"] is not None and not op["silent"]:
                raise ValueError(
                    f"{kind.upper()}: graph not in store: {src_g}"
                )
            # missing source = empty graph: COPY/MOVE empty the target,
            # ADD is a no-op
            if kind in ("copy", "move"):
                rdfio._remove_graph_dirs(path, [dst_g])
            return {"op": kind, "src": src_g, "dst": dst_g,
                    "graphs": [dst_g] if kind != "add" else []}
        dst_dir = dirs.get(dst_g) or os.path.join(
            path, "g=" + rdfio.escape_partition_value(dst_g)
        )
        if kind in ("copy", "move"):
            rdfio._remove_graph_dirs(path, [dst_g])
            shutil.copytree(src_dir, dst_dir)
        else:  # add: dst ∪ src set-semantic, src untouched
            src_quads = rdfio.read_nquads_store(spark, path, graph=[src_g])
            data_cols = [c for c in src_quads.columns if c != "g"]
            new = src_quads.select(F.lit(dst_g).alias("g"), *data_cols)
            if dst_g in dirs:
                new = new.unionByName(
                    rdfio.read_nquads_store(spark, path, graph=[dst_g])
                    .select(F.lit(dst_g).alias("g"), *data_cols)
                )
            rdfio._replace_graphs_unlocked(new.distinct(), path)
        if kind == "move":
            shutil.rmtree(src_dir)
        return {"op": kind, "src": src_g, "dst": dst_g,
                "graphs": [dst_g, src_g] if kind == "move" else [dst_g]}

    if kind == "clear":
        dirs = rdfio.store_graph_dirs(path)
        scope = op["scope"]
        if scope == "graph":
            targets = [op["graph"]]
        elif scope == "default":
            targets = [default_graph]
        elif scope == "named":
            targets = [g for g in dirs if g != default_graph]
        else:  # all
            targets = list(dirs)
        removed = rdfio._remove_graph_dirs(path, targets)
        missing = [g for g in targets if g not in removed]
        if missing and scope == "graph" and not op["silent"]:
            raise ValueError(f"CLEAR GRAPH: graph not in store: {missing[0]}")
        return {"op": kind, "graphs": removed, "quads": 0}

    raise AssertionError(f"unknown op {kind!r}")


def _parse_quad_templates(p: _P) -> list[tuple]:
    """Modify-form template block ``{ triples… GRAPH (iri|?v) { … } }``
    → (graph, s, p, o, o_kind, o_lang, o_datatype) tuples; graph None
    marks the default graph; any position may be a ?variable (kept with
    its '?'); constant objects carry their token-shape term model,
    variable objects a None o_kind (resolved against the store's term
    table at execution).  Property paths rejected."""
    from .bgp import _parse_path

    def _tpl_triples() -> list[tuple]:
        rows = []
        while p.peek() not in ("}", None) and (p.peek() or "").upper() != "GRAPH":
            s, pred = _take_subject_predicate(p)
            # a variable object's None o_kind is resolved at execution
            obj = _take_object(p)
            if not pred.startswith("?") and _parse_path(pred) is not None:
                raise ValueError(
                    f"property path not allowed in a template: {pred!r}"
                )
            rows.append((s, pred) + obj)
            p.kw(".")
        return rows

    p.expect("{")
    out: list[tuple] = []
    while (p.peek() or "}") != "}":
        if (p.peek() or "").upper() == "GRAPH":
            p.take()
            gtok = p.take()
            g = gtok if gtok.startswith("?") else _ground_term(gtok)
            p.expect("{")
            rows = _tpl_triples()
            p.expect("}")
            p.kw(".")
            out += [(g,) + r for r in rows]
        else:
            rows = _tpl_triples()
            if not rows:
                raise ValueError(f"SPARQL UPDATE parse error at {p.peek()!r}")
            out += [(None,) + r for r in rows]
    p.expect("}")
    if not out:
        raise ValueError("empty template block")
    return out


def _exec_modify(
    spark, path: str, op: dict, default_graph: str, allow_product: bool
) -> dict:
    """DELETE/INSERT … WHERE — the general SPARQL UPDATE form
    (sparql.py parse_update routes here).  Subset semantics,
    documented:

    * the WHERE group evaluates over the store's MERGED default graph
      (distinct (s,p,o) across all graphs — the same dataset
      store_sparql queries without GRAPH); GRAPH clauses inside the
      modify WHERE are rejected (use DELETE WHERE for graph-scoped
      pattern deletes);
    * bare templates target the default graph, ``GRAPH (iri|?v)``
      templates their named graph (?v must be WHERE-bound);
    * an INSERT object VARIABLE gets its term model by string-matching
      the store's object-term table (the overwhelming case — values
      moved/retyped from the store keep their lang/datatype); values
      the store has never seen as objects (e.g. BIND-computed strings)
      default to plain literals.

    Scale shape: one group evaluation (the read surface's plan), two
    template instantiations (per-solution selects, unioned), then the
    same affected-graph partition rewrite as every other update op."""
    from . import rdfio

    from .bgp import DATASET_DEFAULT

    with_g = op.get("with")
    if with_g is not None:
        # WITH <g>: both the WHERE dataset and the bare-template target
        # become that one graph
        default_graph = with_g
    using = op.get("using") or []
    using_named = op.get("using_named") or []
    dirs = rdfio.store_graph_dirs(path)
    if not dirs and op["delete"]:
        return {"op": "modify", "graphs": [], "deleted": 0, "inserted": 0}
    for pat in op["where"].get("patterns") or []:
        if len(pat) == 4 and not using_named:
            # with an explicit USING NAMED dataset the WHERE frame
            # carries g, so GRAPH clauses are well-defined; without
            # one the WHERE evaluates over the merged default graph
            raise ValueError(
                "GRAPH clauses in a modify-form WHERE need a "
                "USING NAMED dataset (otherwise the WHERE evaluates "
                "over the merged default graph) — or use DELETE WHERE "
                "for graph-scoped pattern deletes"
            )
    if using or using_named:
        # USING / USING NAMED override the WHERE dataset (the FROM /
        # FROM NAMED of the update surface — same sentinel mechanism
        # as store_sparql's explicit dataset); WITH still names the
        # bare-template target graph.  Each side is a partition-pruned
        # read of only its graphs' directories.
        parts = []
        have_u = [g for g in sorted(set(using)) if g in dirs]
        if have_u:
            parts.append(
                rdfio.read_nquads_store(spark, path, graph=have_u)
                .withColumn("g", F.lit(DATASET_DEFAULT))
            )
        have_n = [g for g in sorted(set(using_named)) if g in dirs]
        if have_n:
            parts.append(rdfio.read_nquads_store(spark, path, graph=have_n))
        if parts:
            ds = parts[0]
            for p_ in parts[1:]:
                ds = ds.unionByName(p_)
            triples = ds.withColumn("__ds", F.lit(True))
            # object-term resolution (below) sees the dataset's terms
            quads = ds
        else:
            triples = local_frame(spark, [], "s string, p string, o string")
            quads = None
    else:
        src_graphs = [with_g] if with_g is not None else None
        have_src = with_g is None or with_g in dirs
        quads = (
            rdfio.read_nquads_store(spark, path, graph=src_graphs)
            if dirs and have_src else None
        )
        if quads is None:
            triples = local_frame(spark, [], "s string, p string, o string")
        else:
            triples = quads.select("s", "p", "o").distinct()
    sol = _drop_hidden(_eval_group(triples, op["where"], allow_product))

    def col_of(t, default=None):
        if t is None:
            return F.lit(default)
        if t.startswith("?"):
            v = _var(t)
            if v not in sol.columns:
                raise ValueError(f"template variable ?{v} is not bound "
                                 "in the WHERE group")
            return F.col(v)
        return F.lit(t)

    def inst(templates):
        out = None
        for g, s, pr, o, ok, ol, od in templates:
            row = sol.select(
                col_of(g, default_graph).alias("g"),
                col_of(s).alias("s"), col_of(pr).alias("p"),
                col_of(o).alias("o"),
                F.lit(ok).alias("o_kind"), F.lit(ol or "").alias("o_lang"),
                F.lit(od or "").alias("o_datatype"),
            )
            out = row if out is None else out.unionByName(row)
        return out.dropna(subset=["g", "s", "p", "o"]).distinct()

    dels = inst(op["delete"]) if op["delete"] else None
    ins = inst(op["insert"]) if op["insert"] else None
    if ins is not None and quads is not None:
        # resolve NULL-kind (variable) objects against the store's
        # object-term table; deterministic literal-wins on the
        # pathological string that occurs as both kinds
        terms = (
            quads.groupBy(F.col("o").alias("_tv"))
            .agg(F.max(F.struct("o_kind", "o_lang", "o_datatype")).alias("_t"))
            .select("_tv", "_t.o_kind", "_t.o_lang", "_t.o_datatype")
        )
        unresolved = ins.filter(F.col("o_kind").isNull()).drop(
            "o_kind", "o_lang", "o_datatype"
        )
        resolved = unresolved.join(
            terms, unresolved["o"] == terms["_tv"], "left"
        ).select(
            "g", "s", "p", "o",
            F.coalesce("o_kind", F.lit("literal")).alias("o_kind"),
            F.coalesce("o_lang", F.lit("")).alias("o_lang"),
            F.coalesce("o_datatype", F.lit("")).alias("o_datatype"),
        )
        ins = ins.filter(F.col("o_kind").isNotNull()).unionByName(resolved)
    elif ins is not None:
        ins = ins.withColumn(
            "o_kind", F.coalesce("o_kind", F.lit("literal"))
        )

    affected = set()
    if dels is not None:
        affected |= {r["g"] for r in dels.select("g").distinct().collect()}
    if ins is not None:
        affected |= {r["g"] for r in ins.select("g").distinct().collect()}
    affected = sorted(affected)
    if not affected:
        return {"op": "modify", "graphs": [], "deleted": 0, "inserted": 0}
    have = [g for g in affected if g in dirs]
    existing = (
        rdfio.read_nquads_store(spark, path, graph=have) if have else None
    )
    n_del = 0
    remaining = existing
    if dels is not None and existing is not None:
        # a constant object matches by RDF term; a WHERE-bound variable
        # by its text, since the WHERE ran over the term-free merge
        d = dels.select(
            F.col("g").alias("_dg"), F.col("s").alias("_ds"),
            F.col("p").alias("_dp"), F.col("o").alias("_do"),
            F.when(F.col("o_kind").isNotNull(), _object_key_col())
            .alias("_dkey"),
        )
        keyed = existing.withColumn("_okey", _object_key_col())
        hit = (
            (keyed["g"] == d["_dg"]) & (keyed["s"] == d["_ds"])
            & (keyed["p"] == d["_dp"])
            & F.when(d["_dkey"].isNull(), keyed["o"] == d["_do"])
            .otherwise(keyed["_okey"] == d["_dkey"])
        )
        remaining = keyed.join(d, hit, "left_anti").drop("_okey")
        n_del = keyed.join(d, hit, "left_semi").count()
    new = remaining
    if ins is not None:
        new = ins if new is None else new.unionByName(ins)
    if new is None:
        return {"op": "modify", "graphs": affected, "deleted": n_del,
                "inserted": 0}
    new = new.dropDuplicates(
        ["g", "s", "p", "o", "o_kind", "o_lang", "o_datatype"]
    )
    # every count/collect runs BEFORE the overwrite: the lazy frames'
    # lineage reads the store files the write is about to replace
    n_ins = 0 if ins is None else ins.count()
    nonempty = rdfio._replace_graphs_unlocked(new, path)
    rdfio._remove_graph_dirs(path, [g for g in have if g not in nonempty])
    return {
        "op": "modify", "graphs": affected, "deleted": n_del,
        "inserted": n_ins,
    }
