"""SPARQL query surface over the triple table
(SURVEY.md D5 consumer side; the RES stack queried Twine's store via
SPARQL — bbcarchdev/quilt `[U~]`).  This is the S2RDF-style relational
encoding of BGP evaluation: each triple pattern is a filtered scan of
the triples DataFrame, variables become projected columns, shared
variables between patterns become equi-join keys, FILTER expressions
become post-join predicates (pushed back into the scans by Catalyst
when they touch a single pattern), SELECT/DISTINCT is a projection,
UNION unions compatible groups, and property paths (`pred+`,
`(pred|^pred)+`) compile to a transitive-closure frame.

Scale shape: constants in a pattern are pushed-down filters on the
(columnar, partitioned) triple table; the join chain is left to
Catalyst/AQE — selective patterns broadcast, unselective ones shuffle
on the variable column.  Directed closure is iterative doubling
(O(log diameter) rounds); symmetric closure rides the existing
connected-components machinery (kgspark/cc.py — large-star/small-star,
O(log n) rounds).  No driver-side evaluation beyond the documented
closure fixpoint loop.
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .session import local_frame

# Hidden carrier columns riding alongside a variable binding from a
# full-term input: language tag, datatype IRI, and term kind
# (iri/literal) of an OBJECT binding — consumed by FILTER(LANG(?v)),
# DATATYPE(?v), isIRI/isLiteral(?v); stripped before results surface.
HIDDEN_PREFIXES = ("__lang_", "__dt_", "__kind_")

# Sentinel graph value marking DEFAULT-graph rows of an explicitly
# constructed dataset (SPARQL FROM / FROM NAMED — store_sparql builds
# the frame with a ``__ds`` marker column): 3-term patterns then match
# ONLY sentinel rows (the FROM merge) and GRAPH patterns ONLY the
# non-sentinel rows (the FROM NAMED set), per spec.  Without the
# marker, the engine keeps its union-default convention (3-term = all
# graphs merged, GRAPH ranges over every graph).
DATASET_DEFAULT = "urn:x-kgspark:dataset-default"

# predicate-position property-path syntax accepted in a triple pattern
# (SPARQL 1.1 path subset — parsed by _parse_path):
#   "pred+"            → directed transitive closure (one or more steps)
#   "pred*"            → zero-or-more (closure ∪ zero-length path)
#   "pred?"            → zero-or-one
#   "^pred"            → inverse step
#   "p1/p2"            → sequence (each element may carry ^ and +/*/?)
#   "(a|^b)" [+*?]     → alternative group, optionally closed
#   "(pred|^pred)+"    → symmetric closure fast path (CC machinery —
#                        SPARQL's coref idiom, e.g. (owl:sameAs|^owl:sameAs)+)

# Materializing a transitive closure is inherently Θ(Σ|component|²)
# rows; past this bound the engine refuses instead of melting down
# (round-4 verdict #3) — use the linear degree/label-size form
# (kg_sameas_degree) or raise the bound explicitly.
MAX_CLOSURE_PAIRS = 100_000_000


def _closure_bound(max_pairs: int | None) -> int:
    return MAX_CLOSURE_PAIRS if max_pairs is None else max_pairs


def transitive_pairs(
    edges: DataFrame, max_iter: int = 40, max_pairs: int | None = None
) -> DataFrame:
    """Directed transitive closure of an edge set — (src, dst) pairs
    connected by a path of ≥ 1 edges.

    Iterative DOUBLING, not single-step semi-naive: round k holds every
    pair with a path of length ≤ 2^k, so the loop converges in
    ⌈log2(diameter)⌉ rounds — the plan shape that survives deep chains
    (a 10^6-long chain closes in 20 rounds, not 10^6).  Each round is
    one self-equi-join + distinct; the only driver action is the 1-row
    fixpoint count.  NOTE: closure output is inherently Θ(Σ|component|²)
    rows — the fixpoint loop raises ValueError once the pair count
    crosses ``max_pairs`` (default MAX_CLOSURE_PAIRS) instead of
    materializing a quadratic blowup; at store scale feed closures into
    an aggregate or a selective join, or use the linear degree form.
    """
    bound = _closure_bound(max_pairs)
    reach = (
        edges.select(F.col(edges.columns[0]).alias("src"),
                     F.col(edges.columns[1]).alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = reach.count()
    for _ in range(max_iter):
        a, b = reach.alias("a"), reach.alias("b")
        grown = (
            a.join(b, F.col("a.dst") == F.col("b.src"))
            .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
            .unionByName(reach)
            .distinct()
            .localCheckpoint(eager=True)
        )
        m = grown.count()
        if m > bound:
            raise ValueError(
                f"transitive closure exceeds {bound} pairs ({m} and "
                "growing) — the closure is component-quadratic; use the "
                "linear degree/label-size form or raise max_pairs to "
                "opt in explicitly"
            )
        if m == n:  # monotone ⇒ equal count is the fixpoint
            return reach
        reach, n = grown, m
    raise RuntimeError(f"transitive closure did not converge in {max_iter} doubling rounds")


def symmetric_closure_pairs(
    triples: DataFrame, pred: str, max_pairs: int | None = None
) -> DataFrame:
    """`(pred|^pred)+` — all (src, dst) pairs connected through pred
    edges traversed in either direction.  Under SPARQL path semantics
    every node of a component reaches every node of that component
    (including itself, via the 2-cycle step-forward/step-back), so the
    closure is exactly {(x, y) : component(x) = component(y)} over the
    pred subgraph — computed with the CC machinery (O(log n) rounds)
    instead of pair doubling.  Same quadratic-output caveat as
    transitive_pairs: the exact pair count Σ|component|² is computed
    from the component-size aggregate (one 1-row job) BEFORE the pair
    join, and a ValueError points at the linear degree form when it
    exceeds ``max_pairs`` (default MAX_CLOSURE_PAIRS)."""
    from . import cc as cc_mod

    bound = _closure_bound(max_pairs)
    e = triples.filter(F.col("p") == pred).select(
        F.col("s").alias("norm_a"), F.col("o").alias("norm_b")
    )
    nodes = (
        e.select(F.col("norm_a").alias("node"))
        .unionByName(e.select(F.col("norm_b").alias("node")))
        .distinct()
    )
    labels = cc_mod.connected_components(e, nodes).localCheckpoint(eager=False)
    est = (
        labels.groupBy("label")
        .count()
        .agg(F.sum(F.col("count") * F.col("count")).alias("pairs"))
        .collect()[0][0]
    )
    if est is not None and est > bound:
        raise ValueError(
            f"symmetric closure of {pred!r} would materialize {est} "
            f"pairs (> {bound}) — component-quadratic; use the linear "
            "degree/label-size form (e.g. kg_sameas_degree) or raise "
            "max_pairs to opt in explicitly"
        )
    a, b = labels.alias("a"), labels.alias("b")
    return a.join(b, F.col("a.label") == F.col("b.label")).select(
        F.col("a.node").alias("src"), F.col("b.node").alias("dst")
    )


def _parse_path(p_term: str):
    """Predicate-position property-path syntax → sequence AST, or None
    for a plain predicate.  Grammar (SPARQL 1.1 subset)::

        path := step ('/' step)*
        step := ('^'? pred | '(' '^'? pred ('|' '^'? pred)* ')') mod?
        mod  := '+' | '*' | '?'

    Returns ``[(atoms, mod), ...]`` with ``atoms = [(pred, inverse)]``.
    Full IRIs (containing ``://``) in predicate position are never
    treated as paths — write path atoms as prefixed names.  Raises
    ValueError on malformed path syntax."""
    if p_term.startswith("?") or "://" in p_term:
        return None
    if not any(ch in p_term for ch in "/^|()*+?!"):
        return None
    steps: list[tuple[list[tuple[str, bool]], str, bool]] = []
    i, n = 0, len(p_term)
    while i < n:
        neg = p_term[i] == "!"
        if neg:
            i += 1
            if i >= n:
                raise ValueError(f"dangling '!' in property path {p_term!r}")
        if p_term[i] == "(":
            j = p_term.find(")", i)
            if j < 0:
                raise ValueError(f"unbalanced '(' in property path {p_term!r}")
            alts = p_term[i + 1:j].split("|")
            i = j + 1
        else:
            j = i
            while j < n and p_term[j] not in "/+*?()!":
                j += 1
            alts = [p_term[i:j]]
            i = j
        mod = ""
        if i < n and p_term[i] in "+*?":
            mod = p_term[i]
            i += 1
        if neg and mod:
            raise ValueError(
                f"closure over a negated property set is not supported: {p_term!r}"
            )
        atoms: list[tuple[str, bool]] = []
        for a in alts:
            a = a.strip()
            inv = a.startswith("^")
            if inv:
                a = a[1:]
            if not a or any(ch in a for ch in "/^|()*+?!"):
                raise ValueError(f"bad property-path atom in {p_term!r}")
            atoms.append((a, inv))
        steps.append((atoms, mod, neg))
        if i < n:
            if p_term[i] != "/":
                raise ValueError(f"bad property path {p_term!r}")
            i += 1
            if i == n:
                raise ValueError(f"dangling '/' in property path {p_term!r}")
    if not steps:
        raise ValueError(f"empty property path {p_term!r}")
    return steps


def _identity_pairs(triples: DataFrame, consts) -> DataFrame:
    """SPARQL ZeroLengthPath: (t, t) for every term of the graph, plus
    any constant endpoint of the pattern itself (the spec yields a
    bound constant even when it does not occur in the graph)."""
    nodes = (
        triples.select(F.col("s").alias("src"))
        .unionByName(triples.select(F.col("o").alias("src")))
        .distinct()
    )
    if consts:
        extra = local_frame(
            triples.sparkSession, [(c,) for c in sorted(set(consts))],
            "src string",
        )
        nodes = nodes.unionByName(extra).distinct()
    return nodes.select("src", F.col("src").alias("dst"))


def _step_edges(triples: DataFrame, atoms) -> DataFrame:
    """One path step's single-hop edge frame: union of the (possibly
    inverse) filtered scans of each alternative — constants pushed to
    the columnar scan, inverse = column swap (free)."""
    frames = []
    for pred, inv in atoms:
        e = triples.filter(F.col("p") == pred)
        if inv:
            e = e.select(F.col("o").alias("src"), F.col("s").alias("dst"))
        else:
            e = e.select(F.col("s").alias("src"), F.col("o").alias("dst"))
        frames.append(e)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.distinct() if len(frames) > 1 else out


def _neg_step_edges(triples: DataFrame, atoms) -> DataFrame:
    """Negated property set !(p1|…|^q1|…): forward edges whose predicate
    is outside the forward exclusion set (present iff the set names any
    forward atom), unioned with inverse edges outside the inverse
    exclusion set (iff any ^atom) — SPARQL 1.1 NPS semantics.  The
    NOT-IN predicate still prunes at the scan (an isin filter)."""
    fwd = [a for a, inv in atoms if not inv]
    rev = [a for a, inv in atoms if inv]
    frames = []
    if fwd:
        frames.append(
            triples.filter(~F.col("p").isin(fwd)).select(
                F.col("s").alias("src"), F.col("o").alias("dst")
            )
        )
    if rev:
        frames.append(
            triples.filter(~F.col("p").isin(rev)).select(
                F.col("o").alias("src"), F.col("s").alias("dst")
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.distinct() if len(frames) > 1 else out


def _step_frame(triples, atoms, mod, consts, max_pairs, neg=False) -> DataFrame:
    if neg:
        edges = _neg_step_edges(triples, atoms)
        if mod == "?":
            return edges.unionByName(_identity_pairs(triples, consts)).distinct()
        return edges
    if mod in ("+", "*"):
        preds = {a for a, _ in atoms}
        if (
            len(atoms) == 2
            and len(preds) == 1
            and {inv for _, inv in atoms} == {True, False}
        ):
            # (p|^p)+ — the coref idiom: component closure via the CC
            # machinery (O(log n) rounds) instead of pair doubling
            closure = symmetric_closure_pairs(
                triples, next(iter(preds)), max_pairs=max_pairs
            )
        else:
            closure = transitive_pairs(
                _step_edges(triples, atoms).distinct(), max_pairs=max_pairs
            )
        if mod == "*":
            closure = closure.unionByName(
                _identity_pairs(triples, consts)
            ).distinct()
        return closure
    edges = _step_edges(triples, atoms)
    if mod == "?":
        return edges.unionByName(_identity_pairs(triples, consts)).distinct()
    return edges


def _path_frame(triples, steps, consts, max_pairs) -> DataFrame:
    """A parsed property path → (src, dst) pair frame.  Sequence steps
    chain with equi-joins on the intermediate node (the spec's
    fresh-variable translation); closures are set-semantics per SPARQL
    ArbitraryLengthPath."""
    out = None
    for atoms, mod, neg in steps:
        f = _step_frame(triples, atoms, mod, consts, max_pairs, neg=neg)
        if out is None:
            out = f
        else:
            a, b = out.alias("a"), f.alias("b")
            out = a.join(b, F.col("a.dst") == F.col("b.src")).select(
                F.col("a.src").alias("src"), F.col("b.dst").alias("dst")
            )
    return out


def _pattern_frame(
    triples: DataFrame, pat, idx: int, max_pairs: int | None = None
) -> DataFrame:
    """One triple pattern → filtered scan (or closure frame) projecting
    its variables.  A constant-only pattern yields a 1/0-row existence
    gate whose helper column is uniquely named and dropped by the
    caller (never leaks into results — round-3 ADVICE).

    A 4-term pattern (g, s, p, o) matches against a QUAD frame's named
    graph (SPARQL GRAPH clause); 3-term patterns over a quad frame
    match the DEFAULT graph = the RDF merge (distinct s,p,o)."""
    g_term = None
    if len(pat) == 4:
        if "g" not in triples.columns:
            raise ValueError("4-term (GRAPH) pattern needs a quad frame with a g column")
        g_term, s_term, p_term, o_term = pat
    elif len(pat) == 3:
        s_term, p_term, o_term = pat
        if "g" in triples.columns:
            if "__ds" in triples.columns:
                # explicit dataset: default graph = the FROM merge only
                triples = triples.filter(F.col("g") == DATASET_DEFAULT)
            # default graph = RDF merge (set union)
            triples = triples.select("s", "p", "o").distinct()
    else:
        raise ValueError(f"triple pattern must have 3 or 4 terms: {pat!r}")

    path = _parse_path(p_term)
    if path is not None:
        if g_term is not None:
            # GRAPH <const> { … path … }: evaluate the path over that
            # ONE graph's triples (partition-pruned scan).  A VARIABLE
            # graph would need a per-graph closure — unsupported.
            if g_term.startswith("?"):
                raise ValueError(
                    "property paths need a CONSTANT graph inside GRAPH "
                    "(per-variable-graph closure is unsupported)"
                )
            triples = triples.filter(F.col("g") == g_term).select("s", "p", "o")
        elif "g" in triples.columns:
            # default-graph path over a quad frame: merge first (the
            # FROM merge when the frame is an explicit dataset)
            if "__ds" in triples.columns:
                triples = triples.filter(F.col("g") == DATASET_DEFAULT)
            triples = triples.select("s", "p", "o").distinct()
        consts = [t for t in (s_term, o_term) if not t.startswith("?")]
        t = _path_frame(triples, path, consts, max_pairs)
        cols = ["src", "dst"]
        terms = [s_term, o_term]
    elif g_term is not None:
        t = triples
        if "__ds" in t.columns:
            # explicit dataset: GRAPH ranges over FROM NAMED only
            t = t.filter(F.col("g") != DATASET_DEFAULT)
        cols = ["g", "s", "p", "o"]
        terms = [g_term, s_term, p_term, o_term]
    else:
        t = triples
        cols = ["s", "p", "o"]
        terms = [s_term, p_term, o_term]

    proj = []
    seen_in_pattern: dict[str, str] = {}
    for col, term in zip(cols, terms):
        if term.startswith("?"):
            var = term[1:]
            if not var:
                raise ValueError("bare '?' variable")
            if var in seen_in_pattern:
                # repeated variable WITHIN one pattern: equality
                t = t.filter(F.col(col) == F.col(seen_in_pattern[var]))
            else:
                seen_in_pattern[var] = col
                proj.append(F.col(col).alias(var))
                if col == "o" and "o_lang" in t.columns:
                    # full-term input: ride the language tag and
                    # datatype of an OBJECT binding along as hidden
                    # columns so FILTER(LANG(?v)) / DATATYPE(?v) can
                    # see them (dropped from the final output)
                    proj.append(F.col("o_lang").alias(f"__lang_{var}"))
                    if "o_datatype" in t.columns:
                        proj.append(
                            F.col("o_datatype").alias(f"__dt_{var}")
                        )
                    if "o_kind" in t.columns:
                        proj.append(F.col("o_kind").alias(f"__kind_{var}"))
        else:
            t = t.filter(F.col(col) == term)
    if proj:
        return t.select(*proj)
    return t.select(F.lit(1).alias(f"_exists_{idx}")).limit(1)


def _conjunction(
    triples: DataFrame,
    patterns,
    allow_product: bool = False,
    max_pairs: int | None = None,
) -> DataFrame:
    bound: DataFrame | None = None
    gates: list[str] = []
    for i, pat in enumerate(patterns):
        t = _pattern_frame(triples, pat, i, max_pairs=max_pairs)
        if bound is None:
            bound = t
            gates = [c for c in t.columns if c.startswith("_exists_")]
            continue
        shared = [
            c for c in t.columns
            if c in bound.columns
            and not c.startswith(("_exists_",) + HIDDEN_PREFIXES)
        ]
        # a re-binding of an object variable would duplicate its hidden
        # lang column across the join — drop the newcomer's copy
        dup_lang = [
            c for c in t.columns
            if c.startswith(HIDDEN_PREFIXES) and c in bound.columns
        ]
        if dup_lang:
            t = t.drop(*dup_lang)
        if shared:
            bound = bound.join(t, shared)
        elif t.columns[0].startswith("_exists_"):
            # constant-only pattern: pure existence gate — semi-join on a
            # TRUE condition keeps bindings iff the (≤1-row) gate matched
            bound = bound.join(t, F.lit(True), "left_semi")
        elif all(c.startswith("_exists_") for c in bound.columns):
            # everything so far was gates: apply them to the first
            # variable-bearing pattern the same way, swapped
            bound = t.join(bound, F.lit(True), "left_semi")
        elif allow_product:
            bound = bound.crossJoin(t)
        else:
            # disjoint variable sets: SPARQL says cartesian product, but a
            # stray disjoint pattern at store scale is a corpus² blowup —
            # refuse unless the caller opts in (round-3 verdict #3).
            raise ValueError(
                f"pattern {pat!r} shares no variable with the group; "
                "a cross product at store scale is corpus-quadratic — "
                "pass allow_product=True to opt in"
            )
    gates = [c for c in bound.columns if c.startswith("_exists_")]
    if gates and len(gates) < len(bound.columns):
        bound = bound.drop(*gates)
    return bound


def _apply_group_ops(
    triples: DataFrame,
    bound: DataFrame,
    optionals=None,
    anti=None,
    minus=None,
    exists=None,
    filters=None,
    values=None,
    binds=None,
    allow_product: bool = False,
    max_pairs: int | None = None,
) -> DataFrame:
    """Group-level SPARQL operators applied over an already-joined
    solution frame — shared by bgp_match (flat groups) and the text
    front-end's nested-group evaluator (kgspark/sparql.py)."""
    for varnames, rows in values or []:
        # SPARQL VALUES: inline solution-mapping table joined in.  The
        # table is query TEXT (config-sized by construction), so a
        # broadcast join — and a product when no variable is shared
        # (the SPARQL extension semantics) — is bounded and safe.
        spark = triples.sparkSession
        vdf = local_frame(
            spark, rows, ", ".join(f"{v} string" for v in varnames)
        ).distinct()
        shared = [c for c in vdf.columns if c in bound.columns]
        if shared:
            bound = bound.join(F.broadcast(vdf), shared)
        else:
            bound = bound.crossJoin(F.broadcast(vdf))
    # OPTIONAL before BIND/FILTER: SPARQL applies group FILTERs over the
    # WHOLE group, so BOUND(?y)/COALESCE(?y, …) must see OPTIONAL-bound
    # variables (NULL when unmatched) — round-5 ordering fix.
    for group in optionals or []:
        g = _conjunction(
            triples, group, allow_product=allow_product, max_pairs=max_pairs
        )
        if all(c.startswith("_exists_") for c in g.columns):
            continue  # OPTIONAL {constant-only} binds nothing — no-op
        shared = [c for c in g.columns if c in bound.columns]
        if not shared:
            raise ValueError("OPTIONAL group shares no variable with the BGP")
        bound = bound.join(g, shared, "left")
    for expr, var in binds or []:
        if var in bound.columns:
            raise ValueError(f"BIND target ?{var} is already bound")
        bound = bound.withColumn(
            var, F.expr(expr) if isinstance(expr, str) else expr
        )
    for f in filters or []:
        bound = bound.filter(F.expr(f) if isinstance(f, str) else f)
    for group in exists or []:
        g = _conjunction(
            triples, group, allow_product=allow_product, max_pairs=max_pairs
        )
        shared = [c for c in g.columns if c in bound.columns]
        if shared:
            bound = bound.join(g.select(*shared).distinct(), shared, "left_semi")
        elif all(c.startswith("_exists_") for c in g.columns):
            bound = bound.join(g, F.lit(True), "left_semi")
        else:
            raise ValueError("EXISTS group shares no variable with the BGP")
    for group in anti or []:
        g = _conjunction(
            triples, group, allow_product=allow_product, max_pairs=max_pairs
        )
        shared = [c for c in g.columns if c in bound.columns]
        if shared:
            bound = bound.join(g.select(*shared).distinct(), shared, "left_anti")
        elif all(c.startswith("_exists_") for c in g.columns):
            # constant-only NOT EXISTS: valid SPARQL guard — empties the
            # result iff the gate matched (anti-join on TRUE condition)
            bound = bound.join(g, F.lit(True), "left_anti")
        else:
            raise ValueError("NOT-EXISTS group shares no variable with the BGP")
    for group in minus or []:
        # SPARQL MINUS (spec 8.3): remove bindings COMPATIBLE with some
        # solution of the group — but when the group's domain is
        # disjoint from the outer bindings (no shared variable, or a
        # constant-only group) nothing is compatible-with-overlap, so
        # MINUS removes NOTHING (unlike FILTER NOT EXISTS, which
        # empties on a matching constant-only group) — round-4 ADVICE.
        g = _conjunction(
            triples, group, allow_product=allow_product, max_pairs=max_pairs
        )
        shared = [
            c for c in g.columns
            if c in bound.columns
            and not c.startswith(("_exists_",) + HIDDEN_PREFIXES)
        ]
        if shared:
            bound = bound.join(g.select(*shared).distinct(), shared, "left_anti")
        # else: disjoint-domain MINUS is a no-op by spec
    return bound


def bgp_match(
    triples: DataFrame,
    patterns: list[tuple[str, str, str]],
    optionals: list[list[tuple[str, str, str]]] | None = None,
    anti: list[list[tuple[str, str, str]]] | None = None,
    exists: list[list[tuple[str, str, str]]] | None = None,
    filters: list[Column | str] | None = None,
    values: list[tuple[list[str], list[tuple]]] | None = None,
    binds: list[tuple[Column | str, str]] | None = None,
    select: list[str] | None = None,
    distinct: bool = False,
    allow_product: bool = False,
    minus: list[list[tuple[str, str, str]]] | None = None,
    max_closure_pairs: int | None = None,
) -> DataFrame:
    """Match a BGP against a (s, p, o) DataFrame.

    ``patterns`` — required conjunctive patterns; a term starting with
    ``?`` is a variable (bound across patterns), anything else a
    constant.  A predicate term may be a property path: ``pred+``
    (directed transitive closure) or ``(pred|^pred)+`` (symmetric
    closure — the coref idiom).  Returns one column per distinct
    variable; a constant-only pattern acts as an existence gate (its
    helper column never surfaces).

    ``optionals`` — list of OPTIONAL groups: each group is itself a
    conjunctive pattern list, LEFT-joined on its shared variables
    (SPARQL OPTIONAL: unmatched bindings surface as NULL).  A group
    binding no variables is a no-op (kept for SPARQL compatibility).

    ``anti`` — list of FILTER-NOT-EXISTS groups: bindings for which the
    group matches are REMOVED (left-anti join on shared variables; a
    constant-only group empties the result iff its triple exists).

    ``minus`` — list of SPARQL MINUS groups: like ``anti`` when the
    group shares variables, but a group sharing NO variable with the
    outer bindings (including a constant-only group) removes nothing,
    per spec 8.3 — the place MINUS and FILTER NOT EXISTS diverge.

    ``max_closure_pairs`` — ceiling on materialized property-path
    closure size (default bgp.MAX_CLOSURE_PAIRS); a closure whose pair
    count would exceed it raises ValueError instead of melting down.

    ``exists`` — list of FILTER-EXISTS groups: bindings are KEPT only
    when the group matches (left-semi join on shared variables).

    ``values`` — SPARQL VALUES blocks: each entry is (variable names,
    literal rows); the inline table (query text, config-sized) is
    broadcast-joined on its shared variables.

    ``binds`` — SPARQL BIND(expr AS ?v): each entry is (expression —
    Column or SQL string over bound variables, new variable name);
    applied before the filters, so filters may reference bound vars.

    ``filters`` — SPARQL FILTER expressions over bound variables:
    pyspark Columns or SQL strings (``"n > '5'"``, ``"l rlike 'a.*'"``),
    applied after the conjunction — Catalyst pushes single-pattern
    predicates back into the pattern scans.

    ``select`` — explicit variable projection (SPARQL SELECT ?x ?y);
    ``distinct`` — SELECT DISTINCT semantics.

    ``allow_product`` — required opt-in for patterns sharing no
    variable (SPARQL's cartesian product; corpus-quadratic at scale).

    Example::

        bgp_match(t, [("?e", "rdf:type", "ex:Commerce")],
                  optionals=[[("?e", "rdfs:label", "?l")]],
                  anti=[[("?e", "ex:retired", "?any")]],
                  filters=["l rlike '^c'"],
                  select=["e", "l"], distinct=True)
    """
    if not patterns:
        raise ValueError("empty BGP")
    bound = _conjunction(
        triples, patterns, allow_product=allow_product,
        max_pairs=max_closure_pairs,
    )
    if all(c.startswith("_exists_") for c in bound.columns):
        # ASK-style all-constant BGP: 1 row / 0 rows under a stable name
        bound = bound.select(F.lit(True).alias("matched"))
    bound = _apply_group_ops(
        triples, bound,
        optionals=optionals, anti=anti, minus=minus, exists=exists,
        filters=filters, values=values, binds=binds,
        allow_product=allow_product, max_pairs=max_closure_pairs,
    )
    hidden = [c for c in bound.columns if c.startswith(HIDDEN_PREFIXES)]
    if hidden:
        bound = bound.drop(*hidden)
    if select is not None:
        missing = [v for v in select if v not in bound.columns]
        if missing:
            raise ValueError(f"SELECT variables not bound: {missing}")
        bound = bound.select(*select)
    if distinct:
        bound = bound.distinct()
    return bound


def bgp_union(triples: DataFrame, groups: list[dict]) -> DataFrame:
    """SPARQL UNION of BGP groups: each dict is a bgp_match(**kwargs)
    call; results are unioned by variable NAME (SPARQL set-union of
    solution mappings — a variable unbound in one branch surfaces as
    NULL there).  Bag semantics like SPARQL UNION; wrap in .distinct()
    for set semantics."""
    if not groups:
        raise ValueError("empty UNION")
    return union_pad_frames([bgp_match(triples, **g) for g in groups])


def union_pad_frames(frames: list[DataFrame]) -> DataFrame:
    """Union solution frames by variable NAME, padding variables absent
    from a branch with NULL (SPARQL UNION of solution mappings)."""
    all_vars: list[str] = []
    for fr in frames:
        for c in fr.columns:
            if c not in all_vars:
                all_vars.append(c)
    padded = [
        fr.select(*[
            F.col(c) if c in fr.columns else F.lit(None).cast("string").alias(c)
            for c in all_vars
        ])
        for fr in frames
    ]
    out = padded[0]
    for fr in padded[1:]:
        out = out.unionByName(fr)
    return out


def construct_from_solutions(
    sol: DataFrame, template: list[tuple[str, str, str]]
) -> DataFrame:
    """Instantiate CONSTRUCT ``template`` patterns over a solution
    frame: one scan per template pattern, unioned; instances with an
    unbound (NULL) variable are dropped, result is a distinct graph."""
    if not template:
        raise ValueError("empty CONSTRUCT template")

    def term(t: str):
        return F.col(t[1:]) if t.startswith("?") else F.lit(t)

    out = None
    for s, p, o in template:
        inst = sol.select(
            term(s).alias("s"), term(p).alias("p"), term(o).alias("o")
        )
        out = inst if out is None else out.unionByName(inst)
    return out.dropna(subset=["s", "p", "o"]).distinct()


def ask_from_solutions(sol: DataFrame) -> DataFrame:
    return sol.limit(1).agg((F.count(F.lit(1)) > 0).alias("ask"))
