r"""RDF serialization / parsing (SURVEY.md O9–O11; the `rdf/` processor
module family of bbcarchdev/twine, upstream via librdf `[U]`).

Twine parses and serializes RDF through one librdf term model per MIME
type.  Here every format goes through one term codec, defined once:

* IRIs: :func:`expand` turns a prefixed name into its full IRI (one map
  lookup per column); :func:`compact_str` turns a full IRI back into a
  prefixed name only when a known namespace STARTS the IRI — an IRI
  that merely embeds one (``http://a.org/?u=http://example.org/kg#x``)
  stays as it is.  Every parser compacts through it.
* Literals: :func:`_escape` writes backslash, ``"``, LF, CR and TAB as
  ``\\ \" \n \r \t`` for the N-Triples family (N-Triples, N-Quads,
  Turtle, TriG, the store) and JSON-LD, so no stored line holds a raw
  line break; :func:`_unescape` decodes each ``\x`` pair once, left to
  right.
* Object terms: :func:`_term_cols` reads literal-ness, language and
  datatype from the ``o_kind``/``o_lang``/``o_datatype`` columns, or
  from ``LITERAL_PREDICATES`` for bare (s, p, o) input.
* Lines: :func:`_nt_line` builds the N-Triples statement (N-Quads and
  the store add the graph), :func:`_ttl_line` the Turtle one (TriG
  wraps it in a graph block).  Writers are native column expressions.
* Parsing: :func:`_parse_lines` is the one Arrow regex kernel of both
  line families; RDF/XML, JSON-LD and the document parsers have their
  own grammar but the same compaction and unescape.

Prefix table: fixed, deterministic (the spindle rulebase analogue).
"""

from __future__ import annotations

import os
import re
import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .session import local_frame

PREFIXES = {
    "rdf:": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs:": "http://www.w3.org/2000/01/rdf-schema#",
    "owl:": "http://www.w3.org/2002/07/owl#",
    "dc:": "http://purl.org/dc/terms/",
    "skos:": "http://www.w3.org/2004/02/skos/core#",
    "xsd:": "http://www.w3.org/2001/XMLSchema#",
    "ex:": "http://example.org/kg#",
}

# Fallback literal detection for bare (s,p,o) inputs with no o_kind
# column (the D3 term model drives serialization when present).
LITERAL_PREDICATES = ["dc:language", "rdfs:label", "ex:score"]

PARSED_DDL = (
    "s string, p string, o string, o_kind string, o_lang string, o_datatype string"
)
QUADS_PARSED_DDL = "g string, " + PARSED_DDL


# --- the term codec -------------------------------------------------------------

_PREFIX_RE = "^(" + "|".join(sorted(p[:-1] for p in PREFIXES)) + "):"
_NAMESPACE_MAP = "map(" + ", ".join(
    f"'{p[:-1]}', '{full}'" for p, full in sorted(PREFIXES.items())
) + ")"


def expand(col):
    """prefix:name → full IRI; any other value passes through."""
    ns = F.expr(_NAMESPACE_MAP)[F.regexp_extract(col, _PREFIX_RE, 1)]
    return F.coalesce(F.concat(ns, F.regexp_replace(col, _PREFIX_RE, "")), col)


_NAMESPACE_RE = re.compile("|".join(re.escape(full) for full in PREFIXES.values()))
_PREFIX_OF = {full: p for p, full in PREFIXES.items()}


def compact_str(term: str) -> str:
    """Full IRI → prefixed name when a known namespace starts it (the
    inverse of :func:`expand`); anything else is returned unchanged."""
    m = _NAMESPACE_RE.match(term)
    return _PREFIX_OF[m.group()] + term[m.end():] if m else term


def _compact(series: pd.Series) -> pd.Series:
    return series.map(compact_str, na_action="ignore")


# (Java regex, Java replacement) pairs
_ESCAPES = [(r"\\", r"\\\\"), ('"', r'\\"'), ("\n", r"\\n"), ("\r", r"\\r"),
            ("\t", r"\\t")]


def _escape(col):
    r"""Backslash, ``"``, LF, CR and TAB → ``\\ \" \n \r \t`` (backslash
    first): the string escape of N-Triples, Turtle and JSON alike."""
    for raw, esc in _ESCAPES:
        col = F.regexp_replace(col, raw, esc)
    return col


_UNESCAPE_RE = re.compile(r"\\(.)")
_UNESCAPE_MAP = {"n": "\n", "t": "\t", "r": "\r"}


def _unescape_pair(m: re.Match) -> str:
    return _UNESCAPE_MAP.get(m.group(1), m.group(1))


def _unescape(series: pd.Series) -> pd.Series:
    """Single-pass unescape: each ``\\x`` pair decoded exactly once,
    left to right.  Sequential replaces are LOSSY here — a literal
    containing a real backslash before an 'n' serializes as ``\\\\n``
    and must parse back to ``\\n`` (backslash + n), not a newline."""
    return series.str.replace(_UNESCAPE_RE, _unescape_pair, regex=True)


def _unescape_str(s: str) -> str:
    return _UNESCAPE_RE.sub(_unescape_pair, s)


def _term_cols(df: DataFrame):
    """(is_lit, lang, dtype) of the object term: from the ``o_kind`` /
    ``o_lang`` / ``o_datatype`` columns (D3), or for bare (s, p, o)
    input from the predicate (``LITERAL_PREDICATES``, untagged)."""
    if "o_kind" not in df.columns:
        return F.col("p").isin(LITERAL_PREDICATES), F.lit(""), F.lit("")
    lang = F.col("o_lang") if "o_lang" in df.columns else F.lit("")
    dtype = F.col("o_datatype") if "o_datatype" in df.columns else F.lit("")
    return F.col("o_kind") == "literal", lang, dtype


def _iri(col):
    return F.concat(F.lit("<"), expand(col), F.lit(">"))


def _ttl_term(col):
    """Prefixed name when the value starts with a known prefix AND the
    local part is PN_LOCAL-safe, else <iri>.  Turtle forbids '#', '/',
    '.' etc. unescaped in a prefixed-name local part — a bare
    ``ex://entity/x#id`` is illegal Turtle ('#' even starts a comment) —
    and PN_LOCAL may not BEGIN with '-', so such terms serialize
    bracketed (the document parser and external parsers depend on it)."""
    safe = col.rlike(_PREFIX_RE + "([A-Za-z0-9_][A-Za-z0-9_-]*)?$")
    return F.when(safe, col).otherwise(_iri(col))


def _spo(df: DataFrame, term):
    """``s p o`` of one statement with ``term`` writing each IRI: a
    literal object is quoted and escaped, with its @lang tag or
    ^^datatype suffix."""
    is_lit, lang, dtype = _term_cols(df)
    suffix = (
        F.when(lang != "", F.concat(F.lit("@"), lang))
        .when(dtype != "", F.concat(F.lit("^^"), term(dtype)))
        .otherwise(F.lit(""))
    )
    obj = F.when(
        is_lit, F.concat(F.lit('"'), _escape(F.col("o")), F.lit('"'), suffix)
    ).otherwise(term(F.col("o")))
    return [term(F.col("s")), F.lit(" "), term(F.col("p")), F.lit(" "), obj]


def _nt_line(df: DataFrame, graph: bool = False):
    """The N-Triples statement line; with ``graph`` the N-Quads one
    (the graph IRI as the 4th term)."""
    g = [F.lit(" "), _iri(F.col("g"))] if graph else []
    return F.concat(*_spo(df, _iri), *g, F.lit(" ."))


def _ttl_line(df: DataFrame, graph: bool = False):
    """The one-line Turtle statement; with ``graph`` the one-statement
    TriG block ``g { s p o . }``."""
    if not graph:
        return F.concat(*_spo(df, _ttl_term), F.lit(" ."))
    return F.concat(_ttl_term(F.col("g")), F.lit(" { "), *_spo(df, _ttl_term),
                    F.lit(" . }"))


# --- the line formats -----------------------------------------------------------
# One regex per syntax; both families share the object-term grammar and
# one kernel.  The @prefix header of Turtle/TriG is implicit (the fixed
# table); directive and comment lines match no statement and drop, like
# malformed lines (the quarantine filter runs upstream at scale).

_LIT = r"\"(?P<olit>(?:[^\"\\]|\\.)*)\"(?:@(?P<lang>[A-Za-z][A-Za-z0-9-]*)|\^\^{dt})?"
_NT_STMT = (r"<(?P<s>[^>]*)> <(?P<p>[^>]*)> (?:<(?P<oiri>[^>]*)>|"
            + _LIT.format(dt=r"<(?P<dt>[^>]*)>") + ")")
_NT_RE = re.compile(rf"^{_NT_STMT} \.$")
_NQ_RE = re.compile(rf"^{_NT_STMT} <(?P<g>[^>]*)> \.$")

_TTL_TERM = r"(?:<[^>]*>|[A-Za-z][A-Za-z0-9]*:[^\s]*)"
_TTL_STMT = (rf"(?P<s>{_TTL_TERM}) (?P<p>{_TTL_TERM}) (?:(?P<oiri>{_TTL_TERM})|"
             + _LIT.format(dt=rf"(?P<dt>{_TTL_TERM})") + ")")
_TTL_RE = re.compile(rf"^{_TTL_STMT} \.$")
_TRIG_RE = re.compile(rf"^(?P<g>{_TTL_TERM}) \{{ {_TTL_STMT} \. \}}$")


def _ttl_value(sr: pd.Series) -> pd.Series:
    """A Turtle term's IRI: brackets stripped, then compacted."""
    return _compact(sr.str.replace(r"^<|>$", "", regex=True))


def _parse_lines(lines: DataFrame, regex, iri, graph: str | None = None) -> DataFrame:
    """The Arrow regex kernel of the line formats: column ``line`` in,
    the full term model out; lines ``regex`` does not match are dropped.
    ``iri`` turns a matched term into the stored IRI (:func:`_compact`
    for N-Triples, :func:`_ttl_value` for Turtle).  ``graph`` is None
    for triples, ``"term"`` for the regex's ``g`` group, ``"column"``
    for an input ``g`` column (the store's partition graph)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ext = pdf["line"].astype("string").str.strip().str.extract(regex)
            ext = ext[ext["s"].notna()]
            if len(ext) == 0:
                continue
            is_iri = ext["oiri"].notna()
            out = pd.DataFrame({
                "s": iri(ext["s"]),
                "p": iri(ext["p"]),
                "o": iri(ext["oiri"]).where(is_iri, _unescape(ext["olit"])),
                "o_kind": is_iri.map({True: "iri", False: "literal"}),
                "o_lang": ext["lang"].fillna(""),
                "o_datatype": iri(ext["dt"].fillna("")),
            })
            if graph == "term":
                out.insert(0, "g", iri(ext["g"]))
            elif graph == "column":
                out.insert(0, "g", pdf.loc[ext.index, "g"].astype("string"))
            yield out

    return lines.mapInPandas(kernel, schema=QUADS_PARSED_DDL if graph else PARSED_DDL)


def to_ntriples(triples: DataFrame) -> DataFrame:
    """(s,p,o[,o_kind,o_lang,o_datatype]) → one N-Triples line per row
    (column ``line``)."""
    return triples.select(_nt_line(triples).alias("line"))


def parse_ntriples(lines: DataFrame) -> DataFrame:
    """N-Triples lines (O11) → (s, p, o, o_kind, o_lang, o_datatype)."""
    return _parse_lines(lines, _NT_RE, _compact)


# --- N-Quads (graph-carrying round-trip) --------------------------------------
# SURVEY.md O11: N-Quads/TriG carry graph names → split the model by
# named graph.  The pipeline's quad table (g, s, p, o, o_kind, o_lang,
# o_datatype) round-trips losslessly: the writer appends the graph IRI
# as the fourth term, the parser recovers it — so a graph-scoped
# export/import preserves per-document graph boundaries.

def to_nquads(quads: DataFrame) -> DataFrame:
    """(g,s,p,o[,term cols]) → one N-Quads line per row."""
    return quads.select(_nt_line(quads, graph=True).alias("line"))


def parse_nquads(lines: DataFrame) -> DataFrame:
    return _parse_lines(lines, _NQ_RE, _compact, graph="term")


# --- Turtle and TriG subsets ----------------------------------------------------
# Turtle: prefixed names or <iri> terms, one triple per line.  TriG: one
# single-line graph block per quad — `g { s p o . }` with Turtle term
# syntax inside the braces (TriG allows one statement per block; the
# line-oriented subset keeps the writer native exprs and the parser the
# shared Arrow kernel).

def to_turtle(triples: DataFrame) -> DataFrame:
    """Turtle-subset writer: prefixed names, one triple per line, @lang
    tags and ^^prefixed-datatype suffixes on literals when the term
    model rides along."""
    return triples.select(_ttl_line(triples).alias("line"))


def parse_turtle(lines: DataFrame) -> DataFrame:
    """Turtle-subset parser (O10)."""
    return _parse_lines(lines, _TTL_RE, _ttl_value)


def to_trig(quads: DataFrame) -> DataFrame:
    return quads.select(_ttl_line(quads, graph=True).alias("line"))


def parse_trig(lines: DataFrame) -> DataFrame:
    return _parse_lines(lines, _TRIG_RE, _ttl_value, graph="term")


# --- RDF/XML subset -----------------------------------------------------------
# O9 — twine's flagship MIME type (`rdf/` processor via librdf `[U~]`).
# Subset grammar: one <rdf:Description rdf:about="S"> element per line
# holding exactly one property element — <P rdf:resource="O"/> for IRI
# objects, <P [xml:lang="l"] [rdf:datatype="D"]>text</P> for literals —
# with the fixed PREFIXES table as the implicit namespace declarations
# and predicates restricted to prefixed names (all grammar predicates
# are).  Writer is pure native exprs; parser is an Arrow regex kernel.

def _xml_escape(col):
    out = F.regexp_replace(col, "&", "&amp;")
    out = F.regexp_replace(out, "<", "&lt;")
    out = F.regexp_replace(out, ">", "&gt;")
    out = F.regexp_replace(out, '"', "&quot;")
    out = F.regexp_replace(out, "\n", "&#10;")
    out = F.regexp_replace(out, "\r", "&#13;")
    return out


def to_rdfxml(triples: DataFrame) -> DataFrame:
    """(s,p,o[,term cols]) → one one-line rdf:Description per triple."""
    is_lit, lang, dtype = _term_cols(triples)
    attrs = F.concat(
        F.when(lang != "", F.concat(F.lit(' xml:lang="'), lang, F.lit('"')))
        .otherwise(F.lit("")),
        F.when(
            dtype != "",
            F.concat(F.lit(' rdf:datatype="'), _xml_escape(expand(dtype)), F.lit('"')),
        ).otherwise(F.lit("")),
    )
    lit_el = F.concat(
        F.lit("<"), F.col("p"), attrs, F.lit(">"),
        _xml_escape(F.col("o")),
        F.lit("</"), F.col("p"), F.lit(">"),
    )
    iri_el = F.concat(
        F.lit("<"), F.col("p"), F.lit(' rdf:resource="'),
        _xml_escape(expand(F.col("o"))), F.lit('"/>'),
    )
    line = F.concat(
        F.lit('<rdf:Description rdf:about="'), _xml_escape(expand(F.col("s"))),
        F.lit('">'),
        F.when(is_lit, lit_el).otherwise(iri_el),
        F.lit("</rdf:Description>"),
    )
    return triples.select(line.alias("line"))


_XML_RE = re.compile(
    r'^<rdf:Description rdf:about="(?P<s>[^"]*)">'
    r'(?:<(?P<pr>[A-Za-z][\w.-]*:[\w.-]+) rdf:resource="(?P<oiri>[^"]*)"/>'
    r'|<(?P<pl>[A-Za-z][\w.-]*:[\w.-]+)'
    r'(?: xml:lang="(?P<lang>[^"]*)")?'
    r'(?: rdf:datatype="(?P<dt>[^"]*)")?'
    r">(?P<olit>.*)</(?P=pl)>)"
    r"</rdf:Description>$"
)

_XML_UNESCAPES = [
    ("&#10;", "\n"), ("&#13;", "\r"), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&amp;", "&"),   # &amp; LAST — lossless ordering
]


def _xml_unescape(series: pd.Series) -> pd.Series:
    out = series
    for ent, ch in _XML_UNESCAPES:
        out = out.str.replace(ent, ch, regex=False)
    return out


def rdfxml_parse_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """RDF/XML-subset parser (O9): one Arrow batch of one-line
    Descriptions in, full-term (s,p,o,o_kind,o_lang,o_datatype) out;
    header/footer (<?xml…, <rdf:RDF…, </rdf:RDF>) and malformed lines
    are dropped."""
    for pdf in batches:
        if len(pdf) == 0:
            continue
        ext = pdf["line"].astype("string").str.strip().str.extract(_XML_RE)
        ext = ext[ext["s"].notna()]
        if len(ext) == 0:
            continue
        is_iri = ext["oiri"].notna()
        p = ext["pr"].where(is_iri, ext["pl"])
        o = _compact(_xml_unescape(ext["oiri"].fillna(""))).where(
            is_iri, _xml_unescape(ext["olit"].fillna(""))
        )
        yield pd.DataFrame(
            {
                "s": _compact(_xml_unescape(ext["s"])),
                "p": p,
                "o": o,
                "o_kind": is_iri.map({True: "iri", False: "literal"}),
                "o_lang": ext["lang"].fillna(""),
                "o_datatype": _compact(_xml_unescape(ext["dt"].fillna(""))),
            }
        )


def parse_rdfxml(lines: DataFrame) -> DataFrame:
    return lines.mapInPandas(rdfxml_parse_kernel, schema=PARSED_DDL)


# --- graph-partitioned N-Quads store ------------------------------------------
# O5/O6 at file level: the quad table written as N-Triples lines
# PARTITIONED BY named graph, so a graph-scoped fetch (sparql-get
# analogue) lists and scans only that graph's directory — Spark never
# lists or opens other graphs' files — and a graph replace (sparql-put
# analogue) is a dynamic partition overwrite of exactly that graph's
# directory.

def write_nquads_store(quads: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write (g, s, p, o[, term cols]) as a per-graph partitioned text
    store: each graph's statements land in its own ``g=<iri>`` partition
    directory as N-Triples lines (the graph name lives in the partition
    key, so each partition's file IS that graph's PUT payload)."""
    quads.select("g", _nt_line(quads).alias("line")).write.mode(
        mode
    ).partitionBy("g").text(path)


class _StoreWriteLock:
    """Exclusive writer lock for a store directory — the writerd
    serialization seam (Twine funneled every sparql-put through a
    single writer daemon; ``libtwine/writerd`` `[U~]`).  An O_EXCL
    lockfile inside the store root (underscore-prefixed, so Spark's
    partition discovery ignores it) with spin-wait and a deadline;
    the holder's pid is recorded for post-mortem debugging."""

    def __init__(self, path: str, timeout: float = 60.0):
        os.makedirs(path, exist_ok=True)
        self.lockfile = os.path.join(path, "_store.lock")
        self.timeout = timeout
        self._fd: int | None = None

    def __enter__(self):
        deadline = time.monotonic() + self.timeout
        while True:
            try:
                self._fd = os.open(
                    self.lockfile, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                )
                os.write(self._fd, str(os.getpid()).encode())
                return self
            except FileExistsError:
                if self._pid_dead(self.lockfile):
                    # Stale lock: the recorded holder pid no longer
                    # exists (writer SIGKILLed between os.open and
                    # unlink).  Break it and retry — without this every
                    # later replace_graphs spins to TimeoutError until
                    # someone deletes the file by hand (round-6 ADVICE).
                    self._try_break_stale()
                    continue
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"store write lock held too long: {self.lockfile} "
                        f"(if the holder pid recorded inside is dead, the "
                        f"lockfile is stale and safe to delete)"
                    )
                time.sleep(0.02)

    @staticmethod
    def _pid_dead(path: str) -> bool:
        """True iff ``path`` records a pid that is verifiably not
        running.  Unreadable/empty content → assume live (a holder
        between os.open and os.write has an empty file briefly)."""
        try:
            with open(path, "rb") as f:
                pid = int(f.read().decode() or "0")
        except (OSError, ValueError):
            return False
        if pid <= 0:
            return False
        try:
            os.kill(pid, 0)
            return False
        except ProcessLookupError:
            return True
        except PermissionError:
            return False  # pid exists under another uid — live

    def _try_break_stale(self) -> None:
        """Break a stale lock without the unlink race: two waiters that
        both observe the dead holder must not end up with one of them
        unlinking the OTHER's freshly-acquired lock.  os.rename is
        atomic — exactly one stealer wins the rename; the loser's
        rename raises FileNotFoundError and it simply retries O_EXCL.
        After stealing, re-verify the stolen file: if a LIVE writer
        re-created the lock between our staleness check and the rename,
        hand it back via os.link (which refuses to clobber a newer
        lock)."""
        steal = f"{self.lockfile}.stale.{os.getpid()}"
        try:
            os.rename(self.lockfile, steal)
        except FileNotFoundError:
            return  # another waiter broke it (or the holder released)
        try:
            if not self._pid_dead(steal):
                try:
                    os.link(steal, self.lockfile)
                except FileExistsError:
                    # r7 ADVICE fix: a LIVE writer's lock was stolen
                    # (it re-created the file between our staleness
                    # check and the rename) AND a third waiter has
                    # since O_EXCL-acquired — the store may now have
                    # two writers.  The old code assumed "that writer
                    # already released" and proceeded silently; fail
                    # loudly instead so the corruption window is
                    # surfaced, not raced past.
                    raise RuntimeError(
                        "store write lock: stale-break raced a live "
                        f"writer on {self.lockfile}; manual check "
                        "required (two writers may be active)"
                    )
        finally:
            try:
                os.unlink(steal)
            except FileNotFoundError:
                pass

    def __exit__(self, *exc):
        if self._fd is not None:
            os.close(self._fd)
            self._fd = None
        try:
            os.unlink(self.lockfile)
        except FileNotFoundError:
            pass
        return False


def _replace_graphs_unlocked(quads: DataFrame, path: str) -> set[str]:
    """The write body of :func:`replace_graphs` WITHOUT taking the
    store lock — for callers that already hold it (store_update runs a
    whole UPDATE request under one lock; the O_EXCL lock is not
    reentrant).  Dynamic partition overwrite is a per-write option, so
    no session-global conf is touched.  Returns the graphs the write
    holds rows for, observed during the write itself: a caller that
    must drop the graphs it emptied needs no second pass over
    ``quads``."""
    seen = Observation()
    quads.observe(seen, F.collect_set("g").alias("gs")).select(
        "g", _nt_line(quads).alias("line")
    ).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("g").text(path)
    return set(seen.get["gs"])


def replace_graphs(
    quads: DataFrame, path: str, lock_timeout: float = 60.0
) -> None:
    """Graph-replace (the sparql-put analogue) for EXACTLY the graphs
    present in ``quads``: a dynamic partition overwrite of those
    graphs' directories — other graphs' partitions are untouched,
    unlike :func:`write_nquads_store`'s full-store overwrite.

    Concurrent writers serialize through :class:`_StoreWriteLock`
    (writerd semantics): overlapping replaces commit one-at-a-time, so
    a reader never observes a torn graph mixing two writers' payloads —
    each graph's directory is entirely one PUT's output (tested with
    interleaved writers in tests/test_rdfio.py)."""
    with _StoreWriteLock(path, timeout=lock_timeout):
        _replace_graphs_unlocked(quads, path)


def store_graph_dirs(path: str) -> dict[str, str]:
    """Named graphs present in a partitioned store → their partition
    directories.  Spark escapes partition values with %XX (URL-style),
    so the graph IRI is recovered with unquote — robust against the
    exact escape set.  A metadata-scale listing (one dir per graph),
    the local-FS analogue of a catalog's partition list."""
    from urllib.parse import unquote

    out: dict[str, str] = {}
    if not os.path.isdir(path):
        return out
    for d in sorted(os.listdir(path)):
        if d.startswith("g="):
            out[unquote(d[2:])] = os.path.join(path, d)
    return out


def _remove_graph_dirs(path: str, graphs) -> list[str]:
    """Remove the partition directories of ``graphs`` (CLEAR GRAPH /
    a graph emptied by DELETE) — dynamic partition overwrite cannot
    delete a partition it writes no rows into.  Caller must hold the
    store lock.  Returns the graphs actually removed.  At cluster
    scale this is the table-format DROP PARTITION / delete-manifest
    operation; on the local store it is an rmtree."""
    import shutil

    dirs = store_graph_dirs(path)
    removed = []
    for g in graphs:
        if g in dirs:
            shutil.rmtree(dirs[g])
            removed.append(g)
    return removed


def _read_store_text(spark, path: str, graphs=None) -> DataFrame | None:
    """Raw (value, g) lines of the store: the whole store when
    ``graphs`` is None, else only the listed graphs' partition
    directories (looked up with :func:`store_graph_dirs`, so Spark lists
    just those directories, not every ``g=`` directory of the store).
    ``g`` is read as a string — partition type inference would turn the
    graph ``0042`` into ``42``.  The graph filter stays on the partition
    column as a guard (it shows as PartitionFilters in the scan).
    Returns None when none of ``graphs`` is in the store, or when the
    store directory holds no graph (a DELETE emptied its last one)."""
    reader = spark.read.schema("value string, g string")
    if graphs is None:
        if os.path.isdir(path) and not store_graph_dirs(path):
            return None
        return reader.text(path)
    dirs = store_graph_dirs(path)
    hit = sorted({g for g in graphs if g in dirs})
    if not hit:
        return None
    raw = reader.option("basePath", path).text([dirs[g] for g in hit])
    return raw.filter(F.col("g").isin(hit))


def read_nquads_store(spark, path: str, graph=None) -> DataFrame:
    """Read the partitioned store back to the full quad model.

    ``graph`` (an IRI or list of IRIs) is the graph-scoped fetch: only
    the requested graphs' directories are listed and scanned, so the
    cost follows the graphs read, not the graphs the store holds.
    Absent graphs contribute no rows (none present, or a store with no
    graph left → an empty frame with the quad schema).  The scope must
    be applied here, on the raw frame, not as a filter on the parsed
    output: Catalyst does not push predicates through a Python
    MapInPandas operator, so a post-parse filter would scan (and parse)
    every graph's files.  The raw frame also keeps the graph predicate
    on its partition column
    (PartitionFilters in the scan — verified in tests/test_rdfio.py).
    The N-Triples kernel carries each row's partition graph through the
    Arrow batch."""
    if isinstance(graph, str):
        graph = [graph]
    raw = _read_store_text(spark, path, graph)
    if raw is None:
        return local_frame(spark, [], QUADS_PARSED_DDL)
    return _parse_lines(
        raw.withColumnRenamed("value", "line"), _NT_RE, _compact, graph="column"
    )


# --- JSON-LD subset (NDJSON) -------------------------------------------------
# Twine's librdf stack spoke multiple RDF serializations (`[U~]`); the
# JSON-LD member of the family here is the flat NDJSON profile: one
# node object per TRIPLE per line, expanded IRIs, literal objects as
# {"@value": v[, "@language": l | "@type": dt]}.  Writer is pure native
# exprs (the shared string escape); parser is an Arrow kernel over
# json.loads.  Lossless against the full term model (tested).

def to_jsonld(triples: DataFrame) -> DataFrame:
    """(s,p,o[,term cols]) → one flat JSON-LD node object per line."""
    is_lit, lang, dtype = _term_cols(triples)
    lit_tail = (
        F.when(lang != "", F.concat(F.lit('", "@language": "'), lang, F.lit('"}')))
        .when(dtype != "", F.concat(F.lit('", "@type": "'), _escape(expand(dtype)), F.lit('"}')))
        .otherwise(F.lit('"}'))
    )
    obj = F.when(
        is_lit,
        F.concat(F.lit('{"@value": "'), _escape(F.col("o")), lit_tail),
    ).otherwise(
        F.concat(F.lit('{"@id": "'), _escape(expand(F.col("o"))), F.lit('"}'))
    )
    line = F.concat(
        F.lit('{"@id": "'), _escape(expand(F.col("s"))),
        F.lit('", "'), _escape(expand(F.col("p"))), F.lit('": '),
        obj, F.lit("}"),
    )
    return triples.select(line.alias("line"))


def jsonld_parse_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """JSON-LD NDJSON parser kernel: flat node objects, @id subjects,
    one or more predicate keys per object, scalar or list values;
    blank/comment lines skipped."""
    import json

    cols = ["s", "p", "o", "o_kind", "o_lang", "o_datatype"]
    for pdf in batches:
        rows = []
        for line in pdf["line"].astype("string"):
            line = (line or "").strip()
            if not line or line.startswith("#"):
                continue
            obj = json.loads(line, strict=False)
            s = obj["@id"]
            for pred, val in obj.items():
                if pred == "@id":
                    continue
                for v in (val if isinstance(val, list) else [val]):
                    if isinstance(v, dict) and "@id" in v:
                        rows.append((s, pred, v["@id"], "iri", "", ""))
                    elif isinstance(v, dict):
                        rows.append((
                            s, pred, v.get("@value", ""), "literal",
                            v.get("@language", ""), v.get("@type", ""),
                        ))
                    else:
                        rows.append((s, pred, str(v), "literal", "", ""))
        out = pd.DataFrame(rows, columns=cols)
        if len(out):
            out["s"] = _compact(out["s"].astype("string"))
            out["p"] = _compact(out["p"].astype("string"))
            iri_mask = out["o_kind"] == "iri"
            out.loc[iri_mask, "o"] = _compact(out.loc[iri_mask, "o"].astype("string"))
            out["o_datatype"] = _compact(out["o_datatype"].astype("string"))
        yield out


def parse_jsonld(lines: DataFrame) -> DataFrame:
    return lines.mapInPandas(jsonld_parse_kernel, schema=PARSED_DDL)


# --- document-level Turtle (round-5: real-world grammar subset) --------------
# The line kernels above cover the fixture grammar (one triple per
# line, implicit prefix table).  Real-world Turtle is DOCUMENT-shaped:
# @prefix/@base headers, statements spanning lines, ';' predicate lists
# and ',' object lists, comments, numeric/boolean shorthand literals.
# _turtle_doc_triples is the pure per-document parser (raises
# ValueError on malformed input — fuzz-gated like the SPARQL parser);
# parse_turtle_docs wraps it in a mapInPandas kernel, one document per
# row, dropping malformed documents (the quarantine filter runs
# upstream at scale, same policy as the line kernels).
#
# Round-6: anonymous bnode property lists "[ p o ; ... ]" and
# collections "( o1 o2 ... )" (rdf:first/rdf:rest/rdf:nil chains with
# document-scoped _:anon_N labels) are now parsed, as subject or
# object.  Remaining documented exclusions: triple-quoted strings and
# PN_LOCAL dots.

_TTL_TOKEN = re.compile(
    r"""
      (?P<ws>\s+|\#[^\n]*)
    | (?P<iri><[^<>"{}|^`\\\s]*>)
    | (?P<str>"(?:[^"\\]|\\.)*")
    | (?P<dt>\^\^)
    | (?P<num>[+-]?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
    | (?P<punct>[.;,\[\]()])
    | (?P<word>[^\s<>"\#.;,\[\]()^]+)
    """,
    re.VERBOSE,
)

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")


def _ttl_tokenize(text: str) -> list[tuple[str, str]]:
    toks: list[tuple[str, str]] = []
    i = 0
    while i < len(text):
        m = _TTL_TOKEN.match(text, i)
        if not m or m.end() == m.start():
            raise ValueError(f"Turtle tokenizer stuck at: {text[i:i+30]!r}")
        i = m.end()
        kind = m.lastgroup
        if kind != "ws":
            toks.append((kind, m.group()))
    return toks


def _turtle_doc_triples(text: str) -> list[tuple[str, str, str, str, str, str]]:
    """One Turtle document → [(s, p, o, o_kind, o_lang, o_datatype)].
    Doc-local @prefix/@base declarations are expanded to full IRIs,
    then compacted through the fixed PREFIXES table (the repo's
    canonical compact-IRI convention).  Raises ValueError on any
    malformed input — never another exception type."""
    toks = _ttl_tokenize(text)
    prefixes: dict[str, str] = {}
    base = ""
    out: list[tuple[str, str, str, str, str, str]] = []
    i = 0
    anon_n = 0
    depth = 0  # bracket-nesting guard: ValueError (not RecursionError)

    def new_bnode() -> str:
        nonlocal anon_n
        anon_n += 1
        return f"_:anon_{anon_n}"

    def push_depth() -> None:
        nonlocal depth
        depth += 1
        if depth > 100:
            raise ValueError("Turtle parse error: bracket nesting too deep")

    def peek(k: int = 0):
        j = i + k
        return toks[j] if j < len(toks) else (None, None)

    def take(expect_kind: str | None = None):
        nonlocal i
        if i >= len(toks):
            raise ValueError("Turtle parse error: unexpected end of document")
        kind, tok = toks[i]
        if expect_kind is not None and kind != expect_kind:
            raise ValueError(
                f"Turtle parse error: expected {expect_kind}, got {tok!r}"
            )
        i += 1
        return kind, tok

    def resolve_iriref(tok: str) -> str:
        ref = tok[1:-1]
        if not _SCHEME_RE.match(ref):
            ref = base + ref
        return compact_str(ref)

    def resolve_pname(tok: str) -> str:
        if tok.startswith("_:"):
            return tok  # blank node label, document-scoped
        if ":" not in tok:
            raise ValueError(f"Turtle parse error: bad name {tok!r}")
        pref, local = tok.split(":", 1)
        pref += ":"
        if pref in prefixes:
            return compact_str(prefixes[pref] + local)
        if pref in PREFIXES:
            return tok  # already in the canonical compact form
        raise ValueError(f"Turtle parse error: undeclared prefix {pref!r}")

    def parse_subject() -> tuple[str, bool]:
        """Returns (subject term, was_bracket) — a bracketed subject
        ([ ... ] or ( ... )) may legally be followed directly by '.'."""
        pk, pt = peek()
        if pk == "punct" and pt in ("[", "("):
            o, okind, _, _ = parse_object()
            if okind != "iri":
                raise ValueError("Turtle parse error: bad subject form")
            return o, True
        kind, tok = take()
        if kind == "iri":
            return resolve_iriref(tok), False
        if kind == "word":
            return resolve_pname(tok), False
        raise ValueError(f"Turtle parse error: bad subject {tok!r}")

    def parse_predicate() -> str:
        kind, tok = take()
        if kind == "iri":
            return resolve_iriref(tok)
        if kind == "word":
            if tok == "a":
                return "rdf:type"
            return resolve_pname(tok)
        raise ValueError(f"Turtle parse error: bad predicate {tok!r}")

    def parse_object() -> tuple[str, str, str, str]:
        kind, tok = take()
        if kind == "iri":
            return resolve_iriref(tok), "iri", "", ""
        if kind == "str":
            val = _unescape_str(tok[1:-1])
            lang, dtype = "", ""
            nkind, ntok = peek()
            if nkind == "word" and ntok.startswith("@"):
                take()
                lang = ntok[1:]
                if not re.fullmatch(r"[A-Za-z][A-Za-z0-9-]*", lang):
                    raise ValueError(f"Turtle parse error: bad langtag {ntok!r}")
            elif nkind == "dt":
                take()
                dkind, dtok = take()
                if dkind == "iri":
                    dtype = resolve_iriref(dtok)
                elif dkind == "word":
                    dtype = resolve_pname(dtok)
                else:
                    raise ValueError(f"Turtle parse error: bad datatype {dtok!r}")
            return val, "literal", lang, dtype
        if kind == "num":
            dtype = (
                "xsd:integer" if re.fullmatch(r"[+-]?\d+", tok)
                else "xsd:double" if "e" in tok.lower()
                else "xsd:decimal"
            )
            return tok, "literal", "", dtype
        if kind == "word":
            if tok in ("true", "false"):
                return tok, "literal", "", "xsd:boolean"
            return resolve_pname(tok), "iri", "", ""
        if kind == "punct" and tok == "[":
            nonlocal depth
            push_depth()
            b = new_bnode()
            if peek() == ("punct", "]"):
                take()
                depth -= 1
                return b, "iri", "", ""
            parse_pred_obj_list(b)
            k2, t2 = take()
            if (k2, t2) != ("punct", "]"):
                raise ValueError(
                    f"Turtle parse error: expected ']', got {t2!r}"
                )
            depth -= 1
            return b, "iri", "", ""
        if kind == "punct" and tok == "(":
            push_depth()
            items: list[tuple[str, str, str, str]] = []
            while peek() != ("punct", ")"):
                items.append(parse_object())
            take()  # ')'
            depth -= 1
            if not items:
                return "rdf:nil", "iri", "", ""
            head = new_bnode()
            cur = head
            for idx, (o, okind, lang, dtype) in enumerate(items):
                out.append((cur, "rdf:first", o, okind, lang, dtype))
                nxt = new_bnode() if idx < len(items) - 1 else "rdf:nil"
                out.append((cur, "rdf:rest", nxt, "iri", "", ""))
                cur = nxt
            return head, "iri", "", ""
        raise ValueError(f"Turtle parse error: bad object {tok!r}")

    def parse_pred_obj_list(s: str) -> None:
        """p o (, o)* (; p o ...)* — stops before (never consumes) the
        closing '.' / ']' terminator; trailing ';' is legal Turtle."""
        while True:
            p = parse_predicate()
            while True:
                o, okind, lang, dtype = parse_object()
                out.append((s, p, o, okind, lang, dtype))
                if peek() == ("punct", ","):
                    take()
                    continue
                break
            nk, nt = peek()
            if (nk, nt) == ("punct", ";"):
                take()
                nk, nt = peek()
                if nk is None or (nk == "punct" and nt in (".", "]")):
                    break
                continue
            break

    while i < len(toks):
        kind, tok = peek()
        low = (tok or "").lower()
        if kind == "word" and low in ("@prefix", "prefix"):
            take()
            _, label = take("word")
            if not label.endswith(":"):
                raise ValueError(f"Turtle parse error: bad prefix label {label!r}")
            _, iri = take("iri")
            prefixes[label] = iri[1:-1]
            if low == "@prefix":
                k2, t2 = take()
                if (k2, t2) != ("punct", "."):
                    raise ValueError("Turtle parse error: @prefix needs '.'")
            elif peek() == ("punct", "."):
                take()
            continue
        if kind == "word" and low in ("@base", "base"):
            take()
            _, iri = take("iri")
            base = iri[1:-1]
            if low == "@base":
                k2, t2 = take()
                if (k2, t2) != ("punct", "."):
                    raise ValueError("Turtle parse error: @base needs '.'")
            elif peek() == ("punct", "."):
                take()
            continue
        n_before = len(out)
        s, was_bracket = parse_subject()
        if was_bracket and peek() == ("punct", "."):
            if len(out) == n_before:
                raise ValueError(
                    "Turtle parse error: bare '[]' statement has no triples"
                )
            take()  # "[ p o ] ." — subject-only statement
            continue
        parse_pred_obj_list(s)
        k2, t2 = take()
        if (k2, t2) != ("punct", "."):
            raise ValueError(
                f"Turtle parse error: expected ';' ',' or '.', got {t2!r}"
            )
    return out


def parse_turtle_docs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Document-level Turtle parser over one-document-per-row input
    (e.g. spark.read.text(..., wholetext=True) or a (doc_id, text)
    frame).  Runs _turtle_doc_triples inside a mapInPandas kernel —
    Arrow-batched, no driver involvement; malformed documents are
    DROPPED (quarantine policy, matching the line kernels)."""

    return _parse_docs(docs, text_col, _turtle_doc_triples)


def _parse_docs(docs: DataFrame, text_col: str, doc_triples) -> DataFrame:
    """The kernel of the document parsers: each row's document through
    ``doc_triples`` (text → statement tuples); a document it rejects
    with ValueError is dropped."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["s", "p", "o", "o_kind", "o_lang", "o_datatype"]
        for pdf in batches:
            rows: list[tuple] = []
            for text in pdf[text_col].astype("string"):
                try:
                    rows.extend(doc_triples(text or ""))
                except ValueError:
                    continue
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    return docs.mapInPandas(kernel, schema=PARSED_DDL)


# --- JSON-LD expanded-document profile (round-5) -----------------------------

def _jsonld_expanded_triples(
    text: str, bnode_scope: str = ""
) -> list[tuple[str, str, str, str, str, str]]:
    """One JSON-LD document in EXPANDED form (array of node objects;
    values are arrays of {"@value"|"@id", "@language", "@type"} value
    objects; nested node objects allowed) → statement list.  Nodes
    without @id mint document-scoped blank ids.  Raises ValueError on
    malformed input."""
    import json

    try:
        doc = json.loads(text, strict=False)
    except json.JSONDecodeError as e:
        raise ValueError(f"JSON-LD parse error: {e}") from e
    if isinstance(doc, dict):
        doc = [doc]
    if not isinstance(doc, list):
        raise ValueError("JSON-LD expanded document must be an object or array")
    out: list[tuple[str, str, str, str, str, str]] = []
    counter = [0]

    def node_id(obj: dict) -> str:
        nid = obj.get("@id")
        if nid is None:
            counter[0] += 1
            return f"_:{bnode_scope}b{counter[0]}"
        if not isinstance(nid, str):
            raise ValueError(f"JSON-LD parse error: bad @id {nid!r}")
        return compact_str(nid)

    def walk(obj) -> str:
        if not isinstance(obj, dict):
            raise ValueError(f"JSON-LD parse error: node must be an object, got {obj!r}")
        s = node_id(obj)
        for key, val in obj.items():
            if key == "@id":
                continue
            if key == "@type":
                types = val if isinstance(val, list) else [val]
                for t in types:
                    if not isinstance(t, str):
                        raise ValueError(f"JSON-LD parse error: bad @type {t!r}")
                    out.append((s, "rdf:type", compact_str(t), "iri", "", ""))
                continue
            if key.startswith("@"):
                raise ValueError(f"JSON-LD parse error: unsupported keyword {key!r}")
            p = compact_str(key)
            vals = val if isinstance(val, list) else [val]
            for v in vals:
                if not isinstance(v, dict):
                    raise ValueError(
                        "JSON-LD parse error: expanded form requires value "
                        f"objects, got {v!r}"
                    )
                if set(v.keys()) == {"@list"}:
                    # RDF collection: rdf:first/rdf:rest chain over
                    # document-scoped blank nodes (the same shape the
                    # Turtle ( … ) collection parser emits); an empty
                    # @list is the rdf:nil IRI itself
                    out.append((s, p, make_list(v["@list"]), "iri", "", ""))
                else:
                    out.append((s, p) + term_of(v))
        return s

    def term_of(v: dict) -> tuple[str, str, str, str]:
        """One expanded value object → (o, o_kind, o_lang, o_datatype);
        nested node objects recurse through walk."""
        if "@value" in v:
            value = v["@value"]
            lang = v.get("@language", "") or ""
            dtype = compact_str(v.get("@type", "") or "")
            if isinstance(value, bool):
                value, dtype = ("true" if value else "false"), dtype or "xsd:boolean"
            elif isinstance(value, int):
                value, dtype = str(value), dtype or "xsd:integer"
            elif isinstance(value, float):
                value, dtype = repr(value), dtype or "xsd:double"
            elif not isinstance(value, str):
                raise ValueError(f"JSON-LD parse error: bad @value {value!r}")
            return (value, "literal", lang, dtype)
        if set(v.keys()) <= {"@id"}:
            return (compact_str(v["@id"]), "iri", "", "")
        # nested node object: link to it, then recurse
        return (walk(v), "iri", "", "")

    def make_list(items) -> str:
        """@list array → head term of an rdf:first/rdf:rest chain."""
        if not isinstance(items, list):
            raise ValueError("JSON-LD parse error: @list must be an array")
        if not items:
            return "rdf:nil"
        ids = []
        for _ in items:
            counter[0] += 1
            ids.append(f"_:{bnode_scope}b{counter[0]}")
        for i, (bid, it) in enumerate(zip(ids, items)):
            if not isinstance(it, dict):
                raise ValueError(
                    f"JSON-LD parse error: @list element must be a value "
                    f"object, got {it!r}"
                )
            if set(it.keys()) == {"@list"}:
                out.append((bid, "rdf:first", make_list(it["@list"]),
                            "iri", "", ""))
            else:
                out.append((bid, "rdf:first") + term_of(it))
            nxt = ids[i + 1] if i + 1 < len(ids) else "rdf:nil"
            out.append((bid, "rdf:rest", nxt, "iri", "", ""))
        return ids[0]

    for node in doc:
        walk(node)
    return out


def parse_jsonld_expanded(
    docs: DataFrame, text_col: str = "text", scope_bnodes: bool = False
) -> DataFrame:
    """JSON-LD EXPANDED-document parser (beyond the NDJSON line
    profile): one whole document per input row, mapInPandas kernel,
    malformed documents dropped (quarantine policy).

    ``scope_bnodes`` prefixes every minted blank label with a
    content-hash of its document — REQUIRED whenever the frame holds
    multiple documents whose blank nodes will be traversed (chains /
    property lists): per-document counters otherwise collide across
    rows and tangle unrelated chains.  Off by default (single-document
    and label-erased contracts keep the short ``_:bN`` labels)."""

    return _parse_docs(docs, text_col, lambda text: _jsonld_expanded_triples(
        text, _bnode_scope_of(text) if scope_bnodes else ""))


def _bnode_scope_of(text) -> str:
    """Deterministic, partition-invariant per-document blank-node
    scope: a short content hash (identical documents share a scope —
    they also share their triple set, so the collision is harmless)."""
    import hashlib

    return "d" + hashlib.md5((text or "").encode()).hexdigest()[:10] + "_"


# --- JSON-LD compacted profile (round 6) -------------------------------------
def _jsonld_compacted_triples(
    text: str, bnode_scope: str = ""
) -> list[tuple[str, str, str, str, str, str]]:
    """One JSON-LD document in COMPACTED form → statement list.

    Supported @context subset (the shapes real-world compacted JSON-LD
    overwhelmingly uses): inline object (or array of objects, merged),
    prefix maps ("ex": "http://…#"), term definitions ("name":
    "http://…" or {"@id": …, "@type": "@id"|datatype, "@language": …,
    "@container": "@set"|"@list"}), "@vocab" for bare property/type
    terms and "@base" for relative @id resolution.  Nodes: top-level
    object, its "@graph" array, plain-scalar values (coerced through
    the term definition), value objects, {"@id"} references, nested
    node objects, arrays of any of these; ordered collections via an
    inline {"@list": […]} or an @list-container term become
    rdf:first/rdf:rest chains over document-scoped blank nodes (round
    6c).  Remote (string/URL) contexts, @reverse and scoped contexts
    raise ValueError — the quarantine path, never a crash."""
    import json

    try:
        doc = json.loads(text, strict=False)
    except json.JSONDecodeError as e:
        raise ValueError(f"JSON-LD parse error: {e}") from e
    if not isinstance(doc, dict):
        raise ValueError("compacted JSON-LD document must be an object")
    ctx = doc.get("@context", {})
    if isinstance(ctx, list):
        merged: dict = {}
        for c in ctx:
            if not isinstance(c, dict):
                raise ValueError("remote @context not supported")
            merged.update(c)
        ctx = merged
    if not isinstance(ctx, dict):
        raise ValueError("remote @context not supported")
    vocab = ctx.get("@vocab", "")
    base = ctx.get("@base", "")
    prefixes: dict[str, str] = {}
    terms: dict[str, dict] = {}
    for k, v in ctx.items():
        if k in ("@vocab", "@base"):
            continue
        if k.startswith("@"):
            raise ValueError(f"unsupported @context keyword {k!r}")
        if isinstance(v, str):
            prefixes[k] = v
        elif isinstance(v, dict):
            bad = set(v) - {"@id", "@type", "@language", "@container"}
            if bad:
                raise ValueError(f"unsupported term-definition keys {bad}")
            if v.get("@container") not in (None, "@set", "@list"):
                raise ValueError("only @set/@list containers supported")
            terms[k] = v
        else:
            raise ValueError(f"bad @context entry for {k!r}")

    def expand_iri(t, as_vocab: bool) -> str:
        """term / compact IRI / absolute IRI → full-or-engine IRI text.
        Properties and types expand through @vocab; @id references
        through @base (JSON-LD's vocab-vs-base split)."""
        if not isinstance(t, str) or not t:
            raise ValueError(f"JSON-LD parse error: bad IRI term {t!r}")
        if t in terms:
            tid = terms[t].get("@id")
            if not isinstance(tid, str):
                raise ValueError(f"term {t!r} has no @id")
            return expand_iri(tid, as_vocab)
        if t in prefixes:
            return prefixes[t]
        if ":" in t:
            pref, rest = t.split(":", 1)
            if pref in prefixes and not rest.startswith("//"):
                return prefixes[pref] + rest
            return t
        if vocab and as_vocab:
            return vocab + t
        if base and not as_vocab:
            return base + t
        return t

    out: list[tuple[str, str, str, str, str, str]] = []
    counter = [0]

    def node_id(obj: dict) -> str:
        nid = obj.get("@id")
        if nid is None:
            counter[0] += 1
            return f"_:{bnode_scope}b{counter[0]}"
        return compact_str(expand_iri(nid, as_vocab=False))

    def term_of(v, tdef: dict) -> tuple[str, str, str, str]:
        """One compacted value → (o, o_kind, o_lang, o_datatype);
        scalars coerce through the term definition, nested node
        objects recurse through walk, inline {"@list": …} builds an
        rdf:first/rdf:rest chain and returns its head."""
        if isinstance(v, dict):
            if set(v.keys()) == {"@list"}:
                return (make_list(v["@list"], tdef), "iri", "", "")
            if "@value" in v:
                value = v["@value"]
                lang = v.get("@language", "") or ""
                dt = v.get("@type", "") or ""
                dt = compact_str(expand_iri(dt, True)) if dt else ""
                if isinstance(value, bool):
                    value, dt = ("true" if value else "false"), dt or "xsd:boolean"
                elif isinstance(value, int):
                    value, dt = str(value), dt or "xsd:integer"
                elif isinstance(value, float):
                    value, dt = repr(value), dt or "xsd:double"
                elif not isinstance(value, str):
                    raise ValueError(f"bad @value {value!r}")
                return (value, "literal", lang, dt)
            if set(v.keys()) <= {"@id"}:
                return (compact_str(expand_iri(v["@id"], False)),
                        "iri", "", "")
            return (walk(v), "iri", "", "")
        if isinstance(v, bool):
            return ("true" if v else "false", "literal", "", "xsd:boolean")
        if isinstance(v, int):
            return (str(v), "literal", "", "xsd:integer")
        if isinstance(v, float):
            return (repr(v), "literal", "", "xsd:double")
        if isinstance(v, str):
            if tdef.get("@type") == "@id":
                return (compact_str(expand_iri(v, False)), "iri", "", "")
            dt = tdef.get("@type", "") or ""
            dt = compact_str(expand_iri(dt, True)) if dt else ""
            lang = "" if dt else (tdef.get("@language", "") or "")
            return (v, "literal", lang, dt)
        raise ValueError(f"JSON-LD parse error: bad value {v!r}")

    def make_list(items, tdef: dict) -> str:
        """list array → head term of an rdf:first/rdf:rest chain over
        document-scoped blank nodes; [] is rdf:nil."""
        if not isinstance(items, list):
            raise ValueError("JSON-LD parse error: @list must be an array")
        if not items:
            return "rdf:nil"
        ids = []
        for _ in items:
            counter[0] += 1
            ids.append(f"_:{bnode_scope}b{counter[0]}")
        for i, (bid, it) in enumerate(zip(ids, items)):
            out.append((bid, "rdf:first") + term_of(it, tdef))
            nxt = ids[i + 1] if i + 1 < len(ids) else "rdf:nil"
            out.append((bid, "rdf:rest", nxt, "iri", "", ""))
        return ids[0]

    def emit_value(s: str, p: str, v, tdef: dict) -> None:
        out.append((s, p) + term_of(v, tdef))

    def walk(obj) -> str:
        if not isinstance(obj, dict):
            raise ValueError(f"node must be an object, got {obj!r}")
        s = node_id(obj)
        for key, val in obj.items():
            if key in ("@id", "@context"):
                continue
            if key == "@type":
                for t in (val if isinstance(val, list) else [val]):
                    out.append(
                        (s, "rdf:type", compact_str(expand_iri(t, True)),
                         "iri", "", "")
                    )
                continue
            if key.startswith("@"):
                raise ValueError(f"unsupported keyword {key!r}")
            p = compact_str(expand_iri(key, True))
            tdef = terms.get(key, {})
            if tdef.get("@container") == "@list" and isinstance(val, list):
                # an @list-container term's array IS one ordered
                # collection, not a set of values
                out.append((s, p, make_list(val, tdef), "iri", "", ""))
                continue
            for v in (val if isinstance(val, list) else [val]):
                emit_value(s, p, v, tdef)
        return s

    nodes = doc.get("@graph")
    if nodes is not None:
        if not isinstance(nodes, list):
            raise ValueError("@graph must be an array")
        stray = set(doc) - {"@context", "@graph"}
        if stray:
            raise ValueError(f"unsupported top-level keys beside @graph: {stray}")
        for n in nodes:
            walk(n)
    else:
        body = {k: v for k, v in doc.items() if k != "@context"}
        if body:
            walk(body)
    return out


def parse_jsonld_compacted(
    docs: DataFrame, text_col: str = "text", scope_bnodes: bool = False
) -> DataFrame:
    """JSON-LD COMPACTED-document parser: one whole document (with its
    inline @context) per input row, mapInPandas kernel, malformed
    documents dropped (quarantine policy — same as the other document
    parsers).  ``scope_bnodes``: see parse_jsonld_expanded."""

    return _parse_docs(docs, text_col, lambda text: _jsonld_compacted_triples(
        text, _bnode_scope_of(text) if scope_bnodes else ""))


def to_jsonld_compacted(triples: DataFrame) -> DataFrame:
    """(s,p,o[,term cols]) → one COMPACTED node object per line, keys
    and references as prefixed names (the PREFIXES table is the
    document's @context prefix map — see jsonld_context_json()); plain
    literals serialize as bare JSON strings, tagged/typed ones as value
    objects.  Native expressions only."""
    is_lit, lang, dtype = _term_cols(triples)
    obj = (
        F.when(is_lit & (lang == "") & (dtype == ""),
               F.concat(F.lit('"'), _escape(F.col("o")), F.lit('"')))
        .when(is_lit & (lang != ""),
              F.concat(F.lit('{"@value": "'), _escape(F.col("o")),
                       F.lit('", "@language": "'), lang, F.lit('"}')))
        .when(is_lit,
              F.concat(F.lit('{"@value": "'), _escape(F.col("o")),
                       F.lit('", "@type": "'), _escape(dtype),
                       F.lit('"}')))
        .otherwise(
            F.concat(F.lit('{"@id": "'), _escape(F.col("o")),
                     F.lit('"}'))
        )
    )
    line = F.concat(
        F.lit('{"@id": "'), _escape(F.col("s")),
        F.lit('", "'), _escape(F.col("p")), F.lit('": '),
        obj, F.lit("}"),
    )
    return triples.select(line.alias("line"))


def jsonld_context_json() -> str:
    """The PREFIXES table as a JSON-LD @context prefix-map object —
    the inline context to_jsonld_compacted documents pair with."""
    import json

    return json.dumps(
        {p[:-1]: full for p, full in sorted(PREFIXES.items())}
    )


# Extension → parser dispatch for SPARQL UPDATE's LOAD verb (and any
# file-ingest caller).  Line-shaped formats stream through the line
# kernels (one Arrow batch per file split — parallel over a directory
# of files at scale); document-shaped formats read wholetext (one row
# per FILE, so a directory of documents still parallelizes per-file).
_RDF_EXT_LINES = {"nt": parse_ntriples, "nq": parse_nquads,
                  "trig": parse_trig, "rdf": parse_rdfxml,
                  "xml": parse_rdfxml, "ndjsonld": parse_jsonld,
                  "ndjson": parse_jsonld}


def read_rdf_file(spark, path: str) -> DataFrame:
    """Parse an RDF file (or a directory of same-format files) into the
    full-term model, choosing the parser by extension: ``.nt``,
    ``.nq``/``.trig`` (graph-carrying — returns a ``g`` column),
    ``.ttl`` (document-level grammar), ``.rdf``/``.xml``, ``.jsonld``
    (compacted profile, handles inline @context), ``.ndjsonld`` (the
    NDJSON profile).  Malformed input follows each parser's quarantine
    policy (dropped rows/documents, never engine errors)."""
    ext = path.rsplit(".", 1)[-1].lower()
    if ext in _RDF_EXT_LINES:
        lines = spark.read.text(path).withColumnRenamed("value", "line")
        return _RDF_EXT_LINES[ext](lines)
    if ext in ("ttl", "jsonld"):
        docs = spark.read.text(path, wholetext=True) \
            .withColumnRenamed("value", "text")
        fn = parse_turtle_docs if ext == "ttl" else parse_jsonld_compacted
        return fn(docs)
    raise ValueError(f"unsupported RDF file extension: .{ext} ({path})")


# Spark/Hive partition-value escaping (ExternalCatalogUtils.escapePathName
# semantics): %XX for the reserved set + control chars.  Decoding is
# plain %XX-unquote, so a directory created with this function reads
# back identically whether Spark or kgspark wrote it.
_PARTITION_ESCAPE = set('"#%\'*/:=?\\\x7f{[]^') | {chr(i) for i in range(0x20)}


def escape_partition_value(v: str) -> str:
    return "".join(
        f"%{ord(c):02X}" if c in _PARTITION_ESCAPE else c for c in v
    )


def unroll_lists(triples: DataFrame, max_len: int = 64) -> DataFrame:
    """RDF collection REASSEMBLY (round 6c): every rdf:first/rdf:rest
    chain reachable from a non-list predicate becomes positional rows
    (s, p, pos, o, o_kind, o_lang, o_datatype) — the label-free view
    of a list (blank-node chain ids never surface), the inverse of
    the Turtle ``( … )`` / JSON-LD ``@list`` constructors.

    Iterative frontier walk: attachment edges (any predicate except
    rdf:first/rdf:rest whose object heads a chain or is rdf:nil) seed
    pos 0; each round one equi-join against the first/rest frames
    advances every list in parallel — rounds = longest list, NOT list
    count, so a corpus of millions of short lists converges in a
    handful of shuffles.  ``max_len`` bounds the walk (a cycle in
    malformed data would otherwise never terminate); hitting the bound
    raises rather than silently truncating."""
    first = triples.filter(F.col("p") == "rdf:first").select(
        F.col("s").alias("node"), F.col("o"),
        "o_kind", "o_lang", "o_datatype",
    ).localCheckpoint(eager=False)
    rest = triples.filter(F.col("p") == "rdf:rest").select(
        F.col("s").alias("node"), F.col("o").alias("nxt")
    ).localCheckpoint(eager=False)

    list_nodes = first.select("node").distinct()
    attach = (
        triples.filter(~F.col("p").isin("rdf:first", "rdf:rest"))
        .filter(F.col("o_kind") == "iri")
        .join(list_nodes, F.col("o") == F.col("node"), "left_semi")
        .select("s", "p", F.col("o").alias("node"))
    )
    frontier = attach.withColumn("pos", F.lit(0)).localCheckpoint(eager=False)

    out = None
    for _ in range(max_len):
        if frontier.isEmpty():
            break
        hop = frontier.join(first, "node")
        emitted = hop.select(
            "s", "p", "pos", "o", "o_kind", "o_lang", "o_datatype"
        )
        out = emitted if out is None else out.unionByName(emitted)
        frontier = (
            frontier.join(rest, "node")
            .filter(F.col("nxt") != "rdf:nil")
            .select(
                "s", "p", F.col("nxt").alias("node"),
                (F.col("pos") + 1).alias("pos"),
            )
            .localCheckpoint(eager=False)
        )
    else:
        if not frontier.isEmpty():
            raise ValueError(
                f"unroll_lists: a chain exceeds max_len={max_len} "
                "(cycle or oversized collection)"
            )
    if out is None:
        schema = ("s string, p string, pos int, o string, o_kind string,"
                  " o_lang string, o_datatype string")
        return local_frame(triples.sparkSession, [], schema)
    return out


def compact_store(
    spark, path: str, min_files: int = 2, lock_timeout: float = 60.0
) -> list[tuple[str, int, int]]:
    """Store COMPACTION — the small-files maintenance pass (round 6c).
    Micro-batch ingest and per-graph replaces accrete many small text
    files per partition; at cluster scale a scan then pays one task
    per tiny file (the classic small-files problem).  Every graph
    whose directory holds ≥ ``min_files`` data files is rewritten to a
    single file, content-identical (the store is a set of N-Triples
    lines; line order is not part of the contract).

    ONE Spark job rewrites all eligible graphs: the raw text scan is
    hash-repartitioned on the partition column so each graph lands in
    exactly one task (files-per-graph becomes 1 without a per-graph
    driver loop), written to an underscore-prefixed staging dir that
    partition discovery ignores, then swapped in directory-at-a-time
    under the store write lock.  Crash safety (r7): each swap parks the
    old directory ASIDE (dot-prefixed) before renaming the staged
    rewrite in and deletes the aside copy only after the swap — at
    every instant the graph's only copy is in a durable location, and
    the next compaction restores any aside left by a crash before
    touching the staging dir.  Returns (graph, files_before,
    files_after) per compacted graph."""
    import shutil

    def data_files(d: str) -> list[str]:
        return [
            f for f in os.listdir(d)
            if not f.startswith(("_", ".")) and
            os.path.isfile(os.path.join(d, f))
        ]

    with _StoreWriteLock(path, timeout=lock_timeout):
        # Crash recovery (r7 ADVICE fix): a previous compaction may
        # have died mid-swap.  The swap below renames each graph dir
        # ASIDE (dot-prefixed, ignored by partition discovery) before
        # renaming the staged rewrite in, so at every instant the
        # graph's only copy lives in a durable location — restore any
        # aside whose real dir is missing, drop asides whose swap
        # completed, and only THEN clear the staging dir.
        for entry in os.listdir(path):
            if entry.startswith(".") and entry.endswith(".gc"):
                aside = os.path.join(path, entry)
                real = os.path.join(path, entry[1:-3])
                if os.path.isdir(real):
                    shutil.rmtree(aside)
                else:
                    os.rename(aside, real)
        dirs = store_graph_dirs(path)
        eligible = {
            g: d for g, d in dirs.items() if len(data_files(d)) >= min_files
        }
        if not eligible:
            return []
        staging = os.path.join(path, "_compact_tmp")
        if os.path.isdir(staging):
            shutil.rmtree(staging)  # safe: every graph restored above
        raw = _read_store_text(spark, path, eligible)
        (
            raw.repartition(len(eligible), "g")
            .select("g", F.col("value").alias("line"))
            .write.mode("overwrite").partitionBy("g").text(staging)
        )
        out: list[tuple[str, int, int]] = []
        staged = store_graph_dirs(staging)
        for g, old_dir in sorted(eligible.items()):
            new_dir = staged.get(g)
            if new_dir is None:
                continue  # graph had only empty files; leave it alone
            before = len(data_files(old_dir))
            aside = os.path.join(
                path, "." + os.path.basename(old_dir) + ".gc"
            )
            os.rename(old_dir, aside)   # old copy parked, never deleted
            os.rename(new_dir, old_dir)  # staged rewrite swapped in
            shutil.rmtree(aside)         # swap complete — drop old copy
            out.append((g, before, len(data_files(old_dir))))
        shutil.rmtree(staging, ignore_errors=True)
        return out


def merge_quads(
    spark, delta: DataFrame, path: str, lock_timeout: float = 60.0
) -> dict:
    """CDC MERGE into the partitioned store: apply a DataFrame of
    tagged changes — ``op`` ('add' | 'retract') + the parsed-quad
    columns — in one atomic commit.  The DataFrame form is what an
    ingest pipeline emits at scale (arbitrarily many rows, unlike the
    ground-quad lists of SPARQL INSERT/DELETE DATA, which parse a
    request string on the driver).

    Semantics per affected graph: new = (current \\ retracts) ∪ adds,
    distinct — so re-applying the same delta is a no-op (idempotent),
    retracting an absent quad is a no-op, and adding a present quad is
    a no-op.  Graphs the merge empties are dropped; graphs the delta
    does not mention are untouched (their partition directories are
    never read or rewritten).

    Scale shape: lists and reads ONLY the affected graphs' directories
    (scoped below the MapInPandas parse, like every store read); the
    retract anti-join and the add union shuffle on the quad key; the
    affected-graph collect is metadata-scale (graphs touched per merge,
    not rows).  The whole read-modify-write runs under the store
    writer lock, serialized with SPARQL UPDATE and graph-replace
    writers."""
    delta = delta.localCheckpoint(eager=False)
    og = delta.select("op", "g").distinct().collect()  # one metadata job
    bad = {r["op"] for r in og} - {"add", "retract"}
    if bad:
        raise ValueError(f"merge_quads: unknown op values {sorted(bad)}")
    quad_cols = [c.strip().split()[0] for c in QUADS_PARSED_DDL.split(",")]
    affected = sorted({r["g"] for r in og})
    with _StoreWriteLock(path, timeout=lock_timeout):
        dirs = store_graph_dirs(path)
        have = [g for g in affected if g in dirs]
        adds = delta.filter(F.col("op") == "add").select(*quad_cols)
        retr = delta.filter(F.col("op") == "retract").select(
            "g", "s", "p", "o"
        )
        if have:
            remaining = read_nquads_store(spark, path, graph=have).join(
                retr, ["g", "s", "p", "o"], "left_anti"
            )
            new = remaining.unionByName(adds)
        else:
            new = adds
        new = new.distinct().localCheckpoint(eager=False)
        per_graph = {
            r["g"]: r["n"]
            for r in new.groupBy("g").agg(F.count("*").alias("n")).collect()
        }
        if per_graph:
            _replace_graphs_unlocked(new, path)
        removed = _remove_graph_dirs(
            path, [g for g in have if g not in per_graph]
        )
    return {
        "graphs": affected,
        "removed": removed,
        "rows_after": per_graph,
    }


def graph_hashes(quads: DataFrame) -> DataFrame:
    """Per-graph canonical content hash of a quad frame: charcode
    rolling hash of each distinct quad's canonical string, combined
    with BIT_XOR (commutative, overflow-free → partitioning- and
    row-order-invariant).  The replication primitive behind
    :func:`store_diff`; the contract-query form lives in
    queries.kg_graph_hash."""
    from . import grammar as G

    canon = (
        "concat_ws('|', g, s, p, o, o_kind,"
        " coalesce(o_lang, ''), coalesce(o_datatype, ''))"
    )
    charcode = (
        f"aggregate(transform(split({canon}, ''),"
        " c -> CAST(ascii(c) AS BIGINT)), CAST(0 AS BIGINT),"
        f" (a, c) -> (a * 31 + c) % {G.HASH_P})"
    )
    return (
        quads.select("g", F.expr(charcode).alias("h"))
        .distinct()
        .groupBy("g")
        .agg(
            F.count("*").cast("bigint").alias("n_quads"),
            F.expr("bit_xor(h)").cast("bigint").alias("graph_hash"),
        )
    )


def store_diff(spark, path_a: str, path_b: str) -> DataFrame:
    """ANTI-ENTROPY DIFF of two stores: per-graph status in
    {'equal', 'changed', 'only_a', 'only_b'} — the replica-repair
    readout (run the diff, then :func:`merge_quads` only the graphs
    that differ).  Compares canonical per-graph hashes, so the data
    shipped between sites is one (graph, count, hash) row per graph —
    never triples; two replicas holding byte-identical graphs under
    different file layouts / row orders compare equal by
    construction."""
    ha = graph_hashes(read_nquads_store(spark, path_a)).select(
        "g",
        F.col("n_quads").alias("n_a"),
        F.col("graph_hash").alias("h_a"),
    )
    hb = graph_hashes(read_nquads_store(spark, path_b)).select(
        "g",
        F.col("n_quads").alias("n_b"),
        F.col("graph_hash").alias("h_b"),
    )
    j = ha.join(hb, "g", "full_outer")
    status = (
        F.when(F.col("h_a").isNull(), F.lit("only_b"))
        .when(F.col("h_b").isNull(), F.lit("only_a"))
        .when(
            (F.col("h_a") == F.col("h_b")) & (F.col("n_a") == F.col("n_b")),
            F.lit("equal"),
        )
        .otherwise(F.lit("changed"))
    )
    return j.select("g", status.alias("status"))
