"""The construction chain, declared once (the stage DAG of SURVEY.md §3;
Twine declares its chain as the ``workflow=`` list that
``libtwine/workflow.c`` runs):

    documents ─→ spans ─→ mentions, media_features, base_triples  [per doc]
    mentions + embeddings ─→ edges ─→ labels ─→ comps ─→ entities,
        entity_attrs, entity_props, entity_media                   [global]
    base_triples + comps ─→ quads ─→ triples                       [global]

``STAGES`` maps every stage name to its inputs (stage or source names),
its function and its scope.  Two executors run the one table:

* ``run_pipeline`` (here), in memory: the returned ``PipelineResult``
  builds a stage the first time a caller asks for it, memoizes it, and
  takes a lazy ``localCheckpoint`` on the ``CHECKPOINTED`` stages;
* ``runner.run_all``, over the catalog: per-document stages resume per
  bucket, global stages per stage, and ``plan`` stages stay plans.

Stage functions look their module functions up when they run
(``lambda f: extract.mentions_df(f)``, not ``extract.mentions_df``), so
a caller that patches a module attribute (tracing, fault injection)
sees every call.  ``repartition_docs`` applies the explicit doc_id-hash
partitioning the north_rule requires between document-keyed stages.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import cc, extract, fixtures, generate, link

TERM_COLS = ["s", "p", "o", "o_kind", "o_lang", "o_datatype"]


def repartition_docs(df: DataFrame, n_parts: int) -> DataFrame:
    """Explicit partitioning between stages: pmod(xxhash64(doc_id), P).

    Emulates the Iceberg bucket(doc_id) partition spec (D5) — same
    hash-bucket co-location the real table gives for free."""
    return df.repartition(n_parts, F.pmod(F.xxhash64("doc_id"), F.lit(n_parts)))


@dataclass(frozen=True)
class Stage:
    inputs: tuple[str, ...]
    fn: Callable[..., DataFrame]
    # "doc": a pure per-document function (the catalog resumes it per
    # bucket); "global": graph-wide (resumed per stage); "plan":
    # graph-wide but never stored, a plan over its inputs
    scope: str


def _labels(edges, mentions, extra_triples):
    # O16: explicit coref assertions (owl:sameAs / skos:exactMatch) from
    # source data union into the edge set ahead of CC (SURVEY §3.2).
    # Extraction itself emits no coref predicates, so the source is the
    # caller-provided extra_triples
    cc_edges = edges.select("norm_a", "norm_b")
    if extra_triples is not None:
        cc_edges = cc_edges.unionByName(
            link.explicit_norm_edges(extra_triples, mentions)
        )
    norms = mentions.select(F.col("norm_text").alias("node")).distinct()
    return cc.connected_components(cc_edges, norms)


def _quads(base_triples, mentions, labels, comps):
    # named-graph full-term quad view: per-doc graphs + proxy root graph.
    # Per-document base quads (deduped per doc) plus per-component proxy
    # rows in the root graph already form a set, so no dedup runs
    return base_triples.select("g", *TERM_COLS).unionByName(
        generate.proxy_quads(mentions, labels, comps=comps)
    )


STAGES: dict[str, Stage] = {
    "spans": Stage(
        ("documents",), lambda d: fixtures.flat_spans(fixtures.with_spans(d)), "doc"
    ),
    "mentions": Stage(("spans",), lambda f: extract.mentions_df(f), "doc"),
    "media_features": Stage(
        ("spans",), lambda f: extract.media_features_df(f), "doc"
    ),
    # per-doc keyed quads: every output row's graph g = doc://<id> is its
    # document's, so the catalog's per-bucket resume is the O6 per-graph
    # replace too
    "base_triples": Stage(
        ("spans", "mentions"), lambda f, m: extract.base_quads(f, m), "doc"
    ),
    "edges": Stage(
        ("mentions", "embeddings"), lambda m, e: link.scored_edges(m, e), "global"
    ),
    "labels": Stage(("edges", "mentions", "extra_triples"), _labels, "global"),
    # ONE aggregation per component feeds entities, attrs, props, media
    # and the proxy quads
    "comps": Stage(
        ("mentions", "labels"), lambda m, l: generate.entity_components(m, l), "plan"
    ),
    "entities": Stage(
        ("mentions", "labels", "comps"),
        lambda m, l, c: generate.entities_df(m, l, comps=c), "global",
    ),
    "entity_attrs": Stage(
        ("mentions", "labels", "comps"),
        lambda m, l, c: generate.entity_attrs_df(m, l, comps=c), "global",
    ),
    # D7 full-form property index (spindle writes its index tables)
    "entity_props": Stage(
        ("mentions", "labels", "comps"),
        lambda m, l, c: generate.entity_props(m, l, members=c), "global",
    ),
    # license/media selection index (spindle license.c/media.c); media
    # spans feed the candidates
    "entity_media": Stage(
        ("mentions", "labels", "spans", "comps"),
        lambda m, l, f, c: generate.entity_media(m, l, f, members=c), "global",
    ),
    "quads": Stage(("base_triples", "mentions", "labels", "comps"), _quads, "plan"),
    # distinct full-term triples: the store's graph-agnostic view
    "triples": Stage(
        ("quads",), lambda q: q.select(*TERM_COLS).dropDuplicates(TERM_COLS), "global"
    ),
}

# The in-memory executor's lazy checkpoints.  eager=False is not free
# under AQE: the call itself runs the upstream shuffle stages, and only
# the last stage waits for the first consumer.
# * mentions feed edges, base quads and generate: parse once;
# * edges: link's shuffles run here, the final stage at CC's probe;
# * comps: the aggregation's shuffles — generate's only blocking call;
# * quads serve every reader of triples / triples_full / quads without
#   re-running span synthesis, and keep a reader's filters out of the
#   branches: pushed into base_quads' constant-object rows, a FILTER
#   such as CAST(o AS INT) >= 3 is constant-folded and fails.
CHECKPOINTED = ("mentions", "edges", "comps", "quads")


def resolver(sources: dict, build) -> Callable[[str], DataFrame]:
    """``get(name)``: a source, or the stage built once by
    ``build(name, stage, inputs)`` and memoized; ``inputs()`` resolves
    the stage's inputs (in declared order) only when called."""
    memo = dict(sources)

    def get(name: str) -> DataFrame:
        if name not in memo:
            st = STAGES[name]
            memo[name] = build(name, st, lambda: [get(i) for i in st.inputs])
        return memo[name]

    return get


def _stage(name: str) -> property:
    return property(lambda self: self.stage(name), doc=f"The ``{name}`` stage.")


class PipelineResult:
    """The in-memory executor: stages are built on first access."""

    flat_spans = _stage("spans")
    mentions = _stage("mentions")
    media_features = _stage("media_features")
    edges = _stage("edges")
    labels = _stage("labels")
    comps = _stage("comps")
    entities = _stage("entities")
    entity_attrs = _stage("entity_attrs")
    entity_props = _stage("entity_props")
    entity_media = _stage("entity_media")
    # named-graph full-term view — D3/D4:
    # (g, s, p, o, o_kind, o_lang, o_datatype)
    quads = _stage("quads")
    # distinct full-term (s, p, o, ...): the catalog's ``triples`` table
    triples_full = _stage("triples")

    def __init__(
        self,
        documents: DataFrame,
        embeddings: DataFrame,
        n_parts: int,
        extra_triples: DataFrame | None = None,
    ):
        # repartition the RAW documents before span synthesis — the
        # exchange must sit BELOW the expensive projection or synthesis
        # runs in the input-file partitions (one parquet file = serial)
        self.documents = repartition_docs(documents, n_parts)
        self.counts: dict = {}

        def build(name, stage, inputs):
            df = stage.fn(*inputs())
            return df.localCheckpoint(eager=False) if name in CHECKPOINTED else df

        self.stage = resolver(
            {"documents": self.documents, "embeddings": embeddings,
             "extra_triples": extra_triples},
            build,
        )

    @property
    def docs_spans(self) -> DataFrame:
        return fixtures.with_spans(self.documents)

    @cached_property
    def triples(self) -> DataFrame:
        """Graph-agnostic distinct (s, p, o)."""
        return self.quads.select("s", "p", "o").dropDuplicates(["s", "p", "o"])


_PIPELINE_CACHE: dict = {}


def run_pipeline_cached(spark: SparkSession, sf_dir: str) -> PipelineResult:
    """One default-config pipeline per (session, sf_dir): every registry
    query that reads the constructed graph or one of its stages shares
    it, so the chain is built (and checkpointed) once per session."""
    key = (id(spark.sparkContext), sf_dir)
    if key not in _PIPELINE_CACHE:
        _PIPELINE_CACHE[key] = run_pipeline(spark, sf_dir)
    return _PIPELINE_CACHE[key]


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    n_parts: int | None = None,
    extra_triples: DataFrame | None = None,
) -> PipelineResult:
    """``extra_triples``: optional externally-asserted (s,p,o) rows —
    e.g. owl:sameAs / skos:exactMatch coref assertions from source data
    (O16); their coref edges union with the scored edges ahead of CC."""
    if n_parts is None:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return PipelineResult(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
        n_parts,
        extra_triples,
    )
