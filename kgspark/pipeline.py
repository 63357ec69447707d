"""End-to-end pipeline composition (the stage DAG of SURVEY.md §3):

    documents ─→ spans ─→ extract(mentions, media, base triples)
        ─→ link(candidates → scored edges) ─→ cc(labels)
        ─→ generate(entities, attrs, proxy triples) ─→ triples ∪

Stages are pure functions DataFrame → DataFrame; runner.py adds
checkpointed materialization between them.  ``repartition_docs``
applies the explicit doc_id-hash partitioning the north_rule requires
between document-keyed stages.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import cc, extract, fixtures, generate, link
from . import grammar as G


def repartition_docs(df: DataFrame, n_parts: int) -> DataFrame:
    """Explicit partitioning between stages: pmod(xxhash64(doc_id), P).

    Emulates the Iceberg bucket(doc_id) partition spec (D5) — same
    hash-bucket co-location the real table gives for free."""
    return df.repartition(n_parts, F.pmod(F.xxhash64("doc_id"), F.lit(n_parts)))


@dataclass
class PipelineResult:
    docs_spans: DataFrame
    flat_spans: DataFrame
    mentions: DataFrame
    media_features: DataFrame
    edges: DataFrame
    labels: DataFrame
    entities: DataFrame
    entity_attrs: DataFrame
    triples: DataFrame            # graph-agnostic distinct (s, p, o)
    quads: DataFrame = None       # named-graph full-term view — D3/D4:
    #                              (g, s, p, o, o_kind, o_lang, o_datatype)
    triples_full: DataFrame = None  # distinct full-term (s, p, o, ...)
    counts: dict = field(default_factory=dict)


_PIPELINE_CACHE: dict = {}


def run_pipeline_cached(spark: SparkSession, sf_dir: str) -> "PipelineResult":
    """Memoized default-config pipeline per (session, sf_dir) — the
    driver's correctness run derives several queries from the same
    pipeline (triples, round-trips, predicate counts); the checkpointed
    intermediates make re-use free and deterministic."""
    key = (id(spark.sparkContext), sf_dir)
    if key not in _PIPELINE_CACHE:
        _PIPELINE_CACHE[key] = run_pipeline(spark, sf_dir)
    return _PIPELINE_CACHE[key]


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    n_parts: int | None = None,
    use_native_extract: bool = False,
    salt_buckets: int = 1,
    materialize: bool = True,
    extra_triples: DataFrame | None = None,
) -> PipelineResult:
    """``extra_triples``: optional externally-asserted (s,p,o) rows —
    e.g. owl:sameAs / skos:exactMatch coref assertions from source data
    (O16); their coref edges union with the scored edges ahead of CC."""
    if n_parts is None:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    # repartition the RAW documents before span synthesis — the exchange
    # must sit BELOW the expensive projection or synthesis runs in the
    # input-file partitions (a single parquet file = serial execution)
    docs = repartition_docs(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), n_parts
    )
    ds = fixtures.with_spans(docs)
    flat = fixtures.flat_spans(ds)

    mentions = (
        extract.mentions_df_native(flat)
        if use_native_extract
        else extract.mentions_df(flat)
    )
    if materialize:
        # extraction feeds 3 consumers (edges, base quads, generate) —
        # materialize once instead of re-parsing 3×.  eager=False is not
        # free under AQE: the call itself runs the doc repartition
        # shuffle; only the kernel waits for the first consumer
        mentions = mentions.localCheckpoint(eager=False)

    media_features = extract.media_features_df(flat)
    base_quads = extract.base_quads(flat, mentions)

    embeddings = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # mention tokens are the ENTITY_TOKENS alternation by construction —
    # pass the fixed dictionary, skipping the observed-vocab job
    edges = link.scored_edges(
        mentions, embeddings, vocab=sorted(G.ENTITY_TOKENS)
    )
    if materialize:
        # runs link's shuffle stages at call time (AQE); the final
        # stage runs at CC's probe, its first consumer
        edges = edges.localCheckpoint(eager=False)

    # O16: explicit coref assertions (owl:sameAs / skos:exactMatch) from
    # source data union into the edge set ahead of CC (SURVEY §3.2).
    # Extraction itself emits no coref predicates, so the source is the
    # caller-provided extra_triples; cc_edges == edges when absent.
    cc_edges = edges.select("norm_a", "norm_b")
    if extra_triples is not None:
        cc_edges = cc_edges.unionByName(
            link.explicit_norm_edges(extra_triples, mentions)
        )
    norms = mentions.select(F.col("norm_text").alias("node")).distinct()
    labels = cc.connected_components(cc_edges, norms, salt_buckets=salt_buckets)

    # ONE aggregation per component feeds entities, attrs and the proxy
    # quads; its checkpoint runs the aggregation's shuffles at call time
    # (AQE) and is the generate stage's only blocking call
    comps = generate.entity_components(mentions, labels)
    if materialize:
        comps = comps.localCheckpoint(eager=False)
    entities = generate.entities_df(mentions, labels, comps=comps)
    attrs = generate.entity_attrs_df(mentions, labels, comps=comps)
    # named-graph full-term quad view: per-doc graphs + proxy root graph.
    # Per-document base quads (deduped per doc) plus per-component proxy
    # rows in the root graph already form a set, so no dedup runs.  The
    # checkpoint serves every reader of triples / triples_full / quads
    # without re-running span synthesis, and keeps a reader's filters
    # out of the branches: pushed into base_quads' constant-object rows,
    # a FILTER such as CAST(o AS INT) >= 3 is constant-folded and fails
    term_cols = ["s", "p", "o", "o_kind", "o_lang", "o_datatype"]
    quads = base_quads.select("g", *term_cols).unionByName(
        generate.proxy_quads(mentions, labels, comps=comps)
    )
    if materialize:
        quads = quads.localCheckpoint(eager=False)
    triples_full = quads.select(*term_cols).dropDuplicates(term_cols)
    triples = quads.select("s", "p", "o").dropDuplicates(["s", "p", "o"])

    return PipelineResult(
        docs_spans=ds,
        flat_spans=flat,
        mentions=mentions,
        media_features=media_features,
        edges=edges,
        labels=labels,
        entities=entities,
        entity_attrs=attrs,
        triples=triples,
        quads=quads,
        triples_full=triples_full,
    )
