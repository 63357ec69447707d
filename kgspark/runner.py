"""Stage-DAG runner: the twined main loop + workflow chain analogue
(SURVEY.md §3.1; ``libtwine/workflow.c``, ``twined`` daemon `[U~]`),
re-expressed as checkpointed DataFrame stages over the catalog.

    documents ──(bucket by pmod(xxhash64(doc_id), P))──► spans
       spans ──► mentions, media_features, base_triples      [per-bucket]
       mentions ──► edges ──► labels ──► entities/attrs/
                                          proxy+final triples [global]

Per-bucket stages resume idempotently at bucket granularity; global
stages at stage granularity (fingerprint of their input).  Lineage +
counts go to the ``_checkpoint`` table (checkpoint.py).

Deployment: on a real cluster this module is the ``spark-submit``
entry point —

    spark-submit --py-files kgspark.zip -m kgspark.runner \\
        --input s3://…/documents --warehouse s3://…/warehouse

with executors/cores set by the cluster manager; the sandbox runs the
same code on local[N].
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import cc as cc_mod
from . import checkpoint as CP
from . import extract, fixtures, link
from . import generate as gen
from .catalog import ParquetCatalog, with_bucket


def _global_fingerprint(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """(order-insensitive xor of row hashes, row count) — BOTH matched
    at resume so even-duplicate xor cancellation can't fake 'complete'."""
    row = df.select(
        F.bit_xor(F.xxhash64(*cols)).alias("fp"), F.count("*").alias("n")
    ).collect()[0]
    return int(row["fp"] or 0), int(row["n"] or 0)


_MASK64 = (1 << 64) - 1


def _mix_fps(*vals: int) -> int:
    """Fold several (fingerprint, count) ints into one signed-64 value
    (FNV-1a-style, order-sensitive) — global stages depend on SEVERAL
    inputs (mentions AND embeddings AND base triples), and each must
    invalidate the checkpoint when it changes."""
    acc = 0x9E3779B97F4A7C15
    for v in vals:
        acc = ((acc ^ (v & _MASK64)) * 0x100000001B3) & _MASK64
    return acc - (1 << 64) if acc >= (1 << 63) else acc


def _run_global_stage(
    spark: SparkSession,
    cat: ParquetCatalog,
    stage: str,
    input_fp: int,
    input_rows: int,
    compute,
    out_table: str,
) -> DataFrame:
    """Stage-granular resume for non-bucketed (graph-global) stages.
    Resume requires a complete checkpoint matching BOTH the input
    fingerprint and the input row count (same guard the bucketed path
    has)."""
    cp = CP.read_checkpoints(spark, cat)
    if cp is not None:
        done = (
            CP.latest_state(cp.filter(F.col("stage") == stage))
            .filter(
                (F.col("status") == "complete")
                & (F.col("part_id") == -1)
                & (F.col("input_fingerprint") == input_fp)
                & (F.col("row_count") == input_rows)
            )
            .count()
        )
        if done and cat.exists(out_table):
            return cat.read(spark, out_table)
    out = compute()
    cat.write(out, out_table)
    out = cat.read(spark, out_table)
    fps = spark.createDataFrame(
        [(-1, input_fp, input_rows)],
        "bucket int, input_fingerprint long, row_count long",
    )
    CP.write_checkpoint_rows(cat, stage, fps)
    return out


def run_all(
    spark: SparkSession,
    sf_dir: str,
    warehouse: str,
    n_buckets: int = 32,
    fail_buckets_in: dict[str, set[int]] | None = None,
) -> dict[str, DataFrame]:
    """Run (or resume) the full pipeline, materializing every stage
    output under ``warehouse``.  ``fail_buckets_in`` maps stage name →
    buckets to crash on (test hook)."""
    fail = fail_buckets_in or {}
    cat = ParquetCatalog(warehouse, n_buckets)

    docs = with_bucket(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), n_buckets
    ).repartition(n_buckets, "bucket")

    flat = CP.run_bucketed_stage(
        spark, cat, "spans", docs,
        lambda d: with_bucket(
            fixtures.flat_spans(fixtures.with_spans(d)), n_buckets
        ),
        "spans", fail_buckets=fail.get("spans"),
    )

    mentions = CP.run_bucketed_stage(
        spark, cat, "mentions", flat,
        lambda d: with_bucket(extract.mentions_df(d), n_buckets),
        "mentions", fail_buckets=fail.get("mentions"),
    )

    media = CP.run_bucketed_stage(
        spark, cat, "media_features", flat,
        lambda d: with_bucket(extract.media_features_df(d), n_buckets),
        "media_features", fail_buckets=fail.get("media_features"),
    )

    # per-doc keyed quads: every output row's bucket IS its originating
    # doc's bucket (base_quads keeps doc_id), so per-bucket resume
    # overwrites exactly the pending buckets' partitions — a triple's
    # graph g = doc://<id> makes this the O6 per-graph replace too
    base_triples = CP.run_bucketed_stage(
        spark, cat, "base_triples", flat,
        lambda d: with_bucket(extract.base_quads(d, extract.mentions_df(d)), n_buckets),
        "base_triples", count_as_triples=True,
        fail_buckets=fail.get("base_triples"),
    )

    # --- global (graph-wide) stages -----------------------------------------
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    m_fp, m_n = _global_fingerprint(
        mentions, ["doc_id", "span_pos", "mention_ord", "mention_iri"]
    )
    # edges/labels/entities/attrs all derive from mentions AND the
    # embedding table (via link scoring) — embedding changes must
    # invalidate them (they'd otherwise serve stale from checkpoint)
    e_fp, e_n = _global_fingerprint(emb, ["vec_id", "label", "embedding"])
    me_fp, me_n = _mix_fps(m_fp, m_n, e_fp, e_n), m_n + e_n

    edges = _run_global_stage(
        spark, cat, "edges", me_fp, me_n,
        lambda: link.scored_edges(mentions, emb), "edges",
    )

    labels = _run_global_stage(
        spark, cat, "labels", me_fp, me_n,
        lambda: cc_mod.connected_components(
            edges, mentions.select(F.col("norm_text").alias("node")).distinct()
        ),
        "labels",
    )

    # one aggregation per component feeds the entities, entity_attrs
    # and triples stages; it stays a plan, so a stage served from its
    # checkpoint never runs it
    comps = gen.entity_components(mentions, labels)
    entities = _run_global_stage(
        spark, cat, "entities", me_fp, me_n,
        lambda: gen.entities_df(mentions, labels, comps=comps), "entities",
    )
    attrs = _run_global_stage(
        spark, cat, "entity_attrs", me_fp, me_n,
        lambda: gen.entity_attrs_df(mentions, labels, comps=comps), "entity_attrs",
    )
    # D7 full-form property index (spindle writes its index tables; the
    # multi-predicate props are part of the materialized catalog)
    props = _run_global_stage(
        spark, cat, "entity_props", me_fp, me_n,
        lambda: gen.entity_props(mentions, labels), "entity_props",
    )
    # license/media selection index (spindle license.c/media.c) — also
    # depends on the span table (media spans feed the candidates)
    s_fp, s_n = _global_fingerprint(flat, ["doc_id", "span_pos", "media_ref"])
    media_idx = _run_global_stage(
        spark, cat, "entity_media", _mix_fps(me_fp, me_n, s_fp, s_n),
        me_n + s_n,
        lambda: gen.entity_media(mentions, labels, flat), "entity_media",
    )
    # final triples additionally depend on the base-quad table (media/
    # lang triples come from spans, not mentions)
    b_fp, b_n = _global_fingerprint(base_triples, ["g", "s", "p", "o"])
    triples = _run_global_stage(
        spark, cat, "triples", _mix_fps(me_fp, me_n, b_fp, b_n), me_n + b_n,
        lambda: extract_final_triples(base_triples, mentions, labels, comps=comps),
        "triples",
    )

    return {
        "spans": flat, "mentions": mentions, "media_features": media,
        "base_triples": base_triples, "edges": edges, "labels": labels,
        "entities": entities, "entity_attrs": attrs, "entity_props": props,
        "entity_media": media_idx, "triples": triples,
    }


def extract_final_triples(base_quads, mentions, labels, comps=None):
    """Distinct full-term union of per-doc extraction quads + root-graph
    proxy triples (the store's graph-agnostic view); ``comps`` shares one
    ``generate.entity_components`` frame."""
    cols = ["s", "p", "o", "o_kind", "o_lang", "o_datatype"]
    proxies = gen.proxy_triples_full(mentions, labels, comps=comps)
    return (
        base_quads.select(*cols)
        .unionByName(proxies.select(*cols))
        .dropDuplicates(cols)
    )


def main() -> None:  # pragma: no cover — cluster entry point
    import argparse

    from .session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="dir containing documents.parquet + embeddings.parquet")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument(
        "--sparql",
        help="run a SPARQL query (SELECT/CONSTRUCT/ASK/DESCRIBE) against "
        "an EXISTING warehouse's triples table and print the rows — no "
        "pipeline run (the store's consumer surface from the CLI)",
    )
    ap.add_argument(
        "--update",
        help="run a SPARQL UPDATE request (INSERT/DELETE DATA, DELETE "
        "WHERE, CLEAR/DROP; ';'-chained) against the warehouse's "
        "N-Quads store directory 'store' — the sparql-put surface "
        "from the CLI (round 6)",
    )
    args = ap.parse_args()
    spark = get_spark(app_name="kgspark-runner")
    if args.update:
        import os

        from .sparql import store_update

        print(store_update(
            spark, os.path.join(args.warehouse, "store"), args.update
        ))
        return
    if args.sparql:
        import os

        from .sparql import sparql_query

        t = spark.read.parquet(os.path.join(args.warehouse, "triples"))
        out_df = sparql_query(t.select("s", "p", "o"), args.sparql)
        out_df.show(100, truncate=False)
        return
    if not args.input:
        ap.error("--input is required unless --sparql is given")
    out = run_all(spark, args.input, args.warehouse, n_buckets=args.buckets)
    print({k: v.count() for k, v in out.items()})


if __name__ == "__main__":  # pragma: no cover
    main()
