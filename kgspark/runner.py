"""Catalog executor of the stage table: the twined main loop + workflow
chain analogue (SURVEY.md §3.1; ``libtwine/workflow.c``, ``twined``
daemon `[U~]`).  ``run_all`` runs ``pipeline.STAGES`` — the same table
``pipeline.run_pipeline`` runs in memory — storing each stage as a
catalog table:

* per-document stages (spans, mentions, media_features, base_triples)
  run over the documents bucketed by pmod(xxhash64(doc_id), P) and
  resume idempotently per bucket (``checkpoint.run_bucketed_stage``);
  base_triples reads the pending buckets' slice of the mentions table;
* global stages (edges … triples) resume per stage when the mixed
  fingerprint of the per-document stages and sources they read is
  unchanged;
* plan stages (comps, quads) are never stored: a global stage served
  from its checkpoint never runs them.

Lineage + counts go to the ``_checkpoint`` table (checkpoint.py).

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

from . import checkpoint as CP
from . import pipeline as P
from .catalog import ParquetCatalog, with_bucket
from .session import local_frame


def _global_fingerprint(df: DataFrame) -> tuple[int, int]:
    """(order-insensitive xor of row hashes over every column but the
    bucket, row count) — BOTH matched at resume so even-duplicate xor
    cancellation can't fake 'complete'."""
    cols = [c for c in df.columns if c != "bucket"]
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
) -> DataFrame:
    """Stage-granular resume for a graph-global stage, stored in the
    table named after it.  Resume requires a complete checkpoint
    matching BOTH the input fingerprint and the input row count (same
    guard the bucketed path has)."""
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
        if done and cat.exists(stage):
            return cat.read(spark, stage)
    cat.write(compute(), stage)
    out = cat.read(spark, stage)
    fps = local_frame(
        spark,
        [(-1, input_fp, input_rows)],
        "bucket int, input_fingerprint long, row_count long",
    )
    CP.write_checkpoint_rows(cat, stage, fps)
    return out


def _fingerprint_inputs(name: str) -> list[str]:
    """The per-document stages and sources a global stage reads,
    directly or through other global stages — the inputs whose changes
    must invalidate its checkpoint (embeddings reach every stage from
    edges on; spans reach entity_media; base_triples reach triples)."""
    out: list[str] = []
    for i in P.STAGES[name].inputs:
        deep = i in P.STAGES and P.STAGES[i].scope != "doc"
        out += [x for x in (_fingerprint_inputs(i) if deep else [i]) if x not in out]
    return out


def run_all(
    spark: SparkSession,
    sf_dir: str,
    warehouse: str,
    n_buckets: int = 32,
    fail_buckets_in: dict[str, set[int]] | None = None,
) -> dict[str, DataFrame]:
    """Run (or resume) the stage table (``pipeline.STAGES``), storing
    every per-document and global stage under ``warehouse``.
    ``fail_buckets_in`` maps stage name → buckets to crash on (test
    hook)."""
    fail = fail_buckets_in or {}
    cat = ParquetCatalog(warehouse, n_buckets)
    fps: dict[str, tuple[int, int]] = {}

    def fingerprint(name: str) -> tuple[int, int]:
        if name not in fps:
            fps[name] = _global_fingerprint(get(name))
        return fps[name]

    def build(name, stage, inputs):
        if stage.scope == "plan":
            return stage.fn(*inputs())
        if stage.scope == "doc":
            # the first input is the fingerprinted one; later inputs are
            # per-document stages sliced to the same pending buckets
            first, *rest = stage.inputs
            return CP.run_bucketed_stage(
                spark, cat, name, get(first),
                lambda d, *side: with_bucket(stage.fn(d, *side), n_buckets),
                name, count_as_triples=name == "base_triples",
                fail_buckets=fail.get(name), side_inputs=tuple(map(get, rest)),
            )
        ins = [fingerprint(i) for i in _fingerprint_inputs(name) if get(i) is not None]
        return _run_global_stage(
            spark, cat, name, _mix_fps(*(v for fp in ins for v in fp)),
            sum(n for _, n in ins), lambda: stage.fn(*inputs()),
        )

    docs = with_bucket(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), n_buckets
    ).repartition(n_buckets, "bucket")
    get = P.resolver(
        {"documents": docs,
         "embeddings": spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
         "extra_triples": None},
        build,
    )
    return {name: get(name) for name, st in P.STAGES.items() if st.scope != "plan"}


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
