"""Checkpoint / lineage / idempotent resume (SURVEY.md D8, O8, O23, O30,
O40–O43).

Replaces Twine's AMQP ack/reject + writerd serialization + spindle
``state``/``triggers`` tables with Structured-Streaming-style
micro-batch checkpoints: a ``_checkpoint`` parquet table of

    (stage, part_id, input_fingerprint, row_count, triple_count,
     status, ts)

one row per (stage, bucket) batch.  Semantics:

* **at-least-once in, exactly-once effect out** — a stage's bucket is
  re-processed unless a ``complete`` checkpoint row with a *matching
  input fingerprint* exists; writes are per-bucket dynamic-partition
  overwrites, so re-processing is idempotent (same input → same bytes);
* **input fingerprint** = sum over rows of xxhash64(doc_id, payload
  cols) per bucket — order-insensitive, parallelism-independent;
* **lineage metrics** (row/triple counts per bucket) land in the same
  table, satisfying the north_rule's per-partition lineage requirement.

``latest_state`` (O30) picks the newest row per (stage, part) via a
timestamp window — the only place ``current_timestamp`` is allowed
(determinism everywhere else).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import ParquetCatalog
from .session import local_frame

CHECKPOINT_TABLE = "_checkpoint"


def bucket_fingerprints(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """(bucket, input_fingerprint, row_count) — order-insensitive sum of
    row hashes, identical at any parallelism level."""
    cols = cols or [c for c in df.columns if c != "bucket"]
    # bit_xor is order-insensitive and overflow-free (ANSI-safe);
    # row_count participates in the resume match too, so even-duplicate
    # cancellation cannot produce a false "complete"
    return df.groupBy("bucket").agg(
        F.bit_xor(F.xxhash64(*cols)).alias("input_fingerprint"),
        F.count("*").alias("row_count"),
    )


def read_checkpoints(spark: SparkSession, cat: ParquetCatalog) -> DataFrame | None:
    if not cat.exists(CHECKPOINT_TABLE):
        return None
    return cat.read(spark, CHECKPOINT_TABLE)


def latest_state(cp: DataFrame) -> DataFrame:
    """O30: newest checkpoint row per (stage, part_id)."""
    w = Window.partitionBy("stage", "part_id").orderBy(F.desc("ts"))
    return cp.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def completed_buckets(
    spark: SparkSession, cat: ParquetCatalog, stage: str, fingerprints: DataFrame
) -> DataFrame:
    """Buckets whose latest complete checkpoint matches the current
    input fingerprint (the O23 anti-join resume primitive). Returns a
    1-col DataFrame (bucket)."""
    cp = read_checkpoints(spark, cat)
    if cp is None:
        return local_frame(spark, [], "bucket int")
    done = (
        latest_state(cp.filter(F.col("stage") == stage))
        .filter(F.col("status") == "complete")
        .select(F.col("part_id").alias("bucket"), "input_fingerprint", "row_count")
    )
    return fingerprints.join(
        done, ["bucket", "input_fingerprint", "row_count"], "left_semi"
    ).select("bucket")


def write_checkpoint_rows(
    cat: ParquetCatalog,
    stage: str,
    fingerprints: DataFrame,
    triple_counts: DataFrame | None = None,
    status: str = "complete",
) -> None:
    """Append one lineage row per bucket.  triple_counts: optional
    (bucket, triple_count) output metrics."""
    rows = fingerprints
    if triple_counts is not None:
        rows = rows.join(triple_counts, "bucket", "left")
        rows = rows.withColumn(
            "triple_count", F.coalesce(F.col("triple_count"), F.lit(0))
        )
    else:
        rows = rows.withColumn("triple_count", F.lit(0).cast("long"))
    out = rows.select(
        F.lit(stage).alias("stage"),
        F.col("bucket").alias("part_id"),
        "input_fingerprint",
        "row_count",
        "triple_count",
        F.lit(status).alias("status"),
        F.current_timestamp().alias("ts"),
    )
    cat.append(out, CHECKPOINT_TABLE)


def run_bucketed_stage(
    spark: SparkSession,
    cat: ParquetCatalog,
    stage: str,
    input_df: DataFrame,
    transform,
    out_table: str,
    count_as_triples: bool = False,
    fail_buckets: set[int] | None = None,
    partition_cols: list[str] | None = None,
    side_inputs: tuple[DataFrame, ...] = (),
) -> DataFrame:
    """Execute ``transform`` over only the not-yet-done buckets of
    ``input_df`` (which must carry a ``bucket`` column), write the
    output per-bucket, checkpoint, and return the full stage output.

    ``side_inputs`` (bucketed frames derived from the same documents)
    reach ``transform`` after ``input_df``, sliced to the same pending
    buckets; only ``input_df`` is fingerprinted.

    ``fail_buckets`` injects a crash after processing the other buckets
    — the kill-mid-stage test hook (tests/test_checkpoint.py).
    """
    fps = bucket_fingerprints(input_df).localCheckpoint(eager=True)
    done = completed_buckets(spark, cat, stage, fps)
    pending = fps.join(done, "bucket", "left_anti").select("bucket", "input_fingerprint", "row_count")
    pending_ids = [r["bucket"] for r in pending.select("bucket").collect()]

    if fail_buckets is not None:
        pending_ids = [b for b in pending_ids if b not in fail_buckets]

    if pending_ids:
        pending_rows = F.col("bucket").isin(pending_ids)
        out = transform(
            input_df.filter(pending_rows), *(s.filter(pending_rows) for s in side_inputs)
        )
        if "bucket" not in out.columns:
            raise ValueError(f"stage {stage}: transform must keep the bucket column")
        cat.write_bucketed(out, out_table, partition_cols=partition_cols)
        counts = (
            out.groupBy("bucket").agg(F.count("*").alias("triple_count"))
            if count_as_triples
            else None
        )
        write_checkpoint_rows(
            cat, stage, pending.filter(F.col("bucket").isin(pending_ids)), counts
        )

    if fail_buckets is not None and any(
        b in fail_buckets for b in [r["bucket"] for r in pending.select("bucket").collect()]
    ):
        raise RuntimeError(f"injected failure in stage {stage}")

    return cat.read(spark, out_table)
