"""Structured-Streaming ingest (SURVEY.md §2.9, O40–O43).

Twine's AMQP consumption loop (libmq + twined main loop `[U~]`) maps to
micro-batch streaming: ``readStream`` over the document table +
``Trigger.AvailableNow`` gives the same at-least-once, ack-on-success
semantics — a failed batch is retried from the streaming checkpoint,
and the parquet/foreachBatch sink keyed on deterministic content makes
re-delivery idempotent (O41/O42; Twine got this from idempotent graph
PUT).

* ``stream_mentions``       — streaming span-synthesis + the SAME
  mapInPandas mention kernel used in batch (kernels are
  engine-mode-agnostic: Iterator[pd.DataFrame] → Iterator[pd.DataFrame]).
* ``stream_entity_counts``  — custom stateful operator via
  ``applyInPandasWithState``: running mention counts per normalized
  text across micro-batches (spindle's incremental proxy state, O43).
* ``stream_to_catalog``     — foreachBatch sink into the per-bucket
  fingerprint-checkpointed catalog (mentions + base triples, O41).
* ``stream_entity_index``   — continuously-maintained entity index:
  per-batch mention replace, global re-link/re-label, incremental
  entity regeneration (O32 triggers × O40–O43).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from . import extract, fixtures

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_documents_stream(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # micro-batch = file (MQ prefetch analogue)
        .parquet(path)
    )


def stream_mentions(docs_stream: DataFrame) -> DataFrame:
    """Streaming O13+O14: span synthesis + mention kernel, unchanged
    from the batch path."""
    flat = fixtures.flat_spans(fixtures.with_spans(docs_stream))
    return extract.mentions_df(flat)


_STATE_SCHEMA = "n bigint"
_OUT_SCHEMA = "norm_text string, total bigint"


def _count_state(key, pdfs, state: GroupState):
    total = state.get[0] if state.exists else 0
    for pdf in pdfs:
        total += len(pdf)
    state.update((total,))
    yield pd.DataFrame({"norm_text": [key[0]], "total": [total]})


def stream_entity_counts(mentions_stream: DataFrame) -> DataFrame:
    """O43: per-norm running mention counts carried across micro-batches
    (applyInPandasWithState) — the spindle incremental-state analogue."""
    return (
        mentions_stream.groupBy("norm_text")
        .applyInPandasWithState(
            _count_state,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_to_catalog(
    spark: SparkSession,
    input_dir: str,
    cat,
    checkpoint_dir: str,
    n_buckets: int = 8,
) -> None:
    """O41 exactly-once-effect sink: foreachBatch → the per-bucket
    fingerprint-checkpointed catalog write (checkpoint.run_bucketed_stage).

    Two idempotence layers compose, mirroring Twine's MQ-ack +
    idempotent-graph-PUT pair:
    * the streaming checkpoint (``checkpoint_dir``) guarantees each
      micro-batch is delivered at least once;
    * the catalog layer's fingerprint match skips buckets already
      written with identical input, and re-writes are per-bucket
      dynamic-partition overwrites — so replays converge to the same
      bytes.
    """
    from . import checkpoint as CP
    from . import extract as EX
    from .catalog import with_bucket

    def process_batch(df, epoch_id: int) -> None:
        if df.isEmpty():
            return
        # deterministic content-derived batch key: the idempotence unit
        # for streaming appends is (batch, bucket) — without it, a later
        # batch's dynamic overwrite would clobber earlier batches that
        # share a bucket
        bkey = format(
            (df.agg(F.bit_xor(F.xxhash64("doc_id"))).collect()[0][0] or 0)
            & 0xFFFFFFFFFFFFFFFF,
            "016x",
        )
        docs = with_bucket(df, n_buckets)
        flat = with_bucket(
            fixtures.flat_spans(fixtures.with_spans(docs)), n_buckets
        ).withColumn("batch_key", F.lit(bkey))
        CP.run_bucketed_stage(
            spark, cat, f"stream_mentions#{bkey}", flat,
            lambda d: with_bucket(EX.mentions_df(d), n_buckets).withColumn(
                "batch_key", F.lit(bkey)
            ),
            "stream_mentions",
            partition_cols=["batch_key", "bucket"],
        )
        # the streaming TRIPLE sink: per-doc named-graph quads through
        # the same kernels + idempotence machinery as batch (O6/O41 —
        # the micro-batch is a set of graph PUTs)
        CP.run_bucketed_stage(
            spark, cat, f"stream_base_triples#{bkey}", flat,
            lambda d: with_bucket(
                EX.base_quads(d, EX.mentions_df(d)), n_buckets
            ).withColumn("batch_key", F.lit(bkey)),
            "stream_base_triples",
            partition_cols=["batch_key", "bucket"],
            count_as_triples=True,
        )

    q = (
        read_documents_stream(spark, input_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_entity_index(
    spark: SparkSession,
    input_dir: str,
    cat,
    checkpoint_dir: str,
    embeddings_path: str,
) -> None:
    """Continuously-maintained entity index — the twined-daemon
    semantic (O32 triggers × O40–O43): each micro-batch of documents

    1. replaces the batch docs' mentions in the live mention store —
       per-doc replace (the graph-PUT semantic, redelivery-idempotent)
       executed as a dynamic partition overwrite of ONLY the doc
       buckets the batch touches, so the store write is O(batch), not
       O(corpus),
    2. re-links and re-labels the coref graph over ALL mentions (the
       distinct-norm graph saturates, so this global step stays small
       regardless of corpus size),
    3. regenerates ONLY the entities whose component changed via the
       spindle-trigger machinery (generate.incremental_entities /
       incremental_props) — untouched index rows are carried over,
       never recomputed,
    4. writes the touched mention buckets + the (entity-granular, and
       therefore orders-of-magnitude smaller) labels/attrs/props tables
       back to the catalog.

    After the stream drains, ``live_attrs``/``live_props`` equal a
    from-scratch batch run over all documents (tested)."""
    from . import cc as cc_mod
    from . import generate as gen
    from . import link
    from .catalog import with_bucket

    n_buckets = cat.n_buckets
    emb = spark.read.parquet(embeddings_path)

    def process_batch(df, epoch_id: int) -> None:
        if df.isEmpty():
            return
        flat = fixtures.flat_spans(fixtures.with_spans(df))
        m_batch = with_bucket(extract.mentions_df(flat), n_buckets).localCheckpoint(
            eager=True
        )

        have_prior = cat.exists("live_mentions")
        if have_prior:
            prior_m = cat.read(spark, "live_mentions").localCheckpoint(eager=True)
            prior_l = cat.read(spark, "live_labels").localCheckpoint(eager=True)
            prior_attrs = cat.read(spark, "live_attrs").localCheckpoint(eager=True)
            prior_props = cat.read(spark, "live_props").localCheckpoint(eager=True)
            batch_docs = m_batch.select("doc_id").distinct()
            m_all = (
                prior_m.join(batch_docs, "doc_id", "left_anti")
                .unionByName(m_batch)
                .localCheckpoint(eager=True)
            )
        else:
            m_all = m_batch

        edges = link.scored_edges(m_all, emb)
        norms = m_all.select(F.col("norm_text").alias("node")).distinct()
        labels_all = cc_mod.connected_components(edges, norms).localCheckpoint(
            eager=True
        )

        if have_prior:
            _, _, attrs = gen.incremental_entities(
                prior_m, prior_l, prior_attrs, m_all, labels_all
            )
            _, _, props = gen.incremental_props(
                prior_m, prior_l, prior_props, m_all, labels_all
            )
        else:
            attrs = gen.entity_attrs_df(m_all, labels_all)
            props = gen.entity_props(m_all, labels_all)
        attrs = attrs.localCheckpoint(eager=True)
        props = props.localCheckpoint(eager=True)

        # mention store: overwrite ONLY the buckets the batch touches
        # (per-doc replace rides on bucket(doc_id) partitioning — the
        # write cost is O(batch), independent of corpus size)
        touched = m_all.join(
            m_batch.select("bucket").distinct(), "bucket", "left_semi"
        )
        cat.write_bucketed(touched, "live_mentions")
        # entity-granular tables are small (saturating norm graph):
        # full overwrite is the simple correct choice there
        cat.write(labels_all, "live_labels")
        cat.write(attrs, "live_attrs")
        cat.write(props, "live_props")

    q = (
        read_documents_stream(spark, input_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


