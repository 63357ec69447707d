"""Streaming semantics (O40–O43): AvailableNow micro-batch ingest
through the SAME kernels as batch; stateful counts; idempotent sinks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgspark import extract, fixtures, streaming as S


@pytest.fixture()
def doc_stream_dir(spark, sf_dir, tmp_path):
    """Split documents into 3 parquet files → 3 micro-batches."""
    out = str(tmp_path / "docs_stream")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.withColumn("_b", F.pmod(F.col("doc_id"), F.lit(3))).repartition(
        3, "_b"
    ).drop("_b").write.mode("overwrite").parquet(out)
    return out


def test_stream_mentions_match_batch(spark, sf_dir, doc_stream_dir, tmp_path):
    stream = S.read_documents_stream(spark, doc_stream_dir)
    q = (
        S.stream_mentions(stream)
        .writeStream.format("memory")
        .queryName("m_out")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        tuple(r)
        for r in spark.sql(
            "SELECT doc_id, span_pos, mention_ord, mention_iri FROM m_out"
        ).collect()
    }
    batch = extract.mentions_df(fixtures.flat_spans(spark, sf_dir))
    want = {
        tuple(r)
        for r in batch.select(
            "doc_id", "span_pos", "mention_ord", "mention_iri"
        ).collect()
    }
    assert got == want


def test_stream_stateful_counts(spark, sf_dir, doc_stream_dir, tmp_path):
    stream = S.read_documents_stream(spark, doc_stream_dir)
    q = (
        S.stream_entity_counts(S.stream_mentions(stream))
        .writeStream.format("memory")
        .queryName("s_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "cps"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # the LAST update per norm equals the batch count
    import pandas as pd

    upd = spark.sql("SELECT norm_text, total FROM s_out").toPandas()
    final = upd.groupby("norm_text")["total"].max()
    batch = (
        extract.mentions_df(fixtures.flat_spans(spark, sf_dir))
        .groupBy("norm_text")
        .count()
        .toPandas()
        .set_index("norm_text")["count"]
    )
    assert final.sort_index().equals(batch.sort_index().astype(final.dtype))


def test_stream_to_catalog_exactly_once(spark, sf_dir, doc_stream_dir, tmp_path):
    from kgspark import checkpoint as CP
    from kgspark.catalog import ParquetCatalog

    cat = ParquetCatalog(str(tmp_path / "wh"), 8)
    cp_dir = str(tmp_path / "scp")
    S.stream_to_catalog(spark, doc_stream_dir, cat, cp_dir)
    got = {
        tuple(r)
        for r in cat.read(spark, "stream_mentions")
        .select("doc_id", "span_pos", "mention_ord", "mention_iri")
        .collect()
    }
    batch = extract.mentions_df(fixtures.flat_spans(spark, sf_dir))
    want = {
        tuple(r)
        for r in batch.select("doc_id", "span_pos", "mention_ord", "mention_iri").collect()
    }
    assert got == want
    # replay with a FRESH streaming checkpoint (simulated redelivery of
    # every batch): catalog fingerprints make it a no-op
    n_cp = cat.read(spark, CP.CHECKPOINT_TABLE).count()
    S.stream_to_catalog(spark, doc_stream_dir, cat, str(tmp_path / "scp2"))
    assert cat.read(spark, CP.CHECKPOINT_TABLE).count() == n_cp
    got2 = {
        tuple(r)
        for r in cat.read(spark, "stream_mentions")
        .select("doc_id", "span_pos", "mention_ord", "mention_iri")
        .collect()
    }
    assert got2 == want


def test_stream_triples_match_batch(spark, sf_dir, doc_stream_dir, tmp_path):
    """The streaming triple sink produces the same per-graph quad set
    as the batch base_quads stage (stream == batch through the full
    term model)."""
    from kgspark.catalog import ParquetCatalog

    cat = ParquetCatalog(str(tmp_path / "wh_t"), 8)
    S.stream_to_catalog(spark, doc_stream_dir, cat, str(tmp_path / "scp_t"))
    cols = ["g", "s", "p", "o", "o_kind", "o_lang", "o_datatype"]
    got = {
        tuple(r)
        for r in cat.read(spark, "stream_base_triples").select(*cols).collect()
    }
    flat = fixtures.flat_spans(spark, sf_dir)
    want = {
        tuple(r)
        for r in extract.base_quads(flat, extract.mentions_df(flat))
        .select(*cols)
        .collect()
    }
    assert got == want and len(want) > 0


def test_stream_quads_serialize_identically(spark, sf_dir, doc_stream_dir, tmp_path):
    """O40 × O11: exporting the STREAM-produced quad table as N-Quads
    yields byte-identical lines to exporting the batch quad table — a
    graph-scoped export is independent of the ingestion path."""
    from kgspark import rdfio
    from kgspark.catalog import ParquetCatalog

    cat = ParquetCatalog(str(tmp_path / "wh_q"), 8)
    S.stream_to_catalog(spark, doc_stream_dir, cat, str(tmp_path / "scp_q"))
    cols = ["g", "s", "p", "o", "o_kind", "o_lang", "o_datatype"]
    streamed = cat.read(spark, "stream_base_triples").select(*cols)
    flat = fixtures.flat_spans(spark, sf_dir)
    batch = extract.base_quads(flat, extract.mentions_df(flat)).select(*cols)

    got = {r["line"] for r in rdfio.to_nquads(streamed).collect()}
    want = {r["line"] for r in rdfio.to_nquads(batch).collect()}
    assert got == want and len(want) > 0
    # and the round-trip of the streamed export is lossless
    back = {
        tuple(r)
        for r in rdfio.parse_nquads(rdfio.to_nquads(streamed)).select(*cols).collect()
    }
    assert back == {tuple(r) for r in streamed.collect()}


def test_stream_entity_index_equals_batch(spark, sf_dir, doc_stream_dir, tmp_path):
    """O32 × O40: the continuously-maintained entity index (per-batch
    incremental regeneration) converges to the from-scratch batch index
    after the stream drains — attrs AND props."""
    from kgspark import cc, generate as gen, link
    from kgspark.catalog import ParquetCatalog

    cat = ParquetCatalog(str(tmp_path / "wh_idx"), 8)
    S.stream_entity_index(
        spark,
        doc_stream_dir,
        cat,
        str(tmp_path / "scp_idx"),
        embeddings_path=f"{sf_dir}/embeddings.parquet",
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    flat = fixtures.flat_spans(fixtures.with_spans(docs))
    m = extract.mentions_df(flat).localCheckpoint()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    edges = link.scored_edges(m, emb)
    labels = cc.connected_components(
        edges, m.select(F.col("norm_text").alias("node")).distinct()
    ).localCheckpoint()

    got_attrs = {tuple(r) for r in cat.read(spark, "live_attrs").collect()}
    want_attrs = {tuple(r) for r in gen.entity_attrs_df(m, labels).collect()}
    assert got_attrs == want_attrs and len(want_attrs) > 0

    got_props = {tuple(r) for r in cat.read(spark, "live_props").collect()}
    want_props = {tuple(r) for r in gen.entity_props(m, labels).collect()}
    assert got_props == want_props

    # redelivery idempotence: re-running the drained stream with the
    # SAME checkpoint is a no-op (AvailableNow + checkpoint), and the
    # live tables are unchanged
    S.stream_entity_index(
        spark, doc_stream_dir, cat, str(tmp_path / "scp_idx"),
        embeddings_path=f"{sf_dir}/embeddings.parquet",
    )
    assert {tuple(r) for r in cat.read(spark, "live_attrs").collect()} == want_attrs


def test_stream_entity_index_links_with_table_row_count(
    spark, sf_dir, doc_stream_dir, tmp_path
):
    """Streaming assigns vec ids modulo the embedding table's row count,
    as a batch build does: on a 300-row table the drained live labels
    equal the batch labels (a fixed modulus of 500 linked extra
    pairs)."""
    from kgspark import cc, link
    from kgspark.catalog import ParquetCatalog

    emb_path = str(tmp_path / "emb300")
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        "vec_id < 300"
    ).write.parquet(emb_path)
    cat = ParquetCatalog(str(tmp_path / "wh_300"), 8)
    S.stream_entity_index(
        spark, doc_stream_dir, cat, str(tmp_path / "scp_300"),
        embeddings_path=emb_path,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    m = extract.mentions_df(fixtures.flat_spans(fixtures.with_spans(docs)))
    edges = link.scored_edges(m, spark.read.parquet(emb_path))
    labels = cc.connected_components(
        edges, m.select(F.col("norm_text").alias("node")).distinct()
    )
    want = {tuple(r) for r in labels.collect()}
    live = cat.read(spark, "live_labels").select(*labels.columns)
    got = {tuple(r) for r in live.collect()}
    assert got == want and len(want) > 0
