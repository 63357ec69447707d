"""Incremental regeneration (O32 spindle-trigger semantics): adding a
batch of documents regenerates only the changed components, and the
merged index equals a from-scratch run over all documents."""

from __future__ import annotations

from pyspark.sql import functions as F

from kgspark import cc, extract, fixtures, generate as gen, link


def _stage(spark, docs):
    flat = fixtures.flat_spans(fixtures.with_spans(docs))
    m = extract.mentions_df(flat).localCheckpoint()
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    edges = link.scored_edges(m, emb).localCheckpoint()
    labels = cc.connected_components(
        edges, m.select(F.col("norm_text").alias("node")).distinct()
    ).localCheckpoint()
    return m, labels


def test_incremental_equals_full(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    old = docs.filter(F.col("doc_id") < 400)
    all_docs = docs

    m_old, l_old = _stage(spark, old)
    attrs_old = gen.entity_attrs_df(m_old, l_old).localCheckpoint()

    m_all, l_all = _stage(spark, all_docs)
    changed, new_attrs, final_attrs = gen.incremental_entities(
        m_old, l_old, attrs_old, m_all, l_all
    )

    want = {
        tuple(r)
        for r in gen.entity_attrs_df(m_all, l_all).collect()
    }
    got = {tuple(r) for r in final_attrs.collect()}
    assert got == want

    # and it actually was incremental: some prior components untouched
    n_changed = changed.count()
    n_total = l_all.select("label").distinct().count()
    assert 0 < n_changed < n_total, (n_changed, n_total)


def test_incremental_props_equals_full(spark, sf_dir):
    """The property index regenerates under the same trigger semantics
    as the attrs index (shared _incremental_index machinery)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    old = docs.filter(F.col("doc_id") < 400)

    m_old, l_old = _stage(spark, old)
    props_old = gen.entity_props(m_old, l_old).localCheckpoint()

    m_all, l_all = _stage(spark, docs)
    changed, new_props, final_props = gen.incremental_props(
        m_old, l_old, props_old, m_all, l_all
    )

    want = {tuple(r) for r in gen.entity_props(m_all, l_all).collect()}
    got = {tuple(r) for r in final_props.collect()}
    assert got == want
    assert 0 < changed.count() < l_all.select("label").distinct().count()


def test_noop_batch_changes_nothing(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    m, l = _stage(spark, docs)
    attrs = gen.entity_attrs_df(m, l).localCheckpoint()
    changed, new_attrs, final_attrs = gen.incremental_entities(
        m, l, attrs, m, l
    )
    assert changed.count() == 0
    assert new_attrs.count() == 0
    assert {tuple(r) for r in final_attrs.collect()} == {tuple(r) for r in attrs.collect()}


def test_graph_diff_by_g_isolates_dirty_graphs(spark, sf_dir):
    """Editing one document dirties exactly its named graph: the
    per-graph diff localizes change to doc://<id> (the incremental
    trigger set)."""
    from pyspark.sql import functions as F

    from kgspark import extract, fixtures, generate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    target = docs.select("doc_id").orderBy("doc_id").limit(1).collect()[0][0]
    edited = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == target, F.lit("customer value")).otherwise(
            F.col("text")
        ),
    )

    def quads(d):
        flat = fixtures.flat_spans(fixtures.with_spans(d))
        return extract.base_quads(flat, extract.mentions_df(flat))

    added, removed, dirty = generate.graph_diff_by_g(quads(edited), quads(docs))
    assert {r["g"] for r in dirty.collect()} == {f"doc://{target}"}
    assert added.count() > 0 and removed.count() > 0


def test_incremental_media_equals_full(spark, sf_dir):
    """The license/media index regenerates under the same trigger
    semantics as attrs/props (shared _incremental_index machinery)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    old = docs.filter(F.col("doc_id") < 400)
    flat_old = fixtures.flat_spans(fixtures.with_spans(old))
    flat_all = fixtures.flat_spans(fixtures.with_spans(docs))

    m_old, l_old = _stage(spark, old)
    media_old = gen.entity_media(m_old, l_old, flat_old).localCheckpoint()

    m_all, l_all = _stage(spark, docs)
    changed, new_media, final_media = gen.incremental_media(
        m_old, l_old, media_old, m_all, l_all, flat_all
    )

    want = {tuple(r) for r in gen.entity_media(m_all, l_all, flat_all).collect()}
    got = {tuple(r) for r in final_media.collect()}
    assert got == want
    assert 0 < changed.count() < l_all.select("label").distinct().count()
