"""Checkpoint / idempotent-resume gates (north_rule: any stage resumes
idempotently; kill-mid-stage → identical final output)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from kgspark import checkpoint as CP
from kgspark import runner
from kgspark.catalog import ParquetCatalog


def _triples(out):
    return set(map(tuple, out["triples"].select("s", "p", "o").collect()))


@pytest.fixture(scope="module")
def clean_run(spark, sf_dir, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh_clean"))
    out = runner.run_all(spark, sf_dir, wh, n_buckets=8)
    return wh, _triples(out), out


@pytest.mark.parametrize("stage", ["spans", "mentions", "base_triples"])
def test_kill_mid_stage_then_resume(spark, sf_dir, tmp_path_factory, clean_run, stage):
    """Crash mid-stage, then resume → byte-identical final output.

    Covers the three distinct bucket-keying shapes: spans (int64 doc_id
    input → string doc_id output), mentions (string → string), and
    base_triples (per-doc quads) — a resume must never clobber
    completed buckets' rows via dynamic partition overwrite."""
    _, want, clean_out = clean_run
    wh = str(tmp_path_factory.mktemp(f"wh_kill_{stage}"))
    # first attempt dies after processing all but 3 buckets of `stage`
    with pytest.raises(RuntimeError, match="injected failure"):
        runner.run_all(
            spark, sf_dir, wh, n_buckets=8,
            fail_buckets_in={stage: {0, 3, 5}},
        )
    # resume: only the missing buckets re-run; output identical to clean
    out = runner.run_all(spark, sf_dir, wh, n_buckets=8)
    assert _triples(out) == want
    # intermediate stage tables are also complete (not just final triples)
    assert out["spans"].count() == clean_out["spans"].count()
    assert out["base_triples"].count() == clean_out["base_triples"].count()


def test_bucket_consistency_invariant(spark, clean_run):
    """Every bucketed stage table satisfies
    bucket == pmod(xxhash64(CAST(doc_id AS STRING)), P) — the structural
    guarantee that per-bucket resume overwrites exactly its own rows."""
    wh, _, out = clean_run
    for stage in ["spans", "mentions", "media_features", "base_triples"]:
        df = out[stage]
        bad = df.filter(
            F.col("bucket")
            != F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(8)).cast("int")
        ).count()
        assert bad == 0, f"{stage}: {bad} rows in a foreign bucket"


def test_rerun_is_noop_and_stable(spark, sf_dir, clean_run):
    wh, want, _ = clean_run
    cat = ParquetCatalog(wh, 8)
    cp1 = cat.read(spark, CP.CHECKPOINT_TABLE).count()
    out = runner.run_all(spark, sf_dir, wh, n_buckets=8)
    cp2 = cat.read(spark, CP.CHECKPOINT_TABLE).count()
    assert _triples(out) == want
    assert cp1 == cp2, "re-run of a completed pipeline must not reprocess"


def test_changed_input_invalidates_fingerprint(spark, clean_run, tmp_path_factory):
    """Fingerprint mismatch → bucket re-processed (at-least-once with
    idempotent effect)."""
    wh = str(tmp_path_factory.mktemp("wh_fp"))
    cat = ParquetCatalog(wh, 4)
    df1 = spark.createDataFrame(
        [(i, f"p{i}") for i in range(20)], "doc_id long, payload string"
    )
    from kgspark.catalog import with_bucket

    b1 = with_bucket(df1, 4)
    CP.run_bucketed_stage(
        spark, cat, "s", b1, lambda d: d.withColumn("out", F.upper("payload")), "s_out"
    )
    n1 = cat.read(spark, "s_out").count()
    # same table, one bucket's payload changes → only that bucket redone
    df2 = spark.createDataFrame(
        [(i, f"p{i}" if i != 7 else "CHANGED") for i in range(20)],
        "doc_id long, payload string",
    )
    b2 = with_bucket(df2, 4)
    out2 = CP.run_bucketed_stage(
        spark, cat, "s", b2, lambda d: d.withColumn("out", F.upper("payload")), "s_out"
    )
    assert out2.filter(F.col("out") == "CHANGED").count() == 1
    assert out2.count() == n1
    cp = CP.latest_state(cat.read(spark, CP.CHECKPOINT_TABLE))
    assert cp.filter(F.col("stage") == "s").count() == 4


def test_checkpoint_metrics_lineage(spark, sf_dir, clean_run):
    wh, _, out = clean_run
    cat = ParquetCatalog(wh, 8)
    cp = CP.latest_state(cat.read(spark, CP.CHECKPOINT_TABLE))
    base = cp.filter(F.col("stage") == "base_triples")
    # per-bucket triple counts sum to the stage output size
    total = base.agg(F.sum("triple_count")).collect()[0][0]
    assert total == out["base_triples"].count()
    # every bucketed stage has one complete row per non-empty bucket
    stages = {r["stage"] for r in cp.collect()}
    assert {"spans", "mentions", "media_features", "base_triples",
            "edges", "labels", "entities", "entity_attrs", "triples"} <= stages


def test_graph_replace_keyed_on_doc_graph(spark, sf_dir, clean_run, tmp_path_factory):
    """O6 (sparql-put analogue): editing ONE document and re-running
    replaces exactly that document's named graph in the base-triples
    store — every other graph's rows are byte-identical."""
    import shutil

    wh_src, _, _ = clean_run
    wh = str(tmp_path_factory.mktemp("wh_graph_put"))
    shutil.copytree(wh_src, wh, dirs_exist_ok=True)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    trow = docs.select("doc_id", "source").orderBy("doc_id").limit(1).collect()[0]
    target, source = trow["doc_id"], trow["source"]

    before = {
        tuple(r)
        for r in ParquetCatalog(wh, 8).read(spark, "base_triples")
        .select("g", "s", "p", "o").collect()
    }

    # edit one doc: its text becomes a single entity token
    edited_dir = str(tmp_path_factory.mktemp("sf_edited"))
    edited = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == target, F.lit("customer")).otherwise(
            F.col("text")
        ),
    )
    edited.write.mode("overwrite").parquet(f"{edited_dir}/documents.parquet")
    shutil.copy(f"{sf_dir}/embeddings.parquet", f"{edited_dir}/embeddings.parquet")

    runner.run_all(spark, edited_dir, wh, n_buckets=8)
    after = {
        tuple(r)
        for r in ParquetCatalog(wh, 8).read(spark, "base_triples")
        .select("g", "s", "p", "o").collect()
    }
    g = f"doc://{target}"
    assert {t for t in before if t[0] != g} == {t for t in after if t[0] != g}, (
        "rows of untouched graphs must be identical"
    )
    assert {t for t in after if t[0] == g} != {t for t in before if t[0] == g}, (
        "the edited doc's graph must have been replaced"
    )
    assert any(t[0] == g and t[3] == f"ex://{source}/customer" for t in after)


def test_entity_media_stage_materialized_and_correct(spark, sf_dir, clean_run):
    """run_all materializes the license/media index stage; content
    equals a direct entity_media computation (O7 index parity)."""
    from pyspark.sql import functions as F

    from kgspark import cc, extract, fixtures, link
    from kgspark import generate as gen

    _, _, out = clean_run
    assert "entity_media" in out
    got = {tuple(r) for r in out["entity_media"]
           .select("entity_id", "license", "best_media", "media_class").collect()}

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    flat = fixtures.flat_spans(fixtures.with_spans(docs))
    m = extract.mentions_df(flat).localCheckpoint()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    edges = link.scored_edges(m, emb)
    labels = cc.connected_components(
        edges, m.select(F.col("norm_text").alias("node")).distinct()
    )
    want = {tuple(r) for r in gen.entity_media(m, labels, flat).collect()}
    assert got == want and got


def test_catalog_executor_matches_in_memory(spark, sf_dir, clean_run):
    """The two executors of the one stage table agree: every global
    stage ``run_all`` stores equals, as a row set, the in-memory stage
    of the same name (the catalog's ``triples`` table is the full-term
    view, the in-memory ``triples_full``)."""
    from kgspark.pipeline import run_pipeline

    _, _, out = clean_run
    mem = run_pipeline(spark, sf_dir)

    def rows(df):
        cols = sorted(c for c in df.columns if c != "bucket")
        return set(map(tuple, df.select(*cols).collect()))

    for name in ["edges", "labels", "entities", "entity_attrs", "entity_props",
                 "entity_media"]:
        got = rows(out[name])
        assert got and got == rows(getattr(mem, name)), name
    assert rows(out["triples"]) == rows(mem.triples_full)
