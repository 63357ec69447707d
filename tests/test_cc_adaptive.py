"""Adaptive CC: the driver-local union-find and distributed contraction
must produce identical labels, and the edge count picks the path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgspark import cc, extract, fixtures, link


def _labels(df):
    return {(r["node"], r["label"]) for r in df.collect()}


def test_paths_agree_on_fixture(monkeypatch, spark, sf_dir):
    m = extract.mentions_df(fixtures.flat_spans(spark, sf_dir))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    edges = link.scored_edges(m, emb).localCheckpoint()
    nodes = m.select(F.col("norm_text").alias("node")).distinct().localCheckpoint()
    local = _labels(cc.connected_components(edges, nodes))
    monkeypatch.setattr(cc, "DRIVER_THRESHOLD", 0)
    dist = _labels(cc.connected_components(edges, nodes))
    assert local == dist


def test_driver_path_never_collects_singletons(monkeypatch, spark):
    """Round-2 verdict #3: the driver union-find must only ever fetch
    edge endpoints — a corpus with few edges but a huge singleton node
    set stays distributed-side.  Guarded by recording every frame
    fetched to the driver while the labels are planned."""
    edges = spark.createDataFrame([("a", "b"), ("b", "c")], "norm_a string, norm_b string")
    DataFrame = type(edges)  # the concrete (classic) class
    singles = spark.range(2000).select(
        F.concat(F.lit("s"), F.lpad(F.col("id").cast("string"), 6, "0")).alias("node")
    )
    nodes = singles.unionByName(
        spark.createDataFrame([("a",), ("b",), ("c",)], "node string")
    )

    fetched = []

    def spy(name):
        real = getattr(DataFrame, name)

        def spying(self, *a, **k):
            fetched.append(set(self.columns))
            return real(self, *a, **k)

        monkeypatch.setattr(DataFrame, name, spying)

    for name in ("collect", "toArrow", "toPandas", "toLocalIterator"):
        spy(name)
    out = cc.connected_components(edges, nodes)
    monkeypatch.undo()
    # the only driver fetch while building the labels is the edge frame
    assert fetched == [{"norm_a", "norm_b"}]

    rows = _labels(out)
    assert ("a", "a") in rows and ("b", "a") in rows and ("c", "a") in rows
    assert ("s000000", "s000000") in rows and ("s001999", "s001999") in rows
    assert len(rows) == 2003


def test_threshold_routing(monkeypatch, spark):
    edges = spark.createDataFrame([("a", "b")], "norm_a string, norm_b string")
    nodes = spark.createDataFrame([("a",), ("b",), ("c",)], "node string")
    # tiny graph → driver path; force contraction with threshold 0
    small = _labels(cc.connected_components(edges, nodes))
    monkeypatch.setattr(cc, "DRIVER_THRESHOLD", 0)
    forced = _labels(cc.connected_components(edges, nodes))
    assert small == forced == {("a", "a"), ("b", "a"), ("c", "c")}


def test_driver_threshold_default_and_env(monkeypatch, spark):
    """Round-5 (verdict #7): the adaptive switchover defaults to 500k
    edges (50 MB fetched, safe on a shared driver) and the distributed
    path engages past it — proven by making the driver path explode."""
    assert cc.DRIVER_THRESHOLD == 500_000
    monkeypatch.setattr(cc, "DRIVER_THRESHOLD", 10)

    edges = spark.createDataFrame(
        [(f"v{i}", f"v{i+1}") for i in range(20)],
        "norm_a string, norm_b string",
    )
    nodes = (
        edges.selectExpr("norm_a as node")
        .union(edges.selectExpr("norm_b as node"))
        .distinct()
    )

    def boom(*a, **k):
        raise AssertionError("driver path used above threshold")

    monkeypatch.setattr(cc, "_driver_union_find", boom)
    # 20 edges > threshold 10 → contraction, identical labels
    labels = _labels(cc.connected_components(edges, nodes))
    assert all(lab == "v0" for _, lab in labels) and len(labels) == 21

    # ≤ threshold → the driver path IS used
    small = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "norm_a string, norm_b string"
    )
    small_nodes = spark.createDataFrame(
        [("a",), ("b",), ("c",)], "node string"
    )
    with pytest.raises(AssertionError, match="driver path"):
        cc.connected_components(small, small_nodes)
