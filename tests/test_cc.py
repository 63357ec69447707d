"""Connected components: partition validity, the hub-skew synthetic
case on both paths, long-chain convergence."""

from __future__ import annotations

from pyspark.sql import functions as F

from kgspark import cc


def _labels(spark, edges_rows, nodes_rows):
    edges = spark.createDataFrame(edges_rows, "norm_a string, norm_b string")
    nodes = spark.createDataFrame([(n,) for n in nodes_rows], "node string")
    return {
        r["node"]: r["label"]
        for r in cc.connected_components(edges, nodes).collect()
    }


def test_basic_components(spark):
    got = _labels(
        spark,
        [("a", "b"), ("b", "c"), ("x", "y")],
        ["a", "b", "c", "x", "y", "solo"],
    )
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "solo": "solo"}


def test_chain_converges(spark):
    """A path graph is one component labelled by its min node."""
    n = 24
    edges = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(n - 1)]
    got = _labels(spark, edges, [f"n{i:02d}" for i in range(n)])
    assert set(got.values()) == {"n00"}


def test_hub_skew_salted_equals_unsalted(monkeypatch, spark):
    """One hub entity connected to 30% of nodes (north_rule skew case):
    the driver union-find and contraction give the same labels."""
    spokes = [("hub", f"s{i:03d}") for i in range(300)]
    others = [(f"p{i:03d}", f"q{i:03d}") for i in range(100)]
    nodes = (
        ["hub"]
        + [f"s{i:03d}" for i in range(300)]
        + [f"p{i:03d}" for i in range(100)]
        + [f"q{i:03d}" for i in range(100)]
    )
    driver = _labels(spark, spokes + others, nodes)
    monkeypatch.setattr(cc, "DRIVER_THRESHOLD", 0)
    contracted = _labels(spark, spokes + others, nodes)
    assert driver == contracted
    assert sum(1 for v in driver.values() if v == "hub") == 301


def test_partition_validity(spark, sf_dir, oracle):
    """CC output is a valid partition: every norm labeled exactly once,
    labels are members of their own component."""
    from kgspark import extract, fixtures, link

    m = extract.mentions_df(fixtures.flat_spans(spark, sf_dir))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    edges = link.scored_edges(m, emb)
    nodes = m.select(F.col("norm_text").alias("node")).distinct()
    labels = cc.connected_components(edges, nodes)
    n_nodes = nodes.count()
    assert labels.count() == n_nodes
    assert labels.select("node").distinct().count() == n_nodes
    # matches the union-find oracle exactly
    want = oracle_components_dict(oracle)
    got = {r["node"]: r["label"] for r in labels.collect()}
    assert got == want


def oracle_components_dict(oracle):
    from tests.oracle_kg import oracle_components

    norms = sorted(oracle["mentions"]["norm_text"].unique())
    return oracle_components(norms, oracle["edges"])
