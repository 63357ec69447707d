"""Large-star/small-star contraction CC: label-identical to the
driver union-find, and convergent on high-diameter graphs where
min-label propagation's round count explodes."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from kgspark import cc


def _labels(df):
    return {(r["node"], r["label"]) for r in df.collect()}


def _mk(spark, pairs, extra_nodes=()):
    edges = spark.createDataFrame(pairs, "norm_a string, norm_b string")
    nodes = (
        edges.select(F.col("norm_a").alias("node"))
        .unionByName(edges.select(F.col("norm_b").alias("node")))
        .distinct()
    )
    if extra_nodes:
        nodes = nodes.unionByName(
            spark.createDataFrame([(n,) for n in extra_nodes], "node string")
        ).distinct()
    return edges, nodes


def _both_paths(monkeypatch, edges, nodes):
    """(union-find labels, contraction labels) through the entry point."""
    uf = _labels(cc.connected_components(edges, nodes))
    with monkeypatch.context() as m:
        m.setattr(cc, "DRIVER_THRESHOLD", 0)
        ct = _labels(cc.connected_components(edges, nodes))
    return uf, ct


def _chain(spark, n):
    # shuffled ids so the chain's min is NOT an endpoint
    rng = random.Random(3)
    ids = [f"c{i:05d}" for i in range(n)]
    rng.shuffle(ids)
    return ids, _mk(spark, list(zip(ids, ids[1:])))


def test_contraction_matches_union_find_random(monkeypatch, spark):
    rng = random.Random(7)
    ids = [f"n{i:04d}" for i in range(120)]
    pairs = [
        (rng.choice(ids), rng.choice(ids)) for _ in range(150)
    ]
    pairs = [(a, b) for a, b in pairs if a != b]
    edges, nodes = _mk(spark, pairs, extra_nodes=["iso1", "iso2"])
    uf, ct = _both_paths(monkeypatch, edges, nodes)
    assert ct == uf


def test_contraction_converges_on_long_chain(monkeypatch, spark):
    """A 400-node path graph: min-label propagation would need ~400
    rounds; contraction converges in O(log n) rounds (within 25 here)
    and matches the exact union-find labels."""
    ids, (edges, nodes) = _chain(spark, 400)
    monkeypatch.setattr(cc, "DRIVER_THRESHOLD", 0)
    monkeypatch.setattr(cc, "MAX_ROUNDS", 25)
    got = _labels(cc.connected_components(edges, nodes))
    want_label = min(ids)
    assert got == {(i, want_label) for i in ids}


def test_contraction_round_cap_raises(monkeypatch, spark):
    """Hitting the round cap fails loudly instead of returning split
    components."""
    _, (edges, nodes) = _chain(spark, 400)
    monkeypatch.setattr(cc, "DRIVER_THRESHOLD", 0)
    monkeypatch.setattr(cc, "MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="no fixpoint"):
        cc.connected_components(edges, nodes)


def test_contraction_singletons_and_self_edges(monkeypatch, spark):
    edges, nodes = _mk(
        spark, [("a", "b"), ("b", "a"), ("x", "x")], extra_nodes=["solo"]
    )
    uf, ct = _both_paths(monkeypatch, edges, nodes)
    assert ct == uf == {("a", "a"), ("b", "a"), ("x", "x"), ("solo", "solo")}
