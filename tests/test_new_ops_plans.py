"""Plan + determinism gates for the round-3+ operators: no accidental
cartesian products, scale-shaped plans, and results invariant to input
partitioning."""

from __future__ import annotations

import kgspark.queries as Q


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bgp_match_no_cartesian(spark, sf_dir):
    p = _plan(Q.kg_bgp_match(spark, sf_dir))
    assert "CartesianProduct" not in p


def test_new_ops_partitioning_invariant(spark, sf_dir):
    """split / pack results are identical at 2 vs 32 shuffle
    partitions (no partition-order dependence)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")

    def run_all():
        return [
            {tuple(r) for r in Q.doc_split_assign(spark, sf_dir).collect()},
            {tuple(r) for r in Q.doc_pack_assign(spark, sf_dir).collect()},
        ]

    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        lo = run_all()
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        hi = run_all()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert lo == hi


def test_bgp_filter_pushed_into_pattern_scans(spark, sf_dir):
    """kg_bgp_filter's FILTER expressions are single-variable column
    predicates — Catalyst must push each below the joins into the one
    pattern scan binding its variable.  Gate: in the optimized plan no
    Filter ABOVE a Join still mentions the rlike/cast predicates."""
    df = Q.kg_bgp_filter(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    lines = opt.splitlines()
    join_depths = [len(l) - len(l.lstrip(" +-:")) for l in lines if "Join" in l]
    assert join_depths, "expected a join chain"
    top_join = min(join_depths)
    for l in lines:
        depth = len(l) - len(l.lstrip(" +-:"))
        if "Filter" in l and depth < top_join:
            assert "rlike" not in l.lower() and "cast" not in l.lower(), (
                f"filter not pushed below the joins: {l.strip()}"
            )


def test_bgp_filter_no_cartesian(spark, sf_dir):
    p = _plan(Q.kg_bgp_filter(spark, sf_dir))
    assert "CartesianProduct" not in p


def test_sameas_closure_rides_cc_not_doubling(spark, sf_dir):
    """The symmetric path compiles to the CC machinery: output is the
    same-label self-join (one equi-join on label), not an iterated
    pair-doubling chain."""
    p = _plan(Q.kg_sameas_closure(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_entity_media_rule_joins_broadcast(spark, sf_dir):
    """Both rule-table joins in kg_entity_media must be broadcast hash
    joins (≤4-row dims); no cartesian anywhere."""
    p = _plan(Q.kg_entity_media(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("BroadcastHashJoin") >= 2, p[:2000]


def test_path_seq_no_cartesian(spark, sf_dir):
    p = _plan(Q.kg_sparql_path_seq(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_subquery_aggregate_partial_final(spark, sf_dir):
    p = _plan(Q.kg_sparql_subquery(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert p.count("HashAggregate") >= 2  # partial + final around one shuffle


def test_quota_sample_plans_window_group_limit(spark, sf_dir):
    """rn <= k must keep Spark's WindowGroupLimit (per-partition top-k
    before the full window sort) — the plan property that makes the
    quota sample scale."""
    p = _plan(Q.doc_quota_sample(spark, sf_dir))
    assert "WindowGroupLimit" in p, p[:1500]


def test_doc_resample_is_map_only(spark, sf_dir):
    """Resampling must be a pure map stage: no Exchange, no Python —
    the copy expansion is explode(sequence) over native columns."""
    p = _plan(Q.doc_resample(spark, sf_dir))
    assert "Exchange" not in p, "doc_resample must not shuffle"
    for bad in ["BatchEvalPython", "ArrowEvalPython", "MapInPandas"]:
        assert bad not in p, f"doc_resample fell off the JVM: {bad}"


def test_doc_resample_weights(spark, sf_dir):
    """Every source's emitted copy count stays within the fractional
    envelope of its weight: floor(w) ≤ copies/doc ≤ ceil(w), and a
    weight-2.0 source emits exactly 2 copies of every doc."""
    import pyspark.sql.functions as F

    rows = (
        Q.doc_resample(spark, sf_dir)
        .groupBy("doc_id", "source", "weight_e6")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert rows
    for r in rows:
        lo, hi = r["weight_e6"] // 1_000_000, -(-r["weight_e6"] // 1_000_000)
        assert max(lo, 1) <= r["n"] <= max(hi, 1), r
        if r["weight_e6"] == 2_000_000:
            assert r["n"] == 2, r


def test_bigram_surprisal_values(spark):
    """Hand-checked corpus: bigram 'a b' occurs 3× of 4 prefix-'a'
    bigrams → bitlen(4 div 3) = 1; 'a c' once → bitlen(4) = 3."""
    import pyspark.sql.functions as F
    from unittest import mock

    docs = spark.createDataFrame(
        [(1, "a b a b x"), (2, "a b a c")],
        "doc_id long, text string",
    )
    with mock.patch.object(Q, "_t", lambda s, d, n: docs):
        out = {r["doc_id"]: r for r in Q.doc_bigram_surprisal(spark, "x").collect()}
    # doc 1 bigrams: (a,b),(b,a),(a,b),(b,x) ; doc 2: (a,b),(b,a),(a,c)
    # prefix a: 4 total → 'a b' bt=3 s=bitlen(4//3)=1 ; 'a c' bt=1 s=bitlen(4)=3
    # prefix b: 3 total → 'b a' bt=2 s=bitlen(3//2)=1 ; 'b x' bt=1 s=bitlen(3)=2
    d1 = out[1]
    assert d1["n_bigrams"] == 4
    assert d1["surprisal"] == 2 * 1 + 1 + 2  # 2×(a,b) + (b,a) + (b,x)
    assert d1["avg_surprisal_e6"] == (1_000_000 * 5) // 4
    d2 = out[2]
    assert d2["n_bigrams"] == 3
    assert d2["surprisal"] == 1 + 1 + 3  # (a,b) + (b,a) + (a,c)
    assert d2["avg_surprisal_e6"] == (1_000_000 * 5) // 3


def test_doc_chunk_is_map_only(spark, sf_dir):
    p = _plan(Q.doc_chunk(spark, sf_dir))
    assert "Exchange" not in p, "doc_chunk must not shuffle"
    for bad in ["BatchEvalPython", "ArrowEvalPython", "MapInPandas"]:
        assert bad not in p, f"doc_chunk fell off the JVM: {bad}"


def test_doc_chunk_boundaries(spark):
    """20 tokens at (C=16, S=12): two chunks — [1..16] and the kept
    partial [13..20]; 16 tokens: exactly one chunk; 1 token: one
    1-token chunk."""
    from unittest import mock

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(1, 21))),
            (2, " ".join(f"u{i}" for i in range(1, 17))),
            (3, "solo"),
        ],
        "doc_id long, text string",
    )
    with mock.patch.object(Q, "_t", lambda s, d, n: docs):
        rows = Q.doc_chunk(spark, "x").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    d1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert [(r["start_tok"], r["n_tok"]) for r in d1] == [(1, 16), (13, 8)]
    assert d1[1]["chunk_text"].split(" ") == [f"t{i}" for i in range(13, 21)]
    assert [(r["start_tok"], r["n_tok"]) for r in by_doc[2]] == [(1, 16)]
    assert [(r["n_tok"], r["chunk_text"]) for r in by_doc[3]] == [(1, "solo")]


def test_sparql_ask_describe(spark, sf_dir):
    asks = {r["q"]: r["ask"] for r in Q.kg_sparql_ask(spark, sf_dir).collect()}
    assert asks == {"commerce_scored": 1, "nosuch": 0}
    d = Q.kg_sparql_describe(spark, sf_dir)
    assert d.columns == ["s", "p", "o"]
    assert "CartesianProduct" not in _plan(d)


def test_label_index_partitioning_invariant(spark, sf_dir):
    prev = spark.conf.get("spark.sql.shuffle.partitions")

    def run():
        return {tuple(r) for r in Q.kg_label_index(spark, sf_dir).collect()}

    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        lo = run()
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        hi = run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert lo == hi and len(lo) > 0


def test_tpch_q5_star_join_broadcasts_dims(spark, sf_dir):
    """The 6-table star join must stream the fact table through
    BroadcastHashJoins at fixture scale — no cartesian, no
    BroadcastNestedLoopJoin, >= 4 broadcast joins."""
    p = _plan(Q.tpch_q5(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("BroadcastHashJoin") >= 4, p[:2000]
