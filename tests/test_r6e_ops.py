"""Round-6e operator tests: canonical graph hash, TPC-H Q4/Q14/Q19
plan shapes, VoID summary sanity, Z-order keys and store
maintenance."""
from __future__ import annotations

import pyspark.sql.functions as F
import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_graph_hash_partitioning_invariant(spark):
    """bit_xor of per-row charcodes is commutative: any repartition /
    row order yields the same per-graph hash."""
    from kgspark.queries import _charcode_expr

    rows = [("g1", f"s{i}", "p", f"o{i}") for i in range(50)] + [
        ("g2", f"s{i}", "p", "x") for i in range(7)
    ]
    df = spark.createDataFrame(rows, "g string, s string, p string, o string")
    canon = "concat_ws('|', g, s, p, o)"

    def hashes(frame):
        out = (
            frame.select("g", F.expr(_charcode_expr(canon)).alias("h"))
            .groupBy("g")
            .agg(F.expr("bit_xor(h)").alias("gh"))
            .collect()
        )
        return {r["g"]: r["gh"] for r in out}

    a = hashes(df.repartition(1))
    b = hashes(df.repartition(16).sortWithinPartitions(F.desc("s")))
    assert a == b
    # content-sensitivity: flipping one char flips the graph hash
    df2 = df.withColumn(
        "o",
        F.when(
            (F.col("s") == "s3") & (F.col("g") == "g1"), F.lit("oX")
        ).otherwise(F.col("o")),
    )
    assert hashes(df2)["g1"] != a["g1"]
    assert hashes(df2)["g2"] == a["g2"]


def test_graph_hash_contract_runs(spark, sf_dir):
    from kgspark.queries import kg_graph_hash

    out = kg_graph_hash(spark, sf_dir)
    rows = out.collect()
    assert len(rows) > 1
    assert all(r["n_quads"] > 0 for r in rows)


def test_tpch_q4_is_semi_join(spark, sf_dir):
    from kgspark.queries import tpch_q4

    plan = _plan(tpch_q4(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_void_summary_invariants(spark, sf_dir):
    from kgspark.queries import kg_void_summary

    r = kg_void_summary(spark, sf_dir).collect()[0]
    assert r["n_subjects"] <= r["n_triples"]
    assert r["n_entities"] <= r["n_subjects"]
    assert r["n_classes"] <= r["n_objects"]
    assert r["n_predicates"] >= 1


def test_zorder_hand_case(spark):
    """Interleave check: len_b=0b1010, lang_b=0b0101 -> zkey alternates
    bits 10 01 10 01 -> 0b10011001 = 153."""
    # lang with charcode % 16 == 5 is hard to construct by hand; instead
    # verify the documented bit property on the real output: zkey
    # reconstructs both buckets exactly.
    import kgspark.queries as Q

    out = Q.doc_zorder_key(spark, "/root/testdata/sf0.001").collect()
    assert len(out) > 0
    for r in out:
        lang_back = sum(((r["zkey"] >> (2 * k)) & 1) << k for k in range(4))
        len_back = sum(
            ((r["zkey"] >> (2 * k + 1)) & 1) << k for k in range(4)
        )
        assert lang_back == r["lang_b"] and len_back == r["len_b"]


def test_zorder_is_map_only(spark, sf_dir):
    from kgspark.queries import doc_zorder_key

    plan = _plan(doc_zorder_key(spark, sf_dir))
    assert "Exchange" not in plan


def test_q14_month_filter_pushed_to_scan(spark, sf_dir):
    from kgspark.queries import tpch_q14

    plan = _plan(tpch_q14(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the month bounds must reach the parquet reader
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split(
        "PushedFilters"
    )[1][:200]


def test_q19_disjunction_no_nested_loop(spark, sf_dir):
    from kgspark.queries import tpch_q19

    plan = _plan(tpch_q19(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_merge_quads_semantics(spark, tmp_path):
    """CDC merge: idempotent re-apply, untouched graphs' files not
    rewritten, emptied graph dropped, unknown op rejected."""
    import os

    from kgspark import rdfio

    store = str(tmp_path / "store")
    rows = [
        ("ex:gA", "ex:s1", "ex:p", "a", "literal", "", ""),
        ("ex:gA", "ex:s2", "ex:p", "b", "literal", "", ""),
        ("ex:gB", "ex:s3", "ex:p", "c", "literal", "", ""),
        ("ex:gC", "ex:s4", "ex:p", "d", "literal", "", ""),
    ]
    quads = spark.createDataFrame(rows, rdfio.QUADS_PARSED_DDL)
    rdfio.write_nquads_store(quads, store)
    untouched_dir = rdfio.store_graph_dirs(store)["ex:gC"]
    files_before = {
        f: os.path.getmtime(os.path.join(untouched_dir, f))
        for f in os.listdir(untouched_dir)
    }

    delta_rows = [
        ("retract", "ex:gA", "ex:s1", "ex:p", "a", "literal", "", ""),
        ("add", "ex:gA", "ex:s9", "ex:p", "z", "literal", "", ""),
        ("retract", "ex:gB", "ex:s3", "ex:p", "c", "literal", "", ""),
    ]
    delta = spark.createDataFrame(
        delta_rows, "op string, " + rdfio.QUADS_PARSED_DDL
    )
    res = rdfio.merge_quads(spark, delta, store)
    assert res["removed"] == ["ex:gB"]

    def state():
        return sorted(
            map(
                tuple,
                rdfio.read_nquads_store(spark, store)
                .select("g", "s", "p", "o")
                .collect(),
            )
        )

    expect = sorted(
        [
            ("ex:gA", "ex:s2", "ex:p", "b"),
            ("ex:gA", "ex:s9", "ex:p", "z"),
            ("ex:gC", "ex:s4", "ex:p", "d"),
        ]
    )
    assert state() == expect
    # untouched graph: same files, same mtimes (never rewritten)
    files_after = {
        f: os.path.getmtime(os.path.join(untouched_dir, f))
        for f in os.listdir(untouched_dir)
    }
    assert files_after == files_before
    # idempotent: re-applying the same delta is a no-op
    rdfio.merge_quads(spark, delta, store)
    assert state() == expect
    # unknown op rejected
    bad = spark.createDataFrame(
        [("upsert", "ex:gA", "ex:s1", "ex:p", "a", "literal", "", "")],
        "op string, " + rdfio.QUADS_PARSED_DDL,
    )
    with pytest.raises(ValueError, match="unknown op"):
        rdfio.merge_quads(spark, bad, store)


def test_bucketed_tables_join_without_exchange(spark, sf_dir, tmp_path):
    """Co-located join proof: two tables bucketed+sorted on the same
    key join with NO Exchange and NO Sort in the plan — the layout
    contract that keeps repeated big-big joins shuffle-free at scale."""
    from kgspark.catalog import write_bucketed_table

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    left = docs.select("doc_id", "lang")
    right = docs.select("doc_id", "n_chars")
    prev_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed_table(left, "bkt_left", "doc_id", 8)
        write_bucketed_table(right, "bkt_right", "doc_id", 8)
        # force the big-big join strategy the layout exists for (at
        # fixture scale Catalyst would broadcast instead)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("bkt_left").join(spark.table("bkt_right"), "doc_id")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # and the result is still correct
        assert j.count() == docs.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thr)
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """Runtime-filter proof: a selective dimension filter induces a
    bloom_filter_agg on the dim side and a might_contain probe on the
    fact scan — the runtime semi-join reduction that, at 100 TB,
    drops most fact rows before the shuffle.  The size thresholds are
    sized for real clusters (10 GB application side), so the test
    scales them to fixture size; result equality with the unfiltered
    plan is asserted too."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet").filter("p_size = 1")
    import pyspark.sql.functions as Fn

    def q():
        return (
            li.join(part, Fn.col("l_partkey") == Fn.col("p_partkey"))
            .groupBy("p_brand")
            .count()
        )

    baseline = {(r["p_brand"], r["count"]) for r in q().collect()}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = q()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
        assert {(r["p_brand"], r["count"]) for r in j.collect()} == baseline
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_component_size_hist_conserves_nodes(spark, sf_dir):
    from kgspark.queries import kg_component_size_hist, kg_sameas_degree

    hist = kg_component_size_hist(spark, sf_dir).collect()
    n_nodes = sum(r["n_nodes"] for r in hist)
    assert n_nodes == kg_sameas_degree(spark, sf_dir).count()
    assert all(r["bucket"] >= 2 for r in hist)  # min component size 2


def test_store_diff_layout_invariant(spark, tmp_path):
    """Two stores with identical content but different row orders /
    partition layouts compare 'equal' on every graph."""
    from kgspark import rdfio

    rows = [
        ("ex:g1", f"ex:s{i}", "ex:p", f"o{i}", "literal", "", "")
        for i in range(40)
    ] + [("ex:g2", "ex:s", "ex:p", "x", "iri", "", "")]
    q = spark.createDataFrame(rows, rdfio.QUADS_PARSED_DDL)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    rdfio.write_nquads_store(q.repartition(1), a)
    rdfio.write_nquads_store(
        q.repartition(8).sortWithinPartitions(F.desc("s")), b
    )
    out = {r["g"]: r["status"] for r in rdfio.store_diff(spark, a, b).collect()}
    assert out == {"ex:g1": "equal", "ex:g2": "equal"}
