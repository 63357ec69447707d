"""Driver-side tables plan as Arrow local relations.

``session.local_frame`` is the one way the engine turns a Python list
into a DataFrame.  Its plans must show a ``LocalTableScan`` and no
``ExistingRDD`` scan: a list-backed ``createDataFrame`` is a pickled
Python RDD, so every job over it starts Python-worker tasks and the
planner has no size for it.  These tests fail if any of the routed
tables silently falls back to that RDD scan."""

from __future__ import annotations

import pytest
from pyspark.sql.types import StructType

from kgspark import generate as gen
from kgspark import rdfio
from kgspark.session import local_frame
from kgspark.sparql import sparql_query, store_update


def _python_rdd_leaves(df) -> list[str]:
    """Lineage of every RDD scan in the optimized plan that reads a
    Python RDD."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves().iterator()
    out = []
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.nodeName() == "LogicalRDD":
            lineage = leaf.rdd().toDebugString()
            if "PythonRDD" in lineage:
                out.append(lineage)
    return out


def _assert_local(df, checkpoints: bool = False) -> None:
    """The plan scans a local relation and no Python RDD.  With
    ``checkpoints``, RDD scans of the engine's own ``localCheckpoint``s
    (JVM-side, e.g. a path closure's fixpoint) are allowed."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert not _python_rdd_leaves(df), plan
    if not checkpoints:
        assert "ExistingRDD" not in plan, plan


def _triples(spark):
    return local_frame(spark, [
        ("ex:a", "owl:sameAs", "ex:b"),
        ("ex:b", "owl:sameAs", "ex:c"),
        ("ex:a", "rdfs:label", "alice"),
        ("ex:c", "rdfs:label", "carl"),
    ], "s string, p string, o string")


def test_local_frame_schema_and_rows(spark):
    ddl = "name string, n int, big bigint"
    rows = [("a", 1, 2**40), (None, None, None), ("c", 3, -1)]
    df = local_frame(spark, rows, ddl)
    assert df.schema == StructType.fromDDL(ddl)
    assert [tuple(r) for r in df.collect()] == rows
    _assert_local(df)


def test_list_frame_is_caught(spark):
    """The check itself: a list-backed frame is a Python RDD scan."""
    df = spark.createDataFrame([("a",)], "x string")
    assert _python_rdd_leaves(df)
    with pytest.raises(AssertionError):
        _assert_local(df, checkpoints=True)


def test_local_frame_empty(spark):
    ddl = rdfio.QUADS_PARSED_DDL
    df = local_frame(spark, [], ddl)
    assert df.schema == StructType.fromDDL(ddl)
    assert df.collect() == []
    _assert_local(df)


def test_describe_path_and_values_plans(spark):
    t = _triples(spark)
    describe = sparql_query(t, "DESCRIBE <ex:a>")
    assert {tuple(r)[:3] for r in describe.collect()} == {
        ("ex:a", "owl:sameAs", "ex:b"), ("ex:a", "rdfs:label", "alice"),
    }
    _assert_local(describe)
    path = sparql_query(t, "SELECT ?x WHERE { ex:a owl:sameAs* ?x }")
    assert sorted(r["x"] for r in path.collect()) == ["ex:a", "ex:b", "ex:c"]
    _assert_local(path, checkpoints=True)
    values = sparql_query(
        t, 'SELECT ?s ?l WHERE { VALUES ?s { ex:a ex:c } ?s rdfs:label ?l }'
    )
    assert sorted(tuple(r) for r in values.collect()) == [
        ("ex:a", "alice"), ("ex:c", "carl"),
    ]
    _assert_local(values)


def test_insert_data_ground_quads_plan(spark, tmp_path, monkeypatch):
    written = []
    replace = rdfio._replace_graphs_unlocked

    def capture(df, path):
        written.append(df)
        return replace(df, path)

    monkeypatch.setattr(rdfio, "_replace_graphs_unlocked", capture)
    store_update(spark, str(tmp_path / "store"),
                 'INSERT DATA { GRAPH ex:g1 { ex:a ex:p "v" } }')
    (df,) = written
    _assert_local(df)


def test_rulebase_dims_plan(spark):
    for df in (gen.rulebase_df(spark), gen.property_rules_df(spark),
               gen.license_rules_df(spark), gen.media_kind_rules_df(spark)):
        _assert_local(df)
        assert df.count() > 0
