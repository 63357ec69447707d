"""Smoke the driver contract: every queries() entry runs at sf0.001 and
matches its oracle_sql() under the driver's comparison semantics.
(The heavy KG queries are covered at sf0.01 by tests/compare.py runs and
by the driver itself; here we gate the fast ones on every pytest run.)
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as E
from tests.compare import TABLES, canon

FAST = [
    "kg_spans_flat", "kg_span_invariant", "kg_mentions", "kg_mention_counts",
    "kg_media_features",
    # TPC-H plan-shape fixtures
    "tpch_q1", "revenue_by_nation", "customers_without_orders",
    "top10_orders", "tpch_q4", "tpch_q14", "tpch_q19",
    # round-4 additions (pipeline-derived ones read the stages of the
    # one memoized run_pipeline_cached pipeline)
    "kg_entity_media", "kg_media_triples",
    "kg_bgp_filter", "kg_bgp_union", "kg_sameas_closure", "kg_sameas_degree",
    "kg_sparql_topk", "kg_sparql_construct", "kg_sparql_groupby",
    "kg_sparql_lang", "kg_sparql_graph", "doc_pack_assign",
    # round-6 additions
    "kg_sparql_update",
    "kg_sparql_select_expr", "rdf_jsonld_compacted_roundtrip",
    "kg_sparql_optional_exists", "kg_sparql_modify",
    # round-6c additions
    "doc_surprisal_heldout", "doc_type_token_ratio",
    # round-6e additions
    "kg_entity_provenance", "kg_void_summary",
    "kg_graph_hash", "doc_zorder_key",
    "kg_store_merge", "kg_component_size_hist",
    "kg_store_diff", "kg_parse_error_stats",
    "kg_attr_coverage", "kg_label_collisions", "doc_prefix_dup_groups",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS FROM '{sf_dir}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", FAST)
def test_query_matches_oracle(spark, sf_dir, duck, name):
    sdf = E.queries()[name](spark, sf_dir).toPandas()
    odf = duck.execute(E.oracle_sql()[name]).df()
    assert canon(sdf) == canon(odf)


def test_every_query_has_oracle_or_is_flagged():
    """Builders and oracles come in pairs: a half-deleted (or half-added)
    pair fails here instead of silently dropping out of the gate."""
    qs, osql = E.queries(), E.oracle_sql()
    no_query = sorted(set(osql) - set(qs))
    no_oracle = sorted(set(qs) - set(osql))
    assert not no_query, f"oracle without query: {no_query}"
    assert not no_oracle, f"query without oracle: {no_oracle}"


def test_entry_returns_rows(spark):
    df = E.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"s", "p", "o"}
