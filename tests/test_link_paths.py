"""scored_edges' two pair-discovery paths (broadcast bitmask cartesian
and salted inverted join) produce identical edges, and a mention token
outside the grammar's closed vocabulary raises."""

from __future__ import annotations

import pytest

from kgspark import extract, fixtures, link


def test_non_grammar_token_raises(spark, sf_dir):
    """Token sets are bitmasks over grammar.ENTITY_TOKENS: a token
    outside it raises, counting the offending distinct token sets."""
    rows = [("data zzz",), ("zzz",), ("data key",), ("key data",)]
    m = spark.createDataFrame(rows, "norm_text string")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match=r"^2 distinct mention token sets"):
        link.scored_edges(m, emb)


def test_cartesian_and_index_bitmask_paths_agree(spark, sf_dir, monkeypatch):
    """The broadcast-cartesian fast path (small distinct-mask space)
    and the salted inverted-index path must produce identical edges."""
    m = extract.mentions_df(fixtures.flat_spans(spark, sf_dir)).localCheckpoint()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def edges():
        return {
            (r["norm_a"], r["norm_b"], round(r["jaccard"], 9))
            for r in link.scored_edges(m, emb).collect()
        }

    cart = edges()                                  # default: cartesian
    monkeypatch.setattr(link, "CART_GROUPS_MAX", -1)  # force index join
    idx = edges()
    assert cart == idx and len(cart) > 0
