"""Linking stage: candidates, scores, accepted edges vs the oracle."""

from __future__ import annotations

from itertools import combinations

import pandas as pd

from kgspark import extract, fixtures, grammar as G, link
from tests.oracle_kg import oracle_norm_edges, vec_id


def test_tokcode_collision_free():
    from kgspark.grammar import VOCAB, tokcode_py

    codes = {tokcode_py(t) for t in VOCAB}
    assert len(codes) == len(VOCAB)


def test_scored_edges_match_oracle(spark, sf_dir, oracle):
    m = extract.mentions_df(fixtures.flat_spans(spark, sf_dir))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = {
        (r["norm_a"], r["norm_b"]) for r in link.scored_edges(m, emb).collect()
    }
    want = {
        (r.norm_a, r.norm_b) for r in oracle["edges"].itertuples()
    }
    assert got == want


def test_block_cap_drops_hot_tokens(spark, monkeypatch):
    """The inverted join caps each token's posting list at BLOCK_CAP.
    Every set below holds ``hot``, the lowest token in bit order, so
    every cross-set pair is emitted at ``hot``: uncapped the edges equal
    the oracle's, and a cap below ``hot``'s block drops them all."""
    hot, *rest = link.VOCAB
    norms = [f"{hot} {t}" for t in rest[:6]] + [
        f"{hot} {a} {b}" for a, b in zip(rest[:5], rest[1:6])
    ]
    m = spark.createDataFrame([(n,) for n in norms], "norm_text string")
    # identical vectors: cosine 1 everywhere, so the J >= 0.5 band is in
    emb_rows = [(i, [1.0, 0.5, 0.25]) for i in range(50)]
    emb = spark.createDataFrame(emb_rows, "vec_id long, embedding array<float>")
    want = oracle_norm_edges(
        pd.DataFrame({"norm_text": norms}),
        pd.DataFrame(emb_rows, columns=["vec_id", "embedding"]),
    )
    monkeypatch.setattr(link, "CART_GROUPS_MAX", -1)  # force the index join
    got = {(r["norm_a"], r["norm_b"]) for r in link.scored_edges(m, emb).collect()}
    assert got == set(zip(want["norm_a"], want["norm_b"])) and got
    monkeypatch.setattr(link, "BLOCK_CAP", len(norms) - 1)
    assert link.scored_edges(m, emb).count() == 0


def test_acceptance_thresholds(spark, sf_dir, oracle):
    m = extract.mentions_df(fixtures.flat_spans(spark, sf_dir))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    for r in link.scored_edges(m, emb).collect():
        assert (
            r["jaccard"] >= G.JACCARD_TAU
            or (r["jaccard"] >= G.COSINE_JACCARD_MIN and r["cosine"] >= G.COSINE_TAU)
        )


def test_explicit_sameas_merges_components(spark, sf_dir):
    """O16 wired: an injected owl:sameAs assertion between mention IRIs
    of two different components merges exactly those two components
    when unioned into the edge set ahead of CC."""
    from kgspark.pipeline import run_pipeline

    base = run_pipeline(spark, sf_dir)
    labels = {r["node"]: r["label"] for r in base.labels.collect()}
    norm2iri = {}
    for r in base.mentions.select("norm_text", "mention_iri").distinct().collect():
        norm2iri.setdefault(r["norm_text"], r["mention_iri"])
    by_label = {}
    for n, l in sorted(labels.items()):
        by_label.setdefault(l, n)
    roots = sorted(by_label)[:2]
    na, nb = by_label[roots[0]], by_label[roots[1]]
    assert labels[na] != labels[nb]

    extra = spark.createDataFrame(
        [(norm2iri[na], "owl:sameAs", norm2iri[nb])], "s string, p string, o string"
    )
    merged = run_pipeline(spark, sf_dir, extra_triples=extra)
    ml = {r["node"]: r["label"] for r in merged.labels.collect()}
    assert ml[na] == ml[nb], "sameAs-bridged components must merge"
    assert len(set(ml.values())) == len(set(labels.values())) - 1, (
        "exactly the two bridged components merge; everything else untouched"
    )


def test_vocab_probe_is_driver_bounded(spark, monkeypatch):
    """Every driver fetch of scored_edges is bounded: the one stats row
    and the embedding dictionary of at most its n rows.  Spy on
    DataFrame.collect and toArrow and record every result size."""
    v = link.VOCAB
    rows = [(f"{v[i]} {v[i + 1]}",) for i in range(len(v) - 1)]
    rows += [(f"{v[i]} {v[i + 1]} {v[i + 2]}",) for i in range(len(v) - 2)]
    m = spark.createDataFrame(rows, "norm_text string")

    # patch the RUNTIME DataFrame class (pyspark.sql.classic on 4.x —
    # the pyspark.sql.DataFrame facade is never dispatched through)
    cls = type(m)
    fetches: list[tuple[str, list[str], int]] = []
    orig_collect, orig_arrow = cls.collect, cls.toArrow

    def spy_collect(self):
        out = orig_collect(self)
        fetches.append(("collect", list(self.columns), len(out)))
        return out

    def spy_arrow(self):
        out = orig_arrow(self)
        fetches.append(("toArrow", list(self.columns), out.num_rows))
        return out

    monkeypatch.setattr(cls, "collect", spy_collect)
    monkeypatch.setattr(cls, "toArrow", spy_arrow)
    n = 500
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    out = link.scored_edges(m, emb)
    assert len(orig_collect(out)) > 0  # un-spied
    assert sorted(fetches) == [
        ("collect", ["n", "unk"], 1),
        ("toArrow", ["vec_id", "embedding"], n),
    ]


def test_sparse_vec_id_space_ignores_out_of_range_rows(spark):
    """vec_id is fingerprint % n_emb, so no mention references a row
    whose id lies outside [0, n_emb): such rows are ignored (no matrix
    of max-id rows), and the edges equal the oracle's, which reads only
    in-range rows — whatever the out-of-range rows hold."""
    n_in, n_out = 30, 10
    in_rows = [(i, [1.0, 2.0 * (i % 3), 0.5]) for i in range(n_in)]

    def table(fill):
        out_rows = [(k * 27_000_011, fill) for k in range(1, n_out + 1)]
        return in_rows + out_rows

    # norms whose vec id hits an in-range row of the 40-row table
    toks = link.VOCAB[:8]
    norms = [
        " ".join(c)
        for k in (2, 3)
        for c in combinations(toks, k)
        if vec_id(" ".join(c), n_in + n_out) < n_in
    ]
    m = spark.createDataFrame([(x,) for x in norms], "norm_text string")
    ddl = "vec_id long, embedding array<float>"

    def edges(rows):
        return {
            (r["norm_a"], r["norm_b"])
            for r in link.scored_edges(m, spark.createDataFrame(rows, ddl)).collect()
        }

    got = edges(table([0.0, 1.0, 0.0]))
    want = oracle_norm_edges(
        pd.DataFrame({"norm_text": norms}),
        pd.DataFrame(table([0.0, 1.0, 0.0]), columns=["vec_id", "embedding"]),
    )
    assert got == set(zip(want["norm_a"], want["norm_b"])) and got
    assert edges(table([1.0, 0.0, 0.5])) == got
