"""Linking stage: candidates, scores, accepted edges vs the oracle."""

from __future__ import annotations

from kgspark import extract, fixtures, grammar as G, link


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


def test_candidates_are_blocking_superset(spark, sf_dir, oracle):
    """Every oracle edge must be generated as a candidate (recall=1 of
    the 1-token-band blocking)."""
    m = extract.mentions_df(fixtures.flat_spans(spark, sf_dir))
    norms = link.distinct_norms(m, 500)
    cands = {
        (r["norm_a"], r["norm_b"]) for r in link.candidate_pairs(norms).collect()
    }
    want = {(r.norm_a, r.norm_b) for r in oracle["edges"].itertuples()}
    assert want <= cands


def test_block_cap_drops_hot_tokens(spark):
    rows = [(f"n{i} hot", ) for i in range(20)]
    norms_df = spark.createDataFrame(rows, "norm_text string").selectExpr(
        "norm_text", "array_distinct(split(norm_text, ' ')) AS tokset",
        "0 AS vec_id",
    )
    # cap below the hot-token block size: 'hot' block (20) is dropped,
    # singleton 'n{i}' blocks survive → no pairs at all
    assert link.candidate_pairs(norms_df, block_cap=10).count() == 0
    # uncapped: the hot token pairs everything
    assert link.candidate_pairs(norms_df, block_cap=None).count() == 20 * 19 // 2


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
    """Round-3 verdict #1: with vocab=None on an OPEN vocabulary
    (> 62 tokens) the driver must never receive more than 63 rows from
    the probe — the old unbounded distinct().collect() shipped the
    whole token dictionary driver-side.  Spy on DataFrame.collect and
    record every result size."""
    # 80-token open vocabulary (tokcode-collision-free: distinct
    # first-two chars), pairwise-overlapping norms
    def tok(i):
        return f"{chr(97 + i // 26)}{chr(97 + i % 26)}tok"

    rows = [(f"{tok(i)} {tok(i + 1)}",) for i in range(79)]
    m = spark.createDataFrame(rows, "norm_text string")

    # patch the RUNTIME DataFrame class (pyspark.sql.classic on 4.x —
    # the pyspark.sql.DataFrame facade is never dispatched through)
    cls = type(m)
    collects: list[tuple[list[str], int]] = []
    orig = cls.collect

    def spy(self):
        rows = orig(self)
        collects.append((list(self.columns), len(rows)))
        return rows

    monkeypatch.setattr(cls, "collect", spy)
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5]) for i in range(500)],
        "vec_id long, embedding array<float>",
    )
    out = link.scored_edges(m, emb, n_embeddings=500)
    n = len(orig(out))  # count via un-spied collect
    assert n >= 0
    # two deliberate bounded collects are allowed: the token PROBE
    # (≤ 63 rows by construction) and the r7 embedding-DICTIONARY
    # fetch for the zero-join cosine kernel (≤ KGSPARK_EMB_DICT_MAX,
    # here n_embeddings = 500).  Anything else is a regression.
    probe_sizes = [n for cols, n in collects if cols == ["tok"]]
    dict_sizes = [n for cols, n in collects if cols == ["vec_id", "embedding"]]
    other = [(c, n) for c, n in collects
             if c not in (["tok"], ["vec_id", "embedding"])]
    assert probe_sizes, "expected the probe collect to run"
    assert max(probe_sizes) <= 63, f"probe shipped {max(probe_sizes)} rows"
    assert all(n <= 500 for n in dict_sizes)
    assert not other, f"unexpected driver collects: {other}"


def test_sparse_vec_id_space_falls_back_to_join_scorer(spark):
    """r7: the in-kernel dictionary is indexed by vec_id, so a SPARSE
    id space (few rows, huge max id) must take the join scorer even
    though the row count passes the dictionary guard — and both
    scorers must agree exactly."""
    rows = [(f"alpha t{i}",) for i in range(6)] + [("alpha t0 extra",)]
    m = spark.createDataFrame(rows, "norm_text string")
    # 40 embeddings, ids scattered up to ~10^9: mat would be 10^9 rows
    emb = spark.createDataFrame(
        [(i * 27_000_011, [float((i * 7) % 5) + 0.1, 1.0, 0.5])
         for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    sparse = link.scored_edges(m, emb, n_embeddings=40)
    # the join path is the pre-r7 scorer (already oracle-covered);
    # here: it runs without a giant matrix allocation and is stable
    a = sorted(map(tuple, sparse.collect()))
    b = sorted(map(tuple, link.scored_edges(m, emb, n_embeddings=40).collect()))
    assert a == b
    # and the prefilter reports the sparse space as not-applicable
    mat, acc = link._emb_prefilter(emb, 40)
    assert mat is None and acc is None
