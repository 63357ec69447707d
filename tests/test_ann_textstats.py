"""Text-analysis operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from kgspark import textstats as TS


def test_quality_bounds(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = TS.text_quality(docs)
    bad = q.filter(
        (F.col("quality_e6") < 0) | (F.col("quality_e6") > 1000000)
        | (F.col("stop_ratio_e6") < 0) | (F.col("stop_ratio_e6") > 1000000)
        | (F.col("n_distinct") > F.col("n_tokens"))
    ).count()
    assert bad == 0


def test_fingerprint_deterministic_and_sensitive(spark):
    d1 = spark.createDataFrame(
        [(1, "table key order"), (2, "table key order"), (3, "order key table")],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["fingerprint"] for r in TS.doc_fingerprints(d1).collect()}
    assert fps[1] == fps[2]          # same content → same fp
    assert fps[1] != fps[3]          # rolling hash is order-sensitive


def test_langid_deterministic(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = sorted((r["doc_id"], r["predicted_lang"]) for r in TS.langid(spark, docs).collect())
    b = sorted((r["doc_id"], r["predicted_lang"]) for r in TS.langid(spark, docs).collect())
    assert a == b
    langs = {p for _, p in a}
    assert langs <= {"en", "es", "de", "fr", "zh"}


def test_langid_accuracy_on_rotation_signal(spark, sf_dir):
    """The grammar.py lang-rotation signal makes accuracy measurable:
    each lang's trigram-code distribution is a distinct Caesar rotation
    of the shared corpus, so the profile scorer must recover the true
    lang for (nearly) every doc."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = TS.langid(spark, docs)
    acc = out.select(
        F.avg((F.col("predicted_lang") == F.col("lang")).cast("double"))
    ).collect()[0][0]
    assert acc >= 0.95, f"langid accuracy {acc:.3f} below 0.95"


def test_term_pmi_hand_case(spark, tmp_path):
    """5 copies of 'x y', 5 of 'p q', 5 of 'x q': c(x,y)=c(p,q)=c(x,q)=5,
    unigrams x=10 y=5 p=5 q=10, N=30, M=15 — pmi_bits for (x,y) =
    bitlen(5)+2·bitlen(30)−bitlen(15)−bitlen(10)−bitlen(5) =
    3+10−4−4−3 = 2; (p,q) symmetric = 2; (x,q) = 3+10−4−4−4 = 1."""
    import pandas as pd

    rows = (
        [("x y", i) for i in range(5)]
        + [("p q", i + 5) for i in range(5)]
        + [("x q", i + 10) for i in range(5)]
    )
    pdf = pd.DataFrame(
        [(d, t, "en", "s", len(t)) for t, d in rows],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    )
    pdf.to_parquet(f"{tmp_path}/documents.parquet")
    import kgspark.queries as QQ

    got = {
        (r["w1"], r["w2"]): (r["c_xy"], r["pmi_bits"])
        for r in QQ.term_pmi(spark, str(tmp_path)).collect()
    }
    assert got == {
        ("x", "y"): (5, 2),
        ("p", "q"): (5, 2),
        ("x", "q"): (5, 1),
    }


def test_srp_buckets_partition_invariant_and_complete(spark, sf_dir):
    """Every vector lands in exactly one bucket (Σ n_vecs = table
    count, Σ sum_vec_id = Σ vec_id) and the histogram is bit-identical
    at different parallelism (map-only signature, no order
    dependence)."""
    import kgspark.queries as QQ

    out = QQ.embedding_srp_buckets(spark, sf_dir).collect()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    assert sum(r["n_vecs"] for r in out) == n
    assert sum(r["sum_vec_id"] for r in out) == n * (n - 1) // 2
    assert all(0 <= r["bucket"] < 2**16 for r in out)


def test_surprisal_heldout_hand_case(spark, tmp_path):
    """Train half = docs 0,2 ('a b'); held doc 1 = 'a b a c': bigram
    (a,b) is in-vocab (bt=2, ut=2 → bitlen(1)=1 bit), (b,a) and (a,c)
    are OOV → n_bigrams=3, n_oov=2, mean over the 1 scored bigram =
    1e6."""
    import pandas as pd

    pdf = pd.DataFrame(
        [(0, "a b", "en", "s", 3), (2, "a b", "en", "s", 3),
         (1, "a b a c", "en", "s", 7)],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    )
    pdf.to_parquet(f"{tmp_path}/documents.parquet")
    import kgspark.queries as QQ

    rows = QQ.doc_surprisal_heldout(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_id"], r["n_bigrams"], r["n_oov"], r["avg_surprisal_e6"]) \
        == (1, 3, 2, 1000000)


def test_kmeans_assign_total_and_range(spark, sf_dir):
    import kgspark.queries as QQ

    out = QQ.embedding_kmeans_assign(spark, sf_dir).collect()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assert len(out) == emb.count()            # every vector assigned once
    labels = {r["label"] for r in emb.select("label").distinct().collect()}
    assert {r["assigned_label"] for r in out} <= labels
    assert all(r["dist_e6"] >= 0 for r in out)


def test_vocab_growth_monotone_and_complete(spark, sf_dir):
    import kgspark.queries as QQ

    rows = sorted(
        QQ.vocab_growth(spark, sf_dir).collect(), key=lambda r: r["batch"]
    )
    sizes = [r["vocab_size"] for r in rows]
    assert sizes == sorted(sizes) and all(r["new_types"] > 0 for r in rows)
    assert sizes[-1] == sum(r["new_types"] for r in rows)
