"""Text-analysis operators."""

from __future__ import annotations


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
