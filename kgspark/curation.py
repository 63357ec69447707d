"""PII / content-filter curation (round 6) — the redaction stage of a
training-data pipeline (SURVEY §2 LLM-pipeline operators; the task
brief's curation family).

Twine itself had no PII stage (its corpus was already-published BBC
metadata); this operator covers the gap a training-data consumer of
the same pipeline hits: scrub contact-like strings before export and
report per-source filter rates.

Everything is native Spark expressions (`regexp_replace` /
`regexp_extract_all` chains — whole-stage codegen, zero per-row
Python); rules live in grammar.PII_RULES, shared with the DuckDB
oracle.  Scale shape: embarrassingly parallel per-document map over
the text column — no shuffle at all for the scrub, one map-side
combinable aggregate for the rate metric."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .grammar import PII_RULES


def scrub_expr(col: Column, rules=None) -> Column:
    """Sequential redaction chain — rule order is part of the spec
    (grammar.PII_RULES): each pattern rewrites the PREVIOUS rule's
    output, exactly like the oracle's nested regexp_replace."""
    out = col
    for _kind, pat, repl in (rules or PII_RULES):
        out = F.regexp_replace(out, F.lit(pat), F.lit(repl))
    return out


def count_exprs(col: Column, rules=None) -> list[Column]:
    """Per-rule match counts on the ORIGINAL text (one
    ``n_<kind>`` column per rule) — counts never see another rule's
    replacement tokens, matching the oracle's definition."""
    return [
        F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0)))
        .cast("bigint").alias(f"n_{kind}")
        for kind, pat, _repl in (rules or PII_RULES)
    ]


def scrub_pii(df: DataFrame, text_col: str = "text", rules=None) -> DataFrame:
    """documents(+text) → + clean_text, per-rule counts, n_pii total.

    Pure column map: partition-preserving, no shuffle, safe at any
    corpus size."""
    rules = rules or PII_RULES
    counted = df.select(
        "*",
        *count_exprs(F.col(text_col), rules),
        scrub_expr(F.col(text_col), rules).alias("clean_text"),
    )
    total = None
    for kind, _p, _r in rules:
        c = F.col(f"n_{kind}")
        total = c if total is None else total + c
    return counted.withColumn("n_pii", total.cast("bigint"))


def pii_rate_by_source(
    df: DataFrame, text_col: str = "text", rules=None
) -> DataFrame:
    """Per-source curation metric: docs, docs containing any PII,
    total redactions, and hit-rate in e6 fixed-point — one partial+
    final hash aggregate (map-side combinable), linear at 100 TB."""
    s = scrub_pii(df, text_col, rules)
    return (
        s.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("n_pii") > 0).cast("bigint")).alias("n_docs_pii"),
            F.sum("n_pii").alias("n_redactions"),
        )
        .select(
            "source", "n_docs", "n_docs_pii", "n_redactions",
            F.floor(
                F.lit(1e6) * F.col("n_docs_pii").cast("double")
                / F.col("n_docs").cast("double")
            ).cast("bigint").alias("pii_rate_e6"),
        )
    )


# --- Gopher-style repetition quality (round 6b) ------------------------------

def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token/bigram repetition metrics (the Gopher
    repetition-removal family): fraction of mass held by the single
    most-frequent token / bigram and the duplicate (non-first-
    occurrence) fraction of each, all in 1e6 fixed-point BIGINT, plus
    the grammar-thresholded ``rep_flagged`` boolean.

    Scale shape: ONE explode per granularity feeding a two-level hash
    aggregate keyed (doc_id, term) then (doc_id) — both map-side
    combinable, shuffle linear in corpus token count, no arrays ride
    the shuffle (the per-row quadratic array_distinct alternative
    would die on long real-world documents)."""
    from . import grammar as G

    toks = F.split(text_col, " ")
    n = F.size(toks)
    base = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.when(
            n >= 2,
            F.expr(
                f"transform(sequence(0, size(split({text_col}, ' ')) - 2),"
                f" i -> concat(split({text_col}, ' ')[i], ' ',"
                f" split({text_col}, ' ')[i + 1]))"
            ),
        ).otherwise(F.array().cast("array<string>")).alias("bigs"),
    )
    tok_d = (
        base.select("doc_id", F.explode("toks").alias("t"))
        .groupBy("doc_id", "t").count()
        .groupBy("doc_id")
        .agg(
            F.sum("count").alias("n_tokens"),
            F.max("count").alias("top_tok"),
            F.count("*").alias("n_types"),
        )
    )
    big_d = (
        base.select("doc_id", F.explode("bigs").alias("b"))
        .groupBy("doc_id", "b").count()
        .groupBy("doc_id")
        .agg(
            F.sum("count").alias("n_bigrams"),
            F.max("count").alias("top_big"),
            F.count("*").alias("n_btypes"),
        )
    )

    def e6_frac(num, den):
        return F.floor(
            F.lit(1e6) * num.cast("double") / den.cast("double")
        ).cast("bigint")

    out = (
        tok_d.join(big_d, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            e6_frac(F.col("top_tok"), F.col("n_tokens")).alias("top_token_e6"),
            e6_frac(
                F.col("n_tokens") - F.col("n_types"), F.col("n_tokens")
            ).alias("dup_token_e6"),
            F.coalesce(
                e6_frac(F.col("top_big"), F.col("n_bigrams")), F.lit(0)
            ).alias("top_bigram_e6"),
            F.coalesce(
                e6_frac(
                    F.col("n_bigrams") - F.col("n_btypes"), F.col("n_bigrams")
                ),
                F.lit(0),
            ).alias("dup_bigram_e6"),
        )
    )
    return out.withColumn(
        "rep_flagged",
        (F.col("top_token_e6") > F.lit(G.REP_TOP_TOKEN_E6))
        | (F.col("dup_bigram_e6") > F.lit(G.REP_DUP_BIGRAM_E6)),
    )
