"""Scalar column-expression helpers (SURVEY.md §2.8, O33–O39).

Everything here is a pure JVM-side column expression — no Python UDFs —
so Catalyst can constant-fold / codegen them and the identical formula
can be re-stated in DuckDB SQL for the correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import grammar as G


# --- mention normalization (O33/O35) ----------------------------------------
def norm_text(col: Column) -> Column:
    """lower, trim, collapse internal whitespace (plural-strip is a no-op
    on the fixture vocabulary and intentionally omitted from the spec)."""
    return F.regexp_replace(F.trim(F.lower(col)), r" +", " ")


def mention_iri(source: Column, norm: Column) -> Column:
    return F.concat(
        F.lit(G.MENTION_IRI_PREFIX), source, F.lit("/"),
        F.regexp_replace(norm, r" ", "_"),
    )


def doc_iri(doc_id: Column) -> Column:
    return F.concat(F.lit(G.DOC_IRI_PREFIX), doc_id)


def entity_id_from_min_member(min_member: Column) -> Column:
    """O34 deterministic id mint — deviation from Twine's random UUID
    proxies ({root}{uuid}#id, spindle correlate `[U~]`): sha256 of the
    lexicographically-smallest member IRI, so reruns and different
    parallelism levels mint identical ids."""
    return F.concat(
        F.lit(G.ENTITY_IRI_PREFIX),
        F.substring(F.sha2(min_member, 256), 1, 32),
        F.lit(G.ENTITY_IRI_SUFFIX),
    )


# --- SQL-expressible hash family (shared with DuckDB oracle) ----------------
def tokcode(col: Column) -> Column:
    """ascii(t[0])*65536 + ascii(t[1])*256 + len(t)  (see grammar.tokcode_py)."""
    return (
        F.ascii(F.substring(col, 1, 1)).cast("bigint") * 65536
        + F.ascii(F.substring(col, 2, 1)).cast("bigint") * 256
        + F.length(col).cast("bigint")
    )


def vec_id_for_norm(norm: Column, n_embeddings: int) -> Column:
    """Deterministic pseudo-embedding assignment for a mention:
    rolling-hash fingerprint of the norm's tokens, mod table size."""
    return fingerprint(F.split(norm, " ")) % F.lit(int(n_embeddings))


# --- vector math (O22/O37) ---------------------------------------------------
def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float> columns in double precision,
    sequential summation order (matches the DuckDB oracle's
    list_cosine_similarity to within float-noise; thresholds chosen away
    from decision boundaries)."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(ad, bd, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(ad, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(bd, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot / (na * nb)


def fingerprint(tokens: Column) -> Column:
    """O35 rolling-hash document fingerprint:
    acc = (acc*31 + tokcode(tok)) % FP_MOD, left-to-right."""
    return F.aggregate(
        tokens,
        F.lit(0).cast("bigint"),
        lambda acc, t: (acc * 31 + tokcode(t)) % F.lit(G.FP_MOD),
    )


def lang_rank(lang: Column) -> Column:
    """O18 language preference rank (props.c analogue); unknown langs
    rank last."""
    pos = F.array_position(F.lit(G.LANG_PREF).cast("array<string>"), lang)
    return F.when(pos == 0, F.lit(len(G.LANG_PREF) + 1)).otherwise(pos)
