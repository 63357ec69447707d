"""Entity-linking stage (SURVEY.md §3.2, operators O16, O21, O22, O33).

Replaces Twine spindle-correlate's per-message SPARQL lookups
(``spindle/correlate/`` `[U~]`) with whole-batch set-oriented linking.
``scored_edges`` takes no option and runs one route:

1. **dedup before pairwise** — linking runs over DISTINCT normalized
   mention texts, then over distinct token SETS: norms with identical
   sets pair with J = 1 inside their group, and every pairwise cost is
   paid once per distinct set.
2. **pair discovery** — mentions are runs of ``grammar.ENTITY_TOKENS``
   by construction, so a token set is an int64 bitmask over that
   closed vocabulary.  Exact set-similarity join (Bayardo et al.,
   "Scaling Up All Pairs Similarity Search", WWW'07): any pair with
   J ≥ COSINE_JACCARD_MIN shares a token in both prefixes, so recall
   against the all-pairs oracle is 1.0 by construction.
   - At or below ``CART_GROUPS_MAX`` distinct sets: a broadcast
     integer cartesian whose predicate is a few bit ops in whole-stage
     codegen.  A set holds at most 8 of the 18 tokens, so the space is
     capped at 106,761 sets; sf0.1 has 6,983.
   - Above it: the prefix-inverted join, salted on both sides (DS2,
     ICDE 2021) and capped per token at ``BLOCK_CAP`` postings.
3. **scoring** — only the J ≥ COSINE_JACCARD_MIN band reaches cosine.
   The pseudo-embedding table is a bounded dictionary, so it rides
   into one Arrow kernel as a float64 matrix (no join), behind a
   driver-matmul prefilter.  Acceptance: J ≥ JACCARD_TAU OR
   (J ≥ COSINE_JACCARD_MIN AND cos ≥ COSINE_TAU) — grammar.py is the
   spec.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import exprs as X
from . import grammar as G

# Token sets are bitmasks over this order; bit i is VOCAB[i], and the
# global prefix order is the bit order.
VOCAB = sorted(G.ENTITY_TOKENS)
if len(VOCAB) > 62:
    raise ImportError(
        f"link bitmasks hold at most 62 tokens; grammar.ENTITY_TOKENS has {len(VOCAB)}"
    )

TAU = G.COSINE_JACCARD_MIN  # the Jaccard band every pair join keeps

# Per-token posting cap of the inverted join (the standard large-scale
# blocking guard); far above any block the closed vocabulary yields.
BLOCK_CAP = 1_000_000

# At or below this many distinct token sets, pair discovery is the
# broadcast integer cartesian (measured 0.94 s for 7 k² at sf0.1 on 32
# cores); above it, the salted inverted join.  Both produce identical
# pairs (tested).
CART_GROUPS_MAX = 65_536

# Salt buckets per side of the inverted join: a hot token's f²/2 pairs
# sit inside one join key, invisible to AQE's size-based skew split, so
# (tok, salt_a, salt_b) spreads them over SALT² tasks.
SALT = 8

# The embedding table is a dictionary shipped once per task: 65k × 64
# dims × 8 B ≈ 33 MB per worker.  A larger table raises.
EMB_DICT_MAX = 65_536

# Up to this many embedding rows, one driver matmul (4096² × 64 ≈ 1
# GFLOP) pre-enumerates the vec pairs that can pass COSINE_TAU ...
EMB_ACC_MAX = 4_096
# ... unless the candidate set itself is too large to broadcast.
ACC_MAX_PAIRS = 500_000


def distinct_norms(mentions: DataFrame, n_emb: int) -> DataFrame:
    """Distinct normalized mention texts + their token set + vec id."""
    return (
        mentions.select("norm_text")
        .distinct()
        .select(
            "norm_text",
            F.array_distinct(F.split(F.col("norm_text"), " ")).alias("tokset"),
            X.vec_id_for_norm(F.col("norm_text"), n_emb).alias("vec_id"),
        )
    )


def scored_edges(mentions: DataFrame, embeddings: DataFrame) -> DataFrame:
    """Accepted sameAs edges between distinct norm texts.

    Returns (norm_a, norm_b, jaccard, cosine) with norm_a < norm_b.
    Runs two driver jobs: the bounded embedding-dictionary fetch and
    one stats job over the token-set groups.  Raises ``ValueError`` on
    an embedding table of more than ``EMB_DICT_MAX`` rows and on a
    mention token outside ``grammar.ENTITY_TOKENS``."""
    mat, acc = _emb_dictionary(embeddings)
    norms = distinct_norms(mentions, mat.shape[0])
    vocab_lit = F.lit(VOCAB).cast("array<string>")

    # bit index per token; an unknown token gets -1 (array_position 0)
    bits = F.transform("tokset", lambda t: F.array_position(vocab_lit, t) - 1)

    def mask_of(idx):
        return F.aggregate(
            idx, F.lit(0).cast("bigint"), lambda acc_, i: acc_.bitwiseOR(_bit(i))
        )

    coded = (
        norms.select(
            "norm_text", "vec_id", mask_of(bits).alias("mask"),
            F.array_sort(bits).alias("idx"),
        )
        .withColumn("len", F.size("idx"))
        # prefix mask: the lowest `plen` set bits
        .withColumn("pmask", mask_of(F.slice("idx", 1, _plen(F.col("len")))))
        .withColumn("has_unk", F.array_contains("idx", -1))
    )
    groups = (
        coded.groupBy("mask", "len", "pmask")
        .agg(
            F.collect_list(F.struct("norm_text", "vec_id")).alias("members"),
            F.first("idx").alias("idx"),
            F.max("has_unk").alias("has_unk"),
        )
    ).localCheckpoint(eager=False)

    # ONE job: materializes the shared groups checkpoint and returns the
    # group count (cartesian vs inverted join) and the unknown-token count
    stats = groups.agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("has_unk"), 1)).alias("unk"),
    ).collect()[0]
    if stats["unk"]:
        raise ValueError(
            f"{stats['unk']} distinct mention token sets hold a token outside "
            "grammar.ENTITY_TOKENS; link's bitmasks cover only that vocabulary"
        )

    # (A) intra-group pairs: identical toksets ⇒ jaccard exactly 1
    intra = (
        groups.select(F.explode("members").alias("a"), F.col("members"))
        .select("a", F.explode("members").alias("b"))
        .filter(F.col("a.norm_text") < F.col("b.norm_text"))
        .select(
            F.col("a.norm_text").alias("norm_a"),
            F.col("b.norm_text").alias("norm_b"),
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    if stats["n"] <= CART_GROUPS_MAX:
        tokset_pairs = _cartesian_pairs(groups)
    else:
        tokset_pairs = _inverted_pairs(groups)
    band = intra.unionByName(_expand_mask_pairs(tokset_pairs, groups))
    return _score_band(band, mat, acc)


def _bit(i):
    return F.call_function("shiftleft", F.lit(1).cast("bigint"), i)


def _plen(n):
    """Prefix length of a set of size n: a pair with J ≥ TAU shares a
    token within the first n − ⌈TAU·n⌉ + 1 tokens of each set."""
    return (n - F.ceil(F.lit(TAU) * n) + 1).cast("int")


def _len_filter(len_a, len_b):
    # Jaccard >= TAU requires min_len >= TAU * max_len
    return F.least(len_a, len_b).cast("double") >= F.lit(TAU) * F.greatest(len_a, len_b)


def _cartesian_pairs(groups: DataFrame) -> DataFrame:
    """(mask_a, mask_b, jaccard) over slim (mask, len) rows: a broadcast
    cartesian whose jaccard predicate is 5 bit ops in codegen.

    Rejected after measurement: a mask-level arrays_overlap prune —
    Catalyst pushes it INTO the join condition, evaluating the array
    intersection for all n_groups² pairs (~5 s vs ~50 ms post-join)."""
    slim_a = groups.select(F.col("mask").alias("mask_a"), F.col("len").alias("len_a"))
    slim_b = groups.select(F.col("mask").alias("mask_b"), F.col("len").alias("len_b"))
    shared = F.bit_count(F.col("mask_a").bitwiseAND(F.col("mask_b")))
    union = F.col("len_a") + F.col("len_b") - shared
    return (
        slim_a.join(
            F.broadcast(slim_b),
            (F.col("mask_a") < F.col("mask_b"))
            & _len_filter(F.col("len_a"), F.col("len_b"))
            & (shared.cast("double") >= F.lit(TAU) * union),
        )
        .withColumn("jaccard", shared.cast("double") / union)
        .select("mask_a", "mask_b", "jaccard")
    )


def _inverted_pairs(groups: DataFrame) -> DataFrame:
    """(mask_a, mask_b, jaccard) via the prefix-inverted join, salted on
    both sides and bit-verified; a candidate sharing k prefix tokens is
    emitted once, at the lowest shared prefix bit."""
    inv = groups.select(
        "mask", "len", "pmask",
        F.explode(F.slice("idx", 1, _plen(F.col("len")))).alias("tok"),
    )
    w_cnt = F.count("*").over(Window.partitionBy("tok"))
    inv = inv.withColumn("_bc", w_cnt).filter(F.col("_bc") <= BLOCK_CAP).drop("_bc")

    salt = F.pmod(F.xxhash64("mask"), F.lit(SALT))
    every = F.explode(F.sequence(F.lit(0), F.lit(SALT - 1)))
    a = inv.withColumn("sa", salt).withColumn("sb", every).alias("a")
    b = inv.withColumn("sb", salt).withColumn("sa", every).alias("b")
    shared_pref = F.col("a.pmask").bitwiseAND(F.col("b.pmask"))
    shared = F.bit_count(F.col("a.mask").bitwiseAND(F.col("b.mask")))
    return (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.sa") == F.col("b.sa"))
            & (F.col("a.sb") == F.col("b.sb"))
            & (F.col("a.mask") < F.col("b.mask"))
            & _len_filter(F.col("a.len"), F.col("b.len")),
        )
        .filter(_bit(F.col("a.tok")) == shared_pref.bitwiseAND(-shared_pref))
        .withColumn(
            "jaccard",
            shared.cast("double") / (F.col("a.len") + F.col("b.len") - shared),
        )
        .filter(F.col("jaccard") >= TAU)
        .select(
            F.col("a.mask").alias("mask_a"), F.col("b.mask").alias("mask_b"), "jaccard"
        )
    )


def _expand_mask_pairs(tokset_pairs: DataFrame, groups: DataFrame) -> DataFrame:
    """(mask_a, mask_b, jaccard) → norm-text pairs via the groups'
    member lists (the band is small by the time this runs)."""
    ga = groups.select(F.col("mask").alias("mask_a"), F.col("members").alias("members_a"))
    gb = groups.select(F.col("mask").alias("mask_b"), F.col("members").alias("members_b"))
    return (
        tokset_pairs.join(ga, "mask_a")
        .join(gb, "mask_b")
        .select("jaccard", F.explode("members_a").alias("a"), "members_b")
        .select("jaccard", "a", F.explode("members_b").alias("b"))
        .select(
            F.least(F.col("a.norm_text"), F.col("b.norm_text")).alias("norm_a"),
            F.greatest(F.col("a.norm_text"), F.col("b.norm_text")).alias("norm_b"),
            F.when(F.col("a.norm_text") < F.col("b.norm_text"), F.col("a.vec_id"))
            .otherwise(F.col("b.vec_id")).alias("vec_a"),
            F.when(F.col("a.norm_text") < F.col("b.norm_text"), F.col("b.vec_id"))
            .otherwise(F.col("a.vec_id")).alias("vec_b"),
            "jaccard",
        )
    )


def _emb_dictionary(embeddings: DataFrame):
    """Fetch the embedding dictionary (one bounded Arrow job) as an
    n_emb × dim float64 matrix indexed by vec_id, and — when it is small
    enough for one driver matmul — the SUPERSET of off-diagonal vec
    pairs that can clear COSINE_TAU (guide §3.2 Bloom-style prefilter;
    the 1e-6 margin is ~7 orders above any dgemm-vs-einsum float
    discrepancy, so no false negatives; the kernel still decides).

    n_emb is the row count, the modulus of ``vec_id_for_norm``, so no
    mention references a row whose vec_id lies outside [0, n_emb):
    such rows are dropped.  Ids absent from the table stay NaN rows.

    Returns (mat, acc): ``acc`` is a (vec_a, vec_b) frame of candidate
    pairs, possibly empty — NO off-diagonal pair can be cosine-accepted
    — or None when the prefilter does not apply."""
    tbl = embeddings.select("vec_id", "embedding").limit(EMB_DICT_MAX + 1).toArrow()
    n_emb = tbl.num_rows
    if n_emb > EMB_DICT_MAX:
        raise ValueError(
            f"the embedding table has more than link.EMB_DICT_MAX = {EMB_DICT_MAX} "
            "rows; the cosine kernel ships it to every task as a dictionary"
        )
    ids = tbl["vec_id"].to_numpy().astype(np.int64)
    vecs = tbl["embedding"].combine_chunks()
    dim = len(vecs[0]) if n_emb else 1
    mat = np.full((n_emb, dim), np.nan, dtype=np.float64)
    keep = (ids >= 0) & (ids < n_emb)
    if n_emb:
        flat = vecs.flatten().to_numpy(zero_copy_only=False).reshape(-1, dim)
        mat[ids[keep]] = flat[keep]

    acc = None
    if n_emb <= EMB_ACC_MAX:
        with np.errstate(invalid="ignore", divide="ignore"):
            nrm = np.sqrt(np.einsum("ij,ij->i", mat, mat))
            cmat = (mat @ mat.T) / np.outer(nrm, nrm)
        ii, jj = np.where(cmat >= G.COSINE_TAU - 1e-6)
        off = ii != jj
        ii, jj = ii[off], jj[off]
        if len(ii) <= ACC_MAX_PAIRS:
            acc = pd.DataFrame({"vec_a": ii, "vec_b": jj}, dtype=np.int64)
    return mat, acc


def _score_band(band: DataFrame, mat, acc) -> DataFrame:
    """O22 scorer over the J ≥ COSINE_JACCARD_MIN candidate band.

    Zero-join scoring: vec ids index the fixed pseudo-embedding
    dictionary, so the cosine needs no join — the matrix rides into one
    Arrow kernel, built once per task (guide §4.5 / §8: move the small
    dictionary to the pairs).  Only two int columns cross the Python
    boundary per pair.

    Measured alternative (rejected): a native zip_with/aggregate cosine
    evaluates the lambda tree per element — 8× SLOWER than the
    Arrow-batched numpy kernel on the sf0.1 band (81.6 s vs 10.0 s)."""
    # Bloom-style prefilter: only rows that can still be accepted reach
    # the kernel — in on Jaccard, same vec (cosine ≡ 1), or a candidate
    # vec pair from the driver matmul.  With an EMPTY candidate set no
    # join is needed at all.
    if acc is not None:
        keep = (F.col("jaccard") >= G.JACCARD_TAU) | (F.col("vec_a") == F.col("vec_b"))
        if len(acc):
            acc_df = band.sparkSession.createDataFrame(
                acc, "vec_a bigint, vec_b bigint"
            ).withColumn("_acc", F.lit(True))
            band = (
                band.join(F.broadcast(acc_df), ["vec_a", "vec_b"], "left")
                .filter(keep | F.col("_acc").isNotNull())
                .drop("_acc")
            )
        else:
            band = band.filter(keep)

    def cos_by_id(va: pd.Series, vb: pd.Series) -> pd.Series:
        # vec ids lie in [0, n_emb) by construction (fingerprint % n_emb)
        ia = va.to_numpy()
        ib = vb.to_numpy()
        a = mat[ia]
        b = mat[ib]
        dots = np.einsum("ij,ij->i", a, b)
        na = np.sqrt(np.einsum("ij,ij->i", a, a))
        nb = np.sqrt(np.einsum("ij,ij->i", b, b))
        # same vec id ⇒ cosine is 1 by definition — avoids float-noise
        # flapping around the exactly-representable 1.0 grid point
        return pd.Series(np.where(ia == ib, 1.0, dots / (na * nb)))

    # A fresh UDF flipped nondeterministic: the acceptance filter
    # consumes the kernel's output, and a deterministic flag would let
    # PushDownPredicates duplicate the kernel into two ArrowEvalPython
    # nodes, each scoring every pair.
    kernel = F.pandas_udf(T.DoubleType())(cos_by_id).asNondeterministic()
    scored = band.withColumn("cosine", kernel(F.col("vec_a"), F.col("vec_b")))
    accepted = scored.filter(
        (F.col("jaccard") >= G.JACCARD_TAU) | (F.col("cosine") >= G.COSINE_TAU)
    )
    return accepted.select("norm_a", "norm_b", "jaccard", "cosine")


def explicit_norm_edges(triples: DataFrame, mentions: DataFrame) -> DataFrame:
    """O16 wired for the pipeline: explicit coref assertions between
    MENTION IRIs become norm-text edges for the CC stage (SURVEY §3.2:
    union with the scored edges ahead of connected components).

    Subjects/objects that are not known mention IRIs drop out (inner
    joins) — an assertion about an unseen IRI cannot merge components
    that have no node for it."""
    iri2norm = mentions.select("mention_iri", "norm_text").distinct()
    coref = triples.filter(F.col("p").isin(G.COREF_PREDICATES))
    mapped = (
        coref.join(
            iri2norm.select(
                F.col("mention_iri").alias("s"), F.col("norm_text").alias("ns")
            ),
            "s",
        )
        .join(
            iri2norm.select(
                F.col("mention_iri").alias("o"), F.col("norm_text").alias("no")
            ),
            "o",
        )
        .filter(F.col("ns") != F.col("no"))
    )
    return mapped.select(
        F.least(F.col("ns"), F.col("no")).alias("norm_a"),
        F.greatest(F.col("ns"), F.col("no")).alias("norm_b"),
    ).distinct()
