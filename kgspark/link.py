"""Entity-linking stage (SURVEY.md §3.2, operators O16, O21, O22, O33).

Replaces Twine spindle-correlate's per-message SPARQL lookups
(``spindle/correlate/`` `[U~]`) with whole-batch set-oriented linking:

1. **dedup before pairwise** — linking runs over DISTINCT normalized
   mention texts, not mention occurrences.  At 10^12 docs the distinct
   mention-text table is orders of magnitude smaller than the mention
   table; every downstream pairwise cost is paid once per distinct
   text.  Membership is joined back afterwards.
2. **blocking** — inverted-index candidate join on shared tokens
   (equivalent to 1-token LSH bands and *exact*: any pair with
   Jaccard ≥ τ shares ≥ 1 token, so recall vs the all-pairs oracle is
   1.0 by construction).  A true MinHash-LSH banding implementation
   lives in dedup.py (O21) for the near-dup operators where shingle
   sets are large.
3. **scoring** — batched Jaccard (native array exprs, JVM) + batched
   cosine over pseudo-embeddings (Arrow ``pandas_udf``, numpy float64).
   Acceptance: J ≥ JACCARD_TAU OR (J ≥ COSINE_JACCARD_MIN AND
   cos ≥ COSINE_TAU)  — grammar.py is the spec.

Scale notes: the candidate self-join shuffles on ``tok``; hot tokens
are the skew risk → AQE skew-join is on (session.py) and the block for
a token of frequency f yields f(f-1)/2 pairs — the inverted index is
capped per token (``block_cap``) with a logged drop count, the standard
large-scale blocking guard (cap >> any fixture block size, so exact on
fixtures; at 10^12 docs you cap + fall back to MinHash bands for the
monster blocks).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import exprs as X
from . import grammar as G

# Default per-token block cap — exact on all fixture scales; see module
# docstring for the 10^12-scale rationale.
BLOCK_CAP = 1_000_000

# Bitmask path: below this many DISTINCT token sets, pair discovery is
# a broadcast integer cartesian (≤ 2^32 ≈ 4.3e9 five-op bit-math
# predicate evaluations inside whole-stage codegen — ~1 s on 32 cores,
# measured 0.94 s for 7 k² at sf0.1) instead of the salted inverted
# join (which materializes the ~30×-overdrawn candidate multiset
# through a shuffle).  Dense closed-vocab corpora SATURATE the
# distinct-tokset space (sf0.1: 15.6 k norms → 7 k masks; more corpus
# does not mean more masks), so the cartesian side scales with the
# vocabulary, not the data; past the threshold the index join takes
# over.  Both produce identical pairs (tested).
CART_GROUPS_MAX = 65_536


def distinct_norms(mentions: DataFrame, n_embeddings: int) -> DataFrame:
    """Distinct normalized mention texts + their token set + vec id."""
    return (
        mentions.select("norm_text")
        .distinct()
        .select(
            "norm_text",
            F.array_distinct(F.split(F.col("norm_text"), " ")).alias("tokset"),
            X.vec_id_for_norm(F.col("norm_text"), n_embeddings).alias("vec_id"),
        )
    )


def candidate_pairs(norms: DataFrame, block_cap: int = BLOCK_CAP) -> DataFrame:
    """O21 blocking: inverted index on tokens → self equi-join on tok,
    ``a < b`` dedup predicate, DISTINCT pair set."""
    inv = norms.select(
        F.col("norm_text").alias("norm"),
        F.explode("tokset").alias("tok"),
    )
    if block_cap is not None:
        w_cnt = F.count("*").over(Window.partitionBy("tok"))
        inv = inv.withColumn("_bc", w_cnt).filter(F.col("_bc") <= block_cap).drop("_bc")
    a = inv.alias("a")
    b = inv.alias("b")
    return (
        a.join(b, F.col("a.tok") == F.col("b.tok"))
        .filter(F.col("a.norm") < F.col("b.norm"))
        .select(
            F.col("a.norm").alias("norm_a"),
            F.col("b.norm").alias("norm_b"),
        )
        .distinct()
    )


@F.pandas_udf(T.DoubleType())
def _cosine_batch(va: pd.Series, vb: pd.Series) -> pd.Series:
    """O22 batched cosine scorer — Arrow columns of array<float> in,
    float64 numpy math (matches the reference oracle's np.dot exactly)."""
    import numpy as np

    a = np.stack(va.to_numpy())
    b = np.stack(vb.to_numpy())
    a = a.astype(np.float64)
    b = b.astype(np.float64)
    dots = np.einsum("ij,ij->i", a, b)
    na = np.sqrt(np.einsum("ij,ij->i", a, a))
    nb = np.sqrt(np.einsum("ij,ij->i", b, b))
    return pd.Series(dots / (na * nb))


# The kernel IS deterministic; this variant only flips the Catalyst flag
# so a threshold filter referencing the scored column is NOT pushed below
# the projection (PushDownPredicates duplicates the expression, yielding
# two ArrowEvalPython nodes that each run the kernel over every pair —
# the round-2 double-eval finding in embedding_neardup{,_trained}).  Use
# this variant whenever a filter consumes the kernel's output column.
#
# It is built from the RAW kernel function as an INDEPENDENT
# UserDefinedFunction: on pyspark 4.x, `wrapper.asNondeterministic()`
# mutates the one UDF object shared by wrapper and alias, which would
# silently make `_cosine_batch` itself nondeterministic at import and
# forbid its use in join conditions / aggregates (round-3 ADVICE).
_cosine_batch_once = F.pandas_udf(T.DoubleType())(
    _cosine_batch.func
).asNondeterministic()


def pandas_udf_nondeterministic(return_type):
    """Decorator: a FRESH pandas_udf flipped nondeterministic — safe to
    mutate because the object is never shared (contrast the module-level
    `_cosine_batch_once` construction above, round-3 ADVICE)."""

    def deco(fn):
        return F.pandas_udf(return_type)(fn).asNondeterministic()

    return deco


def scored_edges(
    mentions: DataFrame,
    embeddings: DataFrame,
    n_embeddings: int | None = None,
    block_cap: int = BLOCK_CAP,
    vocab: list[str] | None = None,
) -> DataFrame:
    """Accepted sameAs edges between distinct norm texts.

    Returns (norm_a, norm_b, jaccard, cosine) with norm_a < norm_b.

    Exact set-similarity join, engineered for the dense closed-vocab
    case (the at-scale shape; cf. Bayardo et al. "Scaling Up All Pairs
    Similarity Search", WWW'07):

    1. **tokset dedup** — norms with identical token SETS have J = 1
       pairwise and identical J against everything else, so pairing
       runs over distinct toksets (~2–3× fewer nodes ⇒ ~5–10× fewer
       pairs); intra-group norm pairs are emitted directly with J = 1.
    2. **prefix filter** — with tokens in a fixed global order, a pair
       with J ≥ τ must share a token within the first
       |S| − ⌈τ·|S|⌉ + 1 tokens of each set, so only prefixes are
       inverted (exact for the J ≥ COSINE_JACCARD_MIN band we keep).
    3. **length filter** — 2·min ≥ max, necessary for J ≥ 0.5, inside
       the join condition.
    4. **shuffle-free pair dedup** — a candidate sharing k prefix
       tokens appears k times; keep the row whose join token is the
       min shared prefix token (inline array math, whole-stage
       codegen; no groupBy exchange over the pair space).
    5. **double-sided salting** — pair enumeration for a hot token is
       f²/2 rows inside one join key, invisible to AQE (input-size
       based); salting to (tok, salt_a, salt_b) spreads each token's
       pair-space over SALT² tasks (north_rule hub-skew handling).
    6. only the J ≥ COSINE_JACCARD_MIN band (tiny) reaches the
       broadcast embedding joins + Arrow cosine kernel.

    Token sets ride as sorted int-code arrays (tokcode) — int
    comparisons, not strings, in the hot loop.
    """
    if n_embeddings is None:
        n_embeddings = embeddings.count()  # parquet metadata count — cheap
    norms = distinct_norms(mentions, n_embeddings)
    tau = G.COSINE_JACCARD_MIN

    # Adaptive small-dictionary fast path: when the observed token
    # vocabulary fits in an int64 (≤62 distinct tokens — true for this
    # corpus and common for typed coref predicates), token sets become
    # BITMASKS: |A∩B| = bit_count(a & b), prefix checks are bit tricks,
    # and the entire verify step is whole-stage-codegen integer math.
    # Larger vocabularies take the general sorted-int-array path below.
    # Callers that KNOW the dictionary (the KG pipeline: mention tokens
    # are the regex alternation over grammar.ENTITY_TOKENS by
    # construction) pass ``vocab`` and skip the observed-vocab job.
    caller_vocab = vocab is not None
    if vocab is None:
        # BOUNDED probe (round-3 verdict #1): the driver only needs to
        # know "are there ≤ 62 distinct tokens, and if so which" — a
        # global-sorted limit(63) answers that exactly while the driver
        # receives at most 63 rows.  On an open-vocabulary corpus the
        # old `.distinct().collect()` shipped the ENTIRE token
        # dictionary through the driver just to pick the array path.
        probe = (
            norms.select(F.explode("tokset").alias("tok")).distinct()
            .orderBy("tok").limit(63).collect()
        )
        if len(probe) > 62:
            return _scored_edges_array(norms, embeddings, tau, block_cap,
                                       n_emb=n_embeddings)
        vocab = [r["tok"] for r in probe]
    if len(vocab) <= 62:
        # A caller-supplied dictionary is a CLAIM, not a fact: a token
        # absent from vocab would silently corrupt the bitmask
        # (array_position → 0 → bit -1 → contributes nothing yet counts
        # in len, skewing Jaccard).  The guard rides INSIDE the bitmask
        # path's one mandatory stats job (r7: the old separate limit(1)
        # probe job doubled the untimed construction cost of the stage);
        # on any unknown token the bitmask path returns None and the
        # exact array path takes over.
        out = _scored_edges_bitmask(
            norms, embeddings, vocab, tau, block_cap,
            verify_vocab=caller_vocab, n_emb=n_embeddings,
        )
        if out is not None:
            return out
    return _scored_edges_array(norms, embeddings, tau, block_cap,
                               n_emb=n_embeddings)


def _scored_edges_array(
    norms: DataFrame,
    embeddings: DataFrame,
    tau: float,
    block_cap: int | None,
    n_emb: int | None = None,
) -> DataFrame:
    """General sorted-int-array implementation (vocabularies > 62
    tokens); identical output to the bitmask path (tested)."""
    coded = norms.select(
        "norm_text",
        "vec_id",
        F.array_sort(F.transform("tokset", lambda t: X.tokcode(t))).alias("codes"),
        "tokset",
    ).withColumn("len", F.size("codes"))

    groups = (
        coded.groupBy("codes", "len")
        .agg(F.collect_list(F.struct("norm_text", "vec_id")).alias("members"))
        .withColumn("key", F.array_join(F.transform("codes", lambda c: c.cast("string")), ","))
    ).localCheckpoint(eager=False)

    # (A) intra-group pairs: identical toksets ⇒ jaccard exactly 1
    ma = F.explode("members")
    intra = (
        groups.select(ma.alias("a"), F.col("members"))
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

    # (B) cross-tokset candidates via prefix-filtered inverted join
    plen = (F.col("len") - F.ceil(F.lit(tau) * F.col("len")) + 1).cast("int")
    tsets = groups.select(
        "key", "codes", "len", F.slice("codes", 1, plen).alias("prefix")
    )
    inv = tsets.select(
        "key", "codes", "len", "prefix", F.explode("prefix").alias("tok")
    )
    if block_cap is not None:
        w_cnt = F.count("*").over(Window.partitionBy("tok"))
        inv = inv.withColumn("_bc", w_cnt).filter(F.col("_bc") <= block_cap).drop("_bc")

    SALT = 8
    salt = F.pmod(F.xxhash64("key"), F.lit(SALT))
    a = (
        inv.withColumn("sa", salt)
        .withColumn("sb", F.explode(F.sequence(F.lit(0), F.lit(SALT - 1))))
        .alias("a")
    )
    b = (
        inv.withColumn("sb", salt)
        .withColumn("sa", F.explode(F.sequence(F.lit(0), F.lit(SALT - 1))))
        .alias("b")
    )
    joined = a.join(
        b,
        (F.col("a.tok") == F.col("b.tok"))
        & (F.col("a.sa") == F.col("b.sa"))
        & (F.col("a.sb") == F.col("b.sb"))
        & (F.col("a.key") < F.col("b.key"))
        & (
            # Jaccard >= tau requires min_len >= tau * max_len
            F.least(F.col("a.len"), F.col("b.len")).cast("double")
            >= F.lit(tau) * F.greatest(F.col("a.len"), F.col("b.len"))
        ),
    )
    shared = F.size(F.array_intersect(F.col("a.codes"), F.col("b.codes")))
    tokset_pairs = (
        joined.withColumn(
            "_pinter", F.array_intersect(F.col("a.prefix"), F.col("b.prefix"))
        )
        .filter(F.col("a.tok") == F.array_min("_pinter"))
        .withColumn(
            "jaccard",
            shared.cast("double") / (F.col("a.len") + F.col("b.len") - shared),
        )
        .filter(F.col("jaccard") >= tau)
        .select(
            F.col("a.key").alias("key_a"),
            F.col("b.key").alias("key_b"),
            "jaccard",
        )
    )

    # expand tokset pairs back to norm pairs (band is small)
    ga = groups.select(
        F.col("key").alias("key_a"), F.col("members").alias("members_a")
    )
    gb = groups.select(
        F.col("key").alias("key_b"), F.col("members").alias("members_b")
    )
    cross = (
        tokset_pairs.join(ga, "key_a")
        .join(gb, "key_b")
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

    return _score_band(intra.unionByName(cross), embeddings, n_emb=n_emb)


# Above this many embedding rows the in-kernel dictionary (a numpy
# matrix shipped once per task) stops being the right shape and the
# join-based scorer takes over.  65k × 64 dims × 8 B ≈ 33 MB per worker
# — the same memory class as the two F.broadcast(emb) builds it
# replaces.  Env-overridable for fat-memory deployments.
EMB_DICT_MAX = 65_536

# Up to this many embedding rows, one driver matmul (O(n²·d)) is cheap
# enough to pre-enumerate the vec pairs that can possibly pass
# COSINE_TAU (guide §3.2 Bloom-style pre-filter: superset, the kernel
# still decides exactly).  4096² × 64 ≈ 1 GFLOP ≈ sub-second.
EMB_ACC_MAX = 4_096
# ...and if the embedding space is so clustered that the candidate
# pair set itself explodes, broadcasting it stops paying — skip the
# pre-filter and let the kernel score the whole band.
ACC_MAX_PAIRS = 500_000


def _emb_dict_max() -> int:
    import os

    return int(os.environ.get("KGSPARK_EMB_DICT_MAX", EMB_DICT_MAX))


def _emb_acc_max() -> int:
    import os

    return int(os.environ.get("KGSPARK_EMB_ACC_MAX", EMB_ACC_MAX))


def _emb_prefilter(embeddings: DataFrame, n_emb: int):
    """Collect the (bounded) embedding dictionary into a float64 matrix
    and — when the dictionary is small enough for one driver matmul —
    enumerate the SUPERSET of off-diagonal vec pairs that can possibly
    clear COSINE_TAU (guide §3.2 Bloom-style pre-filter; the 1e-6
    margin is ~7 orders above any dgemm-vs-einsum float discrepancy,
    so no false negatives; the Arrow kernel still decides exactly).

    Both transfers go through Arrow, not per-row py4j objects: the
    dictionary comes back with ``toArrow`` and ``acc`` is a pandas
    frame that ``createDataFrame`` ships as Arrow batches.

    Returns (mat, acc): ``acc`` is a (vec_a, vec_b) pandas frame of
    candidate pairs, possibly empty — meaning NO off-diagonal pair can
    be cosine-accepted — or None when unknown (dictionary too large for
    the matmul, or the candidate set too large to broadcast).  ``mat`` is
    None when the matrix itself would be oversized: it is indexed by
    vec_id, so a SPARSE id space (few rows, huge max id) must fall
    back to the join scorer even though the row count passed the
    dictionary guard."""
    import numpy as np

    tbl = embeddings.select("vec_id", "embedding").toArrow()
    ids = tbl["vec_id"].to_numpy().astype(np.int64)
    size = int(ids.max()) + 1 if len(ids) else 0
    if size > _emb_dict_max():
        return None, None
    vecs = tbl["embedding"].combine_chunks()
    dim = len(vecs[0]) if len(ids) else 1
    mat = np.full((max(size, 1), dim), np.nan, dtype=np.float64)
    if len(ids):
        mat[ids] = vecs.flatten().to_numpy(zero_copy_only=False).reshape(-1, dim)

    acc = None
    if mat.shape[0] <= _emb_acc_max():
        with np.errstate(invalid="ignore", divide="ignore"):
            nrm = np.sqrt(np.einsum("ij,ij->i", mat, mat))
            cmat = (mat @ mat.T) / np.outer(nrm, nrm)
        ii, jj = np.where(cmat >= G.COSINE_TAU - 1e-6)
        off = ii != jj
        ii, jj = ii[off], jj[off]
        if len(ii) <= ACC_MAX_PAIRS:
            acc = pd.DataFrame({"vec_a": ii, "vec_b": jj}, dtype=np.int64)
    return mat, acc


def _score_band(
    band: DataFrame,
    embeddings: DataFrame,
    n_emb: int | None = None,
    embinfo=None,
) -> DataFrame:
    """O22 scorer over the J ≥ COSINE_JACCARD_MIN candidate band.

    Zero-join scoring (r7): vec ids index the FIXED pseudo-embedding
    dictionary (bounded, constant in corpus size), so the cosine needs
    no join at all — the dictionary rides into one Arrow kernel as a
    float64 matrix built once per task (guide §4.5 / §8: move the
    small dictionary to the pairs, not the pairs to a join).  Only two
    int columns cross the Python boundary per pair.  The previous
    join shape (distinct vec pairs → kernel → broadcast join-back)
    built and broadcast a scored table of up to n_emb² rows — at sf0.1
    that broadcast-and-probe alone cost ~6 s of an ~11 s stage, and
    the band had to be materialized twice.

    Past ``KGSPARK_EMB_DICT_MAX`` rows (a per-entity embedding store
    rather than a dictionary) the join-based scorer takes over —
    identical output.

    Measured alternative (rejected in r2): a native zip_with/aggregate
    cosine keeps everything JVM-side but evaluates the lambda
    expression tree per element — 8× SLOWER than the Arrow-batched
    numpy kernel on the sf0.1 band (81.6 s vs 10.0 s)."""
    if n_emb is None:
        n_emb = embeddings.count()
    if n_emb > _emb_dict_max():
        return _score_band_join(band, embeddings)

    if embinfo is None:
        embinfo = _emb_prefilter(embeddings, n_emb)
    mat, acc = embinfo
    if mat is None:  # sparse id space — matrix indexing doesn't apply
        return _score_band_join(band, embeddings)

    # Bloom-style pre-filter (guide §3.2): only rows that can still be
    # accepted reach the Python kernel — already in on Jaccard,
    # same-vec (cosine ≡ 1), or a candidate vec pair from the driver
    # matmul.  Superset, same stage, no extra shuffle; with an EMPTY
    # candidate set no join is needed at all.
    if acc is not None:
        keep = (F.col("jaccard") >= G.JACCARD_TAU) | (
            F.col("vec_a") == F.col("vec_b")
        )
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

    # Independent UDF object + asNondeterministic: the acceptance
    # filter consumes the kernel's output column, and a deterministic
    # flag would let PushDownPredicates duplicate the kernel into two
    # ArrowEvalPython nodes (the round-2 double-eval finding).
    @pandas_udf_nondeterministic(T.DoubleType())
    def _cos_by_id(va: pd.Series, vb: pd.Series) -> pd.Series:
        import numpy as _np

        ia = va.to_numpy()
        ib = vb.to_numpy()
        ok = (ia >= 0) & (ia < mat.shape[0]) & (ib >= 0) & (ib < mat.shape[0])
        a = mat[_np.where(ok, ia, 0)]
        b = mat[_np.where(ok, ib, 0)]
        dots = _np.einsum("ij,ij->i", a, b)
        na = _np.sqrt(_np.einsum("ij,ij->i", a, a))
        nb = _np.sqrt(_np.einsum("ij,ij->i", b, b))
        res = dots / (na * nb)
        res = _np.where(ok, res, _np.nan)
        # same vec id ⇒ cosine is 1 by definition — avoids float-noise
        # flapping around the exactly-representable 1.0 grid point
        res = _np.where(ia == ib, 1.0, res)
        return pd.Series(res)

    scored = band.withColumn("cosine", _cos_by_id(F.col("vec_a"), F.col("vec_b")))
    accepted = scored.filter(
        (F.col("jaccard") >= G.JACCARD_TAU) | (F.col("cosine") >= G.COSINE_TAU)
    )
    return accepted.select("norm_a", "norm_b", "jaccard", "cosine")


def _score_band_join(band: DataFrame, embeddings: DataFrame) -> DataFrame:
    """Join-based scorer (the pre-r7 shape) for embedding stores too
    large for the in-kernel dictionary: cosine work deduplicated to
    the DISTINCT (vec_a, vec_b) pairs, scored table joined back.
    Identical output to the kernel path."""
    # the band subtree feeds TWO consumers (the distinct-vec-pair
    # build and the probe side) — share one materialization
    band = band.localCheckpoint(eager=False)
    emb = embeddings.select("vec_id", "embedding")
    vp = (
        band.filter(F.col("vec_a") != F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    scored_vp = (
        vp.join(
            emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a")),
            "vec_a",
        )
        .join(
            emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b")),
            "vec_b",
        )
        .select(
            "vec_a", "vec_b", _cosine_batch(F.col("emb_a"), F.col("emb_b")).alias("cosine")
        )
    )
    scored = band.join(scored_vp, ["vec_a", "vec_b"], "left").withColumn(
        # same vec id ⇒ cosine is 1 by definition — avoids float-noise
        # flapping around the exactly-representable 1.0 grid point
        "cosine",
        F.when(F.col("vec_a") == F.col("vec_b"), F.lit(1.0)).otherwise(F.col("cosine")),
    )
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


def _scored_edges_bitmask(
    norms: DataFrame,
    embeddings: DataFrame,
    vocab: list[str],
    tau: float,
    block_cap: int | None,
    verify_vocab: bool = False,
    n_emb: int | None = None,
) -> DataFrame | None:
    """Bitmask implementation of the exact set-similarity join (see
    scored_edges docstring): toksets are int64 masks over the ≤62-token
    dictionary; the global prefix order is the bit order.  Produces the
    identical edge set to the array path (tested).

    ``verify_vocab``: the dictionary came from the caller, not from a
    probe of the data — detect unknown tokens inside the one stats job
    that materializes ``groups`` anyway (zero extra jobs) and return
    ``None`` so the caller falls back to the exact array path."""
    vocab_lit = F.lit(vocab).cast("array<string>")

    # tokset -> bitmask + per-set prefix mask (lowest `plen` set bits).
    # Bit weights via shiftleft — pure int64, no double pow round-trip.
    bits = F.transform("tokset", lambda t: F.array_position(vocab_lit, t) - 1)

    def bit(i):
        return F.call_function("shiftleft", F.lit(1).cast("bigint"), i)

    coded = (
        norms.select(
            "norm_text",
            "vec_id",
            F.aggregate(
                bits, F.lit(0).cast("bigint"),
                lambda acc, i: acc.bitwiseOR(bit(i)),
            ).alias("mask"),
            F.array_sort(bits).alias("idx"),
        )
        .withColumn("len", F.size("idx"))
        .withColumn(
            "plen",
            (F.col("len") - F.ceil(F.lit(tau) * F.col("len")) + 1).cast("int"),
        )
        .withColumn(
            "pmask",
            F.aggregate(
                F.slice("idx", 1, F.col("plen")), F.lit(0).cast("bigint"),
                lambda acc, i: acc.bitwiseOR(bit(i)),
            ),
        )
        # unknown token ⇔ array_position returned 0 ⇔ a -1 bit index
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

    # ONE job: materializes the shared groups checkpoint and returns
    # both the group count (cartesian-vs-inverted dispatch) and the
    # unknown-token flag (vocab guard).
    stats = groups.agg(
        F.count("*").alias("n"), F.max("has_unk").alias("unk")
    ).collect()[0]
    if verify_vocab and bool(stats["unk"]):
        return None
    n_groups = int(stats["n"])

    # One embedding-dictionary fetch + driver matmul shared by the
    # mask-level prune and the band scorer (r7, guide §3.2).
    embinfo = None
    if n_emb is not None and n_emb <= _emb_dict_max():
        embinfo = _emb_prefilter(embeddings, n_emb)

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

    # (B-fast) small distinct-mask space: broadcast integer cartesian —
    # SLIM (mask, len) rows only; the jaccard predicate is 5 bit ops in
    # whole-stage codegen; members join back for the surviving pairs
    if n_groups <= CART_GROUPS_MAX:
        slim_a = groups.select(
            F.col("mask").alias("mask_a"), F.col("len").alias("len_a")
        )
        slim_b = groups.select(
            F.col("mask").alias("mask_b"), F.col("len").alias("len_b")
        )
        shared_c = F.bit_count(F.col("mask_a").bitwiseAND(F.col("mask_b")))
        tokset_pairs = (
            slim_a.join(
                F.broadcast(slim_b),
                (F.col("mask_a") < F.col("mask_b"))
                & (
                    # Jaccard >= tau requires min_len >= tau * max_len
                    F.least(F.col("len_a"), F.col("len_b")).cast("double")
                    >= F.lit(tau) * F.greatest(F.col("len_a"), F.col("len_b"))
                )
                & (
                    shared_c.cast("double")
                    >= F.lit(tau) * (F.col("len_a") + F.col("len_b") - shared_c)
                ),
            )
            .withColumn(
                "jaccard",
                shared_c.cast("double")
                / (F.col("len_a") + F.col("len_b") - shared_c),
            )
            .select("mask_a", "mask_b", "jaccard")
        )
        # Rejected after measurement: a mask-level arrays_overlap prune
        # before the member expansion — Catalyst pushes the predicate
        # INTO the broadcast-cartesian join condition, evaluating the
        # array intersection for all n_groups² candidate pairs (~5 s vs
        # the ~50 ms it would cost post-join).  The row-level prefilter
        # in _score_band already keeps the Python kernel input at
        # O(accepted), which is the win that matters.
        return _score_band(
            intra.unionByName(_expand_mask_pairs(tokset_pairs, groups)),
            embeddings, n_emb=n_emb, embinfo=embinfo,
        )

    # (B) cross-tokset: prefix-inverted, salted, bit-verified
    inv = groups.select(
        "mask", "len", "pmask",
        F.explode(F.slice("idx", 1, F.size("idx") - F.ceil(F.lit(tau) * F.size("idx")).cast("int") + 1)).alias("tok"),
    )
    if block_cap is not None:
        w_cnt = F.count("*").over(Window.partitionBy("tok"))
        inv = inv.withColumn("_bc", w_cnt).filter(F.col("_bc") <= block_cap).drop("_bc")

    SALT = 8
    salt = F.pmod(F.xxhash64("mask"), F.lit(SALT))
    a = (
        inv.withColumn("sa", salt)
        .withColumn("sb", F.explode(F.sequence(F.lit(0), F.lit(SALT - 1))))
        .alias("a")
    )
    b = (
        inv.withColumn("sb", salt)
        .withColumn("sa", F.explode(F.sequence(F.lit(0), F.lit(SALT - 1))))
        .alias("b")
    )
    shared_pref = F.col("a.pmask").bitwiseAND(F.col("b.pmask"))
    shared = F.bit_count(F.col("a.mask").bitwiseAND(F.col("b.mask")))
    tokset_pairs = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.sa") == F.col("b.sa"))
            & (F.col("a.sb") == F.col("b.sb"))
            & (F.col("a.mask") < F.col("b.mask"))
            & (
                # Jaccard >= tau requires min_len >= tau * max_len
                F.least(F.col("a.len"), F.col("b.len")).cast("double")
                >= F.lit(tau) * F.greatest(F.col("a.len"), F.col("b.len"))
            ),
        )
        # emit once: join token is the lowest set bit of the shared prefix
        .filter(
            F.pow(F.lit(2.0), F.col("a.tok")).cast("bigint")
            == shared_pref.bitwiseAND(-shared_pref)
        )
        .withColumn(
            "jaccard",
            shared.cast("double") / (F.col("a.len") + F.col("b.len") - shared),
        )
        .filter(F.col("jaccard") >= tau)
        .select(
            F.col("a.mask").alias("mask_a"),
            F.col("b.mask").alias("mask_b"),
            "jaccard",
        )
    )

    return _score_band(
        intra.unionByName(_expand_mask_pairs(tokset_pairs, groups)), embeddings,
        n_emb=n_emb, embinfo=embinfo,
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
