"""Deduplication operators for large-scale training-data pipelines
(task brief §training-data ops): exact, MinHash-LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

All hashes come from the SQL-expressible family in grammar.py so every
operator has an exact DuckDB oracle.  Shingles are token 3-grams
(NGRAM_N); a shingle's code is the rolling hash of its three token
codes (missing tokens at the tail hash as 0), and MinHash permutation
``i`` is  h_i(code) = (A_i·code + B_i) mod P  with banding
LSH_BANDS × LSH_ROWS.

The fixture corpus contains no real near-duplicates (max observed
trigram Jaccard ≈ 0.02), so the LSH operators emit their full
candidate+score output — the machinery under test — and the
threshold-decision step is exercised in tests/test_dedup.py on
injected synthetic near-dups.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import exprs as X
from . import grammar as G


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- shingling ----------------------------------------------------------------
def with_shingles(docs: DataFrame, repartition: bool = True) -> DataFrame:
    """documents → (doc_id, lang, source, shingles: array<bigint>) —
    distinct token-3-gram codes, native exprs only.

    ``repartition`` puts an exchange BELOW the projection: the fixture
    is a single parquet file (= 1 input partition) and every shingle
    consumer feeds an Arrow UDF — without the exchange the whole
    fingerprint stage runs serially."""
    if repartition:
        n = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
        # round-robin, not hash(doc_id): measured faster at sf0.1
        # (minhash 1.9 s vs 2.3 s, simhash 1.25 s vs 1.75 s warm) — the
        # perfectly even round-robin split beats hash imbalance for the
        # Arrow kernel stage tail, and the local sortBeforeRepartition
        # of 5-column doc rows is cheap
        docs = docs.repartition(n)
    toks = F.split("text", " ")

    def tc(col):  # tokcode with NULL → 0 (tail shingles)
        c = F.coalesce(col, F.lit(""))
        return (
            F.ascii(F.substring(c, 1, 1)).cast("bigint") * 65536
            + F.ascii(F.substring(c, 2, 1)).cast("bigint") * 256
            + F.length(c).cast("bigint")
        )

    # r7: tokcodes computed ONCE per token into a HOISTED column (the
    # old per-shingle form evaluated tc() on each token three times —
    # once per overlapping 3-gram; and a transform referenced from
    # inside another lambda is re-evaluated per access, so the hoist
    # must be a real projection).  Out-of-range gets are null → 0,
    # exactly tc('').  Measured 0.68 s → 0.17 s for the shingle
    # projection at sf0.1, identical output.
    tcs_col = F.col("_tcs")

    def scode(i):
        t1 = F.coalesce(F.get(tcs_col, i - 1), F.lit(0).cast("bigint"))
        t2 = F.coalesce(F.get(tcs_col, i), F.lit(0).cast("bigint"))
        t3 = F.coalesce(F.get(tcs_col, i + 1), F.lit(0).cast("bigint"))
        return ((t1 * 31 + t2) * 31 + t3) % F.lit(G.FP_MOD)

    idx = F.sequence(F.lit(1), F.greatest(F.size("_tcs") - 2, F.lit(1)))
    return docs.withColumn("_tcs", F.transform(toks, tc)).select(
        "doc_id",
        "lang",
        "source",
        F.array_distinct(F.transform(idx, scode)).alias("shingles"),
    )


# --- exact dedup ---------------------------------------------------------------
def exact_dup_groups(docs: DataFrame, prefix_tokens: int = 8) -> DataFrame:
    """Exact-duplicate groups by content key (hash-groupBy).  The
    fixture has no full-text duplicates, so the demo key is the first
    ``prefix_tokens`` tokens (23 groups at sf0.01); pass
    ``prefix_tokens=None`` for whole-text keys in production."""
    if prefix_tokens is None:
        key = F.split("text", " ")
    else:
        key = F.slice(F.split("text", " "), 1, prefix_tokens)
    return (
        docs.select("doc_id", X.fingerprint(key).alias("key_fp"))
        .groupBy("key_fp")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


# --- MinHash-LSH ----------------------------------------------------------------
@F.pandas_udf(T.ArrayType(T.LongType()))
def _minhash_sig(shingles: pd.Series) -> pd.Series:
    """64 MinHash values per shingle-code set — FULLY vectorized over
    the whole Arrow batch: all rows' codes flatten into one array, the
    (total_codes × 64) hash matrix is one numpy expression, and the
    per-row minima come from ``np.minimum.reduceat`` at the row
    offsets.  No per-row Python in the hot path (a per-row loop costs
    ~1 ms/doc; this is ~100× less)."""
    import numpy as np

    A = np.array([G.hash_a(i) for i in range(G.MINHASH_PERMS)], dtype=np.int64)
    B = np.array([G.hash_b(i) for i in range(G.MINHASH_PERMS)], dtype=np.int64)
    arrs = [np.asarray(a, dtype=np.int64) for a in shingles]
    if not arrs:
        return pd.Series([], dtype=object)
    lens = np.array([len(a) for a in arrs])
    flat = np.concatenate(arrs)                       # (N,)
    h = (flat[:, None] * A[None, :] + B[None, :]) % G.HASH_P  # (N, 64)
    starts = np.zeros(len(arrs), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    mins = np.minimum.reduceat(h, starts, axis=0)     # (rows, 64)
    return pd.Series(list(mins))


def _bands_of(shingled: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash) from a (doc_id, shingles) input."""
    sig = shingled.select("doc_id", _minhash_sig("shingles").alias("sig"))
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(G.LSH_BANDS - 1)),
        lambda j: F.struct(
            j.alias("band_id"),
            (
                F.get("sig", j * G.LSH_ROWS) * F.lit(G.HASH_P)
                + F.get("sig", j * G.LSH_ROWS + 1)
            ).alias("band_hash"),
        ),
    )
    return sig.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id", F.col("b.band_id"), F.col("b.band_hash")
    )


def minhash_bands(docs: DataFrame) -> DataFrame:
    """SLIM band rows (doc_id, band_id, band_hash) — LSH_BANDS rows per
    doc, ~24 payload bytes each.  Deliberately carries NO shingle
    arrays: a doc's shingle set would otherwise be duplicated into all
    LSH_BANDS band rows and ride through the candidate self-join
    shuffle (32× amplification of the widest column); shingles are
    joined back once per pair side in ``minhash_lsh_pairs`` instead."""
    return _bands_of(with_shingles(docs))


def minhash_lsh_pairs(docs: DataFrame, jaccard_min: float | None = None) -> DataFrame:
    """Candidate pairs sharing ≥1 LSH band, scored with their exact
    shingle-set Jaccard.  ``jaccard_min`` filters to decided near-dups
    (G.DEDUP_JACCARD_TAU for the standard dedup decision).

    Shuffle discipline: the band self-join moves only slim
    (doc_id, band_id, band_hash) rows; candidate id-pairs are DISTINCTed
    (a pair sharing k bands appears k times) and the shingle sets join
    back once per side to score — the shingle payload crosses the wire
    exactly twice per doc, never once per band."""
    # single shingling pass: the checkpointed shingle table feeds BOTH
    # the signature/banding path and the two score-join probes
    sh = with_shingles(docs).select("doc_id", "shingles").localCheckpoint(eager=False)
    b = _bands_of(sh).localCheckpoint(eager=False)
    a = b.alias("a")
    c = b.alias("c")
    cand = (
        a.join(
            c,
            (F.col("a.band_id") == F.col("c.band_id"))
            & (F.col("a.band_hash") == F.col("c.band_hash"))
            & (F.col("a.doc_id") < F.col("c.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("c.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    pairs = cand.join(
        sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")),
        "doc_a",
    ).join(
        sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")),
        "doc_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    out = pairs.select(
        "doc_a",
        "doc_b",
        (
            inter.cast("double")
            / (F.size("sh_a") + F.size("sh_b") - inter)
        ).alias("jaccard"),
    )
    if jaccard_min is not None:
        out = out.filter(F.col("jaccard") >= jaccard_min)
    return out


# --- SimHash ---------------------------------------------------------------------
@F.pandas_udf(T.LongType())
def _simhash(shingles: pd.Series) -> pd.Series:
    """SIMHASH_BITS-bit SimHash over shingle codes: bit b uses hash
    index SIMHASH_HASH_OFFSET+b of the shared family; bit set iff the
    majority of shingles hash to 1 (strictly positive vote sum).
    Fully batch-vectorized like ``_minhash_sig``: flatten the ragged
    rows, one (N × 62) bit matrix, per-row vote sums via
    ``np.add.reduceat``, bit packing as a single matrix-vector dot."""
    import numpy as np

    idx = [G.SIMHASH_HASH_OFFSET + b for b in range(G.SIMHASH_BITS)]
    A = np.array([G.hash_a(i) for i in idx], dtype=np.int64)
    B = np.array([G.hash_b(i) for i in idx], dtype=np.int64)
    arrs = [np.asarray(a, dtype=np.int64) for a in shingles]
    if not arrs:
        return pd.Series([], dtype="int64")
    lens = np.array([len(a) for a in arrs])
    flat = np.concatenate(arrs)
    bits = ((flat[:, None] * A[None, :] + B[None, :]) % G.HASH_P) & 1  # (N, 62)
    starts = np.zeros(len(arrs), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    votes = np.add.reduceat(2 * bits - 1, starts, axis=0)              # (rows, 62)
    weights = (np.int64(1) << np.arange(G.SIMHASH_BITS, dtype=np.int64))
    sims = (votes > 0).astype(np.int64) @ weights
    return pd.Series(sims)


def doc_simhash(docs: DataFrame) -> DataFrame:
    sh = with_shingles(docs)
    return sh.select("doc_id", "lang", _simhash("shingles").alias("simhash"))


def _simhash_segments(hamming_max: int) -> list[tuple[int, int, int]]:
    """(seg_id, bit_offset, mask) covering SIMHASH_BITS with
    hamming_max+1 contiguous segments (pigeonhole: ≤ hamming_max
    differing bits can dirty at most hamming_max segments, so any pair
    within the radius agrees on ≥1 whole segment)."""
    n_seg = hamming_max + 1
    base, extra = divmod(G.SIMHASH_BITS, n_seg)
    segs, off = [], 0
    for j in range(n_seg):
        size = base + (1 if j < extra else 0)
        segs.append((j, off, (1 << size) - 1))
        off += size
    return segs


def simhash_pairs(docs: DataFrame, hamming_max: int = G.HAMMING_TAU) -> DataFrame:
    """EXACT near-dup pairs by SimHash hamming distance ≤ hamming_max,
    blocked by pigeonhole segments (Manku et al., "Detecting
    Near-Duplicates for Web Crawling", WWW'07 — the permuted-table
    scheme expressed as a segment equi-join).

    The join key is (seg_id, seg_bits) — a similarity-preserving bucket
    of the fingerprint itself, never a metadata column: recall is 1.0
    by the pigeonhole argument and each block holds only docs agreeing
    on ~SIMHASH_BITS/(τ+1) fingerprint bits, so block sizes stay tiny
    at corpus scale (vs. the quadratic blow-up of lang/source
    blocking).  Verification is bit_count(xor) on the two full
    fingerprints; pair dedup is shuffle-free — a pair agreeing on k
    segments is emitted only from its FIRST agreeing segment."""
    # checkpoint the fingerprint table: the Arrow UDF runs ONCE, not
    # once per self-join side
    s = doc_simhash(docs).select("doc_id", "simhash").localCheckpoint(eager=False)
    segs = _simhash_segments(hamming_max)
    seg_arr = F.array(
        *[
            F.struct(
                F.lit(j).alias("seg_id"),
                F.shiftright("simhash", off).bitwiseAND(F.lit(mask)).alias("seg_bits"),
            )
            for j, off, mask in segs
        ]
    )
    inv = s.select("doc_id", "simhash", F.explode(seg_arr).alias("g")).select(
        "doc_id", "simhash", F.col("g.seg_id"), F.col("g.seg_bits")
    )
    a = inv.alias("a")
    b = inv.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))

    def seg_of(col, off, mask):
        return F.shiftright(col, off).bitwiseAND(F.lit(mask))

    # first agreeing segment of the pair (computable post-join from the
    # two full fingerprints — no extra shuffle for dedup)
    first_eq = F.coalesce(
        *[
            F.when(
                seg_of(F.col("a.simhash"), off, mask)
                == seg_of(F.col("b.simhash"), off, mask),
                F.lit(j),
            )
            for j, off, mask in segs
        ]
    )
    return (
        a.join(
            b,
            (F.col("a.seg_id") == F.col("b.seg_id"))
            & (F.col("a.seg_bits") == F.col("b.seg_bits"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(ham <= hamming_max)
        .filter(F.col("a.seg_id") == first_eq)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
    )


# --- n-gram Jaccard ----------------------------------------------------------------
def setsim_pairs(
    items: DataFrame,
    id_col: str,
    set_col: str,
    tau: float,
    block_cap: int | None = 1_000_000,
    salt: int = 8,
) -> DataFrame:
    """Generic EXACT set-similarity self-join: all (id_a < id_b) pairs
    with Jaccard(set_a, set_b) ≥ tau, via a SLIM count-based inverted
    index (the counting form of the all-pairs family — Bayardo et al.
    WWW'07 / PPJoin) rather than the array-carrying prefix join in
    link.py (right for ≤5-token mention sets, wrong for ~500-shingle
    documents):

    1. identical sets group once (group id = min member id — a plain
       int64, no fat group keys); intra-group pairs emit J = 1 directly;
    2. the inverted index holds only (gid, len, code) rows — NO code
       arrays ever enter a shuffle;
    3. candidates join on the code (a similarity-preserving key, never
       source/lang metadata) with the τ·max ≤ min length filter inline;
    4. |A∩B| = COUNT(*) per (gid_a, gid_b) — codes are distinct within
       a set, so one joined row per shared code; the groupBy gets
       map-side partial aggregation, collapsing pair multiplicity
       before the shuffle;
    5. HYBRID skew handling (round-5): double-sided deterministic
       salting spreads a hot code's pair-space over salt² tasks
       (per-KEY output skew is invisible to AQE) — but salting every
       row taxes the shuffle ×salt on both sides, which turned
       superlinear at the ×10 stress level (spill).  So only codes
       with df > ``hot_threshold`` take the salt² path; the cold tail
       (virtually all codes) joins unsalted, and both paths union
       BEFORE the per-pair count aggregate, so a pair sharing hot and
       cold codes still counts every shared code exactly once.
       ``block_cap`` drops codes hotter than the cap (exact on
       fixtures — the cap never triggers — and the standard web-scale
       guard when it does).
    """
    coded = items.select(
        F.col(id_col).alias("_id"), F.array_sort(set_col).alias("codes")
    ).withColumn("len", F.size("codes"))
    groups = (
        coded.groupBy("codes", "len")
        .agg(F.collect_list("_id").alias("members"), F.min("_id").alias("gid"))
        .localCheckpoint(eager=False)
    )

    # (A) identical sets ⇒ jaccard exactly 1
    intra = (
        groups.select(F.explode("members").alias("a"), F.col("members"))
        .select("a", F.explode("members").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .select(
            F.col("a").alias("id_a"), F.col("b").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )

    # (B) cross-group pairs via the slim count join
    inv = groups.select("gid", "len", F.explode("codes").alias("tok"))
    w_cnt = F.count("*").over(Window.partitionBy("tok"))
    inv = inv.withColumn("_df", w_cnt)
    if block_cap is not None:
        inv = inv.filter(F.col("_df") <= block_cap)
    hot_threshold = salt * 64

    pair_filter = (F.col("a.gid") < F.col("b.gid")) & (
        F.least(F.col("a.len"), F.col("b.len")).cast("double")
        >= F.lit(tau) * F.greatest(F.col("a.len"), F.col("b.len"))
    )

    def project(joined):
        return joined.select(
            F.col("a.gid").alias("gid_a"),
            F.col("b.gid").alias("gid_b"),
            F.col("a.len").alias("len_a"),
            F.col("b.len").alias("len_b"),
        )

    cold = inv.filter(F.col("_df") <= hot_threshold).drop("_df")
    joined = project(
        cold.alias("a").join(
            cold.alias("b"),
            (F.col("a.tok") == F.col("b.tok")) & pair_filter,
        )
    )
    hot = inv.filter(F.col("_df") > hot_threshold).drop("_df")
    skey = F.pmod(F.xxhash64("gid"), F.lit(salt))
    a = (
        hot.withColumn("sa", skey)
        .withColumn("sb", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
        .alias("a")
    )
    b = (
        hot.withColumn("sb", skey)
        .withColumn("sa", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
        .alias("b")
    )
    joined_hot = project(
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.sa") == F.col("b.sa"))
            & (F.col("a.sb") == F.col("b.sb"))
            & pair_filter,
        )
    )
    gid_pairs = (
        joined.unionByName(joined_hot)
        .groupBy("gid_a", "gid_b", "len_a", "len_b")
        .agg(F.count("*").alias("shared"))
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("len_a") + F.col("len_b") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= tau)
        .select("gid_a", "gid_b", "jaccard")
    )
    ga = groups.select(F.col("gid").alias("gid_a"), F.col("members").alias("members_a"))
    gb = groups.select(F.col("gid").alias("gid_b"), F.col("members").alias("members_b"))
    cross = (
        gid_pairs.join(ga, "gid_a")
        .join(gb, "gid_b")
        .select("jaccard", F.explode("members_a").alias("a"), "members_b")
        .select("jaccard", "a", F.explode("members_b").alias("b"))
        .select(
            F.least(F.col("a"), F.col("b")).alias("id_a"),
            F.greatest(F.col("a"), F.col("b")).alias("id_b"),
            "jaccard",
        )
    )
    return intra.unionByName(cross)


def ngram_jaccard_pairs(docs: DataFrame, jaccard_min: float = 0.01) -> DataFrame:
    """Exact token-3-gram Jaccard pairs with J ≥ jaccard_min, via the
    prefix-filtered set-similarity join over shingle codes — the join
    keys are shingles of the content itself (similarity-preserving),
    never a metadata column like source/lang."""
    sh = with_shingles(docs)
    pairs = setsim_pairs(sh, "doc_id", "shingles", jaccard_min)
    return pairs.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "jaccard"
    )


def dedup_clusters(
    docs: DataFrame, jaccard_min: float = G.DEDUP_JACCARD_TAU
) -> DataFrame:
    """The dedup DECISION step: near-dup pairs (MinHash-LSH candidates
    verified at ``jaccard_min``) → connected components → one canonical
    keeper per cluster (min doc_id).  Returns (doc_id, keep_doc_id) for
    every document that belongs to a near-dup cluster; a training-data
    pipeline keeps rows where doc_id == keep_doc_id and drops the rest.

    CC runs over zero-padded doc-id strings so the component's
    lexicographic min label IS the numeric min doc id (cc.py's label
    algebra is string-ordered).  That equivalence requires NON-NEGATIVE
    doc ids ('-5' would lpad to '000…-5' and break both the ordering and
    the keeper-min semantics), so the pad asserts it per row — a
    negative id fails the job loudly instead of silently mis-clustering."""
    from . import cc as cc_mod

    def pad(c):
        checked = F.when(
            F.assert_true(
                c >= 0, F.lit("dedup_clusters: doc_id must be non-negative")
            ).isNull(),
            c,
        )
        return F.lpad(checked.cast("string"), 20, "0")

    pairs = minhash_lsh_pairs(docs, jaccard_min=jaccard_min)
    edges = pairs.select(
        pad(F.col("doc_a")).alias("norm_a"), pad(F.col("doc_b")).alias("norm_b")
    )
    nodes = (
        edges.select(F.col("norm_a").alias("node"))
        .unionByName(edges.select(F.col("norm_b").alias("node")))
        .distinct()
    )
    labels = cc_mod.connected_components(edges, nodes)
    return labels.select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("label").cast("bigint").alias("keep_doc_id"),
    )


def contamination_flags(
    docs: DataFrame, eval_mod: int = 97, min_shared: int = 8
) -> DataFrame:
    """Train/eval CONTAMINATION check (training-data pipeline op): for
    every train document, the count of its token-3-gram codes that
    appear anywhere in the eval corpus, and a flag at ≥ ``min_shared``.

    Eval set here = ``doc_id % eval_mod == 0`` (a deterministic
    stand-in; at scale pass the real benchmark corpus through the same
    shingle kernel).  Scale shape: the eval CODE SET is corpus-small →
    broadcast; the train side is one explode + broadcast-hash semi
    join + a map-side-combined count per doc — no all-pairs, nothing
    quadratic, and a document sharing no code still reports 0 (left
    join back, no silent drops)."""
    sh = with_shingles(docs)
    is_eval = (F.col("doc_id") % eval_mod) == 0
    eval_codes = (
        sh.filter(is_eval)
        .select(F.explode("shingles").alias("code"))
        .distinct()
    )
    train = sh.filter(~is_eval)
    shared = (
        train.select("doc_id", F.explode("shingles").alias("code"))
        .join(F.broadcast(eval_codes), "code")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        train.select("doc_id")
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("bigint").alias("n_shared"),
            (F.coalesce(F.col("n_shared"), F.lit(0)) >= min_shared).alias("flagged"),
        )
    )


# --- Paragraph-granularity dedup (boilerplate removal, round 6) --------------
def paragraphs(docs: DataFrame, para_tokens: int = G.PARA_TOKENS) -> DataFrame:
    """documents → (doc_id, lang, source, para_id, text): deterministic
    fixed-size token windows standing in for paragraph boundaries (the
    fixture corpus has no newlines; on a real corpus the split
    expression swaps for split(text, '\\n\\n') and everything
    downstream is unchanged).  Native exprs only — the explode is the
    only row expansion, linear in corpus size."""
    toks = F.split("text", " ")
    nch = F.greatest(
        F.ceil(F.size(toks) / F.lit(para_tokens)).cast("int"), F.lit(1)
    )
    paras = F.transform(
        F.sequence(F.lit(0), nch - 1),
        lambda i: F.array_join(
            F.slice(toks, i * para_tokens + 1, para_tokens), " "
        ),
    )
    return docs.select(
        "doc_id", "lang", "source",
        F.posexplode(paras).alias("para_id", "text"),
    )


def para_minhash_pairs(
    docs: DataFrame, jaccard_min: float | None = None
) -> DataFrame:
    """Near-dup pairs at PARAGRAPH granularity — the boilerplate
    detector (VERDICT r5 #8): explode to paragraphs, key them
    pkey = doc_id·PARA_KEY_MUL + para_id, and run the UNCHANGED
    minhash-LSH machinery over the paragraph table — zero new
    pair-enumeration code, so every scale property of
    ``minhash_lsh_pairs`` (slim band shuffle, pair-distinct before the
    shingle join-back) carries over.  Same-document pairs are dropped
    (a doc repeating its own phrasing is not boilerplate); the
    remaining cross-document pairs are the shared-paragraph edges a
    boilerplate-removal pass would cut."""
    p = paragraphs(docs).withColumn(
        "_ok", F.assert_true(F.col("para_id") < F.lit(G.PARA_KEY_MUL))
    ).drop("_ok")
    keyed = p.select(
        (F.col("doc_id") * G.PARA_KEY_MUL + F.col("para_id")).alias("doc_id"),
        "lang", "source", "text",
    )
    pairs = minhash_lsh_pairs(keyed, jaccard_min=jaccard_min)
    mul = F.lit(G.PARA_KEY_MUL)
    return (
        pairs.filter(
            (F.col("doc_a") / mul).cast("bigint")
            != (F.col("doc_b") / mul).cast("bigint")
        )
        .select(
            (F.col("doc_a") / mul).cast("bigint").alias("doc_a"),
            (F.col("doc_a") % mul).cast("bigint").alias("para_a"),
            (F.col("doc_b") / mul).cast("bigint").alias("doc_b"),
            (F.col("doc_b") % mul).cast("bigint").alias("para_b"),
            "jaccard",
        )
    )


def containment_pairs(
    items: DataFrame,
    id_col: str,
    set_col: str,
    tau_e6: int = 800_000,
    block_cap: int | None = 1_000_000,
    salt: int = 8,
) -> DataFrame:
    """EXACT set-CONTAINMENT self-join: all (id_a < id_b) pairs where
    the SMALLER set is ≥ tau_e6/1e6 contained in the larger —
    C = |A∩B| / min(|A|,|B|), the asymmetric near-dup metric that
    catches a short document embedded verbatim inside a long one
    (Jaccard misses it: a 50-shingle doc inside a 5000-shingle doc has
    J ≈ 0.01 but C = 1).  Same slim count-based inverted index and
    hybrid hot-code salting as setsim_pairs, with one structural
    difference: containment admits NO length-ratio prune (any small
    set may be contained in any large one), so the candidate space is
    all code-sharing pairs — bounded by ``block_cap`` on code document
    frequency, the standard web-scale guard.  The score is INTEGER
    e6 (1e6·|∩| DIV min len): bit-identical across engines.
    """
    coded = items.select(
        F.col(id_col).alias("_id"), F.array_sort(set_col).alias("codes")
    ).withColumn("len", F.size("codes"))
    groups = (
        coded.groupBy("codes", "len")
        .agg(F.collect_list("_id").alias("members"), F.min("_id").alias("gid"))
        .localCheckpoint(eager=False)
    )

    intra = (
        groups.select(F.explode("members").alias("a"), F.col("members"))
        .select("a", F.explode("members").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .select(
            F.col("a").alias("id_a"), F.col("b").alias("id_b"),
            F.lit(1_000_000).cast("bigint").alias("cont_e6"),
        )
    )

    inv = groups.select("gid", "len", F.explode("codes").alias("tok"))
    inv = inv.withColumn("_df", F.count("*").over(Window.partitionBy("tok")))
    if block_cap is not None:
        inv = inv.filter(F.col("_df") <= block_cap)
    hot_threshold = salt * 64
    pair_filter = F.col("a.gid") < F.col("b.gid")

    def project(joined):
        return joined.select(
            F.col("a.gid").alias("gid_a"), F.col("b.gid").alias("gid_b"),
            F.col("a.len").alias("len_a"), F.col("b.len").alias("len_b"),
        )

    cold = inv.filter(F.col("_df") <= hot_threshold).drop("_df")
    joined = project(
        cold.alias("a").join(
            cold.alias("b"), (F.col("a.tok") == F.col("b.tok")) & pair_filter
        )
    )
    hot = inv.filter(F.col("_df") > hot_threshold).drop("_df")
    skey = F.pmod(F.xxhash64("gid"), F.lit(salt))
    a = (
        hot.withColumn("sa", skey)
        .withColumn("sb", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
        .alias("a")
    )
    b = (
        hot.withColumn("sb", skey)
        .withColumn("sa", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
        .alias("b")
    )
    joined_hot = project(
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.sa") == F.col("b.sa"))
            & (F.col("a.sb") == F.col("b.sb"))
            & pair_filter,
        )
    )
    gid_pairs = (
        joined.unionByName(joined_hot)
        .groupBy("gid_a", "gid_b", "len_a", "len_b")
        .agg(F.count("*").alias("shared"))
        .withColumn(
            "cont_e6",
            F.expr(
                "CAST(1000000 * shared AS BIGINT) DIV least(len_a, len_b)"
            ),
        )
        .filter(F.col("cont_e6") >= tau_e6)
        .select("gid_a", "gid_b", "cont_e6")
    )
    ga = groups.select(F.col("gid").alias("gid_a"), F.col("members").alias("members_a"))
    gb = groups.select(F.col("gid").alias("gid_b"), F.col("members").alias("members_b"))
    cross = (
        gid_pairs.join(ga, "gid_a")
        .join(gb, "gid_b")
        .select("cont_e6", F.explode("members_a").alias("a"), "members_b")
        .select("cont_e6", "a", F.explode("members_b").alias("b"))
        .select(
            F.least(F.col("a"), F.col("b")).alias("id_a"),
            F.greatest(F.col("a"), F.col("b")).alias("id_b"),
            "cont_e6",
        )
    )
    return intra.unionByName(cross)


def minhash_incremental_pairs(
    docs: DataFrame, new_pred_sql: str = "doc_id % 10 = 0"
) -> DataFrame:
    """INCREMENTAL near-dup detection — the arriving-batch form every
    production dedup pipeline actually runs: candidates are LSH band
    collisions where AT LEAST ONE side is in the new batch
    (``new_pred_sql``), so the old×old quadratic mass — already
    adjudicated when the index was built — is excluded INSIDE the join
    condition and never materializes in the shuffle.  At 100 TB the
    index side's band table is a stored artifact (written once by
    minhash_bands); per batch the cost is O(batch·bands) band rows +
    the collision join, independent of how many old-old pairs exist.
    Output: (doc_a, doc_b, pair_kind ∈ {new-new, new-old},
    jaccard_e6) with the exact integer shingle Jaccard."""
    sh = with_shingles(docs).select("doc_id", "shingles").localCheckpoint(eager=False)
    flags = docs.select("doc_id", F.expr(new_pred_sql).alias("is_new"))
    b = _bands_of(sh).join(flags, "doc_id").localCheckpoint(eager=False)
    a = b.alias("a")
    c = b.alias("c")
    cand = (
        a.join(
            c,
            (F.col("a.band_id") == F.col("c.band_id"))
            & (F.col("a.band_hash") == F.col("c.band_hash"))
            & (F.col("a.doc_id") < F.col("c.doc_id"))
            & (F.col("a.is_new") | F.col("c.is_new")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("c.doc_id").alias("doc_b"),
            F.when(F.col("a.is_new") & F.col("c.is_new"), F.lit("new-new"))
            .otherwise(F.lit("new-old"))
            .alias("pair_kind"),
        )
        .distinct()
    )
    pairs = cand.join(
        sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")),
        "doc_a",
    ).join(
        sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")),
        "doc_b",
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        "pair_kind",
        F.expr(
            "CAST((1000000 * size(array_intersect(sh_a, sh_b))) DIV "
            "(size(sh_a) + size(sh_b) - size(array_intersect(sh_a, sh_b))) "
            "AS BIGINT)"
        ).alias("jaccard_e6"),
    )


def minhash_calibration(docs: DataFrame) -> DataFrame:
    """MinHash ESTIMATOR CALIBRATION — the eval-metric companion to
    minhash_lsh_pairs: per LSH candidate pair, the signature-based
    Jaccard estimate (matching positions / MINHASH_PERMS, the unbiased
    MinHash estimator) next to the exact shingle-set Jaccard, both on
    the e6 integer grid, plus the absolute error.  This is how a
    production pipeline picks MINHASH_PERMS / bands: measure the
    estimator's error distribution on real candidates.  Plan shape =
    the pair join of minhash_lsh_pairs with the 64-long signature
    arrays joined back once per side (slim band rows still drive the
    candidate discovery)."""
    sh = with_shingles(docs).select("doc_id", "shingles").localCheckpoint(eager=False)
    sig = sh.select(
        "doc_id", _minhash_sig("shingles").alias("sig")
    ).localCheckpoint(eager=False)
    b = _bands_of(sh).localCheckpoint(eager=False)
    a = b.alias("a")
    c = b.alias("c")
    cand = (
        a.join(
            c,
            (F.col("a.band_id") == F.col("c.band_id"))
            & (F.col("a.band_hash") == F.col("c.band_hash"))
            & (F.col("a.doc_id") < F.col("c.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("c.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    pairs = (
        cand.join(
            sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")),
            "doc_a",
        )
        .join(
            sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")),
            "doc_b",
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")),
            "doc_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")),
            "doc_b",
        )
    )
    est = F.expr(
        "CAST((1000000 * aggregate(zip_with(sig_a, sig_b, "
        "(x, y) -> IF(x = y, CAST(1 AS BIGINT), CAST(0 AS BIGINT))), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc + v)) DIV {G.MINHASH_PERMS} AS BIGINT)"
    )
    exact = F.expr(
        "CAST((1000000 * size(array_intersect(sh_a, sh_b))) DIV "
        "(size(sh_a) + size(sh_b) - size(array_intersect(sh_a, sh_b))) AS BIGINT)"
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        est.alias("est_jaccard_e6"),
        exact.alias("exact_jaccard_e6"),
    ).withColumn(
        "abs_err_e6",
        F.abs(F.col("est_jaccard_e6") - F.col("exact_jaccard_e6")).cast("bigint"),
    )


def winnow_fingerprints(docs: DataFrame, w: int = G.WINNOW_W) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer et al., MOSS): the
    positional token-3-gram code stream per document, trailing windows
    of ``w`` consecutive codes, each full window selecting its minimum
    → the distinct selected (doc_id, code) set at ~2/(w+1) density.

    Scale shape: the explode emits slim (doc_id, pos, code) rows — no
    token array ever enters the per-doc window exchange — and the
    window itself is a bounded ROWS frame (linear, no sort spill risk
    beyond the per-doc sequence)."""
    n = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    docs = docs.repartition(n)  # fixture = 1 file = 1 input partition
    toks = F.split("text", " ")

    def tc(col):
        c = F.coalesce(col, F.lit(""))
        return (
            F.ascii(F.substring(c, 1, 1)).cast("bigint") * 65536
            + F.ascii(F.substring(c, 2, 1)).cast("bigint") * 256
            + F.length(c).cast("bigint")
        )

    def scode(i):
        t1 = tc(F.get(toks, i - 1))
        t2 = tc(F.get(toks, i))
        t3 = tc(F.get(toks, i + 1))
        return ((t1 * 31 + t2) * 31 + t3) % F.lit(G.FP_MOD)

    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - 2, F.lit(1)))
    pc = docs.select(
        "doc_id",
        F.posexplode(F.transform(idx, scode)).alias("pos0", "code"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "code")
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(w - 1), Window.currentRow)
    )
    sel = pc.withColumn("wmin", F.min("code").over(win)).filter(
        (F.col("pos") >= w) & (F.col("code") == F.col("wmin"))
    )
    return sel.select("doc_id", "code").distinct()
