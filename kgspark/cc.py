"""Iterative connected components over a sameAs edge DataFrame
(SURVEY.md O20/O43; north_rule: union-find via DataFrame self-joins with
salted keys for hub-entity skew).

Twine merges proxies pairwise per message (spindle correlate `[U~]`);
at batch scale that is connected components.  Algorithm: min-label
propagation to fixpoint —

    label(v) ← min(label(v), min over neighbors u of label(u))

which converges in O(diameter) rounds; labels only decrease, so
``changed = count(new < old)`` is an exact convergence test.  Each
round is a pure DataFrame job; ``localCheckpoint`` cuts lineage so
plans don't grow (§4: Catalyst has no fixpoint operator — the loop is
driver-side).

Skew handling (hub entities: one IRI in 30% of docs):
* the propagate join shuffles on ``src`` — AQE skew-join splits
  oversized partitions at runtime (enabled in session.py);
* optional **deterministic salting** (``salt_buckets > 1``): the min
  aggregation per node is computed in two phases,
  groupBy(node, pmod(xxhash64(label), S)) → groupBy(node), bounding
  any single reducer's input — the classic hot-key two-phase combine.
Both paths produce identical labels (tested).

For graphs with giant diameters, min-propagation's O(diameter) rounds
blow up; ``algorithm="contraction"`` switches to large-star/small-star
alternation (Kiveris et al., "Connected Components in MapReduce and
Beyond"), which converges in ~O(log n) rounds regardless of diameter.
Mention-coref graphs have tiny diameters (components are near-cliques),
so min-propagation with early exit stays the default; the contraction
path is the implemented (and label-identical, tested) scale-up lever.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Adaptive driver/distributed switchover for the exact union-find fast
# path.  500k edges ≈ 50 MB of collected endpoint strings — safe on a
# shared driver (round-4 verdict #7 dropped this from 5M/500MB, which
# was aggressive for a multi-tenant driver JVM).  Deployments with fat
# drivers can raise it via KGSPARK_CC_DRIVER_THRESHOLD; both paths are
# label-identical (tested), so the knob is latency-only.
DEFAULT_DRIVER_THRESHOLD = 500_000


def _driver_threshold_default() -> int:
    return int(
        os.environ.get("KGSPARK_CC_DRIVER_THRESHOLD", DEFAULT_DRIVER_THRESHOLD)
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    node_col: str = "node",
    max_iter: int = 50,
    salt_buckets: int = 1,
    driver_threshold: int | None = None,
    algorithm: str = "auto",
) -> DataFrame:
    """edges: (norm_a, norm_b) undirected; nodes: 1-col DataFrame of all
    node ids (singletons included).  Returns (node, label) where label =
    lexicographic min member of the component.

    Adaptive execution: the coref graph lives at DISTINCT-mention-text
    granularity, typically orders of magnitude smaller than the corpus
    (sf0.1: 78 k mentions → 15.6 k nodes / 48 k edges), so below
    ``driver_threshold`` edges (default DEFAULT_DRIVER_THRESHOLD =
    500k, ≈50 MB collected; env-overridable via
    KGSPARK_CC_DRIVER_THRESHOLD) the exact union-find runs driver-local
    (collect + path-halving) — eliminating ~10 iteration-scheduling
    round-trips.  Past the threshold the distributed
    min-label-propagation loop below takes over.  Both paths produce
    identical labels (tested).

    The driver path only ever collects EDGE ENDPOINTS (≤ 2·n_edges
    strings, bounded by the same threshold that gated the collect);
    singleton nodes — which are their own component by definition —
    never leave the cluster: they get label = node via a distributed
    anti-join.  An open-vocabulary corpus with few edges but billions
    of isolated mentions therefore cannot OOM the driver (round-2
    verdict finding #3).

    ``algorithm``: "auto" (adaptive driver/min-label, the default),
    "minlabel" (force the distributed propagation loop), or
    "contraction" (large-star/small-star — O(log n) rounds, the
    high-diameter path)."""
    spark = edges.sparkSession
    if algorithm == "contraction":
        return _contraction_cc(edges, nodes, node_col, max_iter)
    if algorithm == "minlabel":
        return _distributed_cc(edges, nodes, node_col, max_iter, salt_buckets)
    if driver_threshold is None:
        driver_threshold = _driver_threshold_default()
    # ONE bounded job decides the path AND fetches the edge list, as
    # Arrow columns rather than py4j Rows (~5× cheaper at sf0.1):
    # limit(threshold+1) collects at most threshold+1 endpoint pairs —
    # when the graph fits, limit of a superset-sized frame returns
    # every row, so the collected rows ARE the full edge list and the
    # old count-then-collect pair of jobs collapses into one.  Past
    # the threshold the (bounded, ≤ threshold+1-row) partial collect
    # is discarded and the distributed loop takes over.  The driver
    # never receives more rows than the old count-guarded collect
    # allowed, so the OOM argument is unchanged.
    probe = edges.select("norm_a", "norm_b").limit(driver_threshold + 1).toArrow()
    if probe.num_rows <= driver_threshold:
        rows = zip(probe["norm_a"].to_pylist(), probe["norm_b"].to_pylist())
        return _driver_union_find(edges, nodes, node_col, rows=rows)
    return _distributed_cc(edges, nodes, node_col, max_iter, salt_buckets)


def _driver_union_find(
    edges: DataFrame, nodes: DataFrame, node_col: str, rows=None
) -> DataFrame:
    spark = edges.sparkSession
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    # union-find over edge endpoints ONLY (bounded by 2·n_edges);
    # ``rows`` lets connected_components pass the edge list it already
    # fetched for the path decision instead of re-running the scan
    if rows is None:
        rows = edges.select("norm_a", "norm_b").collect()
    for a, b in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    # uploaded through Arrow from pandas, not as per-row py4j objects
    ep = spark.createDataFrame(
        pd.DataFrame({"node": list(parent), "label": [find(n) for n in parent]}),
        "node string, label string",
    )
    node_ids = nodes.select(F.col(node_col).alias("node"))
    # One BROADCAST left join replaces the old semi+anti pair (two
    # shuffles → zero): every caller node gets its endpoint label or —
    # singleton — itself; endpoints outside the caller's node set drop
    # out by construction (we start from node_ids).  ep is bounded by
    # the same driver_threshold that gated the collect, so the
    # broadcast is safe by the same argument.  The result is
    # checkpointed with eager=False, which under AQE still runs the
    # node-distinct shuffle at call time: every downstream consumer
    # otherwise re-executes the node-distinct + join (r7).
    return (
        node_ids.join(F.broadcast(ep), "node", "left")
        .select("node", F.coalesce("label", F.col("node")).alias("label"))
        .localCheckpoint(eager=False)
    )


def _distributed_cc(
    edges: DataFrame,
    nodes: DataFrame,
    node_col: str,
    max_iter: int,
    salt_buckets: int,
) -> DataFrame:
    spark = edges.sparkSession
    bidir = (
        edges.select(F.col("norm_a").alias("src"), F.col("norm_b").alias("dst"))
        .unionByName(
            edges.select(F.col("norm_b").alias("src"), F.col("norm_a").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = nodes.select(
        F.col(node_col).alias("node"), F.col(node_col).alias("label")
    ).localCheckpoint(eager=True)

    changed = 0
    for _ in range(max_iter):
        # messages carry is_old=0; the node's own row carries is_old=1 —
        # one aggregation yields BOTH the new min-label and the previous
        # label (max over the is_old branch), so convergence detection
        # needs no extra join
        msgs = (
            bidir.join(labels, bidir.src == labels.node)
            .select(F.col("dst").alias("node"), "label")
            .withColumn("is_old", F.lit(0))
        )
        cand = msgs.unionByName(
            labels.select("node", "label").withColumn("is_old", F.lit(1))
        )
        old_label = F.max(F.when(F.col("is_old") == 1, F.col("label")))
        if salt_buckets > 1:
            # two-phase salted min: bound per-reducer input on hub nodes
            partial = (
                cand.withColumn(
                    "salt", F.pmod(F.xxhash64("label"), F.lit(salt_buckets))
                )
                .groupBy("node", "salt")
                .agg(F.min("label").alias("label"), old_label.alias("old_label"))
            )
            new_labels = partial.groupBy("node").agg(
                F.min("label").alias("label"),
                F.max("old_label").alias("old_label"),
            )
        else:
            new_labels = cand.groupBy("node").agg(
                F.min("label").alias("label"), old_label.alias("old_label")
            )
        new_labels = new_labels.withColumn(
            "changed", F.col("label") < F.col("old_label")
        ).localCheckpoint(eager=True)

        changed = new_labels.filter("changed").limit(1).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    if changed != 0:
        # returning silently here would split components whose diameter
        # exceeds max_iter — exactly the long-chain graphs that reach
        # this distributed path.  Fail loudly; the caller can raise
        # max_iter (or switch to large-star/small-star contraction).
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iter} rounds "
            "(graph diameter > max_iter); raise max_iter"
        )
    return labels


def _contraction_cc(
    edges: DataFrame,
    nodes: DataFrame,
    node_col: str,
    max_iter: int,
) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond" — public algorithm):

        large-star(E): per node u, m = min(Γ(u) ∪ {u});
                       emit (v, m) for every neighbor v > u
        small-star(E): direct edges large→small; per node u,
                       m = min of u's smaller neighbors;
                       emit (v, m) for those neighbors and (u, m)

    Alternating the two converges in ~O(log n) rounds to a union of
    star graphs centered at each component's min node — independent of
    graph DIAMETER, unlike min-label propagation's O(diameter).  Every
    step is a groupBy-min plus an equi-join on the node id (shuffle on
    one key; AQE splits skewed hubs); ``localCheckpoint`` cuts lineage
    per round.  Convergence test: the canonical (larger, smaller) edge
    set's (xor-hash, count) fingerprint is a fixpoint.

    Label algebra matches the other two paths exactly (lexicographic
    min member), so the three implementations are interchangeable —
    asserted in tests/test_cc_contraction.py."""
    spark = edges.sparkSession

    def canon(e: DataFrame) -> DataFrame:
        return (
            e.select(
                F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def fingerprint(e: DataFrame) -> tuple[int, int]:
        r = e.select(
            F.bit_xor(F.xxhash64("a", "b")).alias("f"), F.count("*").alias("n")
        ).collect()[0]
        return (int(r["f"] or 0), int(r["n"] or 0))

    def large_star(e: DataFrame) -> DataFrame:
        nbrs = e.unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).distinct()
        m = (
            nbrs.groupBy("a")
            .agg(F.min("b").alias("mb"))
            .select("a", F.least("mb", F.col("a")).alias("m"))
        )
        return (
            nbrs.join(m, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        d = canon(e)  # (a, b) with a > b: edges directed large→small
        m = d.groupBy("a").agg(F.min("b").alias("m"))
        return (
            d.join(m, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .unionByName(m.select("a", F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    cur = canon(
        edges.select(F.col("norm_a").alias("a"), F.col("norm_b").alias("b"))
    ).localCheckpoint(eager=True)
    prev_fp = fingerprint(cur)
    converged = False
    for _ in range(max_iter):
        cur = small_star(large_star(cur)).localCheckpoint(eager=True)
        f = fingerprint(cur)
        if f == prev_fp:
            converged = True
            break
        prev_fp = f
    if not converged:
        raise RuntimeError(
            f"contraction_cc: no fixpoint after {max_iter} rounds; "
            "raise max_iter"
        )
    # fixpoint = stars: every non-min node has exactly one edge to its
    # component min; minima and singletons label themselves
    node_ids = nodes.select(F.col(node_col).alias("node"))
    labeled = (
        cur.select(F.col("a").alias("node"), F.col("b").alias("label"))
        .join(node_ids, "node", "left_semi")
    )
    selfs = node_ids.join(labeled.select("node"), "node", "left_anti").select(
        "node", F.col("node").alias("label")
    )
    return labeled.unionByName(selfs)


def pagerank_int(
    edges: DataFrame,
    nodes: DataFrame,
    n_iter: int = 5,
    node_col: str = "node",
) -> DataFrame:
    """Integer-exact PageRank (µ-unit scores): ``edges`` directed
    (src, dst), ``nodes`` one column of ids (isolated nodes included).

        score₀ = 1_000_000
        scoreₖ₊₁ = 150_000 + (17 · Σ_in (scoreₖ div outdeg)) div 20

    Damping 0.85 = 17/20 and integer division per edge keep every
    operation in BIGINT, so the result is order-independent —
    bit-identical across engines and partitionings (float PageRank is
    not; see queries.entity_pagerank's DuckDB oracle, which unrolls
    the same iterations as CTEs).  Each round is one edge equi-join +
    one map-side-combined aggregate: O(E) per round, the same plan
    family as the CC loop; lineage cut per round."""
    nd = nodes.select(F.col(node_col).alias("node")).distinct()
    e = edges.select(
        F.col(edges.columns[0]).alias("src"), F.col(edges.columns[1]).alias("dst")
    ).localCheckpoint(eager=False)
    deg = e.groupBy("src").agg(F.count("*").alias("d"))
    score = nd.withColumn("score", F.lit(1_000_000).cast("bigint"))
    for _ in range(n_iter):
        contrib = (
            e.join(score.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .select(F.col("dst").alias("node"), F.expr("score div d").alias("c"))
        )
        inc = contrib.groupBy("node").agg(F.sum("c").alias("inc"))
        score = nd.join(inc, "node", "left").select(
            "node",
            (
                F.lit(150_000).cast("bigint")
                + F.expr("(17 * coalesce(inc, 0)) div 20")
            ).cast("bigint").alias("score"),
        ).localCheckpoint(eager=False)
    return score


def kcore(
    edges: DataFrame,
    k: int = 3,
    node_col: str = "node",
    max_rounds: int = 50,
) -> DataFrame:
    """k-core membership by iterative peeling: repeatedly drop nodes
    whose degree over the SURVIVING subgraph is < k, until a fixpoint.
    ``edges`` directed both ways (src, dst) — an undirected pair
    appears in both orientations, so groupBy(src) counts full degree.

    Each round is two semi-joins (restrict edges to survivors) + one
    map-side-combined degree aggregate — O(E) per round, lineage cut
    per round, ONE scalar count per round on the driver (the
    fixpoint/early-stop test; bounded by max_rounds).  Peeling depth
    is typically tiny (≤5 on the fixture graph); the DuckDB oracle
    unrolls a fixed 8 rounds, which the fixpoint semantics here make
    identical once converged."""
    e0 = edges.select(
        F.col(edges.columns[0]).alias("src"), F.col(edges.columns[1]).alias("dst")
    ).localCheckpoint(eager=False)
    cur = e0
    n_prev = -1
    for _ in range(max_rounds):
        survivors = (
            cur.groupBy("src").agg(F.count("*").alias("d"))
            .filter(F.col("d") >= k)
            .select(F.col("src").alias("node"))
            .localCheckpoint(eager=False)
        )
        n = survivors.count()
        if n == n_prev:
            break
        n_prev = n
        cur = (
            e0.join(
                survivors.withColumnRenamed("node", "src"), "src", "left_semi"
            )
            .join(
                survivors.withColumnRenamed("node", "dst"), "dst", "left_semi"
            )
            .localCheckpoint(eager=False)
        )
    return survivors.select(F.col("node").alias(node_col))


def label_propagation(
    edges: DataFrame,
    nodes: DataFrame,
    n_iter: int = 4,
    node_col: str = "node",
) -> DataFrame:
    """SYNCHRONOUS label propagation, deterministic variant: labels
    start as the node id; each round every node adopts the most
    frequent label among its neighbors, ties broken by MINIMUM label
    (so the result is a pure function of the graph — classic async
    LPA is run-order dependent).  Fixed n_iter rounds on every engine
    — sync LPA can oscillate, so the round count is part of the
    operator's definition, not a convergence knob.

    Each round: one edge join + (node, label) count aggregate + a
    per-node top-1 window (rn <= 1 keeps WindowGroupLimit) + a left
    join back (isolated nodes keep their label) — O(E) per round."""
    from pyspark.sql import Window

    nd = nodes.select(F.col(node_col).alias("node")).distinct()
    e = edges.select(
        F.col(edges.columns[0]).alias("src"), F.col(edges.columns[1]).alias("dst")
    ).localCheckpoint(eager=False)
    lab = nd.withColumn("label", F.col("node"))
    w = Window.partitionBy("node").orderBy(F.desc("cnt"), F.asc("label"))
    for _ in range(n_iter):
        neigh = (
            e.join(
                lab.select(F.col("node").alias("dst"), "label"), "dst"
            )
            .groupBy(F.col("src").alias("node"), "label")
            .agg(F.count("*").alias("cnt"))
        )
        win = (
            neigh.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 1)
            .select("node", F.col("label").alias("new_label"))
        )
        lab = (
            lab.join(win, "node", "left")
            .select(
                "node",
                F.coalesce("new_label", "label").alias("label"),
            )
            .localCheckpoint(eager=False)
        )
    return lab.select(F.col("node").alias(node_col), "label")


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    n_rounds: int = 4,
    node_col: str = "node",
) -> DataFrame:
    """Multi-source BFS hop distance with a FIXED round count (the
    round count is part of the operator definition — the DuckDB
    oracle unrolls the same rounds, so truncation at the horizon is
    identical on both engines).  ``edges`` directed both ways for an
    undirected graph; ``seeds`` one column of start nodes (dist 0);
    nodes unreached within ``n_rounds`` are absent from the output.

    Frontier form: each round restricts the edge frame to the
    newly-settled frontier (semi-join), anti-joins the expansion
    against the settled set, and cuts lineage — O(E_frontier) per
    round with no driver-side state, the textbook distributed-BFS
    shape (both the frontier and the settled set are node-id-keyed
    shuffles that survive a 100× scale-up)."""
    e = edges.select(
        F.col(edges.columns[0]).alias("src"), F.col(edges.columns[1]).alias("dst")
    ).localCheckpoint(eager=False)
    settled = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("int"))
        .localCheckpoint(eager=False)
    )
    frontier = settled.select("node")
    for r in range(1, n_rounds + 1):
        nxt = (
            e.join(frontier.withColumnRenamed("node", "src"), "src", "left_semi")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(settled.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(r).cast("int"))
            .localCheckpoint(eager=False)
        )
        settled = settled.unionByName(nxt)
        frontier = nxt.select("node")
    return settled.select(F.col("node").alias(node_col), "dist")


def ppr_int(
    nodes_seeded: DataFrame,
    edges: DataFrame,
    n_iter: int = 4,
    node_col: str = "node",
) -> DataFrame:
    """Integer-exact PERSONALIZED PageRank (µ-unit scores).
    ``nodes_seeded`` carries (node, is_seed boolean); ``edges`` is the
    directed (src, dst) frame.

        score₀ = is_seed ? 1_000_000 : 0
        scoreₖ₊₁ = (is_seed ? 150_000 : 0)
                   + (17 · Σ_in (scoreₖ div outdeg)) div 20

    The teleport mass returns ONLY to the seed set — the classic
    seed-restricted recommendation/relatedness primitive — while the
    propagation term is identical to pagerank_int, so every operation
    stays in BIGINT and the result is bit-identical across engines and
    partitionings.  Scale shape: one edge equi-join + one
    map-side-combined aggregate per round, O(E)·n_iter, lineage cut
    per round; the seed indicator rides the slim node frame (never the
    edge shuffle)."""
    nd = nodes_seeded.select(
        F.col(node_col).alias("node"), F.col("is_seed").cast("boolean")
    ).distinct()
    e = edges.select(
        F.col(edges.columns[0]).alias("src"), F.col(edges.columns[1]).alias("dst")
    ).localCheckpoint(eager=False)
    deg = e.groupBy("src").agg(F.count("*").alias("d"))
    base = F.when(F.col("is_seed"), F.lit(150_000).cast("bigint")).otherwise(
        F.lit(0).cast("bigint")
    )
    score = nd.withColumn(
        "score",
        F.when(F.col("is_seed"), F.lit(1_000_000).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        ),
    )
    for _ in range(n_iter):
        contrib = (
            e.join(score.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .select(F.col("dst").alias("node"), F.expr("score div d").alias("c"))
        )
        inc = contrib.groupBy("node").agg(F.sum("c").alias("inc"))
        score = (
            nd.join(inc, "node", "left")
            .select(
                "node",
                "is_seed",
                (base + F.expr("(17 * coalesce(inc, 0)) div 20"))
                .cast("bigint")
                .alias("score"),
            )
            .localCheckpoint(eager=False)
        )
    return score


def clustering_int(pairs: DataFrame, node_col: str = "node") -> DataFrame:
    """Local clustering coefficient, integer-exact: per node over the
    UNDIRECTED distinct pair frame (a < b columns),

        clustering_e6 = (2_000_000 · triangles) div (deg · (deg − 1))

    for deg ≥ 2, else 0.  Triangles enumerate once over ordered edges
    (the O(E^{3/2}) 3-way equi-join shared with triangle counting),
    degree is one map-side-combined aggregate over the bidirectional
    frame, and the coefficient is a pure integer expression — no float
    division crosses the engine boundary.  Output: (node, degree,
    n_triangles, clustering_e6) for every node with degree ≥ 1."""
    a_col, b_col = pairs.columns[0], pairs.columns[1]
    p = pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b")).localCheckpoint(
        eager=False
    )
    deg = (
        p.select(F.col("a").alias("node"))
        .unionByName(p.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("degree"))
    )
    ab = p.select("a", "b")
    bc = p.select(F.col("a").alias("b"), F.col("b").alias("c"))
    ac = p.select(F.col("a").alias("a"), F.col("b").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
    )
    tcounts = corners.groupBy("node").agg(F.count("*").cast("bigint").alias("n_triangles"))
    return (
        deg.join(tcounts, "node", "left")
        .select(
            F.col("node").alias(node_col),
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("bigint").alias("n_triangles"),
            F.expr(
                "CASE WHEN degree >= 2 THEN (2000000 * coalesce(n_triangles, 0))"
                " DIV (degree * (degree - 1)) ELSE 0 END"
            )
            .cast("bigint")
            .alias("clustering_e6"),
        )
    )
