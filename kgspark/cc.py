"""Connected components over a sameAs edge DataFrame (SURVEY.md
O20/O43).

Twine merges proxies pairwise per message (spindle correlate `[U~]`);
at batch scale that is connected components.  ``connected_components``
has one path per scale and no options:

* at or below ``DRIVER_THRESHOLD`` edges, an exact union-find runs on
  the driver over the edge endpoints (singletons never leave the
  cluster);
* above it, large-star/small-star contraction (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", 2014) runs as
  DataFrame rounds.  It converges in about O(log n) rounds whatever the
  graph's diameter, so a long coreference chain cannot exhaust the
  round cap the way min-label propagation's O(diameter) rounds can.

Both paths label every node with the lexicographic min member of its
component, and they agree label for label (tests/test_cc*.py).

There is no hand-written salt for hub entities (one IRI in a large
share of documents).  Contraction's per-node ``min`` is combined
map-side by Spark's partial aggregation, which is what a two-phase
salted min did by hand, and the hub side of its neighbour join is split
at run time by AQE's skew join (enabled in session.py).  On a
200k-spoke hub star forced onto contraction (``local[4]``) the largest
task of any stage read 1.9 MB of shuffle, and a salted min-label loop
read the same 2.1 MB as an unsalted one; the figures are in CHANGES.md.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Edges at or below which the union-find runs on the driver: 500k edges
# are about 50 MB of endpoint strings, safe on a shared driver JVM.
DRIVER_THRESHOLD = 500_000
# Contraction rounds before giving up loudly.  Measured: 1 round on a
# 200k-spoke hub star, 6 on the sf0.1 coref graph, 16 on a 20k-node
# chain.
MAX_ROUNDS = 50


def connected_components(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """edges: (norm_a, norm_b) undirected; nodes: one ``node`` column
    of every node id (singletons included).  Returns (node, label)
    where label is the lexicographic min member of the component.

    One bounded job decides the path and fetches the edge list as
    Arrow columns: ``limit(DRIVER_THRESHOLD + 1)`` returns every edge
    when the graph fits, so the fetched rows are the full edge list
    for the union-find.  Past the threshold those at most
    ``DRIVER_THRESHOLD + 1`` rows are discarded and contraction takes
    over; a separate count probe would instead add a Spark job to every
    build, all of whose graphs take the driver path."""
    probe = edges.select("norm_a", "norm_b").limit(DRIVER_THRESHOLD + 1).toArrow()
    if probe.num_rows <= DRIVER_THRESHOLD:
        rows = zip(probe["norm_a"].to_pylist(), probe["norm_b"].to_pylist())
        return _driver_union_find(nodes, rows)
    return _contraction_cc(edges, nodes)


def _driver_union_find(nodes: DataFrame, rows) -> DataFrame:
    """Union-find with path halving over the edge endpoint pairs
    ``rows`` (bounded by 2·``DRIVER_THRESHOLD`` strings).  Singleton
    nodes are their own component by definition and never reach the
    driver: they get label = node through the distributed join below,
    so a corpus with few edges but billions of isolated mentions cannot
    exhaust the driver."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    # uploaded through Arrow from pandas, not as per-row py4j objects
    ep = nodes.sparkSession.createDataFrame(
        pd.DataFrame({"node": list(parent), "label": [find(n) for n in parent]}),
        "node string, label string",
    )
    # One broadcast left join: every caller node gets its endpoint label
    # or, as a singleton, itself; endpoints outside the caller's node set
    # drop out because the join starts from the nodes.  ep is bounded by
    # the threshold that gated the fetch, so the broadcast is safe.  The
    # result is checkpointed with eager=False, which under AQE still runs
    # the node-distinct shuffle at call time: every downstream consumer
    # would otherwise re-execute the node-distinct and the join.
    return (
        nodes.select("node")
        .join(F.broadcast(ep), "node", "left")
        .select("node", F.coalesce("label", F.col("node")).alias("label"))
        .localCheckpoint(eager=False)
    )


def _contraction_cc(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al. 2014):

        large-star(E): per node u, m = min(Γ(u) ∪ {u});
                       emit (v, m) for every neighbor v > u
        small-star(E): direct edges large→small; per node u,
                       m = min of u's smaller neighbors;
                       emit (v, m) for those neighbors and (u, m)

    Alternating the two converges to a union of star graphs centred on
    each component's min node.  Every step is a groupBy-min plus an
    equi-join on the node id; ``localCheckpoint`` cuts lineage per
    round.  Convergence test: the (xor-hash, count) fingerprint of the
    canonical (larger, smaller) edge set is a fixpoint."""

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
    for _ in range(MAX_ROUNDS):
        cur = small_star(large_star(cur)).localCheckpoint(eager=True)
        f = fingerprint(cur)
        if f == prev_fp:
            break
        prev_fp = f
    else:
        # returning here would split components that have not finished
        # contracting: fail loudly instead
        raise RuntimeError(
            f"connected_components: no fixpoint after {MAX_ROUNDS} "
            "contraction rounds"
        )
    # fixpoint = stars: every non-min node has exactly one edge to its
    # component min; minima and singletons label themselves
    node_ids = nodes.select("node")
    labeled = cur.select(F.col("a").alias("node"), F.col("b").alias("label")).join(
        node_ids, "node", "left_semi"
    )
    selfs = node_ids.join(labeled.select("node"), "node", "left_anti").select(
        "node", F.col("node").alias("label")
    )
    return labeled.unionByName(selfs)
