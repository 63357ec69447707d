"""``serve`` workload: read and write traffic on a KG built in set-up.

Two stores: the triples table (the build's (s,p,o) as parquet — the
runner's ``--sparql`` surface) and a per-graph N-Quads store holding a
seeded sample of document graphs plus the root proxy graph.  One cycle
is a seeded batch of 11 operations: 8 ``sparql_query`` calls over the
table (2 point lookups, 3 DESCRIBE, 1 type+FILTER+ORDER BY top-k,
1 GROUP BY count, 1 ``owl:sameAs*`` path), 1 graph-scoped
``store_sparql`` read, and a pair of ``store_update`` calls that insert
one triple into a graph and then delete it, leaving the store's content
unchanged.  Every answer is checked against DuckDB over the set-up
parquet; after the insert the graph must hold the set-up lines plus one
line with the new triple, after the delete exactly the set-up lines.
Set-up ends with one untimed batch, so the timed batches do not pay the
first compilation of each template's plans.
"""

from __future__ import annotations

import os
import statistics

import duckdb
import numpy as np
from pyspark.sql import functions as F

from kgspark import grammar as G
from kgspark import rdfio
from kgspark.pipeline import run_pipeline
from kgspark.sparql import sparql_query, store_sparql, store_update

from kgbench import inputs as I
from kgbench.checks import duck_answer, fingerprint, same_answer

# a smaller corpus than ``build``'s: its cold-JVM build is set-up time
N_DOCS = 200
# distinct (s,p,o) count and doc-offset-normalised fingerprint of the
# N_DOCS corpus (kgbench/pins.py recomputes it)
PIN = (9403, -9070633756008763768)
N_GRAPHS = 100          # sampled document graphs (+ the root graph)
MAX_COMPONENT = 64      # sameAs* anchors: components of at most this size
# the batch's median operation falls on the middle DESCRIBE, not on the
# edge between two templates of different cost
QUERY_MIX = ["point", "point", "describe", "describe", "describe", "topk",
             "groupby", "path"]
GROUP_PREDICATES = [G.P_TYPE, G.P_LANGUAGE, G.P_SCORE]


def setup(ctx) -> dict:
    spark, work = ctx.spark, ctx.work
    docs = I.corpus(N_DOCS)
    off = I.offset(ctx.seed)
    src = I.write_inputs(os.path.join(work, "input"),
                         docs.assign(doc_id=docs["doc_id"] + off))
    r = run_pipeline(spark, src)
    table, store = os.path.join(work, "table"), os.path.join(work, "store")
    r.triples.select("s", "p", "o").write.parquet(table)
    t = spark.read.parquet(table)
    if fingerprint(t, off) != PIN:
        raise RuntimeError(f"set-up table {fingerprint(t, off)} != pinned {PIN}")

    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{table}/*.parquet')")
    rng = np.random.default_rng([ctx.seed, 3])
    doc_graphs = sorted(x for (x,) in con.execute(
        "SELECT DISTINCT s FROM t WHERE p = ?", [G.P_LANGUAGE]).fetchall())
    sample = sorted(rng.choice(doc_graphs, N_GRAPHS, replace=False).tolist())
    graphs = sample + [G.ROOT_GRAPH]
    q = r.quads.filter(F.col("g").isin(graphs))
    rdfio.write_nquads_store(q, store)
    con.register("q", q.select("g", "s", "p", "o").toPandas())

    entities = [x for (x, n) in con.execute(
        "SELECT s, count(*) FROM t WHERE p = 'owl:sameAs' GROUP BY s "
        "HAVING count(*) < ? ORDER BY s", [MAX_COMPONENT]).fetchall()]
    classes = [(c, int(k)) for (c, k) in con.execute(
        "SELECT e.o, max(CAST(sc.o AS BIGINT)) FROM t e JOIN t sc ON sc.s = e.s "
        "WHERE e.p = 'rdf:type' AND sc.p = 'ex:score' GROUP BY e.o ORDER BY e.o").fetchall()]
    st = {"table": t, "store": store, "con": con, "sample": sample,
          "entities": entities, "classes": classes, "batches": []}
    st["lines"] = {g: _graph_lines(store, g) for g in sample}
    # one untimed batch: the first use of each template compiles its plans
    for op in _batch(ctx.seed, -1, st):
        _run_op(ctx, st, op)
    return st


def _batch(seed: int, i: int, st: dict) -> list[dict]:
    """The seeded operation sequence of batch ``i``."""
    rng = np.random.default_rng([seed, 4, i + 1])
    ops = []
    for kind in QUERY_MIX:
        if kind == "point":
            a = {"s": str(rng.choice(st["sample"]))}
        elif kind in ("describe", "path"):
            a = {"s": str(rng.choice(st["entities"]))}
        elif kind == "topk":
            cls, top = st["classes"][rng.integers(len(st["classes"]))]
            a = {"cls": cls, "k": int(rng.integers(0, top + 1))}
        else:
            a = {"p": GROUP_PREDICATES[rng.integers(len(GROUP_PREDICATES))]}
        ops.append([{"kind": kind, "args": a}])
    ops.append([{"kind": "store_read", "args": {"g": str(rng.choice(st["sample"]))}}])
    a = {"g": str(rng.choice(st["sample"])), "k": int(rng.integers(1 << 30))}
    # the insert and its delete stay adjacent, in that order
    ops.append([{"kind": "store_insert", "args": a}, {"kind": "store_delete", "args": a}])
    return [op for j in rng.permutation(len(ops)) for op in ops[j]]


def _sparql(op: dict) -> str:
    a = op["args"]
    return {
        "point": lambda: f"SELECT ?p ?o WHERE {{ <{a['s']}> ?p ?o }}",
        "describe": lambda: f"DESCRIBE <{a['s']}>",
        "topk": lambda: (
            f"SELECT ?e ?n WHERE {{ ?e rdf:type <{a['cls']}> . ?e ex:score ?n . "
            f"FILTER(xsd:integer(?n) >= {a['k']}) }} ORDER BY DESC(?n) ?e LIMIT 10"),
        "groupby": lambda: (
            f"SELECT ?o (COUNT(*) AS ?n) WHERE {{ ?s {a['p']} ?o }} GROUP BY ?o"),
        "path": lambda: f"SELECT ?x WHERE {{ <{a['s']}> owl:sameAs* ?x }}",
    }[op["kind"]]()


def _graph_lines(store: str, g: str) -> list[str]:
    d = rdfio.store_graph_dirs(store)[g]
    out = []
    for f in sorted(os.listdir(d)):
        if f.startswith("part-"):
            with open(os.path.join(d, f)) as fh:
                out.extend(fh.read().splitlines())
    return sorted(out)


def _run_op(ctx, st: dict, op: dict) -> float:
    spark, tr, kind, a = ctx.spark, ctx.tr, op["kind"], op["args"]
    if kind in ("store_insert", "store_delete"):
        s_, o_ = f"urn:kgbench:s{a['k']}", f"v{a['k']}"
        verb = "INSERT" if kind == "store_insert" else "DELETE"
        req = f"{verb} DATA {{ GRAPH <{a['g']}> {{ <{s_}> <urn:kgbench:p> \"{o_}\" }} }}"
        base = st["lines"][a["g"]]

        def stored(_) -> bool:
            now = _graph_lines(st["store"], a["g"])
            if kind == "store_delete":
                return now == base
            new = sorted(set(now) - set(base))
            return (len(now) == len(base) + 1 and len(new) == 1
                    and s_ in new[0] and o_ in new[0])

        with tr.span("op.store_update", "rdfio"), tr.patched(_STORE_PATCHES):
            ms, _ = ctx.op(kind, lambda: store_update(spark, st["store"], req), stored)
        return ms
    want = duck_answer(st["con"], op)
    check = lambda got: same_answer(op, [tuple(r) for r in got], want)  # noqa: E731
    if kind == "store_read":
        q = "SELECT ?s ?p ?o WHERE { ?s ?p ?o }"
        with tr.span("op.store_read", "rdfio"), tr.patched(_STORE_PATCHES):
            ms, _ = ctx.op(kind, lambda: store_sparql(spark, st["store"], q, graph=a["g"]).collect(),
                           check)
        return ms
    text = _sparql(op)

    def query():
        with tr.span("sparql.plan", "sparql"):
            df = sparql_query(st["table"], text)
        with tr.span("sparql.exec", "sparql"):
            return df.collect()

    with tr.span("op.query", "sparql"):
        ms, _ = ctx.op(kind, query, check)
    return ms


_STORE_PATCHES = [(rdfio, "read_nquads_store", "rdfio", False)]


def cycle(ctx, st: dict, i: int) -> list[tuple[str, float]]:
    ops = [(op["kind"], _run_op(ctx, st, op)) for op in _batch(ctx.seed, i, st)]
    st["batches"].append(ops)
    return ops


def report(ctx, st: dict, cycles) -> dict:
    ops = [o for b in st["batches"] for o in b]
    writes = [ms for k, ms in ops if k in ("store_insert", "store_delete")]
    reads = [ms for k, ms in ops if k == "store_read"]
    qs = [ms for k, ms in ops if k in QUERY_MIX]
    busy_s = sum(c["wall_s"] for c in cycles)
    named = {
        "query_p50_ms": (statistics.median(qs), "ms"),
        "query_p90_ms": (statistics.quantiles(qs, n=10, method="inclusive")[8], "ms"),
        "store_read_p50_ms": (statistics.median(reads), "ms"),
        "store_write_p50_ms": (statistics.median(writes), "ms"),
        "ops_per_s": (len(ops) / busy_s, "ops/s"),
    }
    for kind in dict.fromkeys(k for k, _ in ops):
        named[f"{kind}_p50_ms"] = (statistics.median(ms for k, ms in ops if k == kind), "ms")
    return {"fingerprints": [list(PIN)], "named": named}


def layer_counts(st: dict) -> dict:
    return {}
