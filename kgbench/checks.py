"""Output checks: order-insensitive triple fingerprints and the DuckDB
evaluation of the serve templates."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgspark import grammar as G


def _unshift(c, offset: int):
    """``doc://<id>`` → ``doc://<id - offset>``; other terms unchanged."""
    pre = G.DOC_IRI_PREFIX
    return F.when(
        c.startswith(pre),
        F.concat(F.lit(pre),
                 (F.substring(c, len(pre) + 1, 64).cast("long") - F.lit(offset))
                 .cast("string")),
    ).otherwise(c)


def fingerprint(triples: DataFrame, offset: int = 0) -> tuple[int, int]:
    """(distinct (s,p,o) count, bit_xor(xxhash64(s,p,o))) with doc ids
    shifted back by ``offset``, so one pinned value holds for every seed."""
    t = triples.select("s", "p", "o").distinct()
    if offset:
        t = t.select(_unshift(F.col("s"), offset).alias("s"), "p",
                     _unshift(F.col("o"), offset).alias("o"))
    r = t.agg(F.count("*").alias("n"),
              F.bit_xor(F.xxhash64("s", "p", "o")).alias("fp")).collect()[0]
    return int(r["n"]), int(r["fp"] or 0)


def duck_answer(con, op: dict) -> list[tuple]:
    """The expected answer of one serve operation, from DuckDB over the
    set-up triples table ``t`` (s,p,o) and the store's quads ``q``
    (g,s,p,o)."""
    k, a = op["kind"], op["args"]
    if k == "point":
        sql, prm = "SELECT p, o FROM t WHERE s = ?", [a["s"]]
    elif k == "describe":
        sql, prm = "SELECT s, p, o FROM t WHERE s = ?", [a["s"]]
    elif k == "topk":
        sql = ("SELECT e.s, sc.o FROM t e JOIN t sc ON sc.s = e.s"
               " WHERE e.p = 'rdf:type' AND e.o = ? AND sc.p = 'ex:score'"
               " AND CAST(sc.o AS BIGINT) >= ? ORDER BY sc.o DESC, e.s LIMIT 10")
        prm = [a["cls"], a["k"]]
    elif k == "groupby":
        sql, prm = "SELECT o, count(*) FROM t WHERE p = ? GROUP BY o", [a["p"]]
    elif k == "path":
        sql = ("WITH RECURSIVE r(x) AS (SELECT ?::VARCHAR UNION SELECT t.o FROM t"
               " JOIN r ON t.s = r.x WHERE t.p = 'owl:sameAs') SELECT x FROM r")
        prm = [a["s"]]
    elif k == "store_read":
        sql, prm = "SELECT DISTINCT s, p, o FROM q WHERE g = ?", [a["g"]]
    else:
        raise ValueError(k)
    return [tuple(str(v) for v in r) for r in con.execute(sql, prm).fetchall()]


def same_answer(op: dict, got: list[tuple], want: list[tuple]) -> bool:
    got = [tuple(str(v) for v in r) for r in got]
    if op["kind"] == "topk":
        return got == want
    return sorted(got) == sorted(want)
