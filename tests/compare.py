"""Local replica of the driver's correctness gate: run each
__spark_entry__.queries()[name] on Spark and oracle_sql()[name] on
DuckDB at a given sf_dir; compare row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted,
values stringified).

Usage:  python tests/compare.py [--json OUT.json] [sf_dir] [query ...]

With ``--json`` the per-query results are also written in the driver's
CORRECTNESS_r{N}.json schema ({rows_match, schema_match, hash_match,
spark_rows, oracle_rows, err}) — the committed full-replica artifact
(round-4 verdict #2).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

# the tables the oracle SQL reads: the KG inputs plus the TPC-H tables of
# the plan-shape fixtures.  An oracle over any other table fails to bind,
# so a query family outside these cannot creep back in without its own
# fixture view.
TABLES = [
    "nation", "documents", "embeddings",
    "region", "customer", "supplier", "part", "orders", "lineitem",
]


def canon(df: pd.DataFrame) -> tuple[int, list[str], int]:
    cols = sorted(df.columns)
    df = df[cols].copy()
    for c in cols:
        df[c] = df[c].map(lambda v: "NULL" if pd.isna(v) else str(v))
    rows = sorted(map(tuple, df.itertuples(index=False)))
    return len(rows), cols, hash(tuple(rows))


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    if args and args[0] == "--json":
        json_out = args[1]
        args = args[2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    results: dict[str, dict] = {}

    import __spark_entry__ as E
    from kgspark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()
    spark = get_spark(master=f"local[{cpus}]")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS FROM '{sf_dir}/{t}.parquet'")

    qs, osql = E.queries(), E.oracle_sql()
    failures = 0
    import time

    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
            t_spark = time.time() - t0
            t0 = time.time()
            odf = con.execute(osql[name]).df()
            t_duck = time.time() - t0
            sn, sc, sh = canon(sdf)
            on, oc, oh = canon(odf)
            ok = (sn, sc, sh) == (on, oc, oh)
            results[name] = {
                "rows_match": sn == on,
                "schema_match": sc == oc,
                "hash_match": sh == oh,
                "spark_rows": sn,
                "oracle_rows": on,
                "err": None,
            }
            status = "OK " if ok else "FAIL"
            print(
                f"{name:35s} {status} rows {sn}/{on} spark={t_spark:.1f}s "
                f"duck={t_duck:.1f}s"
                + ("" if ok else f"  cols {sc} vs {oc}")
            )
            if not ok:
                failures += 1
                if sc == oc and sn == on:
                    s_rows = sorted(map(tuple, sdf[sorted(sdf.columns)].astype(str).itertuples(index=False)))
                    o_rows = sorted(map(tuple, odf[sorted(odf.columns)].astype(str).itertuples(index=False)))
                    diff = [(a, b) for a, b in zip(s_rows, o_rows) if a != b][:3]
                    for a, b in diff:
                        print("   spark:", a)
                        print("   duck :", b)
        except Exception as e:  # noqa: BLE001
            failures += 1
            results[name] = {
                "rows_match": False,
                "schema_match": False,
                "hash_match": False,
                "spark_rows": None,
                "oracle_rows": None,
                "err": f"{type(e).__name__}: {str(e)[:200]}",
            }
            print(f"{name:35s} ERROR {type(e).__name__}: {str(e)[:200]}")
    print("failures:", failures)
    if json_out:
        import json

        with open(json_out, "w") as fh:
            json.dump(results, fh, indent=1)
        print(f"wrote {json_out} ({len(results)} queries)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
