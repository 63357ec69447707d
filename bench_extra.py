"""Supplementary benchmarks (round 7): per-query isolation with the
noop sink and .explain("formatted") plan capture.

``bench.py`` is the FROZEN driver contract and stays untouched; this
file exists for optimization-round evidence (guide §1.4): the noop sink
computes every column of every row and discards it, so a query is timed
without the sink and without count()'s column pruning.

Usage:
    python bench_extra.py                 # noop-isolate the bench queries
    python bench_extra.py --plans DIR     # dump explain() per query to DIR
    python bench_extra.py q1 q2 ...       # restrict to named queries

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: the machine's CPU count),
     KGSPARK_BENCH_REPS (default 3).
"""

from __future__ import annotations

import json
import os
import sys
import time

BENCH_QUERIES = [
    "kg_spans_flat", "kg_media_features",
    "kg_sparql_topk", "kg_sameas_degree",
    "kg_entity_media", "doc_pack_assign",
]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    reps = int(os.environ.get("KGSPARK_BENCH_REPS", "3"))

    args = [a for a in sys.argv[1:]]
    plans_dir = None
    if "--plans" in args:
        i = args.index("--plans")
        plans_dir = args[i + 1]
        args = args[:i] + args[i + 2:]
    names = args or BENCH_QUERIES

    from kgspark.pipeline import run_pipeline_cached
    from kgspark.session import get_spark
    import kgspark.queries as Q

    spark = get_spark(app_name="kgspark-bench-extra", master=f"local[{cpus}]")
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()  # warm up

    if plans_dir:
        os.makedirs(plans_dir, exist_ok=True)
        for name in names:
            df = getattr(Q, name)(spark, sf_dir)
            with open(os.path.join(plans_dir, f"{name}.txt"), "w") as fh:
                fh.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode
                    .fromString("formatted")))
            print(f"wrote {plans_dir}/{name}.txt")
        return

    # Pre-warm the memoized chain exactly as bench.py does, so the
    # per-query numbers measure the queries, not the shared chain.
    t0 = time.time()
    chain = run_pipeline_cached(spark, sf_dir)
    chain.labels.count()
    chain.mentions.count()
    warm = round(time.time() - t0, 3)

    out: dict[str, list[float]] = {}
    for rep in range(reps):
        order = names if rep % 2 == 0 else list(reversed(names))
        for name in order:
            fn = getattr(Q, name)
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            noop(fn(spark, sf_dir))
            out.setdefault(name, []).append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
    print(json.dumps({
        "metric": "noop_isolated",
        "sf": sf_dir,
        "cpus": cpus,
        "labels_chain_warm": warm,
        "queries_min": {k: min(v) for k, v in out.items()},
        "queries_samples": out,
    }))


if __name__ == "__main__":
    main()
