"""SparkSession factory with the engine's standard configuration.

Replaces Twine's daemon bootstrap (twined `twine.conf` parsing `[U~]`,
SURVEY.md §3.1).  The local-mode default comes from the machine:
``local[os.cpu_count()]`` (``KGSPARK_MASTER`` overrides it), with one
shuffle partition per core and at least 8; on a real cluster the same
builder is used via ``spark-submit --py-files`` with master/executor
conf supplied externally (see runner.py docstring).  Under
spark-submit the submitted master and driver memory stand: the JVM is
already running with them, so a master that disagrees raises instead
of being silently replaced.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark import SparkConf, SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

EXCLUDED_RULES = "spark.sql.optimizer.excludedRules"
INFER_FILTERS_FROM_GENERATE = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)


def excluded_rules(extra: str) -> str:
    """The built-in optimizer-rule exclusion comma-merged with a
    caller's own ``spark.sql.optimizer.excludedRules`` value (which
    would otherwise replace it), without duplicates."""
    rules = (r.strip() for r in [INFER_FILTERS_FROM_GENERATE, *extra.split(",")])
    return ",".join(dict.fromkeys(r for r in rules if r))


def get_spark(
    app_name: str = "kgspark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("KGSPARK_MASTER")
    # spark-submit starts the driver JVM before Python runs and hands
    # its gateway over in PYSPARK_GATEWAY_PORT; a plain interpreter has
    # no JVM yet, and must not start one here, because launch-time conf
    # (driver memory) only applies when the builder starts it.
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ
    if submitted:
        SparkContext._ensure_initialized()
        submit_master = SparkConf().get("spark.master")
        if master and master != submit_master:
            raise ValueError(
                f"master {master!r} disagrees with the submitted master "
                f"{submit_master!r}"
            )
        master = submit_master
    master = master or f"local[{os.cpu_count()}]"
    spec = master[6:-1] if master.startswith("local[") else ""
    cores = int(spec) if spec.isdigit() else os.cpu_count() or 1
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    extra = dict(extra_conf or {})

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # shuffle sized to cores in local mode; a 1000-executor cluster
        # overrides this (and AQE coalescing re-sizes at runtime anyway)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # InferFiltersFromGenerate adds `size(e) > 0 AND isnotnull(e)`
        # below every Generate; predicate pushdown then substitutes the
        # generator input's PROJECTION into that filter, so an expensive
        # synthesized array (the span builder) is
        # re-evaluated per row at the scan — serially, below the
        # repartition — just to skip rows the generator (outer=false)
        # would drop anyway.  Optimizer-only rule: excluding it cannot
        # change results, only removes the duplicated evaluation
        # (r7: kg_spans_flat 1.05 s → 0.36 s warm; scale-independent).
        .config(EXCLUDED_RULES, excluded_rules(extra.pop(EXCLUDED_RULES, "")))
    )
    if not submitted:
        b = b.config("spark.driver.memory", os.environ.get("KGSPARK_DRIVER_MEM", "8g"))
    for k, v in extra.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """A driver-side table (a list of row tuples, ``None`` for NULL) as
    a DataFrame with exactly the schema of ``ddl``.

    ``spark.createDataFrame(<list>, ddl)`` plans as a scan of a pickled
    Python RDD: every job that reads the table, even a one-row one,
    starts Python-worker tasks to unpickle it, and the planner has no
    size for it, so it cannot choose a broadcast at plan time.  A
    ``pyarrow.Table`` always takes the Arrow path, whatever the session
    conf says, and plans as a ``LocalTableScan`` with a known size, zero
    rows included (an empty pandas frame would fall back to the RDD
    scan)."""
    schema = StructType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
