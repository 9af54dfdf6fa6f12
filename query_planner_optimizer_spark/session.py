"""SparkSession bootstrap tuned for this engine.

Defaults chosen for correctness parity with the DuckDB oracle and for
scale-out behavior (reference equivalents cited per SURVEY.md §1.3/§4):

- UTC session timezone — the reference does pure epoch math with no TZ
  handling anywhere (reference ``prepare_optimized.py:58-65``), so all
  derived time columns must be computed in UTC.
- AQE on — runtime coalescing of shuffle partitions and skew-join
  splitting; the closest analogue of the reference's "lazy whole-plan
  optimization then collect" (reference ``query_engine.py:422-425``) but
  re-planned with runtime statistics.
- zstd parquet — matches the reference's ZSTD prepare output
  (reference ``prepare.py:139-144``).
- Arrow enabled — all Python-side exchange (toPandas, pandas UDFs) is
  Arrow-batched, never row-at-a-time.
- Python call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``) — otherwise
  every ``functions.*`` and ``DataFrame`` call walks the Python stack
  and makes about four py4j round trips (active session, the
  stack-depth conf, origin set and clear), a fixed cost on every
  compiled or routed query. The cost of turning it off: an analysis
  or runtime error's DataFrame query context no longer names the
  Python file:line that built the failing expression. The error is
  still raised with its message, and ``QueryRunner`` still reports it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """Worker-thread count: $SPARK_GRAFT_CPUS or all cores."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "query-planner-optimizer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``. ``shuffle_partitions``
    defaults to the local core count (on a 1000-executor cluster you
    would set this to ~2-3x total cores, or rely on AQE coalescing
    from a higher initial value).
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Respect the target partition size when coalescing instead of
        # preserving parallelism: tiny shuffles collapse to a handful of
        # tasks (the ~150 ms/query fixed task-scheduling cost was the
        # dominant term in sub-second queries — r3 VERDICT #8), while at
        # scale the 64 MB advisory target still yields full fan-out.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Static conf: read once per process by pyspark's _with_origin.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # Small local datasets: don't let tiny files fan out into many tasks.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Broadcast threshold: default 10m; dims (region/nation/...) always fit.
        .config("spark.sql.autoBroadcastJoinThreshold", "32m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        # Parquet TIMESTAMP(NANOS) (written by pyarrow) is otherwise an
        # illegal type for Spark's reader; read as epoch-nanos long and
        # let Catalog._restore_nano_timestamps convert losslessly.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Spark's default parquet timestamp encoding is legacy INT96,
        # which writes NO footer min/max statistics — every ts-range
        # predicate on written data loses file/row-group pruning.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
