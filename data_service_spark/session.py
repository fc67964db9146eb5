"""SparkSession factory.

Defaults chosen for correctness parity with the DuckDB oracle (UTC session
timezone; Spark 4's default ANSI mode is left ON — probe-verified
2026-08-16: DuckDB raises on the same overflow/invalid-cast classes, and
the ÷0 divergence (Spark raises, DuckDB → NULL) is handled at the query
layer via try_divide / explicit guards, never by flipping the global conf)
and for scale (AQE on with skew-join handling, Arrow for the pandas-UDF
path). On a real cluster the same builder is used — only master/memory
change, never query code.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The directory that holds the ``data_service_spark`` package.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "data_service_spark", master: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # Parity: hash-compare against DuckDB needs instant-stable timestamps.
        .config("spark.sql.session.timeZone", "UTC")
        # Scale: adaptive execution re-plans joins, coalesces partitions,
        # and splits skewed shuffle partitions at runtime.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Track the session's core count instead of a hard-coded 32: the
        # driver also benches at lower core counts (master local[cpus]),
        # where 32 partitions only add task overhead; AQE coalescing
        # still owns the post-shuffle sizing either way. On a cluster
        # this knob is sized from input bytes, not cores — documented in
        # OPTIMIZATION_r13.md.
        .config("spark.sql.shuffle.partitions", cpus)
        # Arrow: the only sane JVM<->Python boundary for pandas UDFs.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # NOTE on TIMESTAMP(NANOS) parquet: Spark 4.x rejects it outright.
        # io.load() detects that corpus shape at read time and enables the
        # legacy nanosAsLong conf only when actually needed, so a µs-precision
        # corpus (the current one) never runs under the legacy flag.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # PySpark records the Python call site of every Column method and
        # F.col call (Py4J round-trips and a stack walk each), only to
        # quote it in error messages: (F.col("x") + 1).alias("y") took
        # 2.7-2.9 ms with it and 0.6-0.7 ms without (local[1], one core of
        # a shared 4-vCPU host). Errors keep their class and message.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Python workers unpickle functions and data-source classes that
        # live in this package; without this they find it only when the
        # process happens to run from the repo root or PYTHONPATH names it.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    return builder.getOrCreate()
