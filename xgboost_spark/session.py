"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]``; the conf below is chosen so the same
code is correct on a 1000-executor cluster:

- AQE on: runtime coalescing, skew-join splitting, dynamic join strategy.
- Arrow on: every pandas-UDF / mapInPandas exchange is Arrow-batched.
- shuffle partitions ~ cores locally; on a real cluster AQE coalesces
  from a larger initial number, so this knob is safe to raise.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- Driver heap sized from physical memory (``SPARK_GRAFT_DRIVER_MEM``
  overrides), so an oversized collect fails as a JVM OOM rather than
  an OS kill of the whole process tree.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """60% of physical memory, at most 48g: leaves room for the Python
    workers and the OS beside the driver heap."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return "48g"
    return f"{min(48, max(1, int(0.6 * phys / (1 << 30))))}g"


def get_session(app_name: str = "xgboost_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.default.parallelism", str(max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or _default_driver_memory())
        # codegen-heavy plans (wide CASE WHEN ensembles, md5 chains)
        # overflow the default 240m JIT code cache, causing eviction
        # storms that deoptimize unrelated hot paths; size it generously
        .config("spark.driver.extraJavaOptions",
                "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the harness parquet uses TIMESTAMP(NANOS); Spark reads them as
        # long when this is set (sources/tables.py converts to timestamp)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
