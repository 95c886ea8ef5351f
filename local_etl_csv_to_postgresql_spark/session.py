"""SparkSession factory.

Single place where Spark tuning lives so every entry point (tests, bench,
CLI, driver harness) gets the same cluster-ready defaults:

- AQE on: runtime coalescing, skew-join splitting, dynamic broadcast —
  the knobs that keep plans healthy when data is 1000x bigger than local.
- shuffle.partitions sized to local cores here; on a real cluster this is
  overridden to ~2-3x total executor cores (AQE coalesces the excess).
- UTC session timezone so results hash-match the DuckDB oracle.
- Arrow enabled for the Pandas-UDF slow paths (fuzzy dedup, multimodal).
- A codegen class cache sized for a whole session (``CODEGEN_CACHE_ENTRIES``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Generated classes whole-stage codegen keeps for reuse (Spark's default
#: is 100). One ETL pass — three loads plus the 20-query corpus —
#: compiles about 470 classes, so at 100 entries each pass evicts the
#: previous one's classes and compiles them all again; with room for a
#: session's plan shapes a repeated plan compiles once. A static
#: setting: it applies only to a session this function creates.
CODEGEN_CACHE_ENTRIES = 4000


def get_spark(
    app_name: str = "local_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # whole-stage codegen JIT-compiles one+ generated class per plan
        # stage; a 100-query library session overflows the JVM's default
        # 240 MB code cache, at which point HotSpot DISABLES the JIT and
        # every subsequent query runs interpreted (~1.5x slower across
        # the board). Standard fix for codegen-heavy Spark drivers.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _silence_bounded_window_warning(spark)
    return spark


def _silence_bounded_window_warning(spark: SparkSession) -> None:
    """Raise the window-exec logger to ERROR: the only WARN it emits is
    "No Partition Defined for Window ... single partition", which fires
    for this engine exclusively on frames that are BOUNDED BY DESIGN —
    q17's ~80-row monthly aggregate, q32's ~2.4k-row daily aggregate,
    and the dimension surrogate-key window (bounded by one batch's new
    dimension values). SCALE.md §windows
    documents each site; muting the known-benign noise keeps real
    regressions visible in bench output."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # non-log4j2 deployments: warning stays, behavior unchanged
