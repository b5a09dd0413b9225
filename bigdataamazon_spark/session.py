"""SparkSession factory tuned for this engine.

Defaults target the driver harness (single JVM, ``local[$SPARK_GRAFT_CPUS]``)
but every knob is chosen to also be the right call on a real cluster:

- AQE on (runtime coalesce, broadcast conversion, skew-join splitting) —
  at 100 TB the static plan is always wrong somewhere; AQE repairs it.
- shuffle partitions sized to cores locally; on a cluster AQE's
  ``coalescePartitions`` makes the initial number much less critical.
- Arrow on for any pandas_udf / toPandas hop.
- session timezone pinned UTC so timestamp semantics match the DuckDB
  oracle (and are deployment-independent).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "bigdataamazon-spark"


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` if set; else 16g, or a quarter of
    physical memory (the JVM's own default) when 16g exceeds it."""
    if mem := os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return mem
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)
    return "16g" if mem_mb >= 16 * 1024 else f"{mem_mb // 4}m"


def get_spark(app_name: str = DEFAULT_APP_NAME, *, ui: bool = False) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    cpus = cpu_count()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local mode = driver IS the executor: 32 task threads share this
        # heap, and persisted blocks live in it too. 8g showed GC-driven
        # timing outliers under memory-heavy text queries; 16g is an
        # eighth of a 128 GB box, but more than a 15 GB host can give.
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "true" if ui else "false")
        # testdata parquet files are single small files; keep splits sane
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
