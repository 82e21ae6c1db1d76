"""SparkSession factory tuned for the test rig (local[N]) while keeping every
setting cluster-sane: AQE on (runtime coalesce + skew-join handling), shuffle
partitions sized to cores locally (set explicitly per-job at cluster scale),
Arrow enabled for the few pandas-UDF paths, UTC session timezone so timestamp
semantics agree with the DuckDB oracle and with any downstream engine.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Driver heap cap when SPARK_DRIVER_MEMORY is unset: half the box's physical
# memory (the OS, the Python workers and the off-heap buffers need the rest),
# never above the 24g the engine was tuned with on large boxes.
MAX_DRIVER_MEMORY_MB = 24 * 1024


def _default_driver_memory() -> str:
    try:
        mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (ValueError, OSError, AttributeError):
        return f"{MAX_DRIVER_MEMORY_MB}m"
    return f"{max(1024, min(MAX_DRIVER_MEMORY_MB, mem_mb // 2))}m"


def get_spark(app_name: str = "sentiment-engine", shuffle_partitions: int | None = None) -> SparkSession:
    """The engine's session. A session already live on this thread is
    returned as it is: `getOrCreate` would overwrite its confs with these
    defaults (its shuffle partitions, for one), silently changing every
    later query of whoever created it."""
    live = SparkSession.getActiveSession()
    if live is not None:
        return live
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sp = shuffle_partitions if shuffle_partitions is not None else int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
