"""SparkSession factory.

Local testing runs on local[N]; the configs are chosen so the same code
scales to a multi-executor cluster: AQE on (runtime join re-planning,
skew-join splitting, partition coalescing), Arrow on (Pandas-UDF fast
path), UTC session timezone (bit-exact DuckDB-oracle comparison).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> str:
    """SPARK_GRAFT_CPUS, else the cores this process may run on: a
    local[N] session runs N task threads, and more than the cores
    only oversubscribes them."""
    return os.environ.get("SPARK_GRAFT_CPUS") \
        or str(len(os.sched_getaffinity(0)))


def _default_driver_memory() -> str:
    """Half the physical memory, capped at 48g: a heap above the
    machine's memory never has to collect, and the kernel kills the
    JVM first."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(48, phys // 2 ** 31))}g"


def get_spark(app_name: str = "mining-data-integration-spark",
              shuffle_partitions: str | int | None = None) -> SparkSession:
    """Build (or fetch) the session.

    At 100 TB the same plan runs on a real cluster: shuffle partitions are
    sized by AQE (`advisoryPartitionSizeInBytes`) rather than this local
    default, and the broadcast threshold keeps dimension tables
    (region/nation/supplier/leader_keys/prices) out of shuffles.
    """
    cpus = default_cpus()
    sp = str(shuffle_partitions or cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", sp)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY")
                or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # driver writes events.ts as TIMESTAMP(NANOS); read as long up
        # front (io.py rebuilds a microsecond timestamp) instead of
        # letting the first scan fail and retry
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
