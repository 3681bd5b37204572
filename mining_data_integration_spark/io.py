"""Bronze readers / gold writers.

Driver tables (TESTDATA.md): TPC-H-ish star schema + events/documents/
embeddings, one parquet file per table under an sf directory.

At 100 TB the bronze layer would be height/date-partitioned parquet
(or Delta); readers here take any directory with the same table names,
so the code path is identical for a partitioned dataset — Catalyst
does partition pruning + predicate pushdown on the resulting scans.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DRIVER_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# parquet columns written as TIMESTAMP(NANOS) — Spark's reader rejects
# them unless nanosAsLong is on; we read them as long and rebuild a
# microsecond timestamp (integer DIV keeps the conversion exact)
_NANO_TS_COLS = {"events": ("ts",)}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver table. Accepts both `<dir>/<name>.parquet` (driver
    layout) and `<dir>/<name>/` (partitioned-dataset layout)."""
    flat = os.path.join(sf_dir, f"{name}.parquet")
    nested = os.path.join(sf_dir, name)
    path = flat if os.path.exists(flat) else nested
    try:
        df = spark.read.parquet(path)
    except Exception as ex:  # TIMESTAMP(NANOS) parquet type
        if "NANOS" not in str(ex):
            raise
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
    for col in _NANO_TS_COLS.get(name, ()):
        if dict(df.dtypes).get(col) == "bigint":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} DIV 1000")))
    # parquet timestamp[us] WITHOUT timezone reads as TIMESTAMP_NTZ, which
    # unix_micros/window functions reject; the session tz is pinned to UTC
    # (session.py) so casting to TIMESTAMP is bit-exact vs the DuckDB oracle
    for col, dtype in df.dtypes:
        if dtype.startswith("timestamp_ntz"):
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def parquet_scan(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet(path) with the schema taken from one file's
    footer on the driver: Spark's own inference runs a Spark job per
    read. A `<name>=<int>/` directory layout (the gold and chain-state
    `hbucket`, the IVF-PQ codes' `_cell`, the MinHash buckets' `band`)
    gets its partition column from the directory names, appended as
    int, the type Spark infers for it. Spark writes its schema into
    every footer; without one (or without files) Spark infers as
    usual. A missing `path` raises OSError."""
    import json

    import pyarrow.parquet as pq
    from pyspark.sql.types import IntegerType, StructType

    parts = sorted(n for n in os.listdir(path) if "=" in n
                   and os.path.isdir(os.path.join(path, n)))
    dirs = [os.path.join(path, n) for n in parts] or [path]
    first = next((os.path.join(d, n) for d in dirs
                  for n in sorted(os.listdir(d)) if n.endswith(".parquet")),
                 None)
    meta = {}
    if first is not None:
        meta = pq.read_schema(first).metadata or {}
    key = b"org.apache.spark.sql.parquet.row.metadata"
    if key not in meta:
        return spark.read.parquet(path)
    schema = StructType.fromJson(json.loads(meta[key]))
    if parts:
        schema = schema.add(parts[0].split("=", 1)[0], IntegerType())
    return spark.read.schema(schema).parquet(path)


def register_views(spark: SparkSession, sf_dir: str,
                   tables: tuple[str, ...] = DRIVER_TABLES) -> None:
    """Register each driver table as a temp view (for spark.sql queries)."""
    for name in tables:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_bucketed(df: DataFrame, table: str, key: str, buckets: int,
                   path: str | None = None,
                   sort: bool = True) -> None:
    """Bucketed-table writer: the co-located-join layout for fact-fact
    joins at 100 TB (SURVEY §2.3 note). Two tables bucketed on the
    same key with the same bucket count join with NO shuffle exchange
    (verified in tests/test_plans.py); the sort makes it a zero-sort
    sort-merge join as well."""
    w = df.write.mode("overwrite").bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def write_bronze_commits(commits: DataFrame, snapshots: DataFrame,
                         path: str, heights_per_bucket: int = 1000) -> None:
    """Height-bucketed bronze layout for block_commits. The source
    table carries no height column (SQLite schema parity), so ingest
    stamps one via the snapshots join — one extra join at WRITE time
    buys partition pruning on every windowed read after: the
    incremental tick's commits scan drops from O(history) to
    O(reorg window) at the storage layer."""
    heights = snapshots.select(
        "burn_header_hash", F.col("block_height").alias("_h"))
    stamped = (  # plain equi join: AQE broadcasts when heights is small
        commits.join(heights, "burn_header_hash", "left")
        .withColumn(
            "hbucket",
            (F.coalesce("_h", F.lit(0)) / heights_per_bucket).cast("long"))
        .drop("_h")
    )
    stamped.repartition("hbucket").write.mode("overwrite") \
        .partitionBy("hbucket").parquet(path)


def write_gold(df: DataFrame, path: str, mode: str = "overwrite",
               partition_by: list[str] | None = None) -> None:
    """Write a gold (serving) table. Matches the reference's Redis
    materialized-view semantics (server.js:295-299): each refresh
    atomically replaces the prior snapshot."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
