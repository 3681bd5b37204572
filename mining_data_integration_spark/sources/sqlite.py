"""SQLite bronze extraction (SURVEY S1-S12 ingestion side).

The reference opens the Stacks node's SQLite files in-process and does
`SELECT *` per table (rpc.js:39-75). A Spark cluster can't share one
driver-side connection cursor across executors, so extraction is
expressed as a *partitioned pull*: rowid ranges are computed once
(cheap min/max/count query), shipped as a small range table, and each
executor task opens the file read-only and pulls its slice via
`mapInPandas` — Arrow-batched, no driver materialization.

At 100 TB the same shape holds per shard: one SQLite file per node ×
one range-set per file; the range table carries (path, lo, hi) and the
kernel is unchanged. For the local single-file case it parallelizes a
cold extract across cores.

SQLite's rowid is the clustered key, so range predicates
(`rowid BETWEEN ? AND ?`) are index scans — each task reads only its
pages; no full-file scan per task.
"""

from __future__ import annotations

import sqlite3
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _ranges(db_path: str, table: str, partitions: int) -> list[tuple[int, int]]:
    con = sqlite3.connect(f"file:{db_path}?mode=ro", uri=True)
    try:
        lo, hi = con.execute(
            f"SELECT min(rowid), max(rowid) FROM {table}").fetchone()
    finally:
        con.close()
    if lo is None:
        return []
    span = hi - lo + 1
    step = max(1, span // partitions)
    bounds = list(range(lo, hi + 1, step))
    return [(b, min(b + step - 1, hi)) for b in bounds]


def read_sqlite(spark: SparkSession, db_path: str, table: str,
                partitions: int = 8, where: str | None = None) -> DataFrame:
    """Parallel `SELECT *` of one SQLite table as a DataFrame.

    `where` is an optional pushed-down predicate (the reference pushes
    LIMIT/WHERE into SQLite only for S9-S12; here any residual filter
    also lands SQLite-side per task)."""
    ranges = _ranges(db_path, table, partitions)
    if not ranges:
        raise ValueError(f"table {table} in {db_path} is empty")

    # infer the schema from one probe row (driver-side, tiny)
    probe = pd.read_sql_query(
        f"SELECT * FROM {table} LIMIT 100",
        sqlite3.connect(f"file:{db_path}?mode=ro", uri=True),
    )
    schema = spark.createDataFrame(probe).schema

    range_df = spark.createDataFrame(ranges, "lo long, hi long") \
        .repartition(len(ranges))
    cond = f" AND ({where})" if where else ""

    def pull(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for lo, hi in zip(pdf["lo"], pdf["hi"]):
                con = sqlite3.connect(f"file:{db_path}?mode=ro", uri=True)
                try:
                    out = pd.read_sql_query(
                        f"SELECT * FROM {table} "
                        f"WHERE rowid BETWEEN ? AND ?{cond}",
                        con, params=(int(lo), int(hi)),
                    )
                finally:
                    con.close()
                if len(out):
                    yield out

    return range_df.mapInPandas(pull, schema=schema)

