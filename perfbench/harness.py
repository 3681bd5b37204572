"""Per-run bookkeeping shared by the workloads: timed operations, output
checks and gold-table digests."""

from __future__ import annotations

import functools
import sys
import time
import traceback

from pyspark.sql import functions as F

GOLD_TABLES = ("miner_info", "mining_info", "block_info")


class OpFailed(Exception):
    """An operation raised; the workload abandons the current cycle."""


class Run:
    """One benchmark run: the timed samples, the failure count and what
    each workload records for its per-layer report."""

    def __init__(self, spark, tracer, root: str, seed: int,
                 seconds: float, t_start: float):
        self.spark = spark
        self.tracer = tracer
        self.root = root
        self.seed = seed
        self.seconds = seconds
        self.t_start = t_start
        self.samples: dict[str, list[float]] = {}
        self.op_times: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.info: dict = {}
        self.warming = False
        self.t_measure = None
        self.cpu_at_measure = (0, 0)
        self.gc_at_measure = 0.0
        self._failed_ops: set[int] = set()

    def op(self, metric: str | None, span: str, fn):
        """Run one timed operation inside a span named after the layer
        call; its wall time is appended to samples[metric]. Returns
        (result, seconds). An exception counts the operation as failed
        and raises OpFailed. While warming up, the call is neither
        spanned, timed nor counted, and any exception propagates."""
        if self.warming:
            return fn(), 0.0
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(span):
                out = fn()
        except Exception as ex:
            self.failed += 1
            self.problems.append(f"{span}: {type(ex).__name__}: {ex}")
            traceback.print_exc(file=sys.stderr)
            raise OpFailed(span) from ex
        dt = time.perf_counter() - t0
        self.op_times.setdefault(span, []).append(dt)
        if metric is not None:
            self.samples.setdefault(metric, []).append(dt)
        return out, dt

    def check(self, ok: bool, what: str) -> None:
        """An output check on the operation just run: a failure counts
        that operation as failed (once). A failed check while warming up
        means the benchmark cannot run: it raises."""
        if ok:
            return
        if self.warming:
            raise RuntimeError(f"warm-up check failed: {what}")
        self.problems.append(what)
        if self.attempted not in self._failed_ops:
            self._failed_ops.add(self.attempted)
            self.failed += 1

    def sample(self, metric: str, value: float) -> None:
        """Record one timed sample of an end-to-end metric (or of
        request_s); samples taken while warming up are dropped."""
        if not self.warming:
            self.samples.setdefault(metric, []).append(value)

    def note(self, key: str, value) -> None:
        """Append a per-cycle figure to info[key] (not while warming)."""
        if not self.warming:
            self.info.setdefault(key, []).append(value)

    def time_left(self) -> bool:
        return time.perf_counter() - self.t_measure < self.seconds

    def start_measuring(self) -> None:
        self.t_measure = time.perf_counter()
        self.info["setup_s"] = self.t_measure - self.t_start
        self.cpu_at_measure = cpu_times()
        self.gc_at_measure = jvm_gc_s(self.spark)


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat: the share of
    CPU time the hypervisor gave to other guests over an interval is the
    difference of steal over the difference of total."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def jvm_gc_s(spark) -> float:
    """Seconds the driver JVM has spent in garbage collection so far."""
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def gold_digest(spark, gold_dir: str) -> dict:
    """Order-insensitive digest of the three gold tables, in one Spark
    job: per table, the row count and the exact sum of a 64-bit hash
    over every column (in name order, so column layout does not matter;
    the hbucket partition column is a layout detail and is left out)."""
    parts = []
    for name in GOLD_TABLES:
        df = spark.read.parquet(f"{gold_dir}/{name}")
        cols = sorted(c for c in df.columns if c != "hbucket")
        parts.append(df.select(
            F.lit(name).alias("t"),
            F.xxhash64(*cols).cast("decimal(38,0)").alias("h")))
    rows = functools.reduce(lambda a, b: a.unionByName(b), parts) \
        .groupBy("t").agg(F.count("*").alias("n"), F.sum("h").alias("s")) \
        .collect()
    return {r.t: (int(r.n), str(r.s)) for r in rows}
