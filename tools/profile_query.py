"""Profile registry queries: eager vs lazy time and Spark jobs, the
formatted plan, and a per-job timeline from the Spark event log.

After one warm-up, each of OPT_RUNS runs (default 3) is a root span
with two stages: `eager`, the fn(spark, sf_dir) call (k-means trains,
index builds and stream drains run here), and `lazy`, the result
written to the noop sink. Job counts come from the run record. The
last run's jobs are read back with perfbench/trace.py's event-log
parser: per job the driver gap before it, its wall, task time, task
count and shuffle bytes.

Usage:
    python tools/profile_query.py <tag> <query> [query ...]
    SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as bench.py; OPT_PLANS_DIR
    (default plans/r13) gets <query>_<tag>.txt.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import statistics
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TAG = sys.argv[1]
NAMES = sys.argv[2:]
RUNS = int(os.environ.get("OPT_RUNS", "3"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_trace():
    """perfbench/trace.py by path: its module name shadows stdlib
    `trace`, so it cannot be imported by name."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_trace", os.path.join(ROOT, "perfbench", "trace.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def print_timeline(log: dict, job_ids: list[int]) -> None:
    print(f"{'job':>5} {'gap_ms':>7} {'wall_ms':>8} {'task_ms':>8} "
          f"{'tasks':>5} {'shuffle_b':>10}")
    prev_end = None
    for j in job_ids:
        job = log["jobs"][j]
        end = job["end_ms"] or job["submit_ms"]
        st = [log["stages"][s] for s in job["stages"] if s in log["stages"]]
        gap = job["submit_ms"] - (prev_end or job["submit_ms"])
        prev_end = end
        print(f"{j:>5} {gap:>7.0f} {end - job['submit_ms']:>8.0f} "
              f"{sum(s['run_ms'] for s in st):>8.0f} "
              f"{sum(len(s['task_ms']) for s in st):>5} "
              f"{sum(s['shuffle_write'] for s in st):>10}")


def main() -> None:
    events = tempfile.mkdtemp(prefix="profile_query_events_")
    # confs in PYSPARK_SUBMIT_ARGS apply at JVM launch
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.eventLog.enabled=true "
        "--conf spark.eventLog.compress=false "
        "--conf spark.eventLog.rolling.enabled=false "
        f"--conf spark.eventLog.dir=file://{events} pyspark-shell")

    import __spark_entry__ as entry

    from mining_data_integration_spark import spans
    from mining_data_integration_spark.session import get_spark

    spark = get_spark("profile-query")
    trace = load_trace()
    plans_dir = os.environ.get("OPT_PLANS_DIR", "plans/r13")
    os.makedirs(plans_dir, exist_ok=True)
    try:
        for name in NAMES:
            fn = entry.queries()[name]
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            runs = []
            for _ in range(RUNS):
                with spans.span(name) as s:
                    with spans.span("eager"):
                        df = fn(spark, SF_DIR)
                    with spans.span("lazy"):
                        df.write.format("noop").mode("overwrite").save()
                runs.append(s.record["spans"]["children"])
            plan = f"{plans_dir}/{name}_{TAG}.txt"
            with open(plan, "w") as fh:
                fh.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution
                    .ExplainMode.fromString("formatted")))
            eager, lazy = runs[-1]
            print(json.dumps({
                "query": name,
                "eager_sec": statistics.median(r[0]["wall_s"] for r in runs),
                "noop_sec": statistics.median(r[1]["wall_s"] for r in runs),
                "jobs_eager": len(eager["jobs"]),
                "jobs_lazy": len(lazy["jobs"]),
                "runs": RUNS, "plan": plan}), flush=True)
            with open(trace.find_event_log(events)) as fh:
                print_timeline(trace.parse_event_log(fh),
                               eager["jobs"] + lazy["jobs"])
    finally:
        spark.stop()
        shutil.rmtree(events, ignore_errors=True)


if __name__ == "__main__":
    main()
