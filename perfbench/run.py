"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. Builds the inputs from the seed,
starts one local Spark session on half the cores this process may use,
sets up and warms up, then runs the workload's cycle until S seconds
have passed (at least one cycle), checking every output. The last line of
standard output is one JSON object: correct / attempted / failed and the
end-to-end metrics (--trace 0) or the per-layer metrics of a traced run
(--trace 1). The line before it carries the details: input sizes,
sample counts, request latencies and any failed checks.

Everything the run writes (bronze, gold, indexes, Spark scratch, the
event log) lives in a private directory under .perfbench_run/ in the
checkout, removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import uuid

import layers

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DRIVER_MEMORY = "3g"
WORKLOADS = ("chain_refresh", "index_lifecycle")
END_TO_END = ("setup_s",) + layers.E2E_TIMES


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test is the checkout's own source tree
    sys.path.insert(0, ROOT)
    import mining_data_integration_spark  # noqa: F401

    base = os.path.join(ROOT, ".perfbench_run")
    run_dir = os.path.join(base, f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(run_dir)
    try:
        return measure(args, run_dir, t_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass


def spark_env(run_dir: str, trace: bool) -> None:
    """Run hygiene, applied before the JVM starts: Spark sized to half
    the cores this process may use and to a driver heap that fits a
    small box, and every scratch path inside the run directory.

    Half, because a local[N] session runs N task threads and N Python
    workers beside the driver, the JVM's compiler and GC threads and
    this process; on a shared VM, runnable threads beyond the cores
    measure the host's scheduler (its CPU steal) more than the program.
    The JVM's GC threads are capped to the same count for that reason."""
    for d in ("local", "tmp", "events"):
        os.makedirs(os.path.join(run_dir, d))
    tmp = os.path.join(run_dir, "tmp")
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse")}
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "events"),
        })
    # -XX:-UsePerfData: no hsperfdata file under the system /tmp
    jvm = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
           f"-XX:ParallelGCThreads={cores} -XX:ConcGCThreads=1 "
           "-XX:CICompilerCount=2")
    submit = [f"--driver-java-options={jvm}"]
    submit += [f"--conf={k}={v}" for k, v in conf.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        shlex.quote(a) for a in submit + ["pyspark-shell"])


def _descendants() -> set[int]:
    """Pids of every process below this one (Linux /proc)."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = set(), [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


def stop_spark(spark) -> None:
    """Stop the session, then wait for the JVM and every process below
    it (the Python workers it forked) to exit; kill what outlives 60 s."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = _descendants()
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 60
    while any(_alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in filter(_alive, started):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def measure(args, run_dir: str, t_start: float) -> int:
    spark_env(run_dir, bool(args.trace))
    from mining_data_integration_spark.session import get_spark

    import harness
    import stats
    import trace

    spark = get_spark(f"perfbench-{args.workload}")
    try:
        tracer = (trace.Tracer(spark.sparkContext) if args.trace
                  else trace.NullTracer())
        run = harness.Run(spark, tracer, run_dir, args.seed, args.seconds,
                          t_start)
        if args.workload == "chain_refresh":
            from chain_refresh import ChainRefresh as Workload
        else:
            from index_lifecycle import IndexLifecycle as Workload
        work = Workload(run)
        work.setup()
        run.start_measuring()
        try:
            while True:
                work.cycle()
                if not run.time_left():
                    break
            if args.trace and hasattr(work, "layer_calls"):
                work.layer_calls()
        except harness.OpFailed:
            pass
        cpu_end = harness.cpu_times()
        gc_end = harness.jvm_gc_s(spark)
    finally:
        stop_spark(spark)

    missing = [m for m in END_TO_END[1:] if not run.samples.get(m)]
    if missing:
        print(f"no samples for {missing}: {run.problems}", file=sys.stderr)
        return 1
    req = run.samples["request_s"]
    tail = None
    if len(req) > stats.TAIL_BEYOND:
        v, level, n = stats.tail(req)
        tail = {"value": 1000.0 * v, "percentile": level, "samples": n}
    detail = {
        "workload": args.workload, "seed": args.seed,
        "input": run.info.get("input"),
        "samples": {k: len(v) for k, v in run.samples.items()},
        "request_ms_p50": 1000.0 * stats.median(req),
        "request_ms_tail": tail,
        "op_s": {k: [round(x, 3) for x in v] for k, v in run.op_times.items()},
        "host_steal_frac": round(harness.steal_frac(run.cpu_at_measure,
                                                     cpu_end), 4),
        "jvm_gc_s": round(gc_end - run.gc_at_measure, 3),
        "problems": run.problems,
    }
    if args.trace:
        by_span = trace.layer_stats(tracer, os.path.join(run_dir, "events"))
        values = layers.per_layer_metrics(by_span, run, tracer.bookkeeping_s)
        metrics = {name: {"value": values[name], "unit": unit}
                   for name, unit, _ in layers.PER_LAYER}
    else:
        e2e = {"setup_s": run.info["setup_s"]}
        e2e.update({m: stats.median(run.samples[m]) for m in END_TO_END[1:]})
        metrics = {m: {"value": e2e[m], "unit": "s"} for m in END_TO_END}
    print(json.dumps(detail))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
