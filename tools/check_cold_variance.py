"""Pin down the cold-refresh variance at scale (round-10 VERDICT #4).

The r10 logs showed the 500k-block COLD refresh wall swinging 59-127 s
between same-tree runs, with walk/gold_writes stage attribution moving
5x — one median above the 120 s budget, one far below. This probe runs
the cold path N times on one synthetic world with per-run stage
timings, so the swing (if any) is attributed per stage instead of
argued from two single-run snapshots.

Criteria (the VERDICT's done-bar): max/min wall spread < 2x and every
run under the 120 s budget. Exit 1 on violation.

Usage: python tools/check_cold_variance.py [n_blocks=500000] [runs=5]
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mining_data_integration_spark import spans, streaming
from mining_data_integration_spark.session import get_spark
from mining_data_integration_spark.synthworld import (
    land_as_parquet,
    synth_mining_world,
)

BUDGET_SEC = 120.0


def main() -> int:
    n_blocks = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark("cold-variance")
    bronze = "/tmp/cold_var_bronze"
    gold = "/tmp/cold_var_gold"
    shutil.rmtree(bronze, ignore_errors=True)
    tables = synth_mining_world(spark, n_blocks, 10, n_miners=200)
    tables = land_as_parquet(tables, bronze, spark)

    walls: list[float] = []
    stages: list[dict] = []
    # n_runs + 1: run 0 is the JVM warm-up (whole-stage codegen JIT,
    # scan metadata, shuffle service spin-up) — a ONE-OFF cost of the
    # process, not of the cold-STATE path. "Cold" here means cold gold
    # state; the r10 single-snapshot logs conflated the two, which is
    # where the apparent 2x "variance" came from (each log's cold
    # number was a different mix of first-in-process and steady runs).
    for i in range(n_runs + 1):
        shutil.rmtree(gold, ignore_errors=True)     # no state -> cold
        with spans.span("cold") as s:
            mode = streaming.refresh_once(tables, gold, reuse_gold=True)
        wall = round(s.record["spans"]["wall_s"], 2)
        st = spans.stages(s.record)
        assert mode == "cold", mode
        walls.append(wall)
        stages.append(st)
        label = "warm-up" if i == 0 else f"run {i}/{n_runs}"
        print(f"{label}: wall {wall:7.2f} s  stages {st}", flush=True)

    warmup, walls = walls[0], walls[1:]
    stages = stages[1:]
    s = sorted(walls)
    spread = s[-1] / s[0] if s[0] > 0 else float("inf")
    stage_keys = sorted({k for st in stages for k in st})
    report = {
        "metric": "cold_refresh_variance", "n_blocks": n_blocks,
        "jvm_warmup_run_sec": warmup,
        "runs": walls, "median_sec": s[len(s) // 2],
        "min_sec": s[0], "max_sec": s[-1],
        "spread_ratio": round(spread, 2),
        "budget_sec": BUDGET_SEC,
        "stage_runs": {k: [st.get(k) for st in stages]
                       for k in stage_keys},
    }
    print(json.dumps(report))
    ok = spread < 2.0 and s[-1] < BUDGET_SEC
    print(("PASS" if ok else "FAIL")
          + f": spread {spread:.2f}x (<2.0 required), "
          f"max {s[-1]:.1f} s (<{BUDGET_SEC:.0f} required)")
    shutil.rmtree(gold, ignore_errors=True)
    shutil.rmtree(bronze, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
