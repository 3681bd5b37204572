"""The per-layer metrics of the traced run, named after the package's
modules, and how each is computed from the spans.

Every traced run prints every metric. A layer the workload does not call
reads 0 there (chain_refresh calls no index, index_lifecycle no refresh
layer); METRICS.md maps each layer to the workload that exercises it.
"""

from __future__ import annotations

import stats

STAT_UNITS = {"jobs": "count", "tasks": "count", "task_s": "s",
              "shuffle_bytes": "bytes", "spill_bytes": "bytes",
              "task_skew": "ratio", "driver_gap_s": "s"}
REFRESH_STATS = ("jobs", "tasks", "task_s", "shuffle_bytes", "spill_bytes",
                 "task_skew", "driver_gap_s")
TICK_STATS = ("jobs", "tasks", "task_s", "shuffle_bytes", "driver_gap_s")
MONITOR_SECTIONS = ("current_status", "miner_table", "burn_fee_area",
                    "winner_pie")
ENDPOINTS = ("head_slice", "tail_slice", "paginate", "range_slice",
             "with_rr", "btc_total")
INDEXES = ("ivfpq", "nsw", "minhash")
INDEX_OPS = ("build", "append", "delete", "compact", "probe")
E2E_TIMES = ("build_s", "update_s", "maintain_s", "read_s")


def _defs() -> list[tuple[str, str, str]]:
    """(name, unit, better) for every per-layer metric, in report order."""
    d = [("chain.walk_snapshots_s", "s", "lower"),
         ("chain.walk_headers_s", "s", "lower"),
         ("chain.jobs", "count", "lower"),
         ("core.prepare_s", "s", "lower"),
         ("core.prepare_jobs", "count", "lower")]
    d += [(f"core.gold_build_s.{t}", "s", "lower")
          for t in ("miner_info", "mining_info", "block_info")]
    for mode in ("cold", "warm"):
        d += [(f"streaming.refresh_{mode}.{k}", STAT_UNITS[k], "lower")
              for k in REFRESH_STATS]
        d.append((f"streaming.refresh_{mode}.gold_bytes_written", "bytes",
                  "lower"))
    d += [(f"incremental.tick.{k}", STAT_UNITS[k], "lower")
          for k in TICK_STATS]
    d.append(("incremental.write_amp", "ratio", "lower"))
    d += [(f"monitor.{s}_s", "s", "lower") for s in MONITOR_SECTIONS]
    d += [("monitor.rows_returned", "count", "higher"),
          ("monitor.jobs", "count", "lower")]
    d += [(f"serving.{e}_ms", "ms", "lower") for e in ENDPOINTS]
    d.append(("serving.jobs", "count", "lower"))
    for ix in INDEXES:
        d += [(f"{ix}.{op}_s", "s", "lower") for op in INDEX_OPS]
        d += [(f"{ix}.{op}_jobs", "count", "lower") for op in INDEX_OPS]
        d.append((f"{ix}.bytes_per_live_row", "bytes", "lower"))
    d += [(f"trace.{m}", "s", "lower") for m in E2E_TIMES]
    d.append(("trace.bookkeeping_s", "s", "lower"))
    return d


PER_LAYER = _defs()


def _med(xs) -> float:
    return stats.median(xs) if xs else 0.0


def per_layer_metrics(by_span: dict, run, bookkeeping_s: float) -> dict:
    """name -> value from the span statistics (layer_stats) and what the
    workload recorded in run.info / run.samples."""
    def occ(span: str) -> list[dict]:
        return by_span.get(span, [])

    def med(span: str, key: str) -> float:
        return _med([o[key] for o in occ(span)])

    def per_round(prefix: str, names) -> float:
        # jobs per read round: total over the round's spans / rounds
        rounds = max((len(occ(f"{prefix}.{n}")) for n in names), default=0)
        total = sum(o["jobs"] for n in names for o in occ(f"{prefix}.{n}"))
        return total / rounds if rounds else 0.0

    v = {
        "chain.walk_snapshots_s": med("chain.walk_snapshots", "wall_s"),
        "chain.walk_headers_s": med("chain.walk_headers", "wall_s"),
        "chain.jobs": med("chain.walk_snapshots", "jobs")
        + med("chain.walk_headers", "jobs"),
        "core.prepare_s": med("core.prepare", "wall_s"),
        "core.prepare_jobs": med("core.prepare", "jobs"),
    }
    for t in ("miner_info", "mining_info", "block_info"):
        v[f"core.gold_build_s.{t}"] = med(f"core.gold_build.{t}", "wall_s")
    for mode in ("cold", "warm"):
        span = f"streaming.refresh_{mode}"
        for k in REFRESH_STATS:
            v[f"{span}.{k}"] = med(span, k)
        v[f"{span}.gold_bytes_written"] = med(span, "output_bytes")
    for k in TICK_STATS:
        v[f"incremental.tick.{k}"] = med("incremental.tick", k)
    landed = run.info.get("tick_landed_bytes", [])
    v["incremental.write_amp"] = _med(
        [o["output_bytes"] / b for o, b in zip(occ("incremental.tick"), landed)])
    for s in MONITOR_SECTIONS:
        v[f"monitor.{s}_s"] = med(f"monitor.{s}", "wall_s")
    v["monitor.rows_returned"] = _med(run.info.get("dashboard_rows", []))
    v["monitor.jobs"] = per_round("monitor", MONITOR_SECTIONS + ("rr",))
    for e in ENDPOINTS:
        v[f"serving.{e}_ms"] = 1000.0 * med(f"serving.{e}", "wall_s")
    v["serving.jobs"] = per_round("serving", ENDPOINTS)
    bpr = run.info.get("bytes_per_live_row", {})
    for ix in INDEXES:
        for op in INDEX_OPS:
            v[f"{ix}.{op}_s"] = med(f"{ix}.{op}", "wall_s")
            v[f"{ix}.{op}_jobs"] = med(f"{ix}.{op}", "jobs")
        v[f"{ix}.bytes_per_live_row"] = _med(bpr.get(ix, []))
    for m in E2E_TIMES:
        v[f"trace.{m}"] = _med(run.samples.get(m, []))
    v["trace.bookkeeping_s"] = bookkeeping_s
    return v
