"""Persisted-index scale check (round-9 VERDICT #6 — the walk/CC
scale-artifact discipline applied to the two index lifecycles).

The dd15/sim19 probe paths' entire value is their cost model: a probe
touches n_probe/n_cells of the ANN index (resp. the band buckets) and
NEVER re-signs/re-encodes the corpus. This script pins that model
against a 10x index:

IVF-PQ (sim19 lifecycle, operators/similarity):
  * build two indexes — N and 10N vectors — with n_cells scaled
    sqrt-style so per-cell occupancy stays constant (the production
    sizing rule; a fixed n_cells at 10x data means 10x rows per probed
    cell, which is a sizing bug, not an engine property);
  * assert the probe plan carries a static `_cell IN (...)`
    PartitionFilter with at most |Q| * n_probe cells;
  * measure the probed fraction of the index EXACTLY from the sim24
    occupancy audit (sum of probed cells' shares) and assert it tracks
    len(IN)/n_cells within occupancy tolerance;
  * assert probe wall time stays roughly flat (large <= 3x small,
    against 10x data);
  * assert the sim24 occupancy bound on the LARGE artifact: no HOT
    cell (share > 2/n_cells) survives — if the audit flags one, run
    the sim25 rebalance loop once and re-audit.

MinHash/LSH (dd15 lifecycle, operators/dedup):
  * build two band-bucket indexes — N and 10N docs — and probe both
    with the SAME 200-doc ingest batch;
  * assert the probe plan broadcast-joins the batch against the bucket
    scan (no corpus re-signing: the only corpus-sized input is the
    index scan itself);
  * assert probe wall time grows sublinearly (large <= 4x small
    against 10x data — the bucket scan is the only O(index) term and
    it is a 3-column columnar read).

Usage: python tools/check_index_scale.py [small_n] [factor]
Prints PASS/FAIL per check and ALL PASS at the end (exit 0 iff all).
Deterministic: all synthetic inputs derive from F.hash of the row id.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mining_data_integration_spark import plans
from mining_data_integration_spark.operators import dedup as D
from mining_data_integration_spark.operators import similarity as S
from mining_data_integration_spark.session import get_spark

SMALL_N = int(sys.argv[1]) if len(sys.argv) > 1 else 30_000
FACTOR = int(sys.argv[2]) if len(sys.argv) > 2 else 10
LARGE_N = SMALL_N * FACTOR
DIM = 64
ROOT = "/tmp/sg_index_scale"

failures: list[str] = []


def check(name: str, ok: bool, detail: str = "") -> None:
    print(f"{'PASS' if ok else 'FAIL'} {name}" +
          (f": {detail}" if detail else ""))
    if not ok:
        failures.append(name)


def med3(fn) -> float:
    fn()  # warm
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        fn()
        runs.append(time.perf_counter() - t0)
    return sorted(runs)[1]


def synth_emb(spark, n: int):
    """Deterministic pseudo-random embeddings: every component is a
    pure function of (vec_id, i) via the JVM-side hash."""
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[
            (F.hash(F.col("id") * F.lit(7919) + F.lit(i)) % 200)
            .cast("double") for i in range(DIM)]).alias("embedding"))


def synth_docs(spark, n: int, id_offset: int = 0):
    """Deterministic token-soup documents (8 hash-derived words)."""
    return spark.range(n).select(
        (F.col("id") + id_offset).alias("doc_id"),
        F.concat_ws(" ", *[
            F.substring(F.md5(
                (F.col("id") + id_offset + i * 1_000_003)
                .cast("string")), 1, 8)
            for i in range(8)]).alias("text"))


def ivfpq_side(spark) -> None:
    q = (synth_emb(spark, 3)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_emb")))
    walls = {}
    for tag, n, n_cells in (("small", SMALL_N, 8),
                            ("large", LARGE_N, 8 * FACTOR)):
        path = f"{ROOT}/ivfpq_{tag}"
        t0 = time.perf_counter()
        S.save_ivfpq_index(synth_emb(spark, n), path, n_cells=n_cells,
                           m=4, kc=16, iters=3, dim=DIM)
        build = time.perf_counter() - t0
        idx = S.load_ivfpq_index(spark, path)
        probe = S.ivfpq_probe_topk(idx, q, k=5, n_probe=2)
        plan = plans.formatted_plan(probe)
        m = re.search(r"PartitionFilters:.*?_cell#\d+ IN \(([^)]*)\)",
                      plan)
        check(f"ivfpq/{tag}/static-partition-filter", m is not None)
        probed = ([int(x) for x in m.group(1).split(",")] if m else [])
        check(f"ivfpq/{tag}/probed-cells<=|Q|*n_probe",
              0 < len(probed) <= 3 * 2,
              f"IN-list {sorted(probed)} of {n_cells} cells")
        occ = {r.cell: r for r in S.ivfpq_cell_occupancy(idx).collect()}
        frac = sum(occ[c].occ_milli for c in probed) / 1000
        bound = 2.0 * len(probed) / n_cells   # sim24 hot bound per cell
        check(f"ivfpq/{tag}/probed-fraction-tracks-n_probe/n_cells",
              frac <= bound,
              f"probed {frac:.3f} of codes, bound {bound:.3f} "
              f"({len(probed)}/{n_cells} cells)")
        walls[tag] = med3(lambda: probe.count())
        print(f"  ivfpq/{tag}: n={n} n_cells={n_cells} "
              f"build={build:.1f}s probe={walls[tag]:.2f}s")
        if tag == "large":
            hot = [r for r in occ.values() if r.is_hot]
            if hot:
                # the sim25 loop: retrain at same geometry, swap, re-audit
                rebal = f"{ROOT}/ivfpq_large_rebal"
                S.rebalance_ivfpq_index(synth_emb(spark, n), path,
                                        rebal, iters=8)
                idx2 = S.load_ivfpq_index(spark, rebal)
                hot2 = [r for r in
                        S.ivfpq_cell_occupancy(idx2).collect()
                        if r.is_hot]
                check("ivfpq/large/occupancy-bound-after-rebalance",
                      len(hot2) == 0,
                      f"{len(hot)} hot pre-rebalance, "
                      f"{len(hot2)} post")
            else:
                check("ivfpq/large/occupancy-bound", True,
                      f"0 hot cells of {n_cells} "
                      f"(max share {max(r.occ_milli for r in occ.values())}"
                      f" milli, hot bound {2000 // n_cells})")
    check("ivfpq/probe-wall-roughly-flat-at-10x",
          walls["large"] <= 3 * walls["small"] + 0.5,
          f"small {walls['small']:.2f}s vs large {walls['large']:.2f}s "
          f"on {FACTOR}x codes")


def lsh_side(spark) -> None:
    batch = synth_docs(spark, 200, id_offset=10_000_000)
    walls = {}
    for tag, n in (("small", SMALL_N), ("large", LARGE_N)):
        path = f"{ROOT}/lsh_{tag}"
        t0 = time.perf_counter()
        D.save_minhash_index(synth_docs(spark, n), path,
                             n=3, num_hashes=16, bands=4)
        build = time.perf_counter() - t0
        probe = D.probe_minhash_index(batch, path)
        plan = plans.formatted_plan(probe)
        check(f"lsh/{tag}/batch-broadcast-joins-index",
              "BroadcastHashJoin" in plan)
        # formatted mode renders each scan once in the tree AND once as
        # a "(n) Scan parquet" detail header — count detail headers.
        # The only corpus-sized input must be the persisted bucket scan
        # (the batch side enters via Range/materialized signatures).
        scans = re.findall(r"^\(\d+\) Scan parquet", plan, re.M)
        check(f"lsh/{tag}/no-corpus-re-signing",
              len(scans) == 1 and f"lsh_{tag}" in plan,
              f"{len(scans)} parquet scan(s) — only the persisted "
              f"bucket scan reads corpus-sized data")
        walls[tag] = med3(lambda: probe.count())
        print(f"  lsh/{tag}: n={n} build={build:.1f}s "
              f"probe={walls[tag]:.2f}s")
    check("lsh/probe-wall-sublinear-at-10x",
          walls["large"] <= 4 * walls["small"] + 0.5,
          f"small {walls['small']:.2f}s vs large {walls['large']:.2f}s "
          f"on {FACTOR}x buckets")


def nsw_side(spark) -> None:
    """Round-13 VERDICT #1: the k-NN graph build's candidate-pair work
    must stay ~LINEAR when the corpus grows 10x, because the derived
    cell count (derive_nsw_centroids) holds occupancy constant — the
    fixed-cell build is the quadratic anti-shape (sf1's 680 s build
    was its measured symptom). Pair counts come from the analytic
    model (nsw_build_stats); the model itself is pinned against the
    real join's cardinality at the small size."""
    tocc = 640   # ~470 derived cells on the 300,000-vector corpus
    stats, walls = {}, {}
    for tag, n in (("small", SMALL_N), ("large", LARGE_N)):
        t0 = time.perf_counter()
        st = S.nsw_build_stats(synth_emb(spark, n),
                               target_occupancy=tocc)
        walls[tag] = time.perf_counter() - t0
        stats[tag] = st
        check(f"nsw/{tag}/derived-cells-track-n/occupancy",
              st["n_centroids"] >= min(S.NSW_MAX_CENTROIDS,
                                       n // tocc),
              f"c={st['n_centroids']} for n={n} at occupancy {tocc}")
        print(f"  nsw/{tag}: n={n} c={st['n_centroids']} "
              f"pairs={st['pair_count']:,} "
              f"max_occ={st['max_occupancy']} "
              f"stats_wall={walls[tag]:.1f}s")
    ratio = (stats["large"]["pair_count"]
             / max(1, stats["small"]["pair_count"]))
    check("nsw/pair-work-~linear-at-10x",
          ratio <= 2.5 * FACTOR,
          f"pairs grew {ratio:.1f}x on {FACTOR}x corpus "
          f"({stats['small']['pair_count']:,} -> "
          f"{stats['large']['pair_count']:,})")
    # the fixed-cell contrast: 8 cells pinned on the large corpus --
    # occupancy n/8, pair work superlinear (this is what the derived
    # default replaces; kept cheap because the model never joins)
    fx = S.nsw_build_stats(synth_emb(spark, LARGE_N), n_centroids=8)
    check("nsw/fixed-cells-are-the-superlinear-contrast",
          fx["pair_count"] > 3 * stats["large"]["pair_count"],
          f"fixed-8-cell pairs {fx['pair_count']:,} vs derived "
          f"{stats['large']['pair_count']:,}")
    real = S.nsw_candidate_pairs(synth_emb(spark, SMALL_N),
                                 target_occupancy=tocc).count()
    check("nsw/analytic-model-equals-real-join",
          real == stats["small"]["pair_count"],
          f"model {stats['small']['pair_count']:,} vs join {real:,}")


def main() -> int:
    shutil.rmtree(ROOT, ignore_errors=True)
    spark = get_spark("index-scale")
    print(f"index scale check: small N={SMALL_N}, large N={LARGE_N} "
          f"({FACTOR}x), dim={DIM}")
    ivfpq_side(spark)
    lsh_side(spark)
    nsw_side(spark)
    print("ALL PASS" if not failures else f"FAILURES: {failures}")
    shutil.rmtree(ROOT, ignore_errors=True)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
