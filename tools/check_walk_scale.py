"""Large-scale chain-walk verification via a CLOSED-FORM synthetic
chain (round-8 VERDICT #4, carried from round 6).

The j9/j16 DuckDB oracles replay the walk as a recursive CTE, which is
infeasible at sf0.1 (~150k rows -> 30k+ sequential iterations), so the
flagship walk has only been oracle-checked at sf0.01. This tool closes
the scale gap WITHOUT recursion: it builds a synthetic parent-pointer
forest whose canonical membership is a WHERE clause —

  * main chain:   id = 'b%09d' % h, parent = 'b%09d' % (h-1),
                  genesis parent = the ZERO64 sentinel
  * dead forks:   every 37th main node sprouts a branch of
                  (h % 47) + 3 nodes with ids 'f%09d_%d'; branch
                  heights CONTINUE from the fork point, so heights are
                  non-unique across the forest (the segmented engine's
                  stress case) while still monotone along every path

so ancestors-of-tip == exactly the rows WHERE id LIKE 'b%'. Every
walk engine — the collected driver walk of the canonical refresh
walks (one bounded Arrow collect, `walk_rows`, `keep_members`),
segmented, WITH RECURSIVE and pointer doubling — plus the auto front
door runs against the parquet table, and each result is compared
row-for-row (sorted-hash) against DuckDB evaluating the closed-form
predicate on the SAME file.

Usage: python tools/check_walk_scale.py [n_total_rows]  (default 150000)
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_TOTAL = int(sys.argv[1]) if len(sys.argv) > 1 else 150_000


def synth_rows(n_total: int) -> tuple[list[tuple[str, str, int]], int]:
    """Deterministic forest: main chain + dead forks, ~n_total rows.
    Returns (rows, main_len). Fork shape is pure height arithmetic —
    no RNG, so every run and every engine sees the same table."""
    from mining_data_integration_spark.schemas import ZERO64

    rows: list[tuple[str, str, int]] = []
    h = 0
    while len(rows) < n_total:
        parent = ZERO64 if h == 0 else f"b{h - 1:09d}"
        rows.append((f"b{h:09d}", parent, h))
        if h % 37 == 0 and h > 0:
            flen = (h % 47) + 3
            prev = f"b{h:09d}"
            for j in range(flen):
                fid = f"f{h:09d}_{j}"
                rows.append((fid, prev, h + 1 + j))
                prev = fid
        h += 1
    main_len = h
    return rows, main_len


def main() -> int:
    import duckdb
    import pyarrow.compute as pc

    from mining_data_integration_spark import chain as C
    from mining_data_integration_spark.session import get_spark

    spark = get_spark("walk-scale")
    rows, main_len = synth_rows(N_TOTAL)
    tip = f"b{main_len - 1:09d}"
    print(f"forest: {len(rows)} rows, main chain {main_len}, tip {tip}")

    tmp = tempfile.mkdtemp(prefix="sg_walk_scale_")
    path = f"{tmp}/forest.parquet"
    spark.createDataFrame(
        rows, "id string, parent string, h long"
    ).repartition(32).write.mode("overwrite").parquet(path)
    edges = spark.read.parquet(path)

    # closed-form oracle: membership is a WHERE clause, zero recursion
    con = duckdb.connect()
    want_ids = [r[0] for r in con.execute(
        f"SELECT id FROM read_parquet('{path}/*.parquet') "
        f"WHERE id LIKE 'b%' ORDER BY id").fetchall()]
    want_hash = hashlib.sha256(
        "\n".join(want_ids).encode()).hexdigest()
    print(f"oracle: {len(want_ids)} canonical ids "
          f"(expect {main_len}), hash {want_hash[:16]}")
    assert len(want_ids) == main_len

    def collected():
        t = C.collect_bounded(edges.select("id", "parent"), len(rows))
        ids = t["id"].combine_chunks()
        tip_at = pc.index(ids, tip).as_py()
        path = C.walk_rows(ids, t["parent"].combine_chunks(), tip_at)
        return C.keep_members(edges, ids, path, "id")

    engines = {
        "collected": collected,
        "segmented": lambda: C.chain_members_segmented(
            edges, tip, "id", "parent", "h"),
        "doubling": lambda: C.chain_members(
            edges,
            edges.sparkSession.createDataFrame([(tip,)], "id string"),
            "id", "parent"),
        "auto": lambda: C.chain_members_auto(
            edges, tip, "id", "parent", height_col="h"),
        # the round-9 routing fix: with NO height column, auto must
        # pick pointer doubling (depth unknown -> never the rcte
        # cliff), so a deep height-less chain walks through the
        # front door in O(log n) rounds
        "auto_noheight": lambda: C.chain_members_auto(
            edges.drop("h"), tip, "id", "parent"),
    }
    # WITH RECURSIVE materializes one level per chain link, so a 150k
    # chain means 150k sequential micro-jobs — the same wall-clock
    # cliff that makes the DuckDB recursive oracle infeasible at
    # sf0.1. The rcte engine is therefore checked only when the chain
    # is short enough (its selection domain: height-less moderate
    # walks); the scale tiers cover it via engine-agreement at sf0.01.
    if main_len <= 3000:
        engines["rcte"] = lambda: C.chain_members_rcte(
            edges, tip, "id", "parent", max_depth=main_len + 10)
    else:
        print(f"skip  rcte: depth-{main_len} materialization is the "
              f"known recursion cliff (checked at <=3000)")
    failures = []
    for name, fn in engines.items():
        t0 = time.time()
        try:
            got_ids = sorted(r.id for r in fn().collect())
        except Exception as ex:
            print(f"FAIL  {name}: {ex}")
            failures.append(name)
            continue
        got_hash = hashlib.sha256(
            "\n".join(got_ids).encode()).hexdigest()
        ok = got_hash == want_hash
        print(f"{'PASS' if ok else 'FAIL'}  {name}: {len(got_ids)} rows "
              f"hash={'match' if ok else 'MISMATCH'} "
              f"({time.time() - t0:.1f}s)")
        if not ok:
            failures.append(name)
            extra = sorted(set(got_ids) - set(want_ids))[:5]
            missing = sorted(set(want_ids) - set(got_ids))[:5]
            print(f"      extra={extra} missing={missing}")

    import shutil
    shutil.rmtree(tmp, ignore_errors=True)
    print(f"\n{len(failures)} failures"
          + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
