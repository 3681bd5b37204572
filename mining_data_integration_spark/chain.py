"""Canonical-chain walk: the one algorithm Catalyst doesn't give us.

The reference selects forks sequentially: the canonical burnchain
snapshot chain is built by walking ``parent_burn_header_hash`` pointers
height-descending (rpc.js:152-183, SURVEY F2), and the canonical Stacks
fork by walking ``block_headers.parent_block`` from the deepest branch
tip to the genesis sentinel (rpc.js:277-309, SURVEY J9). Both are the
same problem: *the set of ancestors of one tip in a parent-pointer
forest*.

The refresh walks (`snapshots_walk`, `stacks_walk`) do what the
reference does: a plain walk over rows already in memory. Each takes
ONE bounded Arrow collect of (id, parent, height) — at most
`incremental.WALK_COLLECT_CAP` rows, a chain of a few years of blocks
— picks the tip from it, resolves every parent pointer to a row index
once (`pyarrow.compute.index_in`) and follows the integer indexes on
the driver (`walk_rows`). What goes back to Spark is only the set of
NON-members, a local relation that left-anti-joins the rows, so the
frame sent back is O(forks), not O(chain). A walk is a Spark job or
two of fixed cost instead of the dozen a distributed walk launches.

Above the cap the distributed engines take over (noted as
`walk_collect_cap` in the run record):

* `chain_members_segmented` — height-bucketed list ranking, O(1)
  shuffles plus a driver stitch over the bucket summaries;
* `chain_members` — pointer-doubling reachability, the fully general
  definition every other engine is pinned against:

      S_0 = {tip};  J_0 = edges (node -> parent)
      S_{k+1} = S_k  ∪  (S_k ⋈ J_k)       # ancestors 2^k..2^{k+1}-1 away
      J_{k+1} = J_k ⋈ J_k                  # node -> its 2^{k+1}-ancestor

  ⌈log2 n⌉ join rounds for a chain of length n, each checkpointed to
  cut the deepening lineage;
* `chain_members_rcte` — the `WITH RECURSIVE` SQL twin.

Genesis/no-parent is the ZERO64 sentinel (rpc.js:94, 282, 510): edges
to the sentinel are dropped, which terminates every walk.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import spans
from .schemas import ZERO64


def chain_members(edges: DataFrame, tips: DataFrame,
                  id_col: str, parent_col: str,
                  max_rounds: int = 40) -> DataFrame:
    """All ancestors of `tips` (inclusive) in the parent-pointer graph.

    edges: one row per node with (id_col, parent_col).
    tips:  one column `id_col` — the walk anchors (usually one row).
    Returns a single-column DataFrame (id_col) of chain members.
    """
    jump = (
        edges.select(F.col(id_col).alias("node"), F.col(parent_col).alias("anc"))
        .filter(F.col("anc") != ZERO64)
        .filter(F.col("node") != ZERO64)
    ).localCheckpoint(eager=True)

    members = tips.select(F.col(id_col).alias("node")).distinct() \
        .localCheckpoint(eager=True)
    n = members.count()

    for _ in range(max_rounds):
        stepped = (
            members.join(jump, "node")
            .select(F.col("anc").alias("node"))
        )
        members = members.unionByName(stepped).distinct() \
            .localCheckpoint(eager=True)
        new_n = members.count()
        if new_n == n:
            # fixpoint: no member has an uncovered 2^k-ancestor, and the
            # chain is contiguous, so no farther ancestor exists either
            break
        n = new_n
        # double the jump pointers: node -> 2^(k+1)-ancestor
        jump = (
            jump.alias("a")
            .join(jump.alias("b"), F.col("a.anc") == F.col("b.node"))
            .select(F.col("a.node").alias("node"), F.col("b.anc").alias("anc"))
            .localCheckpoint(eager=True)
        )

    return members.select(F.col("node").alias(id_col))


def chain_members_segmented(edges: DataFrame, tip_id: str,
                            id_col: str, parent_col: str, height_col: str,
                            bucket_span: int = 16384,
                            tip_height: int | None = None) -> DataFrame:
    """Height-aware chain walk in O(1) shuffles (segment list-ranking).

    When nodes carry a monotone height (both mining chains do), the
    ancestors-of-tip walk needs no iterative joins: bucket rows by
    height range, walk each bucket *locally* from every possible entry
    row (a row with no in-bucket child), emit (entry, member) pairs,
    then stitch the per-bucket summaries — a K-row sequential pass,
    K = #buckets — and keep each bucket's members under its chosen
    entry. One shuffle (the bucketing) + one broadcast semi-join,
    versus ~log2(n) shuffle rounds for pointer doubling: at 500k
    blocks this is ~10x fewer barriers on the E1 hot path.

    Entry candidates per bucket: rows at the bucket's top populated
    height (a height-contiguous chain — burn and Stacks chains both
    are — always enters a bucket at its top height) plus rows with no
    in-bucket child (covers leaves/gaps). A chain crosses a bucket at
    most once (heights strictly decrease along parent links), so the
    stitch picks one entry per bucket. For graphs without a usable
    height column, `chain_members` (pointer doubling) is the fully
    general path.

    `tip_height` (optional, round-13): callers that already know the
    chain's tip height (both canonical-walk call sites collect the
    tip row anyway) let the span be derived SCALE-ADAPTIVELY —
    ~2 x defaultParallelism buckets, span clamped to [64,
    bucket_span] — instead of the fixed 16384. A 50k-height chain
    under the fixed span yields <=4 buckets, and AQE then coalesces
    the tiny shuffle into ONE task, so the per-bucket Python walk ran
    single-threaded (measured: a 3.1 s one-task stage inside
    e1_mining_info at sf0.1). The derived span spreads the same
    O(rows) Python work across the cores; the explicit
    repartition(n, "_bucket") pins the exchange width so AQE cannot
    re-coalesce it (guide §2.5 — Python-heavy stages need their
    parallelism pinned: the shuffled bytes are far below the
    advisory partition size, so byte-based coalescing would fold the
    buckets back into one task). Results are span-independent
    (pinned by the engine-equivalence tests).
    """
    import pandas as pd

    if tip_height is not None:
        par = max(1, edges.sparkSession.sparkContext.defaultParallelism)
        bucket_span = min(bucket_span,
                          max(64, -(-int(tip_height + 1) // (2 * par))))

    def walk_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        """Emit each in-bucket row at most once: walks are memoized —
        when a walk from a later entry reaches a node already owned by
        an earlier walk, it records a *continuation* (owner entry +
        position) instead of re-walking the shared suffix. Keeps the
        per-bucket work O(rows) even with many fork-twin entries."""
        by_id = dict(zip(pdf[id_col], pdf[parent_col]))
        parents_in_bucket = set(pdf[parent_col])
        top = pdf["_h"].max()
        heights = dict(zip(pdf[id_col], pdf["_h"]))
        owner: dict[str, tuple[str, int]] = {}
        rows: list[tuple] = []       # (entry, member, pos)
        meta: dict[str, tuple] = {}  # entry -> (exit, cont_entry, cont_pos)
        # entries sorted by height desc so main-chain walks run first
        # and fork twins terminate quickly on a visited node
        for entry in sorted(by_id, key=lambda i: -heights[i]):
            if entry in owner:
                continue
            if entry in parents_in_bucket and heights[entry] != top:
                continue  # interior row (has an in-bucket child)
            cur, pos = entry, 0
            exit_hash = cont_entry = None
            cont_pos = -1
            while cur in by_id:
                if cur in owner:
                    cont_entry, cont_pos = owner[cur]
                    break
                owner[cur] = (entry, pos)
                rows.append((entry, cur, pos))
                pos += 1
                cur = by_id[cur]
            else:
                exit_hash = cur
            meta[entry] = (exit_hash, cont_entry, cont_pos)
        bucket = int(pdf["_bucket"].iloc[0])
        return pd.DataFrame({
            "_bucket": bucket,
            "entry": [r[0] for r in rows],
            "member": [r[1] for r in rows],
            "pos": [r[2] for r in rows],
            "exit": [meta[r[0]][0] for r in rows],
            "cont_entry": [meta[r[0]][1] for r in rows],
            "cont_pos": [meta[r[0]][2] for r in rows],
        })

    keyed = (
        edges.select(
            F.col(id_col), F.col(parent_col),
            F.col(height_col).alias("_h"),
            # a NULL height goes to a bucket below every other one: a
            # chain that passes through it ends the stitch there, and
            # the membership probe below hands it to pointer doubling
            F.coalesce((F.col(height_col) / bucket_span).cast("long"),
                       F.lit(-1)).alias("_bucket"),
        )
        .filter(F.col(id_col) != ZERO64)
    )
    if tip_height is not None:
        # pin the exchange width to the bucket count (see docstring)
        n_buckets = int(tip_height) // bucket_span + 1
        keyed = keyed.repartition(n_buckets, "_bucket")
    # lazy (round-13): the summaries collect right below is the first
    # action, so it computes the walk AND populates the checkpoint in
    # one job; the final members join re-reads the cached blocks. The
    # eager form ran a separate materialization job per walk.
    pairs = keyed.groupBy("_bucket").applyInPandas(
        walk_bucket,
        schema="_bucket long, entry string, member string, pos long, "
               "exit string, cont_entry string, cont_pos long",
    ).localCheckpoint(eager=False)

    # per-(bucket, entry) summary: every pair row carries its entry's
    # exit / continuation, so the summary is a tiny first() aggregate
    summaries = (
        pairs.groupBy("_bucket", "entry")
        .agg(F.first("exit").alias("bucket_exit"),
             F.first("cont_entry").alias("cont_entry"),
             F.first("cont_pos").alias("cont_pos"))
        .collect()
    )
    info = {(r._bucket, r.entry): (r.bucket_exit, r.cont_entry, r.cont_pos)
            for r in summaries}

    # driver stitch over K bucket summaries (not n rows): inside one
    # bucket, follow continuation links (entry -> owner entry at pos)
    # until an exit hash, collecting (entry, min_pos) segments
    chosen: dict[tuple[int, str], int] = {}   # (bucket, entry) -> min pos
    expected = tip_id
    for b in sorted({b for b, _ in info}, reverse=True):
        if (b, expected) not in info:
            continue
        entry, pos = expected, 0
        while pos < chosen.get((b, entry), pos + 1):
            chosen[(b, entry)] = pos
            exit_hash, cont_entry, cont_pos = info[(b, entry)]
            if cont_entry is None:
                expected = exit_hash
                break
            entry, pos = cont_entry, cont_pos
        else:
            # the parent pointers closed a cycle inside this bucket (a
            # continuation came back to an entry at no lower position):
            # every member is chosen and the walk has no exit
            expected = ZERO64
            break

    # safety net: the entry-candidate rule assumes height-contiguous
    # chains (entries sit at a bucket's top populated height or have no
    # in-bucket child). If the walk stopped at a hash that still exists
    # as a node, an entry was hidden (gap + in-bucket fork child) —
    # fall back to the fully general pointer-doubling walk.
    # membership is checked against the CHECKPOINTED pairs, not keyed:
    # walk_bucket emits every in-bucket row exactly once (each row's
    # child chain climbs to an entry candidate, whose walk passes back
    # through it), so pairs.member equals keyed's id set — and the
    # probe reads cached blocks instead of re-running the scan+filter
    # subtree (round-13; was a full second pass over the edge table)
    if expected != ZERO64 and not pairs.filter(
            F.col("member") == expected).isEmpty():
        spans.note("segmented_walk_fallback",
                   f"stitch stopped at node {expected}; pointer doubling")
        tips = edges.sparkSession.createDataFrame(
            [(tip_id,)], f"{id_col} string")
        return chain_members(edges, tips, id_col, parent_col)

    if not chosen:
        return edges.sparkSession.createDataFrame(
            [(tip_id,)], f"{id_col} string")

    chosen_df = edges.sparkSession.createDataFrame(
        [(b, e, p) for (b, e), p in chosen.items()],
        "_bucket long, entry string, min_pos long")
    return (
        pairs.join(F.broadcast(chosen_df), ["_bucket", "entry"])
        .filter(F.col("pos") >= F.col("min_pos"))
        .select(F.col("member").alias(id_col))
    )


def chain_members_rcte(edges: DataFrame, tip_id: str,
                       id_col: str, parent_col: str,
                       max_depth: int = 1_000_000) -> DataFrame:
    """Recursive-CTE form of the chain walk (Spark 4 `WITH RECURSIVE`)
    — the declarative SQL-surface twin of chain_members, matching the
    DuckDB oracle's formulation one-to-one. The depth bound uses the
    inline `MAX RECURSION LEVEL` clause (no session-conf mutation).

    Trade-off: the recursion materializes one level per iteration, so
    a chain of depth n runs n joins — fine for bounded windows and for
    SQL-surface parity, but the pointer-doubling (O(log n) rounds) and
    segmented (O(1) shuffles) walks remain the scale paths.
    """
    import hashlib

    spark = edges.sparkSession
    # md5, not Python hash(): hash() of str is salted per process
    # (PYTHONHASHSEED), and this codebase is otherwise deterministic
    tag = hashlib.md5(
        f"{id_col}|{parent_col}|{tip_id}".encode()).hexdigest()[:8]
    view = f"chain_edges_{tag}"
    edges.select(id_col, parent_col).createOrReplaceTempView(view)
    tip_lit = tip_id.replace("'", "''")
    return spark.sql(f"""
        WITH RECURSIVE walk(id, parent)
        MAX RECURSION LEVEL {int(max_depth)} AS (
            SELECT {id_col}, {parent_col} FROM {view}
            WHERE {id_col} = '{tip_lit}'
            UNION ALL
            SELECT e.{id_col}, e.{parent_col}
            FROM {view} e JOIN walk w ON e.{id_col} = w.parent
        )
        SELECT DISTINCT id AS {id_col} FROM walk
    """)


def _spark_major(spark) -> int:
    try:
        return int(spark.version.split(".")[0])
    except (ValueError, IndexError, AttributeError):
        return 0


def chain_members_auto(edges: DataFrame, tip_id: str,
                       id_col: str, parent_col: str,
                       height_col: str | None = None,
                       prefer_rcte: bool = False,
                       tip_height: int | None = None) -> DataFrame:
    """Engine-selecting front door for the ancestors-of-tip walk.

    Selection rule (one probe, no depth assumption):
    1. a monotone height column is available -> segmented walk
       (O(1) shuffles — the E1 hot-path choice at any chain length);
    2. else -> pointer doubling (O(log n) shuffle rounds, fully
       general: no version, schema, or DEPTH demands — when no height
       column exists the chain depth is unknown, and `WITH RECURSIVE`
       materializes one level per link, a wall-clock cliff around
       depth ~3000 documented in logs/r8_walk_scale_150k.log, so it
       must never be the blind default);
    3. `prefer_rcte=True` (explicit opt-in, Spark 4+ only) -> `WITH
       RECURSIVE` for callers that KNOW the walk is shallow and want
       the declarative SQL-surface twin (j16's direct-call domain).

    The three engines are result-identical (pinned against each other
    in tests/test_core_golden.py and the j9/j16 oracles, and at 150k
    edges height-less in tools/check_walk_scale.py); callers that
    know better can still invoke a specific engine directly.

    `tip_id` is always passed as a str (the signature); the segmented
    and rcte engines embed it as a string literal and so support
    string-keyed chains only. Pointer doubling accepts any id type:
    the str tip is built as a string column and CAST to the edge
    table's id type, so e.g. a bigint-keyed chain walks correctly
    there ("5" -> 5L) instead of tripping createDataFrame schema
    verification.
    """
    if height_col is not None and height_col in edges.columns:
        return chain_members_segmented(
            edges, tip_id, id_col=id_col, parent_col=parent_col,
            height_col=height_col, tip_height=tip_height)
    if prefer_rcte and _spark_major(edges.sparkSession) >= 4:
        return chain_members_rcte(
            edges, tip_id, id_col=id_col, parent_col=parent_col)
    from pyspark.sql.types import StringType, StructField, StructType

    # build the tip as a STRING column and cast to the edge id type:
    # createDataFrame with the target type would reject the str input
    # outright for non-string id columns, while cast accepts the str
    # and yields the column's type — engine selection never changes
    # observable behavior for types whose str round-trips (bigint etc.)
    id_type = edges.schema[id_col].dataType
    tips = edges.sparkSession.createDataFrame(
        [(str(tip_id),)],
        StructType([StructField(id_col, StringType())]),
    ).select(
        # a non-round-tripping tip (e.g. "xyz" vs a bigint id column)
        # would cast to NULL and silently walk to an empty result. The
        # guard is folded INTO the kept column (when/raise_error), not
        # a dropped assert_true column: Catalyst prunes an unused
        # projection, so a dropped guard never fires with ANSI off
        # (round-10 ADVICE) — with it folded in, a NULL cast raises
        # loudly under either ANSI setting.
        F.when(F.col(id_col).cast(id_type).isNotNull(),
               F.col(id_col).cast(id_type))
        .otherwise(F.raise_error(F.concat(
            F.lit("chain_members_auto: tip '"), F.col(id_col),
            F.lit(f"' does not cast to edge id type "
                  f"{id_type.simpleString()}"))))
        .alias(id_col),
    )
    return chain_members(edges, tips, id_col, parent_col)


def deepest_tip(headers: DataFrame, id_col: str = "block_hash",
                parent_col: str = "parent_block",
                height_col: str = "block_height") -> DataFrame:
    """The anchor of the canonical Stacks fork (SURVEY O3/O-R2).

    Branch tips are headers that are nobody's parent (left-anti join on
    the parent pointer); the canonical tip is the one at max height —
    identical to the reference's deepest-branch pick (rpc.js:278-280)
    because depth along a chain equals its height. Ties break on the
    hash string for determinism.
    """
    nodes = headers.select(id_col, parent_col, height_col)
    parents = nodes.select(F.col(parent_col).alias(id_col)).distinct()
    tips = nodes.join(parents, id_col, "left_anti")
    return (
        tips.orderBy(F.desc(height_col), F.col(id_col))
        .limit(1)
        # height kept alongside the id (round-13): the canonical-walk
        # caller derives the segmented walk's bucket span from it
        .select(id_col, height_col)
    )


class Walk(NamedTuple):
    """A canonical walk's rows, and the max of one height column over
    them (`top`; None when the walk ran distributed and did not hold
    its rows)."""
    rows: DataFrame
    top: int | None


def collect_bounded(df: DataFrame, cap: int) -> pa.Table | None:
    """`df` as one Arrow table from one Spark job, or None when it has
    more than `cap` rows (at most cap + 1 rows are read)."""
    t = df.limit(cap + 1).toArrow()
    return t if t.num_rows <= cap else None


def walk_rows(ids: pa.Array, parents: pa.Array,
              tip: int | None) -> list[int]:
    """Row indexes on the parent-pointer path from row `tip`, tip first.

    One hash of `ids` resolves every parent to a row index (the first
    row carrying its id), then the walk follows integers. The path ends
    at a ZERO64, NULL or absent parent, or at a row it already holds
    (a cycle). A NULL-id tip has no path. Raises ValueError naming an
    id that appears with two different parents: the walk would have to
    pick one."""
    if tip is None or not ids[tip].is_valid:
        return []
    n = len(ids)
    at = pc.fill_null(pc.index_in(pa.concat_arrays([ids, parents]),
                                  value_set=ids, skip_nulls=True), -1)
    first = at.slice(0, n).to_numpy()
    if np.any((first >= 0) & (first != np.arange(n))):
        per_id = pa.table({"i": ids, "p": parents}).group_by("i").aggregate(
            [("p", "count_distinct", pc.CountOptions(mode="all"))])
        bad = per_id.filter(pc.and_(pc.is_valid(per_id["i"]),
                                    pc.greater(per_id["p_count_distinct"], 1)))
        if bad.num_rows:
            raise ValueError(f"chain walk: id {bad['i'][0].as_py()!r} "
                             "appears with different parents")
    stop = pc.fill_null(pc.equal(parents, ZERO64), True)
    nxt = pc.if_else(stop, -1, at.slice(n)).to_numpy().tolist()
    path, seen, cur = [], bytearray(n), tip
    while cur >= 0 and not seen[cur]:
        seen[cur] = 1
        path.append(cur)
        cur = nxt[cur]
    return path


def keep_members(rows: DataFrame, ids: pa.Array, path: list[int],
                 id_col: str) -> DataFrame:
    """The rows of `rows` whose id is on `path`, given that `ids` holds
    every id of `rows`: a left-anti join against the NON-members, an
    Arrow-backed local relation (broadcasting it runs no Spark job)
    of O(forks) rows. Columns come key first, as an inner join of the
    member ids would give them."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    on = np.zeros(len(ids), bool)
    on[path] = True
    non = ids.filter(pa.array(~on))
    # a member id that also sits on a row off the path (a duplicate)
    # is still a member
    path_ids = ids.take(pa.array(path, pa.int64()))
    dup = path_ids.filter(pc.is_in(path_ids, value_set=non))
    if len(dup):
        non = non.filter(pc.invert(pc.is_in(non, value_set=dup)))
    non = pc.unique(non).drop_null()
    kept = rows.filter(F.col(id_col).isNotNull())
    if len(non):
        schema = StructType([rows.schema[id_col]])
        non_df = rows.sparkSession.createDataFrame(
            pa.table({id_col: non}, schema=to_arrow_schema(schema)),
            schema=schema)
        kept = kept.join(F.broadcast(non_df), id_col, "left_anti")
    return kept.select(id_col, *[c for c in rows.columns if c != id_col])


def _first_row(ids: pa.Array, heights: pa.Array,
               mask: pa.Array | None = None) -> int | None:
    """Index of the first (masked) row under ORDER BY height DESC, id
    ASC with Spark's NULL placement (heights last, ids first): the tip
    order of the distributed walks. None when no row qualifies."""
    idx = pa.array(np.arange(len(ids)))
    if mask is not None:
        idx = idx.filter(mask)
    if not len(idx):
        return None
    h = heights.take(idx)
    top = pc.max(h).as_py()
    idx = idx.filter(pc.is_null(h) if top is None else pc.equal(h, top))
    cand = ids.take(idx)
    first = pc.is_null(cand) if cand.null_count else \
        pc.equal(cand, pc.min(cand))
    return idx[pc.index(first, True).as_py()].as_py()


def _collected_walk(rows: DataFrame, cols: list[str], top_col: str,
                    leaf_tip: bool, segmented) -> Walk:
    """The shared body of the two canonical walks. `cols` is (id,
    parent, height[, more]); the tip is the first row in tip order,
    among the rows that are nobody's parent when `leaf_tip`. Above the
    collect cap `segmented()` gives the rows, with a run-record note."""
    from .incremental import WALK_COLLECT_CAP

    t = collect_bounded(rows.select(*cols), WALK_COLLECT_CAP)
    if t is None:
        spans.note("walk_collect_cap", f"more than {WALK_COLLECT_CAP} "
                   "rows; distributed segmented walk")
        return Walk(segmented(), None)
    ids, parents, heights = (t[c].combine_chunks() for c in cols[:3])
    leaf = pc.invert(pc.is_in(ids, value_set=parents, skip_nulls=True)) \
        if leaf_tip else None
    tip = _first_row(ids, heights, leaf)
    if tip is None:
        # no tip (an empty table, or only cycles): the rows as they are
        return Walk(rows, pc.max(t[top_col]).as_py())
    path = walk_rows(ids, parents, tip)
    top = pc.max(t[top_col].combine_chunks().take(path)).as_py() \
        if path else None
    return Walk(keep_members(rows, ids, path, cols[0]), top)


def snapshots_walk(snapshots: DataFrame) -> Walk:
    """SURVEY F1+F2: pox-valid snapshots on the canonical burnchain
    fork, anchored at the max-height pox-valid snapshot (ties: lowest
    hash) and walked via (burn_header_hash <- parent_burn_header_hash).
    `top` is the max stacks_block_height on the chain.

    Matches the reference's sequential keep-if-parent-of-previous filter
    (rpc.js:156-175) including its quirks: pox-invalid rows never enter
    the chain (F1 first), duplicate heights collapse to the row the
    hash chain actually links through, and the walk stops if the chain
    breaks (missing or pox-invalid parent)."""
    valid = snapshots.filter(F.col("pox_valid") != 0)
    return _collected_walk(
        valid, ["burn_header_hash", "parent_burn_header_hash",
                "block_height", "stacks_block_height"],
        "stacks_block_height", leaf_tip=False,
        segmented=lambda: _snapshots_segmented(valid))


def stacks_walk(headers: DataFrame) -> Walk:
    """SURVEY J9/O-R2: block_headers rows on the canonical Stacks fork,
    the ancestors of the deepest tip (rpc.js:277-309; the tip as in
    `deepest_tip`). `top` is the max block_height on the chain."""
    return _collected_walk(
        headers, ["block_hash", "parent_block", "block_height"],
        "block_height", leaf_tip=True,
        segmented=lambda: _stacks_segmented(headers))


def canonical_snapshots(snapshots: DataFrame) -> DataFrame:
    """The canonical burnchain rows (see `snapshots_walk`)."""
    return snapshots_walk(snapshots).rows


def canonical_stacks_chain(headers: DataFrame) -> DataFrame:
    """The canonical Stacks fork's headers (see `stacks_walk`)."""
    return stacks_walk(headers).rows


def _snapshots_segmented(valid: DataFrame) -> DataFrame:
    tip = (
        valid.orderBy(F.desc("block_height"), F.col("burn_header_hash"))
        .limit(1)
        .select("burn_header_hash", "block_height")
        .collect()
    )
    if not tip:
        return valid
    members = chain_members_auto(
        valid, tip[0].burn_header_hash,
        id_col="burn_header_hash", parent_col="parent_burn_header_hash",
        height_col="block_height",
        tip_height=tip[0].block_height,
    )
    return valid.join(members, "burn_header_hash")


def _stacks_segmented(headers: DataFrame) -> DataFrame:
    tip = deepest_tip(headers).collect()
    if not tip:
        return headers
    members = chain_members_auto(
        headers, tip[0].block_hash,
        id_col="block_hash", parent_col="parent_block",
        height_col="block_height",
        tip_height=tip[0].block_height,
    )
    return headers.join(members, "block_hash")
