"""Streaming layer.

Reference semantics (SURVEY §2.10): a 120 s full-recompute timer
(server.js:444-452) — micro-batch *recomputation*, not event streaming.
Re-expressed here as Structured Streaming `foreachBatch` on a processing
-time trigger: every batch re-derives the canonical fork from scratch
and atomically overwrites the gold tables, which makes reorgs and late
burnchain data a non-issue by construction (ST5 — the reference's only
late-data strategy).

Extension surface (SURVEY §7.4): true event-time operators on the
`events` stream — watermarked tumbling/sliding aggregation, session
windows, and watermark-bounded streaming dedup. These exist in the
reference's problem space only as "block height is the clock"; a
100-TB training-data pipeline needs the real thing. All are built on
Structured Streaming primitives (groupBy(window(...)), session_window,
dropDuplicatesWithinWatermark) so state cleanup is watermark-driven —
state stores stay bounded no matter how long the stream runs.

Every function here also accepts a *batch* DataFrame: window() and
session_window() are plain Catalyst expressions, which is what makes
the semantics DuckDB-oracle-checkable (queries/windows.py w11/w12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import core, spans
from .io import write_gold


# --- ST1-ST5: gold refresh ------------------------------------------------

def e1_gold_tables(tables: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """One full E1 recompute: the three gold outputs (rpc.js:430-460,
    server.js:295-299). The canonical-chain walks and commit enrichment
    are prepared once and shared — three outputs, one upstream DAG."""
    prepared = core.prepare(tables)
    return {
        "miner_info": core.miner_info(tables, prepared=prepared),
        "mining_info": core.mining_info(tables, prepared=prepared),
        "block_info": core.block_info(tables, prepared=prepared),
    }


@spans.root("refresh")
def refresh_once(tables: dict[str, DataFrame], gold_dir: str,
                 reuse_gold: bool = False, reorg_depth: int = 100) -> str:
    """ST1 batch body: recompute + atomic overwrite (the Redis SET
    equivalent, server.js:295-299). The shared prepared intermediates
    are released after the writes — without the unpersist, a
    long-running trigger would accumulate one cached commits table
    per tick. Returns the mode used ('cold' or 'warm'); the run record
    (spans.py) carries it with the `walk` and `gold_writes` stages.

    reuse_gold=True maintains the hbucket gold layout and the
    canonical-chain state, so the NEXT refresh can be warm. A warm
    refresh is the incremental tick's windowed path (the reference's
    600 s trailing-window cadence, server.js:280-331): when the persisted
    state boundary-verifies and mining_info / block_info /
    miner_partials are hbucket-partitioned, it walks only the reorg
    window (incremental._windowed_prepare), rewrites only the
    window's partitions and folds miner_info from the per-bucket
    partials (incremental.write_window; stages `walk`, `gold_writes`,
    `merge`). Its cost is O(reorg_depth), not O(history), and its gold
    equals a cold refresh's (golden equivalence tests). Otherwise
    (first run, a reorg deeper than the window, a flat layout) it
    runs cold and notes `cold_refresh`: the from-scratch walk, a
    static rewrite of the partitioned outputs and a full state
    rewrite, with per-table `gw_*` stages."""
    spark = tables["snapshots"].sparkSession
    prepared = None
    mode = "cold"
    with spans.span("walk"):
        if reuse_gold:
            from .incremental import _windowed_prepare
            if all(_is_bucket_partitioned(f"{gold_dir}/{n}") for n in
                   ("mining_info", "block_info", "miner_partials")):
                prepared = _windowed_prepare(spark, tables, gold_dir,
                                             reorg_depth)
            if prepared is not None:
                mode = "warm"
            else:
                spans.note("cold_refresh", "no boundary-verified chain "
                           "state on an hbucket gold layout; full walk")
        if prepared is None:
            tables = dict(tables)
            if "hbucket" in tables["block_commits"].columns:
                tables["block_commits"] = \
                    tables["block_commits"].drop("hbucket")
            prepared = core.prepare(tables)
            if reuse_gold:
                # prepare() already walked + checkpointed the stacks
                # chain (round-13) — reuse it instead of walking
                # headers again
                prepared["wchain"] = prepared["snap"]
                prepared["wstacks"] = prepared["stacks_chain"]
    spans.mode(mode)
    if mode == "warm":
        from .incremental import write_window
        write_window(spark, tables, gold_dir, prepared)
        return mode
    try:
        with spans.span("gold_writes"):
            if reuse_gold:
                _write_gold_with_state(tables, gold_dir, prepared)
            else:
                # the three gold outputs are independent projections of
                # the ALREADY-MATERIALIZED prepared intermediates (snap/
                # winners are eager localCheckpoints; the winners build
                # populates the enriched cache), so overlapping the
                # write jobs back-fills the tail of each job's stages
                # with the next one's tasks (guide §2.6) — no shared
                # upstream is recomputed, at any scale
                _run_gold_writers([
                    (name, lambda name=name, build=build: write_gold(
                        build(tables, prepared=prepared),
                        f"{gold_dir}/{name}"))
                    for name, build in (("miner_info", core.miner_info),
                                        ("mining_info", core.mining_info),
                                        ("block_info", core.block_info))])
    finally:
        prepared["enriched"].unpersist()
    return mode


@spans.root("refresh")
def refresh_once_store(tables: dict[str, DataFrame], store) -> None:
    """The ST1 batch body writing through a GoldStore BACKEND
    (sources.deltalog.gold_store: 'pointer' or 'deltalog') instead of
    raw parquet dirs — round-13 VERDICT #7. Each tick SETs the three
    gold outputs: an atomic snapshot replace per key on either
    backend. What the deltalog backend changes operationally: the
    single-writer assumption disappears — two refresh processes
    racing a tick BOTH commit via the optimistic log protocol (the
    racing-writer tests in test_deltalog), so a misconfigured double
    scheduler degrades to wasted work instead of corrupt gold, and
    every superseded tick stays time-travelable. The maintenance
    LEASE remains the right tool for the persisted-index artifacts
    (multi-directory parquet fragments with pointer files — not
    log-structured tables); the gold tick is where the log replaces
    it. Same stages as refresh_once: prepare = walk, gold_writes =
    the writes, split per table into gw_*."""
    spans.mode("cold")
    with spans.span("walk"):
        prepared = core.prepare(tables)
    try:
        with spans.span("gold_writes"):
            for name, builder in (
                ("miner_info", core.miner_info),
                ("mining_info", core.mining_info),
                ("block_info", core.block_info),
            ):
                with spans.span(f"gw_{name}"):
                    store.set(name, builder(tables, prepared=prepared))
    finally:
        prepared["enriched"].unpersist()


def _run_gold_writers(writers: list) -> None:
    """(name, fn) writers from a 3-thread pool, in order, each as its
    `gw_<name>` span (per-table attribution, round-13 VERDICT #6)."""
    from concurrent.futures import ThreadPoolExecutor

    def run(item) -> None:
        name, fn = item
        with spans.span(f"gw_{name}"):
            fn()

    with ThreadPoolExecutor(max_workers=3) as pool:
        list(pool.map(spans.inherit(run), writers))


def _is_bucket_partitioned(path: str) -> bool:
    import os

    try:
        return any(n.startswith("hbucket=") for n in os.listdir(path))
    except OSError:
        return False


def _write_gold_with_state(tables: dict[str, DataFrame], gold_dir: str,
                           prepared: dict) -> None:
    """Gold + chain-state writes of a COLD reuse_gold refresh.

    mining_info / block_info / miner_partials are written partitioned
    by hbucket, a static overwrite of the whole layout (which also
    clears any flat layout a reuse_gold=False run left behind), so the
    next refresh can take the windowed path. miner_info is a
    whole-history aggregate of O(miners) rows, written whole. The
    chain state is rewritten in full, with the round-10 layout-marker
    guard."""
    from .incremental import (HEIGHTS_PER_BUCKET, _hb, _prune_buckets_above,
                              _write_dynamic, chain_state_frames, chain_tips,
                              mark_state_layout, miner_partials,
                              reset_state_for_layout)

    mi = core.mining_info(tables, prepared=prepared) \
        .withColumn("hbucket", _hb())
    bi = core.block_info(tables, prepared=prepared) \
        .withColumn("hbucket", _hb())
    # miner_partials too: the windowed merge assumes every sub-floor
    # bucket holds correct partials, so a refresh that advances the
    # chain without maintaining them would make blocks it passed over
    # vanish from every later windowed miner_info (the mixed
    # tick/refresh maintenance hole) — the reuse_gold family keeps ALL
    # the state a tick reads
    pt = miner_partials(prepared)
    # the write groups below land in DISJOINT directories and read
    # only the ALREADY-MATERIALIZED prepared frames (the walk's eager
    # checkpoints), so they are independent jobs — overlap them from a
    # small thread pool (guide §2.6) instead of paying sequential job
    # tails. prune stays AFTER the pool (it deletes buckets the writes
    # may have just produced).
    writers: list[tuple[str, object]] = []
    for df, name in ((pt, "miner_partials"), (mi, "mining_info"),
                     (bi, "block_info")):
        writers.append((name, lambda df=df, name=name: (
            df.repartition("hbucket").write.mode("overwrite")
            .partitionBy("hbucket").parquet(f"{gold_dir}/{name}"))))
    writers.append(("miner_info", lambda: write_gold(
        core.miner_info(tables, prepared=prepared),
        f"{gold_dir}/miner_info")))

    # the chain state (wchain = full canonical) is rewritten whole so
    # the next refresh is warm: any state written on an older layout
    # axis is deleted first (a driver-side rmtree guarded by the
    # marker check, synchronous so it precedes both state writes), and
    # the marker commits only once every writer succeeded (round-14
    # ADVICE: a marker committed while gold writers still ran left a
    # crash window that later warm refreshes would skip for good).
    # The two state writes are independent dynamic writes to disjoint
    # dirs, split into two writers so they overlap; scheduled FIRST
    # because they are the longest cold writers and the pool runs
    # FIFO (guide §2.6).
    chain_df, stacks_df = chain_state_frames(prepared)
    reset_state_for_layout(gold_dir)
    writers.insert(0, ("stacks_state", lambda: _write_dynamic(
        stacks_df, f"{gold_dir}/canonical_stacks")))
    writers.insert(0, ("chain_state", lambda: _write_dynamic(
        chain_df, f"{gold_dir}/canonical_chain")))

    _run_gold_writers(writers)
    mark_state_layout(gold_dir)

    # reorg-shrink guard (see incremental._prune_buckets_above): the
    # dynamic state writes leave buckets above the new tip behind; the
    # static output rewrites need no pruning. Two bounds, two axes:
    # the snapshot-side tip bounds canonical_chain; the stacks HEADER
    # tip (which can sit below it) bounds canonical_stacks. The walks
    # already know both tips.
    with spans.span("gw_prune"):
        tip, stip = chain_tips(prepared)
        tip_bucket = (tip or 0) // HEIGHTS_PER_BUCKET
        stip_bucket = (stip or 0) // HEIGHTS_PER_BUCKET
        for p, b in (("canonical_chain", tip_bucket),
                     ("canonical_stacks", stip_bucket)):
            _prune_buckets_above(f"{gold_dir}/{p}", b)


def stream_refresh(spark: SparkSession, bronze_dir: str, gold_dir: str,
                   read_tables, interval: str = "120 seconds",
                   checkpoint: str | None = None,
                   mode: str = "full", reorg_depth: int = 100,
                   backend: str | None = None):
    """ST1/ST2: the reference's setInterval as a processing-time
    trigger. The snapshots bronze directory is watched as a file
    stream purely as a tick source; each tick re-reads ALL bronze
    tables batch-side and recomputes. Returns the StreamingQuery.

    mode="full": reference-faithful full recompute every tick (ST5).
    mode="incremental": bootstrap tick recomputes everything, then
    each tick refreshes only the bounded-reorg window
    (incremental.incremental_refresh) — the steady-state production
    setting; a reorg deeper than `reorg_depth` needs a manual full
    refresh (or a restart, since the first batch after a restart
    bootstraps again).

    `read_tables(spark) -> dict[str, DataFrame]` supplies fresh batch
    reads per tick (so new files are picked up via normal parquet
    listing).

    `backend` (round 13): None keeps the raw-parquet gold layout
    (warm/incremental machinery needs it); 'pointer' / 'deltalog'
    routes each tick's gold writes through the corresponding
    GoldStore (refresh_once_store) — with 'deltalog', racing refresh
    processes both commit and every tick is time-travelable."""
    ticks = (
        spark.readStream.format("parquet")
        .schema(spark.read.parquet(f"{bronze_dir}/snapshots").schema)
        .load(f"{bronze_dir}/snapshots")
    )
    store = None
    if backend is not None:
        if mode == "incremental":
            raise ValueError(
                "backend= routes ticks through a GoldStore snapshot "
                "replace — the incremental reorg-window machinery "
                "needs the raw-parquet hbucket layout; pass one or "
                "the other")
        from .sources.deltalog import gold_store
        store = gold_store(gold_dir, backend)

    def batch_fn(_batch_df: DataFrame, batch_id: int) -> None:
        if store is not None:
            refresh_once_store(read_tables(spark), store)
        elif mode == "incremental":
            from .incremental import incremental_refresh
            depth = 10 ** 12 if batch_id == 0 else reorg_depth
            incremental_refresh(spark, read_tables(spark), gold_dir,
                                reorg_depth=depth)
        else:
            refresh_once(read_tables(spark), gold_dir)

    writer = (
        ticks.writeStream.foreachBatch(batch_fn)
        .trigger(processingTime=interval)
        .outputMode("append")
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


# --- event-time operators (extension surface) ------------------------------

def tumbling_counts(events: DataFrame, window: str = "5 minutes",
                    watermark: str = "10 minutes",
                    ts_col: str = "ts") -> DataFrame:
    """Watermarked tumbling-window counts per event type. On a stream,
    state for windows older than the watermark is dropped; on a batch
    DataFrame the watermark is a no-op and this is a plain windowed
    aggregate."""
    src = events
    if src.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    return (
        src.groupBy(F.window(ts_col, window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"),
             F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("w_start"),
                F.col("w.end").alias("w_end"), "event_type", "n", "total_value")
    )


def sliding_avg(events: DataFrame, window: str = "10 minutes",
                slide: str = "5 minutes", watermark: str = "10 minutes",
                ts_col: str = "ts") -> DataFrame:
    """Watermarked sliding-window mean amount per event type."""
    src = events
    if src.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    return (
        src.groupBy(F.window(ts_col, window, slide).alias("w"), "event_type")
        .agg(F.avg("value").alias("avg_value"), F.count("*").alias("n"),
             F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("w_start"),
                F.col("w.end").alias("w_end"), "event_type",
                "avg_value", "n", "total_value")
    )


def session_windows(events: DataFrame, gap: str = "30 minutes",
                    watermark: str = "1 hour",
                    ts_col: str = "ts", key_col: str = "user_id") -> DataFrame:
    """Per-key session windows with an inactivity gap — the stateful
    native form of queries/windows.py w10 (which derives sessions with
    lag() for the batch oracle)."""
    src = events
    if src.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    return (
        src.groupBy(F.session_window(ts_col, gap).alias("w"), key_col)
        .agg(F.count("*").alias("n_events"),
             F.sum("value").alias("session_value"))
        .select(F.col(key_col),
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events", "session_value")
    )


def stream_stream_band_join(left: DataFrame, right: DataFrame,
                            band: str = "4 hours",
                            watermark: str = "1 hour",
                            key_col: str = "user_id",
                            ts_col: str = "ts") -> DataFrame:
    """Stream-stream inner join with an event-time band: each left
    event pairs with right events of the same key within ±band. On
    streams, both sides carry watermarks and the time-range predicate
    bounds the join state (Spark evicts rows once they can no longer
    match — without the bound, stream-stream state grows forever).
    On batch frames the same expression is a plain inequality join —
    the batch twin of operators/rangejoin.band_join semantics, which
    is what the equivalence test compares against."""
    l = left.select(
        F.col(key_col),
        F.col("event_id").alias("l_event_id"),
        F.col(ts_col).alias("l_ts"),
    )
    r = right.select(
        F.col(key_col).alias("_rk"),
        F.col("event_id").alias("r_event_id"),
        F.col(ts_col).alias("r_ts"),
    )
    if left.isStreaming:
        l = l.withWatermark("l_ts", watermark)
    if right.isStreaming:
        r = r.withWatermark("r_ts", watermark)
    cond = (
        (l[key_col] == r["_rk"])
        & (r["r_ts"] >= F.expr(f"l_ts - interval {band}"))
        & (r["r_ts"] <= F.expr(f"l_ts + interval {band}"))
    )
    return l.join(r, cond).select(
        key_col, "l_event_id", "r_event_id",
        (F.unix_micros("r_ts") - F.unix_micros("l_ts")).alias("delta_us"),
    )


STATEFUL_OUT_SCHEMA = (
    "user_id long, n_events long, total_value double, max_ts_us long"
)
STATEFUL_STATE_SCHEMA = "n long, total double, max_ts long"


def stateful_user_stats(events: DataFrame,
                        key_col: str = "user_id",
                        ts_col: str = "ts") -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running (event count, value total, latest event time)
    carried across micro-batches in the state store, one updated row
    emitted per key per batch.

    This is the escape hatch for stateful logic that windowed
    aggregation can't express (running ML feature state, per-entity
    counters with custom merge rules). State is a fixed-width tuple —
    the store stays O(#keys) no matter how many events stream through;
    the Arrow batches bound per-task memory.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    def update(key: tuple, pdfs, state: GroupState):
        n, total, max_ts = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["_value"].sum())
            if len(pdf):
                max_ts = max(max_ts, int(pdf["_ts_us"].max()))
        state.update((n, total, max_ts))
        yield pd.DataFrame({
            "user_id": pd.Series([key[0]], dtype="int64"),
            "n_events": pd.Series([n], dtype="int64"),
            "total_value": pd.Series([total], dtype="float64"),
            "max_ts_us": pd.Series([max_ts], dtype="int64"),
        })

    prepped = events.select(
        F.col(key_col),
        F.col("value").cast("double").alias("_value"),
        F.unix_micros(ts_col).alias("_ts_us"),
    )
    return prepped.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=STATEFUL_OUT_SCHEMA,
        stateStructType=STATEFUL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_dedup(events: DataFrame, watermark: str = "1 hour",
                    keys: tuple[str, ...] = ("event_id",),
                    ts_col: str = "ts") -> DataFrame:
    """Watermark-bounded exact dedup: drops repeats of a key seen
    within the watermark horizon; state self-expires. The streaming
    twin of operators/dedup.exact_dedup."""
    if events.isStreaming:
        return events.withWatermark(ts_col, watermark) \
            .dropDuplicatesWithinWatermark(list(keys))
    return events.dropDuplicates(list(keys))


def stream_stream_band_join_outer(left: DataFrame, right: DataFrame,
                                  band: str = "4 hours",
                                  watermark: str = "1 hour",
                                  key_col: str = "user_id",
                                  ts_col: str = "ts") -> DataFrame:
    """LEFT OUTER stream-stream band join — the shape that needs the
    watermark for CORRECTNESS, not just state size: an unmatched left
    row can only emit its null-padded result once the watermark
    proves no matching right row can still arrive, so outer results
    trail the stream by the watermark delay and Spark emits them from
    the eviction path (a no-data micro-batch after the last data
    batch). Same band predicate and column contract as
    stream_stream_band_join; on batch frames it degrades to a plain
    left band join, which is exactly what the SQL oracle replays."""
    l = left.select(
        F.col(key_col),
        F.col("event_id").alias("l_event_id"),
        F.col(ts_col).alias("l_ts"),
    )
    r = right.select(
        F.col(key_col).alias("_rk"),
        F.col("event_id").alias("r_event_id"),
        F.col(ts_col).alias("r_ts"),
    )
    if left.isStreaming:
        l = l.withWatermark("l_ts", watermark)
    if right.isStreaming:
        r = r.withWatermark("r_ts", watermark)
    cond = (
        (l[key_col] == r["_rk"])
        & (r["r_ts"] >= F.expr(f"l_ts - interval {band}"))
        & (r["r_ts"] <= F.expr(f"l_ts + interval {band}"))
    )
    return l.join(r, cond, "leftOuter").select(
        key_col, "l_event_id", "r_event_id",
        (F.unix_micros("r_ts") - F.unix_micros("l_ts")).alias("delta_us"),
    )


def stream_ingest_dedup(stream_docs: DataFrame, index_path: str,
                        out_dir: str, text_col: str = "text",
                        id_col: str = "doc_id"):
    """Streaming ingest near-dup screening against the PERSISTED
    MinHash band-bucket index (operators/dedup.save_minhash_index —
    the dd15 artifact): each micro-batch of incoming documents is
    band-bucketed with the index's RECORDED signature parameters,
    broadcast-joined against the bucket scan
    (operators/dedup.probe_minhash_index), and reduced to a per-doc
    novelty report appended to `out_dir`:

        (new_id, n_candidates, first_match, is_novel)

    — route is_novel rows onward, hold candidates for review. This is
    the production shape of continuous corpus ingest: the corpus-sized
    shingle+signature pass happened ONCE at index build; the stream
    pays O(batch) per trigger forever after. The probe is a plain
    batch job per micro-batch (foreachBatch), so the full dedup
    operator surface composes without streaming-aggregation
    restrictions. Each batch's report lands under a
    `batch_id=<id>` subdirectory written with mode=overwrite, so a
    RETRIED micro-batch replaces its own output instead of appending
    a duplicate — the sink is idempotent per batch id (exactly-once
    at the report level, not merely at-least-once). Readers see
    `batch_id` as a discovered partition column and can drop it.
    Returns the DataStreamWriter — caller picks the trigger and
    checkpoint."""
    import os

    from .operators.dedup import probe_minhash_index

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        pairs = probe_minhash_index(batch_df, index_path, text_col,
                                    id_col)
        agg = pairs.groupBy("new_id").agg(
            F.count("*").alias("_n"),
            F.min("corpus_id").alias("_first"))
        report = (
            batch_df.select(F.col(id_col).alias("new_id"))
            .join(agg, "new_id", "left")
            .select(
                "new_id",
                F.coalesce("_n", F.lit(0)).cast("long")
                .alias("n_candidates"),
                F.col("_first").cast("long").alias("first_match"),
                (F.coalesce("_n", F.lit(0)) == 0).alias("is_novel"),
            )
        )
        report.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}"))

    return stream_docs.writeStream.foreachBatch(batch_fn)


def stream_probe_ann(stream_vecs: DataFrame, index_path: str,
                     out_dir: str, k: int = 5, n_probe: int = 3,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding"):
    """Streaming ANN ingest probe against the PERSISTED IVF-PQ index
    (operators/similarity.save_ivfpq_index — the sim19 artifact): each
    micro-batch of incoming vectors probes the index via foreachBatch
    and appends a per-vector top-k neighbor report to `out_dir`:

        (q_id, vec_id, ip_q8, rk)   — rk=1 is the nearest neighbor

    The sim-family twin of stream_ingest_dedup (st9), closing the
    index families' day-2 symmetry (round-10 VERDICT #6): the
    corpus-sized train+encode pass happened ONCE at index build; the
    stream pays O(batch) per trigger — cells/codebooks are loaded ONCE
    as driver literals (bounded collects) when the writer is built,
    never per batch, the corpus is touched only through the
    cell-partitioned codes scan statically pruned to the probed cells
    (the |Q| x n_probe bounded collect inside ivfpq_probe_topk, |Q| =
    batch size; a batch above similarity.DRIVER_PROBE_MAX_Q probes
    through the Spark head, pruned the same way from one Spark job),
    and nothing is ever re-encoded. Each batch's report lands under
    `batch_id=<id>` with mode=overwrite — idempotent per batch id, the
    st9 sink discipline. Returns the DataStreamWriter — caller picks
    the trigger and checkpoint."""
    import os

    from .operators.similarity import ivfpq_probe_topk, load_ivfpq_index

    spark = stream_vecs.sparkSession
    idx = load_ivfpq_index(spark, index_path)   # once, not per batch

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        q = batch_df.select(F.col(id_col).alias("q_id"),
                            F.col(vec_col).alias("q_emb"))
        report = ivfpq_probe_topk(idx, q, k=k, n_probe=n_probe)
        report.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}"))

    return stream_vecs.writeStream.foreachBatch(batch_fn)


def stream_delta_append(stream_df: DataFrame, table_path: str,
                        app_id: str):
    """Streaming ingest into a Delta-log table with the PROTOCOL's own
    exactly-once contract: each micro-batch appends under a
    `txn` action (appId=app_id, version=batch_id), so a retried batch
    — foreachBatch is at-least-once — re-checks the table's recorded
    txn version inside the optimistic commit loop and becomes a no-op
    instead of a duplicate. This is precisely how delta-spark's
    streaming sink works, and it replaces the applied-batch-marker +
    maintenance-lease discipline the parquet indexes need: the log IS
    the marker, and concurrent writers are resolved by the commit
    race, not serialized by a lease. Returns the DataStreamWriter —
    caller picks the trigger and checkpoint."""
    from .sources.deltalog import DeltaLogTable

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        DeltaLogTable(table_path).append(batch_df,
                                         txn=(app_id, batch_id))

    return stream_df.writeStream.foreachBatch(batch_fn)
