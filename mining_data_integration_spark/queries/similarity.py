"""Oracle-checked similarity-search queries over the embeddings table
(SURVEY.md §7.4). The DuckDB oracles recompute the identical
sequential-fold double dot products and the identical ±1 hyperplane
LSH buckets, so even the approximate variants hash-match exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import spans
from ..operators import similarity as S
from ._util import spread, t

_DIM = 64
_PLANES = S.hyperplanes(4, _DIM)


def _queries_df(spark, sf_dir, n=3):
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )


def sim1_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 3 query vectors."""
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    return S.brute_force_topk(emb, _queries_df(spark, sf_dir), k=10,
                              assume_small_q=True).orderBy(
        "q_id", "rk"
    )


def sim6_scalable_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 with the partition-local Arrow pre-reduce
    (operators/similarity.brute_force_topk_sharded): the global window
    ranks partitions×Q×k rows, not N×Q. Bit-identical to sim1, so it
    shares sim1's oracle."""
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    return S.brute_force_topk_sharded(
        emb, _queries_df(spark, sf_dir), k=10).orderBy("q_id", "rk")


def sim2_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5 (single probe, 4 hyperplanes
    -> 16 buckets, ~n/16 candidates per probe)."""
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    return S.ann_lsh_topk(emb, _queries_df(spark, sf_dir), k=5,
                          num_planes=4).orderBy(
        "q_id", "rk"
    )


def sim3_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: same LSH bucket AND cosine >= 0.4
    (the fixture embeddings are near-orthogonal; max pairwise cosine
    ~0.51, so 0.4 marks the top of the similarity tail)."""
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    return S.embedding_near_dup_pairs(emb, threshold=0.4,
                                      num_planes=4).orderBy("id1", "id2")


def _dot_sql(a: str, b: str) -> str:
    return (f"list_sum(list_transform(range(1, {_DIM + 1}), "
            f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))")


def _cos_sql(a: str, b: str) -> str:
    return (f"({_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * "
            f"sqrt({_dot_sql(b, b)})))")


def _planes_cte() -> str:
    lits = ", ".join(
        f"[{', '.join(str(v) for v in plane)}]::DOUBLE[] AS hp{j}"
        for j, plane in enumerate(_PLANES)
    )
    return f"SELECT {lits}"


def _bucket_sql(vec: str) -> str:
    bits = " + ".join(
        f"CASE WHEN {_dot_sql(vec, f'hp{j}')} > 0 THEN {2 ** j} ELSE 0 END"
        for j in range(len(_PLANES))
    )
    return f"CAST({bits} AS BIGINT)"


ORACLES = {
    "sim1_cosine_topk": f"""
        WITH q AS (
            SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 3
        ), pairs AS (
            SELECT q_id, vec_id, {_cos_sql('q_emb', 'embedding')} AS cos_sim
            FROM embeddings CROSS JOIN q
        ), ranked AS (
            SELECT q_id, vec_id, cos_sim,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY cos_sim DESC, vec_id) AS rk
            FROM pairs
        )
        SELECT q_id, vec_id, cos_sim, rk FROM ranked WHERE rk <= 10
        ORDER BY q_id, rk
    """,
    "sim2_ann_lsh_topk": f"""
        WITH planes AS ({_planes_cte()}),
        keyed AS (
            SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
            FROM embeddings CROSS JOIN planes
        ), q AS (
            SELECT vec_id AS q_id, embedding AS q_emb, bucket AS q_bucket
            FROM keyed WHERE vec_id < 3
        ), pairs AS (
            SELECT q_id, keyed.vec_id AS vec_id,
                   {_cos_sql('q_emb', 'embedding')} AS cos_sim
            FROM keyed JOIN q ON keyed.bucket = q.q_bucket
        ), ranked AS (
            SELECT q_id, vec_id, cos_sim,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY cos_sim DESC, vec_id) AS rk
            FROM pairs
        )
        SELECT q_id, vec_id, cos_sim, rk FROM ranked WHERE rk <= 5
        ORDER BY q_id, rk
    """,
    "sim3_embedding_near_dups": f"""
        WITH planes AS ({_planes_cte()}),
        keyed AS (
            SELECT vec_id AS id, embedding AS v, {_bucket_sql('embedding')} AS bucket
            FROM embeddings CROSS JOIN planes
        )
        SELECT a.id AS id1, b.id AS id2, {_cos_sql('a.v', 'b.v')} AS cos_sim
        FROM keyed a JOIN keyed b ON a.bucket = b.bucket AND a.id < b.id
        WHERE {_cos_sql('a.v', 'b.v')} >= 0.4
        ORDER BY id1, id2
    """,
}

def sim5_multiprobe_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-5: each query probes its own bucket plus
    the 4 buckets one flipped hyperplane away — 5x candidates, most of
    a second hash table's recall for none of its storage."""
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    return S.ann_lsh_topk(emb, _queries_df(spark, sf_dir), k=5,
                          num_planes=4, multi_probe=True).orderBy(
        "q_id", "rk")


def sim4_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5 (deterministic k-means coarse cells,
    2-probe), ORACLE-GATED VIA VERDICT COLUMNS (the a16 pattern): the
    float Lloyd iterations are not SQL-expressible and their exact
    hit sets drift with float summation order, so the checkable
    surface is (a) exact companions — every query returns exactly k
    results — and (b) bounds verdicts computed Spark-side as exact
    set comparisons against the deterministic brute-force top-5:
    self_hit_ok (a query's own vector MUST rank first: cos=1 lands in
    its own probe cell by construction) and recall_ok (aggregate
    recall >= 0.6; measured 0.93-1.0 across sf0.001/0.01/0.1, so the
    floor has >1.5x margin against float-order flips). The DuckDB
    oracle replays the query ids, k, and the expected TRUE verdicts —
    an IVF regression (lost cell routing, broken probe union) flips a
    boolean and the row goes red."""
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    q = _queries_df(spark, sf_dir)
    approx = S.ivf_topk(emb, q, k=5, n_centroids=8, n_probe=2)
    exact = S.brute_force_topk(emb, q, k=5, assume_small_q=True)
    hits = (approx.select("q_id", "vec_id")
            .join(exact.select("q_id", "vec_id"), ["q_id", "vec_id"])
            .agg(F.count("*").alias("n_hits")))
    per_q = approx.groupBy("q_id").agg(
        F.count("*").cast("long").alias("n_results"),
        F.max(F.when(F.col("rk") == 1,
                     F.col("vec_id") == F.col("q_id"))).alias("self_hit_ok"),
    )
    total = per_q.agg(F.sum("n_results").alias("n_total"))
    return (
        per_q.crossJoin(F.broadcast(hits)).crossJoin(F.broadcast(total))
        .select(
            "q_id", "n_results", "self_hit_ok",
            (F.col("n_hits") * 10 >= F.col("n_total") * 6)
            .alias("recall_ok"),
        )
        .orderBy("q_id")
    )


def sim11_int_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 with the INTEGER coarse quantizer (round 4): int8
    quantization, integer Lloyd's k-means (truncating-div centroid
    update, exact-int argmin with lowest-cid ties), 2-probe, exact
    integer dot products — every arithmetic step is engine-exact, so
    unlike sim4 this IVF is fully hash-checked against a DuckDB oracle
    that replays both k-means iterations in SQL."""
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    return S.int_ivf_topk(emb, _queries_df(spark, sf_dir), k=5,
                          n_centroids=4, n_probe=2, iters=2).orderBy(
        "q_id", "rk")


def sim27_int_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF RANGE search (radius search) with the integer coarse
    quantizer — every probed vector with cos >= 0.12 for 8 query
    vectors, not a fixed top-k (operators/similarity.
    int_ivf_range_search). The retrieval shape of takedown sweeps and
    near-dup audits where k is unknowable a priori; strictly cheaper
    than top-k (the threshold filter is map-side on the probe join —
    no per-query rank window, no second shuffle). Every arithmetic
    step is engine-exact (the sim11 property), so the hit set is
    fully hash-checked against the _int_ivf_range_sql replay."""
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    return S.int_ivf_range_search(
        emb, _queries_df(spark, sf_dir, n=8), tau=0.12,
        n_centroids=4, n_probe=2, iters=2,
    ).orderBy("q_id", "vec_id")


def sim28_nsw_beam_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRAPH-based ANN (round-12 VERDICT #8 — the HNSW-class family
    that completes the quantization ladder): build a k-NN graph over
    the corpus with CELL-BOUNDED candidates (operators/similarity.
    nsw_adjacency — integer k-means cells, shuffle equi-join on the
    cell id, never all-pairs), then answer the standard queries with
    deterministic BSP BEAM SEARCH over that graph (nsw_beam_search —
    fixed entry points, `rounds` frontier expansions, per-query
    top-`beam` re-rank each round; the g5 frontier discipline applied
    to ANN). Every arithmetic step is engine-exact (sim11 property),
    and the fixed round count makes the traversal deterministic, so
    the DuckDB oracle replays graph build AND search as chained CTEs
    (_nsw_sql) and the final top-5 is fully hash-checked. Recall vs
    the exact top-k is pinned in tests/test_operators.py
    (TestNswGraphAnn) with the measured floor documented there."""
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    adj = S.nsw_adjacency(emb, k_nbrs=6, n_centroids=4, n_probe=2,
                          iters=2)
    return S.nsw_beam_search(
        adj, emb, _queries_df(spark, sf_dir), k=5, beam=4, rounds=3,
        n_entries=2,
    ).orderBy("q_id", "rk")


_NSW_BUILD_PARAMS = dict(k_nbrs=6, n_centroids=4, n_probe=2, iters=2)


def _nsw_index_path(sf_dir: str, tag: str = "") -> str:
    """Deterministic per-corpus graph-index location — the
    _ivfpq_index_path fingerprint discipline (source path/size/mtime
    + format version, one os.stat). The BUILD HYPERPARAMETERS are part
    of the fingerprint (ADVICE r12): save_nsw_index no-ops on an
    existing artifact, so without them a parameter change would
    silently probe a graph built with the old values; load_nsw_index's
    `expect` check is the second, belt-and-braces guard."""
    import hashlib
    import os

    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    params = ",".join(f"{k}={v}" for k, v in
                      sorted(_NSW_BUILD_PARAMS.items()))
    fp = hashlib.sha256(
        f"{src}|{st.st_size}|{st.st_mtime_ns}|nsw|{tag}|{params}|"
        f"v{S.NSW_INDEX_VERSION}".encode()).hexdigest()[:16]
    return f"/tmp/sg_nsw_index/{fp}"


def sim29_nsw_persisted_probe(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """PERSISTED graph-ANN probe (the sim19 build-once/probe-many
    lifecycle applied to sim28's family): the k-NN graph is built
    ONCE and saved as a parquet artifact (save_nsw_index — staged +
    atomic rename), then every query run just loads the adjacency
    scan and beam-searches it — no k-means, no pair scoring, no
    per-query graph construction. Probing the persisted artifact must
    equal sim28's in-query build exactly (the graph is deterministic),
    so the DuckDB oracle IS sim28's replay verbatim; that the probe
    really reads the artifact rather than rebuilding is pinned by the
    poisoned-edge test (TestNswGraphAnn — the sim19 no-training pin
    applied to graphs). Day-2 mutation contract documented in
    save_nsw_index: graph append needs search+relink (HNSW insert),
    so ingest rides the IVF-PQ index and the graph rebuilds on the
    gold cadence."""
    path = _nsw_index_path(sf_dir)
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    S.save_nsw_index(emb, path, **_NSW_BUILD_PARAMS)
    idx = S.load_nsw_index(spark, path, expect=_NSW_BUILD_PARAMS)
    return S.nsw_beam_search(
        idx["adj"], emb, _queries_df(spark, sf_dir), k=5, beam=4,
        rounds=3, n_entries=2,
    ).orderBy("q_id", "rk")


def sim30_nsw_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE lifecycle of the persisted GRAPH index (round-13
    VERDICT #2 — the cheap half of the day-2 contract save_nsw_index
    documents; the dd18/sim26 shape applied to graphs): every
    vec_id % 7 == 3 node is tombstoned out of a full-corpus k-NN
    graph (delete_from_nsw_index — an O(delete batch) tombstone
    append; the stored edge list untouched, deletion never re-ranks
    or relinks), then the queries beam-search TWO artifacts staged
    from that state:

      phase 1  the tombstoned graph — load_nsw_index anti-joins the
               broadcast tombstone set over BOTH edge endpoints (a
               deleted node vanishes as src and as dst);
      phase 2  a compacted sibling — compact_nsw_index physically
               purged the tombstoned edges into a fresh adj-g2
               generation behind the ADJ pointer flip.

    Both phases must emit the IDENTICAL top-5 (deletion is a
    permanent edge pre-filter over the build-time ranking). The
    DuckDB oracle replays build+traversal via _nsw_sql's adj_where
    hook and cross-joins the two phase tags. Builds stage under a
    scratch path and rename in (dd16's discipline); maintenance runs
    under kv.maintenance_lease. The entry points (lowest-id vectors
    0, 1) survive the delete predicate by construction — takedowns
    hitting entry points need the rebuild path, documented in
    delete_from_nsw_index."""
    import os
    import shutil

    path = _nsw_index_path(sf_dir, tag="tombstone")
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    if not os.path.exists(os.path.join(path, "tomb", "meta")):
        staging = f"{path}.staging-{os.getpid()}"
        shutil.rmtree(staging, ignore_errors=True)
        tomb = os.path.join(staging, "tomb")
        S.save_nsw_index(emb, tomb, **_NSW_BUILD_PARAMS)
        S.delete_from_nsw_index(
            emb.filter(F.col("vec_id") % 7 == 3).select("vec_id"),
            tomb)
        purged = os.path.join(staging, "purged")
        shutil.copytree(tomb, purged)
        S.compact_nsw_index(spark, purged)
        try:
            os.rename(staging, path)
        except OSError:
            if not os.path.exists(os.path.join(path, "tomb", "meta")):
                raise
            shutil.rmtree(staging, ignore_errors=True)
    q = _queries_df(spark, sf_dir)
    out = None
    for phase, sub in ((1, "tomb"), (2, "purged")):
        idx = S.load_nsw_index(spark, os.path.join(path, sub),
                               expect=_NSW_BUILD_PARAMS)
        res = S.nsw_beam_search(
            idx["adj"], emb, q, k=5, beam=4, rounds=3, n_entries=2,
        ).select(F.lit(phase).cast("long").alias("phase"),
                 "q_id", "vec_id", "cos_sim_q8", "rk")
        out = res if out is None else out.unionByName(res)
    return out.orderBy("phase", "q_id", "rk")


def _idot_sql(dim: int):
    """Exact integer dot product between two bigint-list SQL
    expressions, cast to DOUBLE at the end — the scoring kernel every
    NSW replay shares (bit-identical to operators/similarity.idot's
    sequential fold: integer sums are order-free)."""
    return lambda a, b: (
        f"CAST(list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> {a}[i]*{b}[i])) AS DOUBLE)")


def _beam_rounds_sql(dim: int, rounds: int, beam: int, tag: str,
                     qq: str, adj: str, nrm: str) -> str:
    """The BSP beam-search rounds as chained CTEs, parameterized over
    the query/adjacency/corpus CTE names and a name-spacing tag —
    round 13 factored this out of _nsw_sql verbatim so the APPEND
    replay (_nsw_append_sql) can run TWO searches in one statement:
    the insert-search of the new batch over the old graph (tag 'i')
    and the standard probe over the merged graph (tag ''). Caller
    provides the seed CTE {tag}v0; each round r emits {tag}b{r}
    (beam cut) -> {tag}s{r} (neighbor expand) -> {tag}sv{r} (score)
    -> {tag}v{r} (dedup'd visited union)."""
    dot = _idot_sql(dim)
    parts = []
    for r in range(1, rounds + 1):
        parts.append(f""", {tag}b{r} AS (
        SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
                ORDER BY cos_sim_q8 DESC, vec_id) AS rk
            FROM {tag}v{r - 1}
        ) WHERE rk <= {beam}
    ), {tag}s{r} AS (
        SELECT DISTINCT b.q_id, a.dst AS vec_id
        FROM {tag}b{r} b JOIN {adj} a ON b.vec_id = a.src
    ), {tag}sv{r} AS (
        SELECT s.q_id, s.vec_id,
               {dot('q.qvec', 'n.q')} / (q.qnrm * n.nrm) AS cos_sim_q8
        FROM {tag}s{r} s
        JOIN {nrm} n ON n.vec_id = s.vec_id
        JOIN {qq} q ON q.q_id = s.q_id
    ), {tag}v{r} AS (
        SELECT q_id, vec_id, max(cos_sim_q8) AS cos_sim_q8
        FROM (SELECT * FROM {tag}v{r - 1}
              UNION ALL SELECT * FROM {tag}sv{r})
        GROUP BY q_id, vec_id
    )""")
    return "".join(parts)


def _nsw_sql(dim: int = 64, k_cent: int = 4, iters: int = 2,
             n_probe: int = 2, k_nbrs: int = 6, n_entries: int = 2,
             beam: int = 4, rounds: int = 3, k: int = 5,
             n_q: int = 3, adj_where: str = "",
             phases: int = 0, tail: str = "") -> str:
    """DuckDB replay of sim28: the _int_cells_sql quantize+Lloyd
    prefix, then the k-NN graph (every vector probes its n_probe
    nearest cells; candidates share a cell; per-src top-k_nbrs), then
    each beam-search round as chained CTEs (beam -> neighbor expand ->
    score -> dedup'd visited re-rank) — deterministic at the fixed
    round count, so no recursive CTE (the g3/g5 oracle recipe).
    `adj_where` filters the STORED edge list (sim30's tombstone
    semantics: the per-src rank ran at build time, deletion never
    re-ranks); `phases` cross-joins phase tags for the
    tombstoned-vs-compacted parity shape (the sim26 recipe); `tail`
    exposes the ranked beam result as a `beam` CTE and appends the
    caller's own final statement (the _int_ivfpq_sql hook — sim31's
    recall join rides it)."""
    d2 = _d2_sql(dim)
    norm2 = _norm2_sql(dim)
    last = f"c{iters}"
    dot = _idot_sql(dim)
    parts = [_int_cells_sql(dim, k_cent, iters) + f""", nrm AS MATERIALIZED (
        SELECT vec_id, q, {norm2('q')} AS nrm FROM qv
    ), aprobe AS (
        SELECT vec_id, q, nrm, cid FROM (
            SELECT n.vec_id, n.q, n.nrm, c.cid,
                   row_number() OVER (PARTITION BY n.vec_id
                       ORDER BY {d2('n.q', 'c.cent')}, c.cid) AS rn
            FROM nrm n CROSS JOIN {last} c
        ) WHERE rn <= {n_probe}
    ), gcand AS (
        SELECT p.vec_id AS src, a.vec_id AS dst,
               {dot('p.q', 'a.q')} / (p.nrm * n2.nrm) AS cs
        FROM aprobe p
        JOIN af a ON p.cid = a.cid AND p.vec_id <> a.vec_id
        JOIN nrm n2 ON n2.vec_id = a.vec_id
    ), adj0 AS (
        SELECT src, dst FROM (
            SELECT src, dst, row_number() OVER (PARTITION BY src
                ORDER BY cs DESC, dst) AS nrk
            FROM gcand
        ) WHERE nrk <= {k_nbrs}
    ), adj AS MATERIALIZED (
        SELECT * FROM adj0 {adj_where}
    ), qq AS (
        SELECT vec_id AS q_id, q AS qvec, nrm AS qnrm
        FROM nrm WHERE vec_id < {n_q}
    ), ent AS (
        SELECT vec_id, q, nrm FROM nrm ORDER BY vec_id
        LIMIT {n_entries}
    ), v0 AS (
        SELECT q.q_id, e.vec_id,
               {dot('q.qvec', 'e.q')} / (q.qnrm * e.nrm) AS cos_sim_q8
        FROM qq q CROSS JOIN ent e
    )"""]
    parts.append(_beam_rounds_sql(dim, rounds, beam, tag="",
                                  qq="qq", adj="adj", nrm="nrm"))
    if tail:
        parts.append(f""", beam AS (
        SELECT q_id, vec_id, cos_sim_q8, CAST(rk AS BIGINT) AS rk
        FROM (
            SELECT q_id, vec_id, cos_sim_q8,
                   row_number() OVER (PARTITION BY q_id
                       ORDER BY cos_sim_q8 DESC, vec_id) AS rk
            FROM v{rounds}
        ) WHERE rk <= {k}
    )""" + tail)
    elif phases:
        tags = ", ".join(str(i) for i in range(1, phases + 1))
        parts.append(f"""
    SELECT CAST(p.phase AS BIGINT) AS phase, q_id, vec_id,
           cos_sim_q8, CAST(rk AS BIGINT) AS rk FROM (
        SELECT q_id, vec_id, cos_sim_q8,
               row_number() OVER (PARTITION BY q_id
                   ORDER BY cos_sim_q8 DESC, vec_id) AS rk
        FROM v{rounds}
    ) CROSS JOIN (SELECT unnest([{tags}]) AS phase) p
    WHERE rk <= {k} ORDER BY phase, q_id, rk""")
    else:
        parts.append(f"""
    SELECT q_id, vec_id, cos_sim_q8, CAST(rk AS BIGINT) AS rk FROM (
        SELECT q_id, vec_id, cos_sim_q8,
               row_number() OVER (PARTITION BY q_id
                   ORDER BY cos_sim_q8 DESC, vec_id) AS rk
        FROM v{rounds}
    ) WHERE rk <= {k} ORDER BY q_id, rk""")
    return "".join(parts)


def sim9_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization approximate top-5 (m=8 subspaces, 16 codes
    each, deterministic per-subspace Lloyd; asymmetric-distance
    scoring), ORACLE-GATED VIA VERDICT COLUMNS (the a16/sim4 pattern —
    float k-means is not SQL-expressible): exact companions (every
    query returns exactly k results) plus recall_ok, the aggregate
    recall-vs-brute-force floor at 0.15. PQ with 16 codes over
    near-orthogonal synthetic vectors is a coarse quantizer — measured
    recall is 0.27/0.53/0.47 at sf0.001/0.01/0.1 — so the floor pins
    'the index returns genuinely related vectors, not noise' with
    >=1.7x margin everywhere while staying robust to float-order rank
    flips. ADC-vs-reconstruction exactness and determinism stay pinned
    in tests/test_operators (TestPQ)."""
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    q = _queries_df(spark, sf_dir)
    approx = S.pq_topk(emb, q, k=5, m=8, n_codes=16)
    exact = S.brute_force_topk(emb, q, k=5, assume_small_q=True)
    hits = (approx.select("q_id", "vec_id")
            .join(exact.select("q_id", "vec_id"), ["q_id", "vec_id"])
            .agg(F.count("*").alias("n_hits")))
    per_q = approx.groupBy("q_id").agg(
        F.count("*").cast("long").alias("n_results"))
    total = per_q.agg(F.sum("n_results").alias("n_total"))
    return (
        per_q.crossJoin(F.broadcast(hits)).crossJoin(F.broadcast(total))
        .select(
            "q_id", "n_results",
            (F.col("n_hits") * 100 >= F.col("n_total") * 15)
            .alias("recall_ok"),
        )
        .orderBy("q_id")
    )


def sim7_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-10 over int8-quantized vectors (symmetric per-vector
    scale, integer dot products — operators/similarity.quantized_topk).
    The quantized-index ANN baseline; recall vs exact pinned in tests."""
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    return S.quantized_topk(emb, _queries_df(spark, sf_dir), k=10).orderBy(
        "q_id", "rk"
    )


def sim8_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection (64 -> 8 exact-integer dims over the int8
    quantization) — the width-reduction step ahead of LSH/IVF at
    scale. Map-side only; the JL norm-preservation expectation and
    scale invariance are pinned in tests (neighbor *recall* is not —
    the fixture embeddings are near-orthogonal noise, where no 8-dim
    sketch preserves rank order)."""
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    return S.random_projection(emb, dims=64, out_dims=8).orderBy("vec_id")


QUERIES = {
    "sim8_random_projection": sim8_random_projection,
    "sim1_cosine_topk": sim1_cosine_topk,
    "sim7_quantized_topk": sim7_quantized_topk,
    "sim6_scalable_topk": sim6_scalable_topk,
    "sim4_ivf_topk": sim4_ivf_topk,
    "sim9_pq_topk": sim9_pq_topk,
    "sim5_multiprobe_lsh": sim5_multiprobe_lsh,
    "sim2_ann_lsh_topk": sim2_ann_lsh_topk,
    "sim3_embedding_near_dups": sim3_embedding_near_dups,
    "sim11_int_ivf_topk": sim11_int_ivf_topk,
    "sim27_int_range_search": sim27_int_range_search,
    "sim28_nsw_beam_search": sim28_nsw_beam_search,
    "sim29_nsw_persisted_probe": sim29_nsw_persisted_probe,
}


def _d2_sql(dim: int):
    return lambda v, c: (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> ({v}[i]-{c}[i])*({v}[i]-{c}[i])))")


def _norm2_sql(dim: int):
    return lambda v: (
        f"sqrt(CAST(list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> {v}[i]*{v}[i])) AS DOUBLE))")


def _int_cells_sql(dim: int = 64, k_cent: int = 4,
                   iters: int = 2, where: str = "") -> str:
    """Shared CTE prefix of every integer-quantizer oracle: sim7's
    int8 quantization (`qv`), each Lloyd iteration as three CTEs
    (assign by exact-int squared L2 with lowest-cid ties / per-dim
    truncating-div means / centroid update keeping empty cells), and
    the final one-cell-per-vector assignment (`af`). `//` and Spark's
    `div` both truncate toward zero, so the centroid updates are
    bit-identical. Ends after `af` so callers append their own
    probe/scoring tails (_int_ivf_scored_sql, _nsw_sql). `where`
    restricts the BUILD corpus (the append replay trains/builds on
    the pre-batch corpus only)."""
    d2 = _d2_sql(dim)
    parts = [f"""
    WITH base AS MATERIALIZED (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))) AS mx
        FROM embeddings{(' WHERE ' + where) if where else ''}
    ), qv AS MATERIALIZED (
        SELECT vec_id,
               CASE WHEN mx > 0 THEN list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / mx)
                                        + 0.5) AS BIGINT))
                    ELSE list_transform(embedding,
                        x -> CAST(0 AS BIGINT)) END AS q
        FROM base
    ), c0 AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, q AS cent
        FROM qv ORDER BY vec_id LIMIT {k_cent}
    )"""]
    for it in range(1, iters + 1):
        prev = f"c{it - 1}"
        parts.append(f""", a{it} AS (
        SELECT vec_id, q, cid FROM (
            SELECT v.vec_id, v.q, c.cid,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY {d2('v.q', 'c.cent')}, c.cid) AS rn
            FROM qv v CROSS JOIN {prev} c
        ) WHERE rn = 1
    ), m{it} AS (
        SELECT cid, pos, CAST(sum(q[pos]) // count(*) AS BIGINT) AS m
        FROM a{it}, (SELECT unnest(range(1, {dim + 1})) AS pos) p
        GROUP BY cid, pos
    ), c{it} AS (
        SELECT s.cid,
               CASE WHEN count(m.pos) = 0 THEN s.cent
                    ELSE list(m.m ORDER BY m.pos) END AS cent
        FROM {prev} s LEFT JOIN m{it} m ON s.cid = m.cid
        GROUP BY s.cid, s.cent
    )""")
    last = f"c{iters}"
    parts.append(f""", af AS (
        SELECT vec_id, q, cid FROM (
            SELECT v.vec_id, v.q, c.cid,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY {d2('v.q', 'c.cent')}, c.cid) AS rn
            FROM qv v CROSS JOIN {last} c
        ) WHERE rn = 1
    )""")
    return "".join(parts)


def _int_ivf_scored_sql(dim: int = 64, k_cent: int = 4, iters: int = 2,
                        n_probe: int = 2, n_q: int = 3) -> str:
    """DuckDB replay of operators.similarity._int_ivf_pairs — the CTE
    chain shared by the int-IVF oracles (sim11 top-k, sim27 range):
    the _int_cells_sql quantize+Lloyd prefix, then the n_probe probe
    and exact-int scoring, ending at the `scored` CTE
    (q_id, vec_id, cos_sim_q8)."""
    d2 = _d2_sql(dim)
    norm2 = _norm2_sql(dim)
    last = f"c{iters}"
    return _int_cells_sql(dim, k_cent, iters) + f""", qq AS (
        SELECT vec_id AS q_id, q AS qvec, {norm2('q')} AS qnrm
        FROM qv WHERE vec_id < {n_q}
    ), probe AS (
        SELECT q_id, qvec, qnrm, cid FROM (
            SELECT q.q_id, q.qvec, q.qnrm, c.cid,
                   row_number() OVER (PARTITION BY q.q_id
                       ORDER BY {d2('q.qvec', 'c.cent')}, c.cid) AS rn
            FROM qq q CROSS JOIN {last} c
        ) WHERE rn <= {n_probe}
    ), scored AS (
        SELECT p.q_id, a.vec_id,
               CAST(list_sum(list_transform(range(1, {dim + 1}),
                   i -> p.qvec[i]*a.q[i])) AS DOUBLE)
                   / (p.qnrm * {norm2('a.q')}) AS cos_sim_q8
        FROM probe p JOIN af a ON p.cid = a.cid
    )"""


def _int_ivf_sql(dim: int = 64, k_cent: int = 4, iters: int = 2,
                 n_probe: int = 2, topk: int = 5, n_q: int = 3) -> str:
    """DuckDB replay of operators.similarity.int_ivf_topk: the shared
    _int_ivf_scored_sql chain plus the per-query rank tail."""
    return _int_ivf_scored_sql(dim, k_cent, iters, n_probe, n_q) + f"""
    , ranked AS (
        SELECT q_id, vec_id, cos_sim_q8,
               row_number() OVER (PARTITION BY q_id
                   ORDER BY cos_sim_q8 DESC, vec_id) AS rk
        FROM scored
    )
    SELECT q_id, vec_id, cos_sim_q8, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {topk} ORDER BY q_id, rk"""


def _int_ivf_range_sql(tau: float, dim: int = 64, k_cent: int = 4,
                       iters: int = 2, n_probe: int = 2,
                       n_q: int = 3) -> str:
    """DuckDB replay of operators.similarity.int_ivf_range_search: the
    shared _int_ivf_scored_sql chain plus the threshold tail (no rank
    window — the point of range search)."""
    return _int_ivf_scored_sql(dim, k_cent, iters, n_probe, n_q) + f"""
    SELECT q_id, vec_id, cos_sim_q8 FROM scored
    WHERE cos_sim_q8 >= {tau!r} ORDER BY q_id, vec_id"""


ORACLES["sim11_int_ivf_topk"] = _int_ivf_sql()
ORACLES["sim27_int_range_search"] = _int_ivf_range_sql(0.12, n_q=8)
ORACLES["sim28_nsw_beam_search"] = _nsw_sql()

QUERIES["sim30_nsw_delete"] = sim30_nsw_delete

ORACLES["sim30_nsw_delete"] = _nsw_sql(
    adj_where="WHERE src % 7 <> 3 AND dst % 7 <> 3", phases=2)


def sim31_nsw_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 REPORT for the graph-ANN path at its HIGH-RECALL
    parameter point (round-13 VERDICT #3 — the sim21 report shape
    applied to sim28's family): beam search over a denser graph
    (k_nbrs=12, beam=12, rounds=3, n_entries=8) against the exact
    int8-cosine top-5. Measured recall@5 on the near-orthogonal
    synthetic corpus: 0.95 / 1.00 / 1.00 at sf0.001 / 0.01 / 0.1
    (sweep: the registry default k_nbrs=6/beam=4/rounds=3/ents=2
    scores 0.475-0.60; 8/8/3/4 -> 0.775; 12/8/3/4 -> 0.975;
    12/12/3/8 saturates) — the knob is GRAPH DENSITY first, beam
    width second; near-orthogonal vectors make sparse k-NN graphs
    poorly navigable, so k_nbrs is the recall lever and costs only
    build-side work (the stored edge list doubles; probe work grows
    with beam x k_nbrs). Both sides are exact integer arithmetic, so
    the per-query hit counts AND the aggregate recall_milli are fully
    hash-checked — the DuckDB oracle replays build + traversal +
    exact ranking + the recall join in one statement (_nsw_sql's tail
    hook). Visited state stays bounded: 8 + 3 x 12 x 12 = 440 rows
    per query at ANY corpus size."""
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    q = _queries_df(spark, sf_dir, n=8)
    adj = S.nsw_adjacency(emb, k_nbrs=12, n_centroids=4, n_probe=2,
                          iters=2)
    approx = S.nsw_beam_search(
        adj, emb, q, k=5, beam=12, rounds=3, n_entries=8,
    ).select("q_id", "vec_id").withColumn("_hit", F.lit(1))
    exact = S.int8_exact_cosine_topk(emb, n_q=8, k=5) \
        .select("q_id", "vec_id")
    hits = (exact.join(approx, ["q_id", "vec_id"], "left")
            .groupBy("q_id")
            .agg(F.count("_hit").cast("long").alias("n_hits")))
    tot = hits.agg(F.expr("(1000 * sum(n_hits)) div 40")
                   .cast("long").alias("recall_milli"))
    return (hits.crossJoin(F.broadcast(tot))
            .select("q_id", "n_hits", "recall_milli")
            .orderBy("q_id"))


QUERIES["sim31_nsw_recall_eval"] = sim31_nsw_recall_eval

_SIM31_DOT = ("CAST(list_sum(list_transform(range(1, 65), "
              "i -> q.qvec[i]*n.q[i])) AS DOUBLE)")

ORACLES["sim31_nsw_recall_eval"] = _nsw_sql(
    k_nbrs=12, beam=12, rounds=3, n_entries=8, n_q=8, k=5,
    tail=f""", xs AS (
        SELECT q.q_id, n.vec_id,
               row_number() OVER (PARTITION BY q.q_id
                   ORDER BY {_SIM31_DOT} / (q.qnrm * n.nrm) DESC,
                            n.vec_id) AS xrk
        FROM qq q CROSS JOIN nrm n
    ), xtop AS (
        SELECT q_id, vec_id FROM xs WHERE xrk <= 5
    ), hits AS (
        SELECT x.q_id, count(b.vec_id) AS n_hits
        FROM xtop x LEFT JOIN beam b
          ON b.q_id = x.q_id AND b.vec_id = x.vec_id
        GROUP BY x.q_id
    ), tot AS (
        SELECT (1000 * sum(n_hits)) // 40 AS recall_milli FROM hits
    )
    SELECT h.q_id, CAST(h.n_hits AS BIGINT) AS n_hits,
           CAST(t.recall_milli AS BIGINT) AS recall_milli
    FROM hits h CROSS JOIN tot t ORDER BY q_id""")
# the persisted probe must equal the in-query build exactly — same replay
ORACLES["sim29_nsw_persisted_probe"] = _nsw_sql()


def sim32_nsw_distributed_build(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Graph-ANN beam search over a k-NN graph built at a LARGE cell
    count (round 13 — the cap-lift that closes VERDICT r12's one
    100 TB caveat for good): the k-means training and the cell
    assignments run on _cell_kernel with the centroids a value of the
    kernel, never O(c x dim) plan literals, so the PLAN size is O(1)
    in the cell count and derive_nsw_centroids' occupancy rule can
    run uncapped — cell counts in the thousands, the 100 TB build
    shape. This entry pins n_centroids=32 (8x sim28's cell count; at
    the sf0.01 corpus that is ~60-vector occupancy): the kernel's
    arithmetic and tie rules are exact (lowest-cid/lowest-id ties,
    truncating updates — unit-pinned against the Spark-expression
    reference in TestQuantizerKernel), so the DuckDB oracle is the
    standard replay (_nsw_sql at k_cent=32) and the top-5 is fully
    hash-checked. Beyond the cell count, everything is sim28:
    cell-bounded pairs, per-src rank, deterministic BSP beam."""
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    adj = S.nsw_adjacency(emb, k_nbrs=6, n_centroids=32, n_probe=2,
                          iters=2)
    return S.nsw_beam_search(
        adj, emb, _queries_df(spark, sf_dir), k=5, beam=4, rounds=3,
        n_entries=2,
    ).orderBy("q_id", "rk")


QUERIES["sim32_nsw_distributed_build"] = sim32_nsw_distributed_build
ORACLES["sim32_nsw_distributed_build"] = _nsw_sql(k_cent=32)


_SIM33_BATCH_PRED = "vec_id % 97 = 13"


def _nsw_append_sql(dim: int = 64, k_cent: int = 4, iters: int = 2,
                    n_probe: int = 2, k_nbrs: int = 6,
                    batch_preds: tuple = (_SIM33_BATCH_PRED,),
                    i_beam: int = 8, i_rounds: int = 3,
                    i_entries: int = 2, n_entries: int = 2,
                    beam: int = 4, rounds: int = 3, k: int = 5,
                    n_q: int = 3) -> str:
    """DuckDB replay of the NSW APPEND lifecycle (sim33 single batch,
    sim34 sequential batches) in one statement: build the graph on
    the PRE-BATCH corpus (_int_cells_sql with every batch predicate
    inverted), then per batch j — INSERT-SEARCH (the batch vectors
    beam-search the graph AS OF batch j-1, _beam_rounds_sql tag
    'i{{j}}'; their top-k_nbrs visited become the new out-lists),
    RELINK (each found neighbor's list re-ranked with the symmetric
    back-edge candidates, top-k_nbrs by cs desc/dst — the stored
    build rule), MERGE into madj{{j}} (untouched + relinked + new
    lists, scores kept so batch j+1 can relink against them) and
    grow the member norms anrm{{j}} — sequential composition is
    exactly what append_to_nsw_index does batch-after-batch, so a
    later batch can link INTO an earlier one. Finally the standard
    probe runs over the last merged graph and the full corpus
    (tag ''). Every score is the exact integer dot, so the whole
    day-2 mutation chain is hash-checkable."""
    d2 = _d2_sql(dim)
    norm2 = _norm2_sql(dim)
    dot = _idot_sql(dim)
    last = f"c{iters}"
    not_any = " AND ".join(f"NOT ({p})" for p in batch_preds)
    parts = [_int_cells_sql(dim, k_cent, iters,
                            where=not_any) + f""", nrm AS MATERIALIZED (
        SELECT vec_id, q, {norm2('q')} AS nrm FROM qv
    ), aprobe AS (
        SELECT vec_id, q, nrm, cid FROM (
            SELECT n.vec_id, n.q, n.nrm, c.cid,
                   row_number() OVER (PARTITION BY n.vec_id
                       ORDER BY {d2('n.q', 'c.cent')}, c.cid) AS rn
            FROM nrm n CROSS JOIN {last} c
        ) WHERE rn <= {n_probe}
    ), gcand AS (
        SELECT p.vec_id AS src, a.vec_id AS dst,
               {dot('p.q', 'a.q')} / (p.nrm * n2.nrm) AS cs
        FROM aprobe p
        JOIN af a ON p.cid = a.cid AND p.vec_id <> a.vec_id
        JOIN nrm n2 ON n2.vec_id = a.vec_id
    ), madj0 AS MATERIALIZED (
        SELECT src, dst, cs FROM (
            SELECT src, dst, cs, row_number() OVER (PARTITION BY src
                ORDER BY cs DESC, dst) AS nrk
            FROM gcand
        ) WHERE nrk <= {k_nbrs}
    ), anrm0 AS MATERIALIZED (
        SELECT vec_id, q, nrm FROM nrm
    )"""]
    for j, pred in enumerate(batch_preds, start=1):
        pj, aj, tag = j - 1, j, f"i{j}"
        parts.append(f""", bnrm{j} AS (
        SELECT vec_id, q, {norm2('q')} AS nrm FROM (
            SELECT vec_id,
                   CASE WHEN mx > 0 THEN list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE)
                                 * (127.0 / mx) + 0.5) AS BIGINT))
                        ELSE list_transform(embedding,
                            x -> CAST(0 AS BIGINT)) END AS q
            FROM (
                SELECT vec_id, embedding,
                       list_max(list_transform(embedding,
                           x -> abs(CAST(x AS DOUBLE)))) AS mx
                FROM embeddings WHERE {pred}
            )
        )
    ), {tag}q AS (
        SELECT vec_id AS q_id, q AS qvec, nrm AS qnrm FROM bnrm{j}
    ), {tag}ent AS (
        SELECT vec_id, q, nrm FROM anrm{pj} ORDER BY vec_id
        LIMIT {i_entries}
    ), {tag}v0 AS (
        SELECT q.q_id, e.vec_id,
               {dot('q.qvec', 'e.q')} / (q.qnrm * e.nrm) AS cos_sim_q8
        FROM {tag}q q CROSS JOIN {tag}ent e
    )""")
        parts.append(_beam_rounds_sql(dim, i_rounds, i_beam, tag=tag,
                                      qq=f"{tag}q", adj=f"madj{pj}",
                                      nrm=f"anrm{pj}"))
        parts.append(f""", u{j} AS (
        SELECT src, dst, cs FROM (
            SELECT q_id AS src, vec_id AS dst, cos_sim_q8 AS cs,
                   row_number() OVER (PARTITION BY q_id
                       ORDER BY cos_sim_q8 DESC, vec_id) AS nrk
            FROM {tag}v{i_rounds}
        ) WHERE nrk <= {k_nbrs}
    ), bk{j} AS (
        SELECT dst AS src, src AS dst, cs FROM u{j}
    ), vaff{j} AS (
        SELECT DISTINCT src FROM bk{j}
    ), vn{j} AS (
        SELECT src, dst, cs FROM (
            SELECT src, dst, cs,
                   row_number() OVER (PARTITION BY src
                       ORDER BY cs DESC, dst) AS nrk
            FROM (
                SELECT a.src, a.dst, a.cs FROM madj{pj} a
                JOIN vaff{j} f ON a.src = f.src
                UNION ALL SELECT src, dst, cs FROM bk{j}
            )
        ) WHERE nrk <= {k_nbrs}
    ), madj{aj} AS MATERIALIZED (
        SELECT a.src, a.dst, a.cs FROM madj{pj} a
        WHERE a.src NOT IN (SELECT src FROM vaff{j})
        UNION ALL SELECT src, dst, cs FROM vn{j}
        UNION ALL SELECT src, dst, cs FROM u{j}
    ), anrm{aj} AS MATERIALIZED (
        SELECT vec_id, q, nrm FROM anrm{pj}
        UNION ALL SELECT vec_id, q, nrm FROM bnrm{j}
    )""")
    jj = len(batch_preds)
    parts.append(f""", qq AS (
        SELECT vec_id AS q_id, q AS qvec, nrm AS qnrm
        FROM anrm{jj} WHERE vec_id < {n_q}
    ), ent AS (
        SELECT vec_id, q, nrm FROM anrm{jj} ORDER BY vec_id
        LIMIT {n_entries}
    ), v0 AS (
        SELECT q.q_id, e.vec_id,
               {dot('q.qvec', 'e.q')} / (q.qnrm * e.nrm) AS cos_sim_q8
        FROM qq q CROSS JOIN ent e
    )""")
    parts.append(_beam_rounds_sql(dim, rounds, beam, tag="",
                                  qq="qq", adj=f"madj{jj}",
                                  nrm=f"anrm{jj}"))
    parts.append(f"""
    SELECT q_id, vec_id, cos_sim_q8, CAST(rk AS BIGINT) AS rk FROM (
        SELECT q_id, vec_id, cos_sim_q8,
               row_number() OVER (PARTITION BY q_id
                   ORDER BY cos_sim_q8 DESC, vec_id) AS rk
        FROM v{rounds}
    ) WHERE rk <= {k} ORDER BY q_id, rk""")
    return "".join(parts)


def sim33_nsw_append_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND lifecycle of the persisted graph index (round 13 — the
    search+relink insert that closes the index family's LAST
    'rebuild on cadence' decline; the st10/st15 shape applied to
    graphs): the graph is built over the corpus MINUS the batch
    (vec_id % 97 == 13), the batch is appended with
    append_to_nsw_index — each new vector beam-searches the live
    graph for its k_nbrs out-edges, found neighbors are RELINKED
    (re-ranked with the symmetric back-edge candidates), and the new
    lists land as one O(batch x k_nbrs) override fragment — then the
    standard queries probe the MERGED graph over the full corpus.
    Every step is exact-int and the insert-search is the
    deterministic BSP beam, so the DuckDB oracle replays build +
    insert-search + relink + merged probe as one chained-CTE
    statement (_nsw_append_sql) and the top-5 is fully hash-checked.
    skip_existing=True makes re-runs (and crash-replayed batches)
    no-ops — the artifact converges to the same merged graph."""
    path = _nsw_index_path(sf_dir, tag="append")
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    is_batch = F.col("vec_id") % 97 == 13
    batch, old = emb.filter(is_batch), emb.filter(~is_batch)
    S.save_nsw_index(old, path, **_NSW_BUILD_PARAMS)
    S.append_to_nsw_index(batch, old, path, beam=8, rounds=3,
                          n_entries=2, skip_existing=True)
    idx = S.load_nsw_index(spark, path)
    return S.nsw_beam_search(
        idx["adj"], emb, _queries_df(spark, sf_dir), k=5, beam=4,
        rounds=3, n_entries=2,
    ).orderBy("q_id", "rk")


QUERIES["sim33_nsw_append_probe"] = sim33_nsw_append_probe
ORACLES["sim33_nsw_append_probe"] = _nsw_append_sql()


def st17_stream_graph_append(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """STREAMING GRAPH ingest — the append cell that COMPLETES the
    streaming x maintenance matrix for all three persisted indexes
    (probe st9/st12, append st10/st15/st17, delete st13/st14/st16):
    a graph built over the corpus minus the batch receives the batch
    (vec_id % 97 == 13) as a file-stream micro-batch applied via
    foreachBatch with append_to_nsw_index — search+relink under the
    maintenance lease, an O(batch x k_nbrs) override fragment, with
    an applied-batch marker PLUS skip_existing=True covering BOTH
    retry windows (the st15 discipline). ONE micro-batch by design,
    stated rather than fudged: unlike the frozen-codebook IVF-PQ
    append (commutative — st15 streams two), graph appends COMPOSE
    SEQUENTIALLY (batch 2's insert-search runs over the graph that
    already contains batch 1), so a multi-file stream's result would
    depend on FileStreamSource's file ordering; the deterministic
    single-batch stream is what a SQL oracle can pin, and sequential
    composition is unit-pinned instead (TestNswGraphAnn). After the
    stream drains, the standard queries probe the merged graph —
    the result must equal sim33's direct append exactly, so the
    oracle IS sim33's replay (_nsw_append_sql) verbatim. Run scratch
    is eager-and-clean (u6)."""
    import os
    import shutil
    import tempfile

    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    is_batch = F.col("vec_id") % 97 == 13
    batch, old = emb.filter(is_batch), emb.filter(~is_batch)
    base = _nsw_index_path(sf_dir, tag="append-stream-base")
    S.save_nsw_index(old, base, **_NSW_BUILD_PARAMS)
    run = tempfile.mkdtemp(prefix="sg_st17_")
    try:
        idx = os.path.join(run, "idx")
        shutil.copytree(base, idx)
        src = os.path.join(run, "ingest")
        batch.coalesce(1).write.mode("append").parquet(src)
        schema = spark.read.parquet(src).schema
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))

        def batch_fn(batch_df, batch_id: int) -> None:
            marker = os.path.join(run, f"applied-{batch_id}")
            if os.path.exists(marker):
                return
            S.append_to_nsw_index(batch_df, old, idx, beam=8,
                                  rounds=3, n_entries=2,
                                  skip_existing=True)
            open(marker, "w").close()

        q = (stream.writeStream.foreachBatch(batch_fn)
             .option("checkpointLocation", os.path.join(run, "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        loaded = S.load_nsw_index(spark, idx, expect=_NSW_BUILD_PARAMS)
        out = S.nsw_beam_search(
            loaded["adj"], emb, _queries_df(spark, sf_dir),
            k=5, beam=4, rounds=3, n_entries=2,
        ).orderBy("q_id", "rk")
        rows = out.collect()
        schema_out = out.schema
    finally:
        shutil.rmtree(run, ignore_errors=True)
    return spark.createDataFrame(rows, schema_out).orderBy("q_id", "rk")


QUERIES["st17_stream_graph_append"] = st17_stream_graph_append
# the streamed append must equal sim33's direct append — same replay
ORACLES["st17_stream_graph_append"] = _nsw_append_sql()


def sim34_nsw_sequential_append(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """SEQUENTIAL append composition, oracle-pinned (round 13 — the
    order-sensitive half st17 deliberately keeps out of the stream):
    two batches land one after the other (vec_id % 97 == 13, then
    % 97 == 31), and batch B's insert-search runs over the graph
    that ALREADY contains batch A — B can link into A's nodes, and
    a B back-edge can displace an edge A just created (the second
    fragment supersedes the first per src at read time). The DuckDB
    oracle chains both append blocks in one statement
    (_nsw_append_sql with two batch predicates: each block's search
    runs over the previous block's merged graph and member set), so
    the exact composed day-2 state — not just each step — is
    hash-checked. skip_existing keeps re-runs convergent."""
    path = _nsw_index_path(sf_dir, tag="append-seq")
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    pa = F.col("vec_id") % 97 == 13
    pb = F.col("vec_id") % 97 == 31
    old = emb.filter(~pa & ~pb)
    S.save_nsw_index(old, path, **_NSW_BUILD_PARAMS)
    S.append_to_nsw_index(emb.filter(pa), old, path, beam=8,
                          rounds=3, n_entries=2, skip_existing=True)
    S.append_to_nsw_index(emb.filter(pb), emb.filter(~pb), path,
                          beam=8, rounds=3, n_entries=2,
                          skip_existing=True)
    idx = S.load_nsw_index(spark, path)
    return S.nsw_beam_search(
        idx["adj"], emb, _queries_df(spark, sf_dir), k=5, beam=4,
        rounds=3, n_entries=2,
    ).orderBy("q_id", "rk")


QUERIES["sim34_nsw_sequential_append"] = sim34_nsw_sequential_append
ORACLES["sim34_nsw_sequential_append"] = _nsw_append_sql(
    batch_preds=("vec_id % 97 = 13", "vec_id % 97 = 31"))


def sim35_int_ivf_bigc_topk(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """sim11's integer-IVF top-5 at a LARGE cell count (round 13 —
    the sim32 cap-lift applied to the query-side IVF family):
    n_centroids=32 trains, assigns and probes on _cell_kernel with
    the centroid set a value of the kernel, so the plan carries ZERO
    centroid literals and the same code runs at the tens-of-thousands
    of cells a 100 TB IVF wants (~sqrt n). The kernel is exact
    (TestQuantizerKernel pins it against the Spark-expression
    reference), so the oracle is the standard replay at k_cent=32 —
    the hit set is fully hash-checked like sim11's."""
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    return S.int_ivf_topk(emb, _queries_df(spark, sf_dir), k=5,
                          n_centroids=32, n_probe=2,
                          iters=2).orderBy("q_id", "rk")


QUERIES["sim35_int_ivf_bigc_topk"] = sim35_int_ivf_bigc_topk
ORACLES["sim35_int_ivf_bigc_topk"] = _int_ivf_sql(k_cent=32)

# sim6 is exactness-preserving over sim1 (local top-k pre-reduce only
# discards rows provably outside the global top-k) — same oracle
ORACLES["sim6_scalable_topk"] = ORACLES["sim1_cosine_topk"]

ORACLES["sim7_quantized_topk"] = """
    WITH base AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))) AS mx
        FROM embeddings
    ), qv AS (
        SELECT vec_id,
               CASE WHEN mx > 0 THEN list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / mx)
                                        + 0.5) AS BIGINT))
                    ELSE list_transform(embedding,
                        x -> CAST(0 AS BIGINT)) END AS q
        FROM base
    ), n AS (
        SELECT vec_id, q,
               sqrt(CAST(list_sum(list_transform(range(1, len(q) + 1),
                   i -> q[i] * q[i])) AS DOUBLE)) AS nrm
        FROM qv
    ), pairs AS (
        SELECT qn.vec_id AS q_id, cn.vec_id AS vec_id,
               CAST(list_sum(list_transform(range(1, len(qn.q) + 1),
                   i -> qn.q[i] * cn.q[i])) AS DOUBLE)
                   / (qn.nrm * cn.nrm) AS cos_sim_q8
        FROM n qn JOIN n cn ON qn.vec_id < 3
    ), ranked AS (
        SELECT q_id, vec_id, cos_sim_q8,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos_sim_q8 DESC, vec_id) AS rk
        FROM pairs
    )
    SELECT q_id, vec_id, cos_sim_q8, rk FROM ranked WHERE rk <= 10
    ORDER BY q_id, rk
"""

ORACLES["sim5_multiprobe_lsh"] = f"""
    WITH planes AS ({_planes_cte()}),
    keyed AS (
        SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
        FROM embeddings CROSS JOIN planes
    ), q0 AS (
        SELECT vec_id AS q_id, embedding AS q_emb, bucket AS b0
        FROM keyed WHERE vec_id < 3
    ), q AS (
        SELECT q_id, q_emb,
               unnest([b0, xor(b0, 1), xor(b0, 2), xor(b0, 4), xor(b0, 8)])
                   AS q_bucket
        FROM q0
    ), pairs AS (
        SELECT q_id, keyed.vec_id AS vec_id,
               {_cos_sql('q_emb', 'embedding')} AS cos_sim
        FROM keyed JOIN q ON keyed.bucket = q.q_bucket
    ), ranked AS (
        SELECT q_id, vec_id, cos_sim,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos_sim DESC, vec_id) AS rk
        FROM pairs
    )
    SELECT q_id, vec_id, cos_sim, rk FROM ranked WHERE rk <= 5
    ORDER BY q_id, rk
"""


def _rp_sql(dims: int = 64, out_dims: int = 8) -> str:
    """DuckDB mirror of operators.similarity.random_projection: the
    identical int8 quantization (sim7's fragment) then per-output-dim
    signed integer sums from the same md5-seeded sign matrix."""
    from ..operators.similarity import rp_signs

    projs = []
    for j, signs in enumerate(rp_signs(dims, out_dims)):
        terms = " ".join(
            ("+" if s == 1 else "-") + f" q[{i + 1}]"
            for i, s in enumerate(signs))
        projs.append(f"CAST(0 {terms} AS BIGINT) AS proj_{j}")
    return f"""
        WITH base AS (
            SELECT vec_id, embedding,
                   list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))) AS mx
            FROM embeddings
        ), qv AS (
            SELECT vec_id,
                   CASE WHEN mx > 0 THEN list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / mx)
                                            + 0.5) AS BIGINT))
                        ELSE list_transform(embedding,
                            x -> CAST(0 AS BIGINT)) END AS q
            FROM qv_src
        )
        SELECT vec_id, {', '.join(projs)}
        FROM qv ORDER BY vec_id
    """.replace("FROM qv_src", "FROM base")


ORACLES["sim8_random_projection"] = _rp_sql(64, 8)


def sim10_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid label confusion matrix over the labeled
    embeddings (operators/similarity.centroid_classify) — exact
    integer quantization/centroids/distances, so the full assignment
    is hash-checked against the oracle, not just row counts."""
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    return S.centroid_classify(emb)


QUERIES["sim10_centroid_classify"] = sim10_centroid_classify

ORACLES["sim10_centroid_classify"] = f"""
    WITH qv AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                   AS q
        FROM embeddings
    ), pos AS (
        SELECT unnest(range(1, {_DIM + 1})) AS i
    ), sums AS (
        SELECT label, i, CAST(sum(q[i]) AS BIGINT) AS s,
               count(*) AS c
        FROM qv CROSS JOIN pos GROUP BY label, i
    ), cent AS (
        -- HALF_UP(s/c) away from zero in pure integer arithmetic
        -- (// truncates toward zero, so feed it abs(s))
        SELECT label AS c_lbl,
               list(CASE WHEN s >= 0 THEN (2 * s + c) // (2 * c)
                         ELSE -((2 * (-s) + c) // (2 * c)) END
                    ORDER BY i) AS mu
        FROM sums GROUP BY label
    ), dists AS (
        SELECT qv.vec_id, qv.label, cent.c_lbl,
               CAST(list_sum(list_transform(range(1, {_DIM + 1}),
                   i -> (q[i] - mu[i]) * (q[i] - mu[i]))) AS BIGINT) AS d
        FROM qv CROSS JOIN cent
    ), best AS (
        SELECT vec_id, label, c_lbl,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d, c_lbl) AS rn
        FROM dists
    )
    SELECT label, c_lbl AS predicted, count(*) AS n
    FROM best WHERE rn = 1
    GROUP BY label, c_lbl
    ORDER BY label, predicted
"""


def sim13_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality harness: recall@5 of the single-probe LSH search
    (sim2) against the exact brute-force top-5 (sim1) per query vector
    — the evaluation loop that tunes num_planes/probes before a 100 TB
    index build. Both sides reuse the production operators; the hit
    count is a tiny (queries x k) join and the HALF_UP percent is
    exact integer arithmetic, so the report hash-checks."""
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    q = _queries_df(spark, sf_dir)
    exact = S.brute_force_topk(
        emb, q, k=5, assume_small_q=True).select("q_id", "vec_id")
    approx = S.ann_lsh_topk(emb, q, k=5, num_planes=4) \
        .select("q_id", "vec_id")
    hits = (exact.join(approx, ["q_id", "vec_id"])
            .groupBy("q_id").agg(F.count("*").alias("n_hits")))
    napp = approx.groupBy("q_id").agg(F.count("*").alias("n_approx"))
    return (
        q.select("q_id")
        .join(hits, "q_id", "left").join(napp, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.coalesce("n_approx", F.lit(0)).cast("long")
            .alias("n_approx"),
            F.expr("(200 * coalesce(n_hits, 0) + 5) DIV 10").cast("long")
            .alias("recall_pct"),
        )
        .orderBy("q_id")
    )


QUERIES["sim13_recall_eval"] = sim13_recall_eval

ORACLES["sim13_recall_eval"] = f"""
    WITH q0 AS (
        SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
        WHERE vec_id < 3
    ), exact AS (
        SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id ORDER BY
                       {_cos_sql('q_emb', 'embedding')} DESC, vec_id) AS rk
            FROM embeddings CROSS JOIN q0
        ) WHERE rk <= 5
    ), planes AS ({_planes_cte()}),
    keyed AS (
        SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
        FROM embeddings CROSS JOIN planes
    ), qb AS (
        SELECT vec_id AS q_id, embedding AS q_emb, bucket AS q_bucket
        FROM keyed WHERE vec_id < 3
    ), approx AS (
        SELECT q_id, vec_id FROM (
            SELECT q_id, keyed.vec_id AS vec_id,
                   row_number() OVER (PARTITION BY q_id ORDER BY
                       {_cos_sql('q_emb', 'embedding')} DESC,
                       keyed.vec_id) AS rk
            FROM keyed JOIN qb ON keyed.bucket = qb.q_bucket
        ) WHERE rk <= 5
    ), h AS (
        SELECT e.q_id, count(*) AS n_hits
        FROM exact e JOIN approx a
          ON e.q_id = a.q_id AND e.vec_id = a.vec_id
        GROUP BY e.q_id
    ), na AS (
        SELECT q_id, count(*) AS n_approx FROM approx GROUP BY q_id
    )
    SELECT q0.q_id,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(na.n_approx, 0) AS BIGINT) AS n_approx,
           CAST((200 * coalesce(h.n_hits, 0) + 5) // 10 AS BIGINT)
               AS recall_pct
    FROM q0 LEFT JOIN h ON q0.q_id = h.q_id
    LEFT JOIN na ON q0.q_id = na.q_id
    ORDER BY q0.q_id
"""


def sim14_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-ranking (operators/similarity.mmr_rerank):
    top-10 integer-dot candidates per query greedily re-ranked to 5
    with score = rel - max-similarity-to-selected (lambda = 1/2), all
    in exact int64 off int8-quantized vectors — the oracle replays
    every greedy round as generated CTEs."""
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    out = S.mmr_rerank(emb, _queries_df(spark, sf_dir), pool=10, k=5)
    return (
        out.withColumnRenamed("rank", "sel_rank")
        .select("q_id", "sel_rank", "vec_id", "rel", "red")
        .orderBy("q_id", "sel_rank")
    )


QUERIES["sim14_mmr_rerank"] = sim14_mmr_rerank


def _mmr_oracle(pool: int = 10, k: int = 5) -> str:
    idotsql = ("CAST(list_sum(list_transform(range(1, len({a}) + 1), "
               "i -> {a}[i] * {b}[i])) AS BIGINT)")
    ctes = [f"""base AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))) AS mx
        FROM embeddings
    )""", """qvv AS (
        SELECT vec_id,
               CASE WHEN mx > 0 THEN list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / mx)
                                        + 0.5) AS BIGINT))
                    ELSE list_transform(embedding,
                        x -> CAST(0 AS BIGINT)) END AS q
        FROM base
    )""", "qs AS (SELECT vec_id AS q_id, q AS qq FROM qvv "
          "WHERE vec_id < 3)",
        f"""scored AS (
        SELECT qs.q_id, c.vec_id,
               {idotsql.format(a='qs.qq', b='c.q')} AS rel
        FROM qvv c CROSS JOIN qs
    )""", f"""cand AS (
        SELECT q_id, vec_id, rel FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
                ORDER BY rel DESC, vec_id) AS rn FROM scored)
        WHERE rn <= {pool}
    )""", """candq AS (
        SELECT cand.q_id, cand.vec_id, cand.rel, qvv.q
        FROM cand JOIN qvv USING (vec_id)
    )""", f"""pairs AS (
        SELECT a.q_id, a.vec_id AS a_id, b.vec_id AS b_id,
               {idotsql.format(a='a.q', b='b.q')} AS s
        FROM candq a JOIN candq b
          ON a.q_id = b.q_id AND a.vec_id <> b.vec_id
    )""", """sel1 AS (
        SELECT q_id, vec_id, rel, CAST(0 AS BIGINT) AS red,
               1 AS sel_rank
        FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                  ORDER BY rel DESC, vec_id) AS rn FROM cand)
        WHERE rn = 1
    )""", "selu1 AS (SELECT * FROM sel1)"]
    for i in range(2, k + 1):
        p = i - 1
        ctes.append(f"""rem{i} AS (
        SELECT c.* FROM cand c
        WHERE NOT EXISTS (SELECT 1 FROM selu{p} s
                          WHERE s.q_id = c.q_id AND s.vec_id = c.vec_id)
    )""")
        ctes.append(f"""red{i} AS (
        SELECT r.q_id, r.vec_id, r.rel, max(p.s) AS red
        FROM rem{i} r
        JOIN pairs p ON p.q_id = r.q_id AND p.a_id = r.vec_id
        JOIN selu{p} s ON s.q_id = p.q_id AND s.vec_id = p.b_id
        GROUP BY r.q_id, r.vec_id, r.rel
    )""")
        ctes.append(f"""sel{i} AS (
        SELECT q_id, vec_id, rel, red, {i} AS sel_rank
        FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                  ORDER BY rel - red DESC, vec_id) AS rn FROM red{i})
        WHERE rn = 1
    )""")
        ctes.append(f"selu{i} AS (SELECT * FROM selu{p} "
                    f"UNION ALL SELECT * FROM sel{i})")
    return ("WITH " + ",\n    ".join(ctes)
            + f"\n    SELECT q_id, CAST(sel_rank AS INTEGER) AS sel_rank, "
              f"vec_id, rel, red FROM selu{k} ORDER BY q_id, sel_rank")


ORACLES["sim14_mmr_rerank"] = _mmr_oracle(10, 5)


def sim15_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN graph construction over the WHOLE corpus (not a query
    sample): each vector's top-3 neighbours among its LSH-bucket
    co-residents, scored by exact int64 quantized dot products — the
    candidate-graph step ahead of clustering / SemDeDup / label
    propagation. Scale shape: the only join is the bucket-keyed
    self-join (never all-pairs); per-node ranking windows see
    O(bucket) rows. Nodes alone in their bucket emit nothing — at
    fleet scale you re-probe with multi-probe buckets (sim5) before
    accepting an empty neighbourhood."""
    from ..operators.similarity import idot, int8_quantize

    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    keyed = emb.select(
        "vec_id",
        int8_quantize(F.col("embedding")).alias("_qv"),
        S.lsh_bucket(F.col("embedding"), _PLANES).alias("bucket"),
    )
    from ..operators.dedup import materialize
    keyed = materialize(keyed)
    a, b = keyed.alias("a"), keyed.alias("b")
    pairs = a.join(
        b, (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") != F.col("b.vec_id"))
    ).select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("b.vec_id").alias("nbr_id"),
        idot(F.col("a._qv"), F.col("b._qv")).alias("sim"),
    )
    from pyspark.sql import Window
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("sim"), F.asc("nbr_id"))
    return (
        pairs.withColumn("nbr_rank", F.row_number().over(w))
        .filter(F.col("nbr_rank") <= 3)
        .select("vec_id", F.col("nbr_rank").cast("int").alias("nbr_rank"),
                "nbr_id", "sim")
        .orderBy("vec_id", "nbr_rank")
    )


QUERIES["sim15_knn_graph"] = sim15_knn_graph

ORACLES["sim15_knn_graph"] = f"""
    WITH base AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))) AS mx
        FROM embeddings
    ), qvv AS (
        SELECT vec_id, embedding,
               CASE WHEN mx > 0 THEN list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / mx)
                                        + 0.5) AS BIGINT))
                    ELSE list_transform(embedding,
                        x -> CAST(0 AS BIGINT)) END AS q
        FROM base
    ), planes AS ({_planes_cte()}),
    keyed AS (
        SELECT vec_id, q, {_bucket_sql('embedding')} AS bucket
        FROM qvv CROSS JOIN planes
    ), pairs AS (
        SELECT a.vec_id, b.vec_id AS nbr_id,
               CAST(list_sum(list_transform(range(1, len(a.q) + 1),
                   i -> a.q[i] * b.q[i])) AS BIGINT) AS sim
        FROM keyed a JOIN keyed b
          ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ), ranked AS (
        SELECT vec_id, nbr_id, sim,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, nbr_id) AS rk
        FROM pairs
    )
    SELECT vec_id, CAST(rk AS INTEGER) AS nbr_rank, nbr_id, sim
    FROM ranked WHERE rk <= 3
    ORDER BY vec_id, nbr_rank
"""


def sim16_int_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked integer product quantization with ADC
    (operators/similarity.int_pq_topk): 4 subspaces x 16 dims, 4
    integer-k-means codewords each, approximate dot = sum of 4
    exact-int LUT lookups — the fully-deterministic sibling of the
    float-PQ sim9 (itself verdict-gated), the same move sim11 made
    for sim4."""
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    out = S.int_pq_topk(emb, _queries_df(spark, sf_dir),
                        k=5, m=4, kc=4, iters=2, dim=_DIM)
    return out.orderBy("q_id", "rk")


QUERIES["sim16_int_pq_topk"] = sim16_int_pq_topk


def _int_pq_sql(dim: int = 64, m: int = 4, kc: int = 4, iters: int = 2,
                topk: int = 5, n_q: int = 3) -> str:
    """DuckDB replay of int_pq_topk: per-subspace integer Lloyd's
    (the _int_ivf_sql recipe on sliced lists), exact-int encoding,
    and pure-integer ADC scoring."""
    sub = dim // m

    def d2(v: str, c: str) -> str:
        return (f"list_sum(list_transform(range(1, {sub + 1}), "
                f"i -> ({v}[i]-{c}[i])*({v}[i]-{c}[i])))")

    parts = [f"""
    WITH base AS MATERIALIZED (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))) AS mx
        FROM embeddings
    ), qv AS MATERIALIZED (
        SELECT vec_id,
               CASE WHEN mx > 0 THEN list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / mx)
                                        + 0.5) AS BIGINT))
                    ELSE list_transform(embedding,
                        x -> CAST(0 AS BIGINT)) END AS q
        FROM base
    )"""]
    for s in range(m):
        lo, hi = s * sub + 1, (s + 1) * sub
        parts.append(f""", sub{s} AS MATERIALIZED (
        SELECT vec_id, q[{lo}:{hi}] AS sv FROM qv
    ), c{s}_0 AS MATERIALIZED (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
               sv AS cent
        FROM sub{s} ORDER BY vec_id LIMIT {kc}
    )""")
        for it in range(1, iters + 1):
            prev = f"c{s}_{it - 1}"
            parts.append(f""", a{s}_{it} AS MATERIALIZED (
        SELECT vec_id, sv, cid FROM (
            SELECT v.vec_id, v.sv, c.cid,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY {d2('v.sv', 'c.cent')}, c.cid) AS rn
            FROM sub{s} v CROSS JOIN {prev} c
        ) WHERE rn = 1
    ), m{s}_{it} AS MATERIALIZED (
        SELECT cid, pos, CAST(sum(sv[pos]) // count(*) AS BIGINT) AS mval
        FROM a{s}_{it}, (SELECT unnest(range(1, {sub + 1})) AS pos) p
        GROUP BY cid, pos
    ), c{s}_{it} AS MATERIALIZED (
        SELECT s.cid,
               CASE WHEN count(mm.pos) = 0 THEN s.cent
                    ELSE list(mm.mval ORDER BY mm.pos) END AS cent
        FROM {prev} s LEFT JOIN m{s}_{it} mm ON s.cid = mm.cid
        GROUP BY s.cid, s.cent
    )""")
        parts.append(f""", enc{s} AS MATERIALIZED (
        SELECT vec_id, cid FROM (
            SELECT v.vec_id, c.cid,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY {d2('v.sv', 'c.cent')}, c.cid) AS rn
            FROM sub{s} v CROSS JOIN c{s}_{iters} c
        ) WHERE rn = 1
    ), lq{s} AS MATERIALIZED (
        SELECT q.vec_id AS q_id, c.cid,
               CAST(list_sum(list_transform(range(1, {sub + 1}),
                   i -> q.sv[i]*c.cent[i])) AS BIGINT) AS dot
        FROM sub{s} q CROSS JOIN c{s}_{iters} c
        WHERE q.vec_id < {n_q}
    )""")
    enc_joins = " ".join(
        f"JOIN enc{s} e{s} ON e0.vec_id = e{s}.vec_id" if s else ""
        for s in range(m))
    lut_joins = " ".join(
        f"JOIN lq{s} l{s} ON l{s}.q_id = qq.q_id "
        f"AND l{s}.cid = e{s}.cid" for s in range(m))
    adc = " + ".join(f"l{s}.dot" for s in range(m))
    parts.append(f""", qq AS (
        SELECT vec_id AS q_id FROM qv WHERE vec_id < {n_q}
    ), scored AS (
        SELECT qq.q_id, e0.vec_id, CAST({adc} AS BIGINT) AS adc_dot
        FROM enc0 e0 {enc_joins} CROSS JOIN qq {lut_joins}
    ), ranked AS (
        SELECT q_id, vec_id, adc_dot,
               row_number() OVER (PARTITION BY q_id
                   ORDER BY adc_dot DESC, vec_id) AS rk
        FROM scored
    )
    SELECT q_id, vec_id, adc_dot, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {topk}
    ORDER BY q_id, rk""")
    return "".join(parts)


ORACLES["sim16_int_pq_topk"] = _int_pq_sql(_DIM, 4, 4, 2, 5, 3)

# sim4/sim9 verdict-gate oracles (r6): the float-k-means indexes are
# checked through exact companions + expected-TRUE bounds verdicts —
# see the query docstrings for the measured margins.
ORACLES["sim4_ivf_topk"] = """
    SELECT vec_id AS q_id, CAST(5 AS BIGINT) AS n_results,
           TRUE AS self_hit_ok, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 3 ORDER BY q_id
"""

ORACLES["sim9_pq_topk"] = """
    SELECT vec_id AS q_id, CAST(5 AS BIGINT) AS n_results,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 3 ORDER BY q_id
"""


def sim17_int_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-5 — the production ANN composition (coarse inverted
    cells + product-quantized RESIDUALS + integer ADC by inner
    product), every arithmetic step engine-exact (sim11's integer
    Lloyd's for both quantizers, sim16's LUT scoring, plus the exact
    per-cell dot(q, centroid) term), so the full composed index is
    hash-checked against a DuckDB oracle that replays coarse k-means,
    residual extraction, per-subspace residual k-means, probing and
    ADC — the deepest oracle in the registry."""
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    return S.int_ivfpq_topk(
        emb, _queries_df(spark, sf_dir), k=5, n_cells=4, n_probe=2,
        m=4, kc=4, iters=2).orderBy("q_id", "rk")


QUERIES["sim17_int_ivfpq_topk"] = sim17_int_ivfpq_topk


def _int_ivfpq_sql(dim: int = 64, k_cells: int = 4, n_probe: int = 2,
                   m: int = 4, kc: int = 4, iters: int = 2,
                   topk: int = 5, n_q: int = 3,
                   train_pred: str | None = None,
                   tail: str | None = None) -> str:
    """DuckDB replay of int_ivfpq_topk: the _int_ivf_sql coarse chain,
    residual extraction (q - centroid[cell]), the _int_pq_sql
    per-subspace chains over residual slices, then probe (with the
    exact dot(q, centroid) term) + integer ADC scoring.

    `train_pred` (a vec_id predicate, e.g. "vec_id % 2 = 0")
    restricts ONLY the quantizer-training CTEs — coarse seeds +
    Lloyd's assignments and the per-subspace codebook chains — while
    encoding and probing still cover every vector: the exact replay
    of the sim20 day-2 shape (index trained on the base corpus, new
    vectors encoded with the frozen quantizers). None leaves the
    generated SQL byte-identical to the pre-parameter version
    (sim17/sim19 oracles unchanged). `tail` replaces the default
    final SELECT with caller SQL appended AFTER the `ranked` CTE
    (which can also reference `qv`, the int8-quantized vectors) —
    the sim21 recall harness uses it to join the probe's top-k
    against the exact integer-dot top-k inside one statement."""
    sub = dim // m
    tw = "" if train_pred is None else f" WHERE {train_pred}"

    def d2(v: str, c: str, n: int) -> str:
        return (f"list_sum(list_transform(range(1, {n + 1}), "
                f"i -> ({v}[i]-{c}[i])*({v}[i]-{c}[i])))")

    parts = [f"""
    WITH base AS MATERIALIZED (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))) AS mx
        FROM embeddings
    ), qv AS MATERIALIZED (
        SELECT vec_id,
               CASE WHEN mx > 0 THEN list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / mx)
                                        + 0.5) AS BIGINT))
                    ELSE list_transform(embedding,
                        x -> CAST(0 AS BIGINT)) END AS q
        FROM base
    ), g0 AS MATERIALIZED (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, q AS cent
        FROM qv{tw} ORDER BY vec_id LIMIT {k_cells}
    )"""]
    for it in range(1, iters + 1):
        prev = f"g{it - 1}"
        parts.append(f""", ga{it} AS MATERIALIZED (
        SELECT vec_id, q, cid FROM (
            SELECT v.vec_id, v.q, c.cid,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY {d2('v.q', 'c.cent', dim)}, c.cid) AS rn
            FROM qv v CROSS JOIN {prev} c{tw}
        ) WHERE rn = 1
    ), gm{it} AS MATERIALIZED (
        SELECT cid, pos, CAST(sum(q[pos]) // count(*) AS BIGINT) AS mval
        FROM ga{it}, (SELECT unnest(range(1, {dim + 1})) AS pos) p
        GROUP BY cid, pos
    ), g{it} AS MATERIALIZED (
        SELECT s.cid,
               CASE WHEN count(mm.pos) = 0 THEN s.cent
                    ELSE list(mm.mval ORDER BY mm.pos) END AS cent
        FROM {prev} s LEFT JOIN gm{it} mm ON s.cid = mm.cid
        GROUP BY s.cid, s.cent
    )""")
    gl = f"g{iters}"
    parts.append(f""", gaf AS MATERIALIZED (
        SELECT vec_id, q, cid AS cell FROM (
            SELECT v.vec_id, v.q, c.cid,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY {d2('v.q', 'c.cent', dim)}, c.cid) AS rn
            FROM qv v CROSS JOIN {gl} c
        ) WHERE rn = 1
    ), res AS MATERIALIZED (
        SELECT a.vec_id, a.cell,
               list_transform(range(1, {dim + 1}),
                   i -> a.q[i] - c.cent[i]) AS r
        FROM gaf a JOIN {gl} c ON a.cell = c.cid
    )""")
    for s in range(m):
        lo, hi = s * sub + 1, (s + 1) * sub
        parts.append(f""", rsub{s} AS MATERIALIZED (
        SELECT vec_id, r[{lo}:{hi}] AS sv FROM res
    ), p{s}_0 AS MATERIALIZED (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
               sv AS cent
        FROM rsub{s}{tw} ORDER BY vec_id LIMIT {kc}
    )""")
        for it in range(1, iters + 1):
            prev = f"p{s}_{it - 1}"
            parts.append(f""", pa{s}_{it} AS MATERIALIZED (
        SELECT vec_id, sv, cid FROM (
            SELECT v.vec_id, v.sv, c.cid,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY {d2('v.sv', 'c.cent', sub)}, c.cid) AS rn
            FROM rsub{s} v CROSS JOIN {prev} c{tw}
        ) WHERE rn = 1
    ), pm{s}_{it} AS MATERIALIZED (
        SELECT cid, pos, CAST(sum(sv[pos]) // count(*) AS BIGINT) AS mval
        FROM pa{s}_{it}, (SELECT unnest(range(1, {sub + 1})) AS pos) p
        GROUP BY cid, pos
    ), p{s}_{it} AS MATERIALIZED (
        SELECT s.cid,
               CASE WHEN count(mm.pos) = 0 THEN s.cent
                    ELSE list(mm.mval ORDER BY mm.pos) END AS cent
        FROM {prev} s LEFT JOIN pm{s}_{it} mm ON s.cid = mm.cid
        GROUP BY s.cid, s.cent
    )""")
        parts.append(f""", enc{s} AS MATERIALIZED (
        SELECT vec_id, cid FROM (
            SELECT v.vec_id, c.cid,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY {d2('v.sv', 'c.cent', sub)}, c.cid) AS rn
            FROM rsub{s} v CROSS JOIN p{s}_{iters} c
        ) WHERE rn = 1
    ), lq{s} AS MATERIALIZED (
        SELECT q.vec_id AS q_id, c.cid,
               CAST(list_sum(list_transform(range(1, {sub + 1}),
                   i -> q.q[{lo - 1} + i]*c.cent[i])) AS BIGINT) AS dot
        FROM qv q CROSS JOIN p{s}_{iters} c
        WHERE q.vec_id < {n_q}
    )""")
    enc_joins = " ".join(
        f"JOIN enc{s} e{s} ON rr.vec_id = e{s}.vec_id" for s in range(m))
    lut_joins = " ".join(
        f"JOIN lq{s} l{s} ON l{s}.q_id = pr.q_id "
        f"AND l{s}.cid = e{s}.cid" for s in range(m))
    adc = " + ".join(f"l{s}.dot" for s in range(m))
    parts.append(f""", probe AS (
        SELECT q_id, cid, qc FROM (
            SELECT q.vec_id AS q_id, c.cid,
                   CAST(list_sum(list_transform(range(1, {dim + 1}),
                       i -> q.q[i]*c.cent[i])) AS BIGINT) AS qc,
                   row_number() OVER (PARTITION BY q.vec_id
                       ORDER BY {d2('q.q', 'c.cent', dim)}, c.cid) AS rn
            FROM qv q CROSS JOIN {gl} c
            WHERE q.vec_id < {n_q}
        ) WHERE rn <= {n_probe}
    ), scored AS (
        SELECT pr.q_id, rr.vec_id,
               CAST(pr.qc + {adc} AS BIGINT) AS ip_q8
        FROM res rr {enc_joins}
        JOIN probe pr ON pr.cid = rr.cell
        {lut_joins}
    ), ranked AS (
        SELECT q_id, vec_id, ip_q8,
               row_number() OVER (PARTITION BY q_id
                   ORDER BY ip_q8 DESC, vec_id) AS rk
        FROM scored
    )""")
    parts.append(tail if tail is not None else f"""
    SELECT q_id, vec_id, ip_q8, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {topk} ORDER BY q_id, rk""")
    return "".join(parts)


ORACLES["sim17_int_ivfpq_topk"] = _int_ivfpq_sql(_DIM, 4, 2, 4, 4, 2, 5, 3)


def sim18_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (1-bit) quantization ANN — the far end of the
    quantization ladder (float sim1 -> int8 sim7 -> PQ sim16 -> one
    BIT per dimension): each 64-dim vector packs its sign bits into
    TWO int64 lanes of 32 bits each (a 32x memory cut; two lanes keep
    every shift < 32, so no engine ever touches the int64 sign bit)
    and similarity is Hamming distance = bit_count(XOR(lo)) +
    bit_count(XOR(hi)) — the one-instruction scoring that binary
    embedding indexes run at planet scale. Sign extraction, packing,
    XOR and popcount are all exact integer ops, so the whole index
    hash-checks. Top-5 per query, Hamming asc, vec_id tiebreak."""
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")

    def lane(lo: int) -> "F.Column":
        return F.aggregate(
            F.zip_with(
                F.slice("embedding", lo + 1, 32),
                F.sequence(F.lit(0), F.lit(31)),
                lambda x, i: F.when(
                    x.cast("double") > 0,
                    F.pow(F.lit(2.0), i.cast("double")).cast("bigint")
                ).otherwise(F.lit(0).cast("bigint"))),
            F.lit(0).cast("bigint"), lambda acc, x: acc + x)

    packed = emb.select("vec_id", lane(0).alias("lo"),
                        lane(32).alias("hi"))
    q = packed.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"))
    from pyspark.sql import Window

    pairs = packed.crossJoin(F.broadcast(q)).select(
        "q_id", "vec_id",
        (F.bit_count(F.col("lo").bitwiseXOR(F.col("qlo")))
         + F.bit_count(F.col("hi").bitwiseXOR(F.col("qhi"))))
        .cast("long").alias("hamming"))
    w = Window.partitionBy("q_id").orderBy("hamming", "vec_id")
    return (
        pairs.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
        .orderBy("q_id", "rk")
    )


QUERIES["sim18_binary_hamming_topk"] = sim18_binary_hamming_topk


def _sim18_lane_sql(lo: int) -> str:
    return (f"CAST(list_sum(list_transform(range(1, 33), "
            f"i -> CASE WHEN CAST(embedding[{lo} + i] AS DOUBLE) > 0 "
            f"THEN CAST(2 ** (i - 1) AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)) AS BIGINT)")


ORACLES["sim18_binary_hamming_topk"] = f"""
    WITH packed AS (
        SELECT vec_id,
               {_sim18_lane_sql(0)} AS lo,
               {_sim18_lane_sql(32)} AS hi
        FROM embeddings
    ), q AS (
        SELECT vec_id AS q_id, lo AS qlo, hi AS qhi
        FROM packed WHERE vec_id < 3
    ), pairs AS (
        SELECT q.q_id, p.vec_id,
               CAST(bit_count(xor(p.lo, q.qlo))
                    + bit_count(xor(p.hi, q.qhi)) AS BIGINT) AS hamming
        FROM packed p CROSS JOIN q
    ), ranked AS (
        SELECT q_id, vec_id, hamming,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY hamming, vec_id) AS rk
        FROM pairs
    )
    SELECT q_id, vec_id, hamming, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 5 ORDER BY q_id, rk
"""


def _ivfpq_index_path(sf_dir: str, tag: str = "") -> str:
    """Deterministic per-corpus index location, fingerprinted by the
    source parquet's (path, size, mtime) so a regenerated testdata
    tree can never be probed through a stale index — the fingerprint
    costs one os.stat, no Spark job. `tag` separates differently-
    built indexes over the same corpus (sim20's split-trained one)."""
    import hashlib
    import os

    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    fp = hashlib.sha256(
        f"{src}|{st.st_size}|{st.st_mtime_ns}|{tag}|"
        f"v{S.IVFPQ_INDEX_VERSION}".encode()).hexdigest()[:16]
    return f"/tmp/sg_ivfpq_index/{fp}"


def sim19_ivfpq_persisted_topk(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The persisted ANN-index LIFECYCLE (train once / save / load /
    probe many — FAISS write_index/read_index parity): sim17 trains
    its IVF-PQ inside every query, which is the wrong amortization
    for a billion-vector corpus; here the index is built AT MOST ONCE
    per corpus (save_ivfpq_index -> parquet: cell-partitioned codes +
    cells + codebooks + meta, atomically renamed into place) and the
    query itself only LOADS and PROBES it — no k-means runs on the
    probe path (pinned in tests/test_operators.py by poisoning the
    training entry points, and in tests/test_plans.py by asserting
    the probe plan scans ONLY the probed cell partitions of the index
    — static partition pruning via the bounded |Q| x n_probe probe
    materialization). Probes 3 of 4 cells (vs sim17's 2) so the two
    registry entries are distinct results; the DuckDB oracle replays
    the full deterministic train+probe, which equals probe-of-
    persisted because training is bit-deterministic and the artifacts
    are exact integers."""
    path = _ivfpq_index_path(sf_dir)
    import os

    if not os.path.exists(os.path.join(path, "meta")):
        emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
        S.save_ivfpq_index(emb, path, n_cells=4, m=4, kc=4, iters=2,
                           dim=_DIM)
    idx = S.load_ivfpq_index(spark, path)
    return S.ivfpq_probe_topk(
        idx, _queries_df(spark, sf_dir), k=5, n_probe=3
    ).orderBy("q_id", "rk")


QUERIES["sim19_ivfpq_persisted_topk"] = sim19_ivfpq_persisted_topk

ORACLES["sim19_ivfpq_persisted_topk"] = _int_ivfpq_sql(
    _DIM, 4, 3, 4, 4, 2, 5, 3)


def sim20_ivfpq_append_probe(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """DAY-2 index maintenance (FAISS add() parity), hash-checked:
    the persisted IVF-PQ index is TRAINED on half the corpus (even
    vec_ids), then the odd half is APPENDED with the frozen cells and
    codebooks — no retraining (append_to_ivfpq_index runs only
    assignment; pinned by poisoned training entry points in
    tests/test_operators.py) — and the probe runs over the combined
    index. This is the operation every production ANN index performs
    daily: quantizers are stable artifacts, ingest only encodes. The
    build+append is staged under a scratch path and renamed as one
    unit, so a racing reader never sees the half-appended state. The
    DuckDB oracle replays the exact split: quantizer-training CTEs
    are filtered to even ids (the _int_ivfpq_sql train_pred
    parameter) while encoding and probing cover every vector."""
    import os
    import shutil
    import uuid

    path = _ivfpq_index_path(sf_dir, tag="train-even-append-odd")
    if not os.path.exists(os.path.join(path, "meta")):
        emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
        scratch = f"{path}.stage-{uuid.uuid4().hex[:12]}"
        S.save_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 0),
                           scratch, n_cells=4, m=4, kc=4, iters=2,
                           dim=_DIM)
        S.append_to_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 1),
                                scratch)
        try:
            os.rename(scratch, path)
        except OSError:
            # only a concurrent winner may absorb the failure: if the
            # index is still absent the rename failed for a real
            # reason — re-raise instead of discarding the built index
            if not os.path.exists(os.path.join(path, "meta")):
                raise
            shutil.rmtree(scratch, ignore_errors=True)
    idx = S.load_ivfpq_index(spark, path)
    return S.ivfpq_probe_topk(
        idx, _queries_df(spark, sf_dir), k=5, n_probe=2
    ).orderBy("q_id", "rk")


QUERIES["sim20_ivfpq_append_probe"] = sim20_ivfpq_append_probe

ORACLES["sim20_ivfpq_append_probe"] = _int_ivfpq_sql(
    _DIM, 4, 2, 4, 4, 2, 5, 3, train_pred="vec_id % 2 = 0")


def sim21_ivfpq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the PERSISTED IVF-PQ index (sim19's artifact,
    shared — built at most once) against the exact INTEGER-dot top-5
    over the same int8-quantized corpus — the quality report every
    production index owner reads before widening n_probe. Unlike the
    float-k-means harness (sim13 gates LSH, sim4/sim9 need verdict
    floors), BOTH sides here are exact integer arithmetic, so the
    per-query recall report is fully hash-checked: the DuckDB oracle
    replays train+probe via _int_ivfpq_sql's tail hook and joins it
    against the exact integer-dot ranking inside one statement."""
    import os

    path = _ivfpq_index_path(sf_dir)
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    if not os.path.exists(os.path.join(path, "meta")):
        S.save_ivfpq_index(emb, path, n_cells=4, m=4, kc=4, iters=2,
                           dim=_DIM)
    idx = S.load_ivfpq_index(spark, path)
    q = _queries_df(spark, sf_dir)
    approx = S.ivfpq_probe_topk(idx, q, k=5, n_probe=3) \
        .select("q_id", "vec_id")

    emb_q = emb.select(
        "vec_id", S.int8_quantize(F.col("embedding")).alias("_qv"))
    qq = emb_q.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("_qv").alias("_qq"))
    from pyspark.sql import Window

    pairs = emb_q.crossJoin(F.broadcast(qq)).select(
        "q_id", "vec_id",
        S.idot(F.col("_qq"), F.col("_qv")).alias("ip"))
    w = Window.partitionBy("q_id").orderBy(F.desc("ip"), F.col("vec_id"))
    exact = (pairs.withColumn("rk", F.row_number().over(w))
             .filter(F.col("rk") <= 5).select("q_id", "vec_id"))

    hits = (exact.join(approx, ["q_id", "vec_id"])
            .groupBy("q_id").agg(F.count("*").alias("n_hits")))
    napp = approx.groupBy("q_id").agg(F.count("*").alias("n_approx"))
    return (
        q.select("q_id")
        .join(hits, "q_id", "left").join(napp, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.coalesce("n_approx", F.lit(0)).cast("long")
            .alias("n_approx"),
            F.expr("(200 * coalesce(n_hits, 0) + 5) DIV 10").cast("long")
            .alias("recall_pct"),
        )
        .orderBy("q_id")
    )


QUERIES["sim21_ivfpq_recall_eval"] = sim21_ivfpq_recall_eval

_SIM21_IDOT = ("CAST(list_sum(list_transform(range(1, 65), "
               "i -> q.q[i]*v.q[i])) AS BIGINT)")

def sim22_ivfpq_refined_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-STAGE retrieval (candidate generation + exact re-rank — the
    FAISS IndexRefine production shape) over the PERSISTED sim19
    index: the compressed index nominates r=15 candidates per query
    via the statically-pruned ADC probe, then only those 45 candidate
    vectors are re-scored with the exact integer dot product and the
    top-5 is taken on the EXACT score (operators/similarity.
    ivfpq_refine_topk: the candidate table broadcasts against the
    corpus scan, so the refine never re-reads the corpus). Both
    stages are exact integer arithmetic, so the composed two-stage
    result is fully hash-checked: the DuckDB oracle replays
    train+probe via _int_ivfpq_sql's tail hook, widens to rk<=15,
    and re-ranks the candidates by the exact integer dot."""
    import os

    path = _ivfpq_index_path(sf_dir)
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    if not os.path.exists(os.path.join(path, "meta")):
        S.save_ivfpq_index(emb, path, n_cells=4, m=4, kc=4, iters=2,
                           dim=_DIM)
    idx = S.load_ivfpq_index(spark, path)
    return S.ivfpq_refine_topk(
        idx, emb, _queries_df(spark, sf_dir), k=5, r=15, n_probe=3
    ).orderBy("q_id", "rk")


QUERIES["sim22_ivfpq_refined_topk"] = sim22_ivfpq_refined_topk

ORACLES["sim22_ivfpq_refined_topk"] = _int_ivfpq_sql(
    _DIM, 4, 3, 4, 4, 2, 5, 3, tail=f""", cand AS (
        SELECT q_id, vec_id FROM ranked WHERE rk <= 15
    ), rescored AS (
        SELECT c.q_id, c.vec_id,
               CAST(list_sum(list_transform(range(1, 65),
                   i -> q.q[i]*v.q[i])) AS BIGINT) AS ip_exact
        FROM cand c
        JOIN qv v ON v.vec_id = c.vec_id
        JOIN qv q ON q.vec_id = c.q_id
    )
    SELECT q_id, vec_id, ip_exact, CAST(rk AS BIGINT) AS rk FROM (
        SELECT q_id, vec_id, ip_exact,
               row_number() OVER (PARTITION BY q_id
                   ORDER BY ip_exact DESC, vec_id) AS rk
        FROM rescored
    ) WHERE rk <= 5 ORDER BY q_id, rk""")


def sim23_ivfpq_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search over the persisted sim19 index — the
    attribute-constrained ANN every production vector store exposes
    (FAISS IDSelector / metadata-filter parity): only vectors with
    vec_id % 3 = 0 are eligible, and the predicate restricts
    candidates BEFORE ADC scoring and ranking (pre-filter strategy:
    the top-5 is taken over the allowed subset, NOT an unconstrained
    top-5 post-filtered down to fewer survivors — the distinction that
    decides recall under selective filters). The predicate lands on
    the cell-partitioned codes scan, composing with static cell
    pruning; no training runs. The oracle replays train+probe via the
    _int_ivfpq_sql tail hook and applies the same predicate to the
    scored candidates before ranking."""
    import os

    path = _ivfpq_index_path(sf_dir)
    if not os.path.exists(os.path.join(path, "meta")):
        emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
        S.save_ivfpq_index(emb, path, n_cells=4, m=4, kc=4, iters=2,
                           dim=_DIM)
    idx = S.load_ivfpq_index(spark, path)
    return S.ivfpq_probe_topk(
        idx, _queries_df(spark, sf_dir), k=5, n_probe=3,
        codes_filter=F.col("vec_id") % 3 == 0,
    ).orderBy("q_id", "rk")


QUERIES["sim23_ivfpq_filtered_topk"] = sim23_ivfpq_filtered_topk

ORACLES["sim23_ivfpq_filtered_topk"] = _int_ivfpq_sql(
    _DIM, 4, 3, 4, 4, 2, 5, 3, tail=""", fr AS (
        SELECT q_id, vec_id, ip_q8,
               row_number() OVER (PARTITION BY q_id
                   ORDER BY ip_q8 DESC, vec_id) AS rk
        FROM scored WHERE vec_id % 3 = 0
    )
    SELECT q_id, vec_id, ip_q8, CAST(rk AS BIGINT) AS rk
    FROM fr WHERE rk <= 5 ORDER BY q_id, rk""")


ORACLES["sim21_ivfpq_recall_eval"] = _int_ivfpq_sql(
    _DIM, 4, 3, 4, 4, 2, 5, 3, tail=f""", approx AS (
        SELECT q_id, vec_id FROM ranked WHERE rk <= 5
    ), iexact AS (
        SELECT q_id, vec_id FROM (
            SELECT q.vec_id AS q_id, v.vec_id,
                   row_number() OVER (PARTITION BY q.vec_id
                       ORDER BY {_SIM21_IDOT} DESC, v.vec_id) AS rk
            FROM qv v CROSS JOIN qv q
            WHERE q.vec_id < 3
        ) WHERE rk <= 5
    ), h AS (
        SELECT e.q_id, count(*) AS n_hits
        FROM iexact e JOIN approx a
          ON e.q_id = a.q_id AND e.vec_id = a.vec_id
        GROUP BY e.q_id
    ), na AS (
        SELECT q_id, count(*) AS n_approx FROM approx GROUP BY q_id
    ), q0 AS (
        SELECT vec_id AS q_id FROM qv WHERE vec_id < 3
    )
    SELECT q0.q_id,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(na.n_approx, 0) AS BIGINT) AS n_approx,
           CAST((200 * coalesce(h.n_hits, 0) + 5) // 10 AS BIGINT)
               AS recall_pct
    FROM q0 LEFT JOIN h ON q0.q_id = h.q_id
    LEFT JOIN na ON q0.q_id = na.q_id
    ORDER BY q0.q_id""")


def st10_stream_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING day-2 index maintenance — sim20's append driven by
    the real micro-batch engine (the continuous-ingest shape of a
    production vector store): the persisted IVF-PQ base is trained on
    even vec_ids ONLY; the odd half arrives as a file stream split
    into TWO parquet files processed as separate micro-batches
    (maxFilesPerTrigger=1), each appended to a run-scratch copy of the
    base with the FROZEN cells/codebooks via foreachBatch
    (append_to_ivfpq_index — no k-means ever runs on the stream; the
    appends commute at file granularity, so batch order is
    irrelevant). After the stream drains, the combined index is
    probed (n_probe=3, distinct from sim20's 2-probe output) and the
    scratch removed — eager-and-clean per the u6 discipline. The
    DuckDB oracle replays the even-trained/all-encoded split via
    _int_ivfpq_sql's train_pred hook."""
    import os
    import shutil
    import tempfile

    base_path = _ivfpq_index_path(sf_dir, tag="train-even-base")
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    if not os.path.exists(os.path.join(base_path, "meta")):
        S.save_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 0),
                           base_path, n_cells=4, m=4, kc=4, iters=2,
                           dim=_DIM)
    run = tempfile.mkdtemp(prefix="sg_st10_")
    try:
        idx_path = os.path.join(run, "idx")
        shutil.copytree(base_path, idx_path)
        src = os.path.join(run, "incoming")
        # two ingest files -> two genuine micro-batches
        (emb.filter(F.col("vec_id") % 4 == 1).coalesce(1)
         .write.mode("append").parquet(src))
        (emb.filter(F.col("vec_id") % 4 == 3).coalesce(1)
         .write.mode("append").parquet(src))
        schema = spark.read.parquet(src).schema
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))

        def batch_fn(batch_df, batch_id: int) -> None:
            # idempotency guard: foreachBatch is at-least-once, and a
            # retried micro-batch would append its codes twice. The
            # marker short-circuits re-delivery of an already-applied
            # batch; skip_existing=True closes the residual pre-marker
            # window (a crash between append and marker — the retry
            # anti-joins away the landed ids instead of duplicating).
            marker = os.path.join(run, f"applied-{batch_id}")
            if os.path.exists(marker):
                return
            S.append_to_ivfpq_index(batch_df, idx_path,
                                    skip_existing=True)
            open(marker, "w").close()

        q = (stream.writeStream.foreachBatch(batch_fn)
             .option("checkpointLocation", os.path.join(run, "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        idx = S.load_ivfpq_index(spark, idx_path)
        out = S.ivfpq_probe_topk(
            idx, _queries_df(spark, sf_dir), k=5, n_probe=3
        ).orderBy("q_id", "rk")
        rows = out.collect()
        schema_out = out.schema
    finally:
        shutil.rmtree(run, ignore_errors=True)
    return spark.createDataFrame(rows, schema_out) \
        .orderBy("q_id", "rk")


QUERIES["st10_stream_index_append"] = st10_stream_index_append

ORACLES["st10_stream_index_append"] = _int_ivfpq_sql(
    _DIM, 4, 3, 4, 4, 2, 5, 3, train_pred="vec_id % 2 = 0")


def sim24_ivfpq_cell_occupancy(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """IVF cell-occupancy audit over the PERSISTED sim19 artifact
    (round-9 VERDICT #6): static partition pruning's "probe reads
    n_probe/n_cells of the index" cost model only holds while cells
    are balanced — a hot cell holding share p makes a probe that
    touches it read p of the corpus. This query loads the shared
    sim19 index (building it first iff absent, same as every sim19-
    family query) and reports each cell's code count, share in
    integer thousandths, and a HOT flag at share > 2/n_cells (the
    occupancy bound the registered probes size themselves against);
    hot cells are the trigger for operators/similarity.
    rebalance_ivfpq_index (retrain from the source corpus with more
    Lloyd iterations, same geometry, atomic-rename swap-in). The
    DuckDB oracle replays the deterministic training's final cell
    assignment (the `gaf` CTE of _int_ivfpq_sql) and aggregates it
    identically — persisted counts == training-replay counts because
    training is bit-deterministic."""
    import os

    path = _ivfpq_index_path(sf_dir)
    if not os.path.exists(os.path.join(path, "meta")):
        emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
        S.save_ivfpq_index(emb, path, n_cells=4, m=4, kc=4, iters=2,
                           dim=_DIM)
    idx = S.load_ivfpq_index(spark, path)
    return S.ivfpq_cell_occupancy(idx)


QUERIES["sim24_ivfpq_cell_occupancy"] = sim24_ivfpq_cell_occupancy

# tail reads the final training assignment (gaf) instead of the
# ranked probe: per-cell counts over all cells of the final
# quantizer (g2 = the iters=2 coarse centroids), empty cells kept
ORACLES["sim24_ivfpq_cell_occupancy"] = _int_ivfpq_sql(
    _DIM, 4, 2, 4, 4, 2, 5, 3, tail="""
    , occ AS (
        SELECT g.cid AS cell,
               CAST(coalesce(c.n, 0) AS BIGINT) AS n_codes
        FROM g2 g LEFT JOIN (
            SELECT cell, count(*) AS n FROM gaf GROUP BY cell
        ) c ON g.cid = c.cell
    ), tot AS (SELECT CAST(sum(n_codes) AS BIGINT) AS total FROM occ)
    SELECT CAST(cell AS BIGINT) AS cell, n_codes,
           CAST((n_codes * 1000) // total AS BIGINT) AS occ_milli,
           n_codes * 4 > total * 2 AS is_hot
    FROM occ CROSS JOIN tot ORDER BY cell""")


def sim25_ivfpq_rebalanced_probe(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Probe of a REBALANCED index — the back half of the sim24
    lifecycle: rebalance_ivfpq_index retrains the sim19 artifact from
    the source corpus with MORE Lloyd iterations (4 vs 2) at the same
    geometry and swaps the fresh index in; this query probes the
    rebalanced artifact (k=5, n_probe=2). Correctness of the
    rebalance is fully hash-checked because training is
    bit-deterministic: the DuckDB oracle replays the whole
    train(iters=4)+probe chain, which must equal the probe of the
    persisted rebalanced index. Together with sim24 (detect skew) and
    the rebalance unit tests (skew actually clears), this closes the
    audit -> rebalance -> probe loop."""
    import os

    base = _ivfpq_index_path(sf_dir)
    reb = _ivfpq_index_path(sf_dir, tag="rebalanced-i4")
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    if not os.path.exists(os.path.join(base, "meta")):
        S.save_ivfpq_index(emb, base, n_cells=4, m=4, kc=4, iters=2,
                           dim=_DIM)
    if not os.path.exists(os.path.join(reb, "meta")):
        S.rebalance_ivfpq_index(emb, base, reb, iters=4)
    idx = S.load_ivfpq_index(spark, reb)
    return S.ivfpq_probe_topk(
        idx, _queries_df(spark, sf_dir), k=5, n_probe=2
    ).orderBy("q_id", "rk")


QUERIES["sim25_ivfpq_rebalanced_probe"] = sim25_ivfpq_rebalanced_probe

ORACLES["sim25_ivfpq_rebalanced_probe"] = _int_ivfpq_sql(
    _DIM, 4, 2, 4, 4, 4, 5, 3)


def sim26_ivfpq_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE lifecycle of the persisted ANN index (round-10 VERDICT
    #1, the sim-family twin of dd18 — FAISS remove_ids parity):
    every vec_id % 5 == 0 vector is tombstoned out of a full-corpus
    index (delete_from_ivfpq_index — an O(delete batch) tombstone
    append; cells/codebooks/codes untouched, deletion never retrains
    a quantizer), then the queries probe TWO artifacts staged from
    that state:

      phase 1  the tombstoned index — load_ivfpq_index anti-joins the
               broadcast tombstone set over the codes scan, composing
               with the static cell pruning;
      phase 2  a compacted sibling — compact_ivfpq_index physically
               purged the tombstoned codes into a fresh codes-g2
               generation behind the CODES pointer flip.

    Both phases must emit the IDENTICAL top-5 (deletion is a
    permanent pre-filter: the ranking runs over the surviving
    candidates of the probed cells). The DuckDB oracle replays
    train+probe via the _int_ivfpq_sql tail hook, re-ranks the scored
    candidates with vec_id % 5 <> 0, and cross-joins the two phase
    tags. Builds stage under a scratch path and rename in (dd16's
    discipline); maintenance runs under kv.maintenance_lease."""
    import os
    import shutil

    path = _ivfpq_index_path(sf_dir, tag="tombstone")
    if not os.path.exists(os.path.join(path, "tomb", "meta")):
        emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
        staging = f"{path}.staging-{os.getpid()}"
        shutil.rmtree(staging, ignore_errors=True)
        tomb = os.path.join(staging, "tomb")
        S.save_ivfpq_index(emb, tomb, n_cells=4, m=4, kc=4, iters=2,
                           dim=_DIM)
        S.delete_from_ivfpq_index(
            emb.filter(F.col("vec_id") % 5 == 0).select("vec_id"),
            tomb)
        purged = os.path.join(staging, "purged")
        shutil.copytree(tomb, purged)
        S.compact_ivfpq_index(spark, purged)
        try:
            os.rename(staging, path)
        except OSError:
            if not os.path.exists(os.path.join(path, "tomb", "meta")):
                raise
            shutil.rmtree(staging, ignore_errors=True)
    q = _queries_df(spark, sf_dir)
    out = None
    for phase, sub in ((1, "tomb"), (2, "purged")):
        idx = S.load_ivfpq_index(spark, os.path.join(path, sub))
        res = S.ivfpq_probe_topk(idx, q, k=5, n_probe=3) \
            .select(F.lit(phase).cast("long").alias("phase"),
                    "q_id", "vec_id", "ip_q8", "rk")
        out = res if out is None else out.unionByName(res)
    return out.orderBy("phase", "q_id", "rk")


QUERIES["sim26_ivfpq_delete"] = sim26_ivfpq_delete

ORACLES["sim26_ivfpq_delete"] = _int_ivfpq_sql(
    _DIM, 4, 3, 4, 4, 2, 5, 3, tail=""", fr AS (
        SELECT q_id, vec_id, ip_q8,
               row_number() OVER (PARTITION BY q_id
                   ORDER BY ip_q8 DESC, vec_id) AS rk
        FROM scored WHERE vec_id % 5 <> 0
    )
    SELECT CAST(p.phase AS BIGINT) AS phase, q_id, vec_id, ip_q8,
           CAST(rk AS BIGINT) AS rk
    FROM fr CROSS JOIN (SELECT unnest([1, 2]) AS phase) p
    WHERE rk <= 5 ORDER BY phase, q_id, rk""")


def st12_stream_ann_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ANN ingest probe — the sim-family analog of st9,
    closing the last day-2 asymmetry between the two persisted index
    families (round-10 VERDICT #6): the full-corpus sim19 IVF-PQ
    artifact is built once; six ingest vectors (vec_id 3..8) arrive
    as a FILE STREAM in two parquet files processed as separate
    micro-batches (maxFilesPerTrigger=1), and each batch probes the
    index via foreachBatch (streaming.stream_probe_ann) — O(batch)
    per trigger, cells/codebooks loaded once as driver literals, the
    codes scan statically pruned to the probed cells, the corpus
    never re-encoded. The returned DataFrame reads the per-vector
    top-5 neighbor report the stream wrote, so the driver
    hash-compares an actual Structured Streaming run against the
    DuckDB train+probe replay (n_q widened to 9, tail keeps the
    streamed q_ids) — stream/batch parity, the st9 discipline."""
    import os
    import shutil
    import tempfile

    from ..streaming import stream_probe_ann

    path = _ivfpq_index_path(sf_dir)
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    if not os.path.exists(os.path.join(path, "meta")):
        S.save_ivfpq_index(emb, path, n_cells=4, m=4, kc=4, iters=2,
                           dim=_DIM)
    run = tempfile.mkdtemp(prefix="sg_st12_")
    try:
        with spans.span("setup"):
            src = os.path.join(run, "incoming")
            # two ingest files -> two genuine micro-batches
            (emb.filter((F.col("vec_id") >= 3) & (F.col("vec_id") < 6))
             .coalesce(1).write.mode("append").parquet(src))
            (emb.filter((F.col("vec_id") >= 6) & (F.col("vec_id") < 9))
             .coalesce(1).write.mode("append").parquet(src))
        schema = spark.read.parquet(src).schema
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        out_dir = os.path.join(run, "report")
        with spans.span("stream_probe"):
            q = (stream_probe_ann(stream, path, out_dir, k=5, n_probe=3)
                 .option("checkpointLocation", os.path.join(run, "ckpt"))
                 .trigger(availableNow=True).start())
            q.awaitTermination()
        # eager-and-clean (u6 discipline): the report is bounded
        # (6 vectors x top-5); batch_id is the sink's idempotency
        # partition column, not part of the report schema
        out = (spark.read.parquet(out_dir).drop("batch_id")
               .orderBy("q_id", "rk"))
        rows = out.collect()
        schema_out = out.schema
    finally:
        shutil.rmtree(run, ignore_errors=True)
    return spark.createDataFrame(rows, schema_out) \
        .orderBy("q_id", "rk")


QUERIES["st12_stream_ann_probe"] = st12_stream_ann_probe

ORACLES["st12_stream_ann_probe"] = _int_ivfpq_sql(
    _DIM, 4, 3, 4, 4, 2, 5, 9, tail="""
    SELECT q_id, vec_id, ip_q8, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 5 AND q_id >= 3 ORDER BY q_id, rk""")


def st14_stream_ann_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ANN takedown — the sim-family twin of st13,
    completing BOTH delete cells of the streaming x maintenance
    matrix (st9/st13 probe+delete the band index, st12/st14 the
    IVF-PQ index): a copy of the full-corpus sim19 artifact receives
    takedown requests as a FILE STREAM in two parquet files processed
    as separate micro-batches (vec_id % 10 == 0, then % 10 == 5 —
    together every % 5 == 0 vector, the sim26 delete set), each batch
    applied via foreachBatch with delete_from_ivfpq_index — an
    O(batch) tombstone append under the maintenance lease,
    cells/codebooks/codes untouched (deletion never retrains a
    quantizer), with an applied-batch marker so a retried micro-batch
    is a no-op (the st10/st13 idempotency discipline; the tombstone
    anti-join additionally dedups ids). After the stream drains, the
    standard queries probe the tombstoned index; the DuckDB oracle
    replays train+probe via the _int_ivfpq_sql tail hook and re-ranks
    the scored candidates with vec_id % 5 <> 0 — exactly sim26's
    phase-1 ranking, now produced by a genuine Structured Streaming
    takedown run. Run scratch is eager-and-clean (u6)."""
    import os
    import shutil
    import tempfile

    base = _ivfpq_index_path(sf_dir)
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    if not os.path.exists(os.path.join(base, "meta")):
        S.save_ivfpq_index(emb, base, n_cells=4, m=4, kc=4, iters=2,
                           dim=_DIM)
    run = tempfile.mkdtemp(prefix="sg_st14_")
    try:
        idx = os.path.join(run, "idx")
        shutil.copytree(base, idx)
        src = os.path.join(run, "takedowns")
        # two takedown files -> two genuine micro-batches
        (emb.filter(F.col("vec_id") % 10 == 0).select("vec_id")
         .coalesce(1).write.mode("append").parquet(src))
        (emb.filter(F.col("vec_id") % 10 == 5).select("vec_id")
         .coalesce(1).write.mode("append").parquet(src))
        schema = spark.read.parquet(src).schema
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))

        def batch_fn(batch_df, batch_id: int) -> None:
            marker = os.path.join(run, f"applied-{batch_id}")
            if os.path.exists(marker):
                return
            S.delete_from_ivfpq_index(batch_df, idx)
            open(marker, "w").close()

        q = (stream.writeStream.foreachBatch(batch_fn)
             .option("checkpointLocation", os.path.join(run, "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        out = S.ivfpq_probe_topk(
            S.load_ivfpq_index(spark, idx),
            _queries_df(spark, sf_dir), k=5, n_probe=3,
        ).select("q_id", "vec_id", "ip_q8", "rk").orderBy("q_id", "rk")
        rows = out.collect()
        schema_out = out.schema
    finally:
        shutil.rmtree(run, ignore_errors=True)
    return spark.createDataFrame(rows, schema_out).orderBy("q_id", "rk")


QUERIES["st14_stream_ann_delete"] = st14_stream_ann_delete

ORACLES["st14_stream_ann_delete"] = _int_ivfpq_sql(
    _DIM, 4, 3, 4, 4, 2, 5, 3, tail=""", fr AS (
        SELECT q_id, vec_id, ip_q8,
               row_number() OVER (PARTITION BY q_id
                   ORDER BY ip_q8 DESC, vec_id) AS rk
        FROM scored WHERE vec_id % 5 <> 0
    )
    SELECT q_id, vec_id, ip_q8, CAST(rk AS BIGINT) AS rk
    FROM fr WHERE rk <= 5 ORDER BY q_id, rk""")


def st16_stream_graph_delete(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """STREAMING GRAPH takedown — the graph-index cell of the
    streaming x maintenance matrix (round 13; st13 deletes the band
    index, st14 the IVF-PQ index, st16 the k-NN graph): a copy of the
    sim29 full-corpus graph artifact receives takedown requests as a
    FILE STREAM in two parquet files processed as separate
    micro-batches (vec_id % 14 == 3, then % 14 == 10 — together every
    % 7 == 3 node, the sim30 delete set), each batch applied via
    foreachBatch with delete_from_nsw_index — an O(batch) tombstone
    append under the maintenance lease, the stored edge list
    untouched, with an applied-batch marker so a retried micro-batch
    is a no-op (the st10/st13 idempotency discipline; the tombstone
    anti-join additionally dedups ids). After the stream drains, the
    standard queries beam-search the tombstoned graph; the DuckDB
    oracle replays build + traversal with the deleted edges filtered
    (_nsw_sql adj_where) — exactly sim30's phase-1 ranking, now
    produced by a genuine Structured Streaming takedown run. Run
    scratch is eager-and-clean (u6)."""
    import os
    import shutil
    import tempfile

    base = _nsw_index_path(sf_dir)
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    S.save_nsw_index(emb, base, **_NSW_BUILD_PARAMS)
    run = tempfile.mkdtemp(prefix="sg_st16_")
    try:
        idx = os.path.join(run, "idx")
        shutil.copytree(base, idx)
        src = os.path.join(run, "takedowns")
        # two takedown files -> two genuine micro-batches
        (emb.filter(F.col("vec_id") % 14 == 3).select("vec_id")
         .coalesce(1).write.mode("append").parquet(src))
        (emb.filter(F.col("vec_id") % 14 == 10).select("vec_id")
         .coalesce(1).write.mode("append").parquet(src))
        schema = spark.read.parquet(src).schema
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))

        def batch_fn(batch_df, batch_id: int) -> None:
            marker = os.path.join(run, f"applied-{batch_id}")
            if os.path.exists(marker):
                return
            S.delete_from_nsw_index(batch_df, idx)
            open(marker, "w").close()

        q = (stream.writeStream.foreachBatch(batch_fn)
             .option("checkpointLocation", os.path.join(run, "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        loaded = S.load_nsw_index(spark, idx, expect=_NSW_BUILD_PARAMS)
        out = S.nsw_beam_search(
            loaded["adj"], emb, _queries_df(spark, sf_dir),
            k=5, beam=4, rounds=3, n_entries=2,
        ).orderBy("q_id", "rk")
        rows = out.collect()
        schema_out = out.schema
    finally:
        shutil.rmtree(run, ignore_errors=True)
    return spark.createDataFrame(rows, schema_out).orderBy("q_id", "rk")


QUERIES["st16_stream_graph_delete"] = st16_stream_graph_delete

ORACLES["st16_stream_graph_delete"] = _nsw_sql(
    adj_where="WHERE src % 7 <> 3 AND dst % 7 <> 3")


def st15_stream_ann_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ANN ingest append — the sim-family twin of st10,
    completing the streaming x maintenance MATRIX for both persisted
    indexes (probe st9/st12, append st10/st15, delete st13/st14): a
    copy of an index TRAINED on the even half of the corpus receives
    the odd half as a FILE STREAM in two parquet files processed as
    separate micro-batches (vec_id % 4 == 1, then % 4 == 3), each
    batch applied via foreachBatch with append_to_ivfpq_index — FAISS
    add() semantics: the frozen cells/codebooks only ENCODE the batch
    (O(batch) per trigger, no retraining — the sim20 no-training pin
    covers the shared path), under the maintenance lease, with an
    applied-batch marker PLUS skip_existing=True so a retried
    micro-batch is a no-op in BOTH retry windows: post-marker retries
    short-circuit on the marker, and a retry landing between the
    append and its marker write anti-joins against the already-landed
    ids instead of double-inserting codes (round-11 ADVICE). After
    the stream drains the standard queries probe the combined index;
    the result must equal sim20's one-shot build+append probe, so the
    DuckDB oracle is exactly sim20's replay (training CTEs filtered
    to even ids, encoding/probe over every vector). Run scratch is
    eager-and-clean (u6)."""
    import os
    import shutil
    import tempfile
    import uuid

    base = _ivfpq_index_path(sf_dir, tag="train-even-base")
    emb = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    if not os.path.exists(os.path.join(base, "meta")):
        scratch = f"{base}.stage-{uuid.uuid4().hex[:12]}"
        S.save_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 0),
                           scratch, n_cells=4, m=4, kc=4, iters=2,
                           dim=_DIM)
        try:
            os.rename(scratch, base)
        except OSError:
            if not os.path.exists(os.path.join(base, "meta")):
                raise
            shutil.rmtree(scratch, ignore_errors=True)
    run = tempfile.mkdtemp(prefix="sg_st15_")
    try:
        idx = os.path.join(run, "idx")
        shutil.copytree(base, idx)
        src = os.path.join(run, "incoming")
        # two ingest files -> two genuine micro-batches
        (emb.filter(F.col("vec_id") % 4 == 1)
         .coalesce(1).write.mode("append").parquet(src))
        (emb.filter(F.col("vec_id") % 4 == 3)
         .coalesce(1).write.mode("append").parquet(src))
        schema = spark.read.parquet(src).schema
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))

        def batch_fn(batch_df, batch_id: int) -> None:
            marker = os.path.join(run, f"applied-{batch_id}")
            if os.path.exists(marker):
                return
            # skip_existing makes the append itself idempotent: a
            # retry that fires AFTER the append but BEFORE the marker
            # write (the round-11 ADVICE window) anti-joins away the
            # already-landed ids instead of double-inserting codes
            S.append_to_ivfpq_index(batch_df, idx, skip_existing=True)
            open(marker, "w").close()

        q = (stream.writeStream.foreachBatch(batch_fn)
             .option("checkpointLocation", os.path.join(run, "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        out = S.ivfpq_probe_topk(
            S.load_ivfpq_index(spark, idx),
            _queries_df(spark, sf_dir), k=5, n_probe=2,
        ).orderBy("q_id", "rk")
        rows = out.collect()
        schema_out = out.schema
    finally:
        shutil.rmtree(run, ignore_errors=True)
    return spark.createDataFrame(rows, schema_out).orderBy("q_id", "rk")


QUERIES["st15_stream_ann_append"] = st15_stream_ann_append

# the claim IS sim20 parity: a streamed append equals the one-shot
# build+append, so the oracle is exactly sim20's split-trained replay
ORACLES["st15_stream_ann_append"] = _int_ivfpq_sql(
    _DIM, 4, 2, 4, 4, 2, 5, 3, train_pred="vec_id % 2 = 0")
