"""Similarity search over embedding columns (array<float>).

* Brute-force cosine top-k: the correctness baseline. Queries are
  broadcast; candidates stream through a zip_with/aggregate fold that
  stays in whole-stage codegen (no Python UDF). At 100 TB the scan is
  embarrassingly parallel and the per-query top-k is a windowed
  row_number over a candidate set.
* LSH-bucketed ANN (random hyperplane signs, Charikar 2002): each
  vector gets a B-bit bucket from the signs of B fixed ±1 hyperplane
  projections; search compares only within the query's bucket. The
  bucket-join replaces the all-pairs product — the scale path.

Dot products fold sequentially in DOUBLE: empirically bit-identical
to DuckDB's list_transform/list_sum (1500/1500 pairs), which keeps
these operators oracle-checkable.
"""

from __future__ import annotations

import functools
import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import spans
from ..sources.kv import read_tombstones


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def norm(a: Column) -> Column:
    """L2 norm — precompute ONE per vector before a pairwise join so
    the per-pair cosine does one fold, not three. Same expression tree
    as cosine()'s denominator factors, so results stay bit-identical."""
    return F.sqrt(dot(a, a))


def _cos(dot_ab: Column, norm_a: Column, norm_b: Column) -> Column:
    return dot_ab / (norm_a * norm_b)


def hyperplanes(num: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes: component (j, i) is the parity of
    the first byte of md5(f"{j}|{i}"). Reproducible everywhere —
    including inside a SQL oracle — with no PRNG state."""
    planes = []
    for j in range(num):
        row = []
        for i in range(dim):
            b = hashlib.md5(f"{j}|{i}".encode()).digest()[0]
            row.append(1.0 if b % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def lsh_bucket(emb: Column, planes: list[list[float]]) -> Column:
    """B-bit bucket id from hyperplane projection signs."""
    bucket = F.lit(0)
    for j, plane in enumerate(planes):
        hp = F.array(*[F.lit(v) for v in plane])
        bit = F.when(dot(emb, hp) > 0, F.lit(2 ** j)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket.cast("bigint")


BRUTE_BROADCAST_MAX_Q = 10_000


def brute_force_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     q_id_col: str = "q_id", q_vec_col: str = "q_emb",
                     max_broadcast_q: int = BRUTE_BROADCAST_MAX_Q,
                     assume_small_q: bool | None = None) -> DataFrame:
    """Exact cosine top-k per query vector; ties broken by candidate
    id for determinism.

    The query side is broadcast ONLY while it is provably small (a
    bounded limit-probe, never a full count): broadcasting an
    unbounded Q ships |Q|·dim floats to every executor and OOMs the
    fleet before the first dot product. Above the threshold the same
    exact pair set is built by SHARD REPLICATION: each emb row is
    exploded across S shards, each query hash-lands in exactly one
    shard, and a shuffle-hash equi-join on the shard id meets every
    (emb, query) pair exactly once with per-task query state bounded
    by ~|Q|/S. Results are identical either way (same pairs, same
    window), so both routes share one SQL oracle.

    `assume_small_q` short-circuits the limit-probe job when the
    caller already KNOWS |Q| (True: a literal/filtered handful of
    queries — broadcast without probing; False: a known-large query
    set — shard without probing). Leave it None only when |Q| is
    genuinely unknown: the probe is one bounded count, but it is a
    whole Spark job per call, measurable on repeated small probes."""
    emb_n = emb.withColumn("_vnorm", norm(F.col(vec_col)))
    q_n = queries.withColumn("_qnorm", norm(F.col(q_vec_col)))
    if assume_small_q is None:
        small_q = (
            queries.select(q_id_col).limit(max_broadcast_q + 1).count()
            <= max_broadcast_q)
    else:
        small_q = assume_small_q
    if small_q:
        joined = emb_n.crossJoin(F.broadcast(q_n))
    else:
        n_shards = max(emb.sparkSession.sparkContext.defaultParallelism, 8)
        shards = F.array(*[F.lit(i) for i in range(n_shards)])
        emb_r = emb_n.withColumn("_shard", F.explode(shards))
        q_s = q_n.withColumn(
            "_shard", F.pmod(F.hash(F.col(q_id_col)), F.lit(n_shards)))
        joined = emb_r.join(q_s.hint("shuffle_hash"), "_shard")
    pairs = joined.select(
        F.col(q_id_col),
        F.col(id_col),
        _cos(dot(F.col(q_vec_col), F.col(vec_col)),
             F.col("_qnorm"), F.col("_vnorm")).alias("cos_sim"),
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cos_sim"), F.col(id_col))
    return (
        pairs.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


def brute_force_topk_sharded(emb: DataFrame, queries: DataFrame,
                             k: int = 10, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             q_id_col: str = "q_id",
                             q_vec_col: str = "q_emb") -> DataFrame:
    """Exact cosine top-k with a partition-local Arrow pre-reduce.

    brute_force_topk's global window shuffles the full N×Q pair set to
    rank it; here each scan partition first keeps its own top-k per
    query (an Arrow-batched filter — node-local, no shuffle), so the
    global window ranks ≤ partitions×Q×k rows. A row outside its
    partition's top-k cannot be in the global top-k, and cos_sim is
    computed once JVM-side and only filtered in Python, so results are
    bit-identical to brute_force_topk — the two share one SQL oracle.
    This is the shape that holds when N×Q pairs dwarf executor memory."""
    emb_n = emb.withColumn("_vnorm", norm(F.col(vec_col)))
    q_n = queries.withColumn("_qnorm", norm(F.col(q_vec_col)))
    pairs = emb_n.crossJoin(F.broadcast(q_n)).select(
        F.col(q_id_col),
        F.col(id_col),
        _cos(dot(F.col(q_vec_col), F.col(vec_col)),
             F.col("_qnorm"), F.col("_vnorm")).alias("cos_sim"),
    )

    def local_topk(batches):
        for pdf in batches:
            if len(pdf):
                yield (
                    pdf.sort_values(["cos_sim", id_col],
                                    ascending=[False, True])
                    .groupby(q_id_col, sort=False).head(k)
                )

    reduced = pairs.mapInPandas(local_topk, pairs.schema)
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cos_sim"), F.col(id_col))
    return (
        reduced.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


def ann_lsh_topk(emb: DataFrame, queries: DataFrame, k: int = 5,
                 num_planes: int = 8, dim: int = 64, multi_probe: bool = False,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 q_id_col: str = "q_id", q_vec_col: str = "q_emb") -> DataFrame:
    """Approximate top-k: brute-force only within the query's LSH
    bucket. With multi_probe, each query also probes every bucket at
    Hamming distance 1 (one flipped hyperplane sign) — the standard
    recall/cost dial: (num_planes+1)x candidates for most of the
    recall a second hash table would buy."""
    planes = hyperplanes(num_planes, dim)
    cand = emb.withColumn("bucket", lsh_bucket(F.col(vec_col), planes)) \
        .withColumn("_vnorm", norm(F.col(vec_col)))
    q = queries.withColumn("q_bucket", lsh_bucket(F.col(q_vec_col), planes)) \
        .withColumn("_qnorm", norm(F.col(q_vec_col)))
    if multi_probe:
        variants = F.array(
            F.col("q_bucket"),
            *[F.col("q_bucket").bitwiseXOR(F.lit(2 ** j)).cast("bigint")
              for j in range(num_planes)],
        )
        q = q.withColumn("q_bucket", F.explode(variants))
    pairs = cand.join(
        F.broadcast(q), cand.bucket == q.q_bucket
    ).select(
        F.col(q_id_col),
        F.col(id_col),
        _cos(dot(F.col(q_vec_col), F.col(vec_col)),
             F.col("_qnorm"), F.col("_vnorm")).alias("cos_sim"),
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cos_sim"), F.col(id_col))
    return (
        pairs.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


def ivf_centroids(emb: DataFrame, n_centroids: int = 8, iters: int = 2,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> list[list[float]]:
    """Deterministic IVF coarse quantizer: Lloyd's k-means with the
    k lowest-id vectors as seeds (no PRNG — reproducible across runs).
    Centroids are tiny (k x dim) and live on the driver between
    iterations; each assignment pass is one broadcast argmin over the
    data — no shuffle of the embedding table."""
    seeds = (
        emb.orderBy(id_col).limit(n_centroids)
        .select(vec_col).collect()
    )
    cents = [list(map(float, r[0])) for r in seeds]
    for _ in range(iters):
        assigned = assign_centroid(emb, cents, vec_col).select(
            F.col("_cid"), F.posexplode(F.col(vec_col)).alias("pos", "val"))
        means = (
            assigned.groupBy("_cid", "pos").agg(F.avg("val").alias("m"))
            .groupBy("_cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("a"))
            .collect()
        )
        for r in means:
            cents[r._cid] = [float(x.m) for x in r.a]
    return cents


def assign_centroid(df: DataFrame, cents: list[list[float]],
                    vec_col: str) -> DataFrame:
    """Argmin over k centroid distances, computed as k inline column
    expressions (k is small; stays in codegen — no join, no UDF)."""
    d2s = []
    for i, c in enumerate(cents):
        carr = F.array(*[F.lit(v) for v in c])
        diff = F.zip_with(F.col(vec_col), carr, lambda a, b: (a - b) * (a - b))
        d2s.append(F.struct(
            F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x).alias("d"),
            F.lit(i).alias("i"),
        ))
    best = F.array_min(F.array(*d2s))
    return df.withColumn("_cid", best["i"])


def ivf_topk(emb: DataFrame, queries: DataFrame, k: int = 5,
             n_centroids: int = 8, n_probe: int = 2, iters: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding",
             q_id_col: str = "q_id", q_vec_col: str = "q_emb") -> DataFrame:
    """IVF approximate top-k (the scale path next to LSH): assign data
    to coarse cells once; each query probes its n_probe nearest cells
    and brute-forces only those. At 100 TB the cell id becomes the
    partition key, so a probe reads n_probe/k of the corpus."""
    cents = ivf_centroids(emb, n_centroids, iters, id_col, vec_col)
    data = assign_centroid(emb, cents, vec_col)

    q_assigned = assign_centroid(
        queries.withColumnRenamed(q_vec_col, "_qv"), cents, "_qv")
    # n_probe nearest cells per query: sort the distance structs
    d2s = []
    for i, c in enumerate(cents):
        carr = F.array(*[F.lit(v) for v in c])
        diff = F.zip_with(F.col("_qv"), carr, lambda a, b: (a - b) * (a - b))
        d2s.append(F.struct(
            F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x).alias("d"),
            F.lit(i).alias("i")))
    probes = F.slice(F.array_sort(F.array(*d2s)), 1, n_probe)
    q_probed = q_assigned.select(
        F.col(q_id_col), F.col("_qv").alias(q_vec_col),
        F.explode(probes).alias("_p"),
    ).select(q_id_col, q_vec_col, F.col("_p.i").alias("_cid"))
    pairs = data.withColumn("_vnorm", norm(F.col(vec_col))) \
        .join(F.broadcast(
            q_probed.withColumn("_qnorm", norm(F.col(q_vec_col)))), "_cid") \
        .select(
            F.col(q_id_col), F.col(id_col),
            _cos(dot(F.col(q_vec_col), F.col(vec_col)),
                 F.col("_qnorm"), F.col("_vnorm")).alias("cos_sim"),
        )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cos_sim"), F.col(id_col))
    return pairs.withColumn("rk", F.row_number().over(w).cast("long")) \
        .filter(F.col("rk") <= k)


def int_assign_centroid(df: DataFrame, cents: list[list[int]],
                        vec_col: str) -> DataFrame:
    """Argmin over k INTEGER centroids by exact int64 squared L2; ties
    break to the lowest centroid index — array_min over (d2, i)
    structs compares lexicographically, so the tie rule is explicit
    and engine-portable (int8 range: diffs ≤ 254, dim 64 → d2 ≤ 4.2M,
    far inside int64). The centroid set is ONE literal column
    (_int_cells_lit) scored by the df engine's kernel, so building
    the expression costs a constant number of py4j round trips
    whatever k x dim is."""
    return df.withColumn("_cid", F.array_min(_scored_cells_df(
        F.col(vec_col), _int_cells_lit(cents)))["i"])


def int_ivf_centroids(emb_q: DataFrame, n_centroids: int = 4,
                      iters: int = 2, id_col: str = "vec_id",
                      vec_col: str = "_qv") -> list[list[int]]:
    """Integer Lloyd's k-means over int8-quantized vectors — the
    oracle-checkable coarse quantizer (sim11). Every step is exact:
    seeds are the k lowest-id vectors, assignment is int64 squared L2
    with a lowest-cid tie rule, and the update is per-dimension
    truncating division (sum div count — `div` and DuckDB `//` both
    truncate toward zero). A cell that loses all members keeps its
    previous centroid. This is what ivf_centroids (sim4) cannot give:
    float averaging is aggregation-order-dependent, so sim4's raw
    top-k is gated through bounds verdicts while sim11 hash-checks
    its actual hit set."""
    seed_rows = emb_q.orderBy(id_col).limit(n_centroids) \
        .select(id_col, vec_col).collect()
    seed_rows.sort(key=lambda r: r[0])
    cents = [[int(x) for x in r[1]] for r in seed_rows]
    for _ in range(iters):
        assigned = int_assign_centroid(emb_q, cents, vec_col).select(
            "_cid", F.posexplode(F.col(vec_col)).alias("pos", "val"))
        rows = (
            assigned.groupBy("_cid", "pos")
            .agg(F.expr("sum(val) div count(*)").alias("m"))
            .groupBy("_cid")
            .agg(F.array_sort(
                F.collect_list(F.struct("pos", "m"))).alias("a"))
            .collect()
        )
        for r in rows:
            cents[r._cid] = [int(x.m) for x in r.a]
    return cents


def _int_ivf_pairs(emb: DataFrame, queries: DataFrame,
                   n_centroids: int = 4, n_probe: int = 2,
                   iters: int = 2,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   q_id_col: str = "q_id",
                   q_vec_col: str = "q_emb",
                   quantizer: str = "auto") -> DataFrame:
    """Shared candidate-scoring chain of the integer-IVF family
    (int_ivf_topk / int_ivf_range_search): int8-quantize the corpus,
    integer k-means for cells, each query probes its n_probe nearest
    cells (exact-int distance, lowest-cid ties) and scores candidates
    with exact integer dot products; only the final norm division is
    floating (single IEEE op — bit-identical across engines, the sim7
    precedent). Returns the scored candidate pairs
    (q_id, vec_id, cos_sim_q8) — callers rank (top-k) or filter
    (range search).

    `quantizer` as the NSW build (round 13): "df" runs training,
    assignment and query probing with the centroids as broadcast
    DATA (int_ivf_centroids_df / _scored_cells_df — plan size O(1)
    in the cell count, training fully distributed), bit-identical to
    the literal engine, so the same SQL replay checks both. The cell
    counts a 100 TB IVF wants (~sqrt n, tens of thousands) only fit
    the df engine."""
    engine = _resolve_nsw_quantizer(quantizer, n_centroids)
    # materialize one scan+quantize, reused by the train iterations
    # AND the probe data side (round-13 optimization): beyond saving
    # passes, the barrier keeps the interpreted quantize tree out of
    # the probe join's pushed-down key filter, where Catalyst inlines
    # it once PER CENTROID with no common-subexpression elimination —
    # measured ~10x per-row blowup (see _nsw_quantize_and_train)
    from .dedup import materialize

    emb_q = materialize(emb.select(
        F.col(id_col), int8_quantize(F.col(vec_col)).alias("_qv")))
    # training is driver-eager (k-means collects / checkpoints) —
    # attribute it so the bench can split train from the lazy probe
    # side (VERDICT #5)
    with spans.span("train"):
        if engine == "df":
            cents = int_ivf_centroids_df(emb_q, n_centroids, iters,
                                         id_col, "_qv")
        else:
            cents = int_ivf_centroids(emb_q, n_centroids, iters,
                                      id_col, "_qv")
    qs = queries.select(
        F.col(q_id_col), int8_quantize(F.col(q_vec_col)).alias("_qq"))
    (emb_c, qs_c), cc = _attach_cells(engine, cents, emb_q, qs)
    data = (emb_c.withColumn("_cid", F.array_min(
                _scored_cells_df(F.col("_qv"), cc))["i"])
            .drop("_cents"))
    q_probed = (
        qs_c.withColumn("_p", F.explode(F.slice(F.array_sort(
            _scored_cells_df(F.col("_qq"), cc)), 1, n_probe)))
        .drop("_cents")
        .select(F.col(q_id_col), F.col("_qq"),
                F.col("_p.i").alias("_cid"))
    )
    data = data.withColumn(
        "_vnorm", F.sqrt(idot(F.col("_qv"), F.col("_qv"))
                         .cast("double")))
    q_probed = q_probed.withColumn(
        "_qnorm", F.sqrt(idot(F.col("_qq"), F.col("_qq"))
                         .cast("double")))
    return data.join(F.broadcast(q_probed), "_cid").select(
        F.col(q_id_col), F.col(id_col),
        (idot(F.col("_qq"), F.col("_qv")).cast("double")
         / (F.col("_qnorm") * F.col("_vnorm"))).alias("cos_sim_q8"),
    )


def int_ivf_topk(emb: DataFrame, queries: DataFrame, k: int = 5,
                 n_centroids: int = 4, n_probe: int = 2, iters: int = 2,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 q_id_col: str = "q_id",
                 q_vec_col: str = "q_emb",
                 quantizer: str = "auto") -> DataFrame:
    """IVF approximate top-k with the integer coarse quantizer — the
    hash-checked sibling of ivf_topk (sim4); the scoring chain is
    _int_ivf_pairs, then a per-query rank. Same scale shape as sim4:
    cell id is the partition/prune key, probes read n_probe/k of the
    corpus."""
    pairs = _int_ivf_pairs(emb, queries, n_centroids, n_probe, iters,
                           id_col, vec_col, q_id_col, q_vec_col,
                           quantizer)
    w = Window.partitionBy(q_id_col).orderBy(
        F.desc("cos_sim_q8"), F.col(id_col))
    return (
        pairs.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


def int_ivf_range_search(emb: DataFrame, queries: DataFrame,
                         tau: float = 0.1,
                         n_centroids: int = 4, n_probe: int = 2,
                         iters: int = 2,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         q_id_col: str = "q_id",
                         q_vec_col: str = "q_emb",
                         quantizer: str = "auto") -> DataFrame:
    """IVF RANGE search (radius/threshold search) with the integer
    coarse quantizer — the ANN operation the top-k ladder lacked:
    return EVERY probed vector with cosine >= tau, not a fixed k
    ("all documents at least this similar" is the retrieval shape of
    takedown sweeps, near-dup audits, and recall-bounded RAG filters,
    where k is unknowable a priori). Rides _int_ivf_pairs, so every
    arithmetic step is engine-exact (the sim11 property) and the hit
    set is fully hash-checkable against a SQL replay.

    Scale shape: STRICTLY CHEAPER than top-k — the threshold filter
    is applied map-side on the probe join's output, so unlike
    int_ivf_topk there is no per-query rank window and no second
    shuffle: probe join -> filter, done. The tau cut also bounds the
    result before any exchange, which is what makes radius search
    the right primitive when k would be set to "huge, then trim"."""
    pairs = _int_ivf_pairs(emb, queries, n_centroids, n_probe, iters,
                           id_col, vec_col, q_id_col, q_vec_col,
                           quantizer)
    return pairs.filter(F.col("cos_sim_q8") >= F.lit(float(tau)))


# ---------------------------------------------------------------
# Integer centroid sets: two engines, one scoring kernel
# (_scored_cells_df). Rule: a centroid set is ONE column, never a
# Column per element — every F.lit/cast call is a py4j round trip,
# and per-element arrays cost ~15k of them to plan one IVF-PQ encode
# at 4 cells + 4x4 codewords, dim 64 (~60k at 16 cells + 4x16).
# * literal (quantizer="literal", IVF-PQ build/append, int-PQ): the
#   Python-side list is one constant-folded literal parsed from SQL
#   text in one JVM call (_int_cells_lit); plan text grows with c.
# * df (round 13, "df"/"auto"): the set stays DATA — a one-row
#   broadcast DataFrame of the same array<struct<i,cent>>, attached
#   by a 1-row cross-join; plan size O(1) in c, training distributed.
# Same exact int64 arithmetic and tie rule — BIT-IDENTICAL (pinned in
# tests TestNswGraphAnn), so the SQL oracle replay is engine-agnostic.
# ---------------------------------------------------------------


def _int_cells_sql(cents: list[list[int]]) -> str:
    """SQL text of an integer centroid set as array<struct<i int,
    cent array<bigint>>>, i = list position."""
    return "array(" + ", ".join(
        f"named_struct('i', {i}, 'cent', array("
        + ", ".join(f"{int(v)}L" for v in c) + "))"
        for i, c in enumerate(cents)) + ")"


def _int_cells_lit(cents: list[list[int]]) -> Column:
    """A Python-side integer centroid set as ONE literal Column of
    _cents_column's element shape, parsed JVM-side from SQL text: one
    py4j call whatever the set's size (Catalyst folds it to a single
    Literal)."""
    return F.expr(_int_cells_sql(cents))


def _int_books_lit(codebooks: list[list[list[int]]]) -> Column:
    """All m PQ codebooks as ONE literal Column: element s + 1 is
    codebook s in _int_cells_lit's shape."""
    return F.expr("array(" + ", ".join(
        _int_cells_sql(cb) for cb in codebooks) + ")")


def _attach_cells(engine: str, cents, *dfs: DataFrame
                  ) -> tuple[list[DataFrame], Column]:
    """Make a trained centroid set scoreable from each of `dfs`:
    (frames, centroid column) for _scored_cells_df. The df engine
    cross-joins ONE shared broadcast _cents_column row onto every
    frame (callers drop "_cents" after scoring); the literal engine
    leaves the frames alone and returns _int_cells_lit."""
    if engine == "df":
        one = F.broadcast(_cents_column(cents))
        return [d.crossJoin(one) for d in dfs], F.col("_cents")
    return list(dfs), _int_cells_lit(cents)


def _cents_column(cents_df: DataFrame) -> DataFrame:
    """Fold the (cid, cent) centroid table into ONE row holding the
    whole set as a cid-sorted array<struct<i,cent>> column. The
    single-partition aggregate is bounded by the CELL count (rows =
    c, never the corpus), and downstream it rides a 1-row broadcast
    cross-join — the j10/scalar-enrichment plan shape."""
    return cents_df.agg(F.array_sort(F.collect_list(
        F.struct(F.col("cid").cast("int").alias("i"),
                 F.col("cent").alias("cent")))).alias("_cents"))


def _scored_cells_df(vec: Column, cents_col: Column) -> Column:
    """array<struct<d,i>> of exact int64 squared L2 distances from
    `vec` to every centroid in `cents_col` (the broadcast
    _cents_column or an _int_cells_lit literal) — the one scoring
    kernel of both engines: F.array_min = assignment (lexicographic
    struct min == lowest-d2 with lowest-cid ties), sorted slice = the
    n_probe nearest cells."""
    return F.transform(cents_col, lambda c: F.struct(
        F.aggregate(F.zip_with(vec, c["cent"],
                               lambda a, b: (a - b) * (a - b)),
                    F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x).alias("d"),
        c["i"].alias("i")))


def int_assign_centroid_df(df: DataFrame, cents_df: DataFrame,
                           vec_col: str) -> DataFrame:
    """int_assign_centroid with the centroids as broadcast DATA
    instead of codegen literals: same exact-int argmin, same
    lowest-cid tie rule, plan size independent of the cell count.
    No extra shuffle — the 1-row cross-join is map-side."""
    return (df.crossJoin(F.broadcast(_cents_column(cents_df)))
            .withColumn("_cid", F.array_min(
                _scored_cells_df(F.col(vec_col), F.col("_cents")))["i"])
            .drop("_cents"))


def int_ivf_centroids_df(emb_q: DataFrame, n_centroids: int,
                         iters: int = 2, id_col: str = "vec_id",
                         vec_col: str = "_qv") -> DataFrame:
    """Distributed integer Lloyd's k-means — bit-identical to
    int_ivf_centroids (same seeds, assignment, truncating-div update,
    empty-cell keep) but the centroids are a (cid, cent) DataFrame
    end to end: seeds come from a bounded rank over the n_centroids
    lowest-id vectors (the SQL replay's row_number()-1 numbering —
    the global window's input is already LIMITed to c rows), each
    update is one groupBy over (cid, pos), and no centroid ever
    lands driver-side as an expression literal. localCheckpoint per
    iteration cuts the lineage (c rows — cheap) exactly where the
    literal path pays its per-iteration collect."""
    seeds = emb_q.orderBy(id_col).limit(n_centroids) \
        .select(id_col, vec_col)
    w = Window.orderBy(id_col)  # bounded: only n_centroids rows rank
    # lazy checkpoints (round-14): the per-iteration checkpoint still
    # bounds the plan at O(c) rows per block, but eager=True paid one
    # driver action PER ITERATION (seeds + each Lloyd step) before
    # the train's consumer ran — the first real action (the cell
    # collect / codes build / probe) now materializes the whole
    # bounded-depth chain in ONE job. iters is 2 everywhere in the
    # registry, so the fused plan depth stays trivially small; the
    # emb_q side is the caller's materialized (cached) corpus either
    # way. Bit-identical: same logical plan, later materialization.
    cents = seeds.select(
        (F.row_number().over(w) - 1).alias("cid"),
        F.col(vec_col).alias("cent")).localCheckpoint(eager=False)
    for _ in range(iters):
        means = (
            int_assign_centroid_df(emb_q, cents, vec_col)
            .select("_cid",
                    F.posexplode(F.col(vec_col)).alias("pos", "val"))
            .groupBy("_cid", "pos")
            .agg(F.expr("sum(val) div count(*)").alias("m"))
            .groupBy("_cid")
            .agg(F.array_sort(
                F.collect_list(F.struct("pos", "m"))).alias("a"))
            .select(F.col("_cid").alias("cid"),
                    F.transform("a", lambda s: s["m"]).alias("new"))
        )
        cents = (cents.join(means, "cid", "left")
                 .select("cid", F.coalesce("new", "cent").alias("cent"))
                 .localCheckpoint(eager=False))
    return cents


NSW_TARGET_OCCUPANCY = 256
NSW_MAX_CENTROIDS = 512


def derive_nsw_centroids(n: int,
                         target_occupancy: int = NSW_TARGET_OCCUPANCY,
                         floor: int = 4,
                         cap: int | None = NSW_MAX_CENTROIDS) -> int:
    """Cell count for the k-NN graph build, DERIVED from corpus size
    (round-12 VERDICT #1): candidate-pair work in nsw_adjacency is
    O(n x occupancy x n_probe), so a FIXED cell count makes occupancy
    n/c and the build effectively quadratic — the rule c =
    ceil(n / target_occupancy) holds occupancy (and therefore per-
    vector pair work) CONSTANT as the corpus grows, which is what
    keeps total pair count ~linear in n (pinned in
    tests/test_operators TestNswGraphAnn and
    tools/check_index_scale.py).

    The cap exists because the LITERAL quantizer engine keeps
    centroids in Python and puts all c x dim values into the plan
    as one literal (int_assign_centroid / _int_cells_lit) — fine to a
    few hundred cells, wrong shape beyond: the plan text and the
    per-iteration k-means collects grow with c. (Its measured cost used
    to be one py4j round trip per centroid element while building
    that literal; one JVM call per set now.) Round 13 LIFTS the cap
    with the DataFrame engine
    (quantizer="df": int_ivf_centroids_df / int_assign_centroid_df —
    centroids as a one-row broadcast array column, plan size O(1) in
    c), so past cap x target_occupancy vectors (~131k at defaults)
    the build auto-switches engines instead of letting occupancy
    grow (quantizer="auto" in nsw_adjacency/save_nsw_index); pass
    cap=None to get the uncapped derivation the df engine uses.
    Documented in SCALE.md (graph-ANN section)."""
    import math

    c = max(floor, math.ceil(n / max(1, target_occupancy)))
    return c if cap is None else min(cap, c)


def _resolve_nsw_quantizer(quantizer: str, c: int) -> str:
    """'auto' resolves to the DataFrame engine at EVERY cell count
    (round-13 optimization): measured 2x end-to-end on the sf0.1
    int-IVF path even at c=4 (train 6.4 s literal vs 2.6 s df; full
    range search 11.3 s vs 5.6 s), taken while the literal engine
    still built its centroid arrays one py4j round trip per element
    (one JVM call per set now, _int_cells_lit). The df engine keeps
    the plan O(1) in c and trains without a collect per Lloyd
    step. The engines are bit-identical (TestNswGraphAnn pin), so
    'auto' is an execution choice only. Explicit 'literal' remains
    for pins and benchmarks."""
    if quantizer == "auto":
        return "df"
    if quantizer not in ("literal", "df"):
        raise ValueError(f"unknown quantizer engine {quantizer!r} "
                         "(expected 'auto', 'literal' or 'df')")
    return quantizer


def _nsw_quantize_and_train(emb: DataFrame, n_centroids: int | None,
                            n_probe: int, iters: int, id_col: str,
                            vec_col: str, target_occupancy: int,
                            quantizer: str = "auto"):
    """Shared front half of the graph build: quantize, derive the
    cell count when the caller didn't pin one (one bounded count()
    aggregate — a second corpus pass, paid once per offline build;
    UNCAPPED — the engine switch below is what keeps big c viable),
    resolve the quantizer engine, train. Returns
    (emb_q, cents, c, engine) where cents is a Python list under the
    literal engine and a (cid, cent) DataFrame under the df engine —
    both trainings are bit-identical (TestNswGraphAnn pin)."""
    # materialize the quantized corpus ONCE (round-13 optimization,
    # guide §5 caching rule): the build re-reads it 3-5x (optional
    # count, seeds, one assignment per Lloyd iteration, then the
    # pair scoring) — without this every pass re-scans the source
    # and re-evaluates the quantize transform, and — the bigger
    # cost, measured when the pairs were a join — a pushed-down key
    # filter inlined the interpreted quantize tree once per centroid
    # with no common-subexpression elimination (~10x per-row blowup:
    # 0.24 s standalone vs 2.5-3 s inside the join at sf0.1). Cached
    # int8-range values are a quarter of the fp32 source — the
    # footprint DiskANN-style builds materialize anyway.
    from .dedup import materialize

    emb_q = materialize(emb.select(
        F.col(id_col), int8_quantize(F.col(vec_col)).alias("_qv")))
    c = n_centroids
    if c is None:
        c = derive_nsw_centroids(emb_q.count(), target_occupancy,
                                 cap=None)
    engine = _resolve_nsw_quantizer(quantizer, c)
    with spans.span("train"):
        if engine == "df":
            cents = int_ivf_centroids_df(emb_q, c, iters, id_col,
                                         "_qv")
        else:
            cents = int_ivf_centroids(emb_q, c, iters, id_col, "_qv")
    return emb_q, cents, c, engine


def nsw_candidate_pairs(emb: DataFrame, n_centroids: int | None = None,
                        n_probe: int = 2, iters: int = 2,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        target_occupancy: int = NSW_TARGET_OCCUPANCY,
                        quantizer: str = "auto") -> DataFrame:
    """Scored candidate pairs (src, dst, cos_sim_q8) of the k-NN graph
    build — every pair nsw_adjacency ranks, exposed so the scale
    harness can count the pair work directly (nsw_build_stats is the
    analytic count of the same set). Candidate generation is
    CELL-BOUNDED, never all-pairs (the dd/sim invariant): vectors are
    assigned to integer-k-means cells once (the sim11 coarse
    quantizer — engine-exact, so the whole build is hash-checkable),
    and each vector pairs only with the vectors of its n_probe
    nearest cells. The pairs are scored by ONE numpy kernel
    (_nsw_pair_kernel) per (cell, salt) group of a
    `groupBy(...).applyInArrow`: exact int64 dots, then the same
    double sqrt and divide as Spark's expression, so the scores are
    bit-identical to the SQL oracle's. The src side is SALTED 32 ways
    and the cell's data side replicated once per salt, so a group
    holds about 1/32 of a cell's src rows and the scoring parallelism
    is independent of the cell count; the kernel scores src rows in
    blocks, so a group's working set is O(block x cell), not
    O(cell^2). No corpus broadcast: both sides are the corpus.

    n_centroids=None derives the cell count from corpus size
    (derive_nsw_centroids — occupancy-targeted, so pair work stays
    ~linear in n); explicit values remain for the oracle-deterministic
    registry entries, whose SQL replay fixes the cell count.

    `quantizer` picks the engine: "literal" inlines the centroid set
    as one plan literal (fine to a few hundred cells), "df" keeps
    them as a one-row broadcast array column (plan size O(1) in the
    cell count — the 100 TB build, where the derived c runs to
    thousands), "auto" resolves to "df" (_resolve_nsw_quantizer).
    The two engines produce BIT-IDENTICAL pairs (same exact-int
    arithmetic, same tie rules — pinned), so the oracle replay never
    cares which ran.

    A NULL id gets no pairs. A NULL quantized vector (or one with a
    NULL element) still gets a cell — its NULL distances sort first,
    so cell 0 — and scores NULL against every vector it meets, as the
    SQL expression does. A pair whose vector is all zeros has no
    cosine: under ANSI mode (the session default) the kernel raises
    ValueError naming both ids (Spark reports it as a
    PythonException; the SQL expression raised DIVIDE_BY_ZERO); with
    ANSI off it scores NULL. The kernel scores every pair it emits, so
    even a count() of these pairs pays the scoring and raises on such a
    pair (Spark pruned the unused expression from a count of the
    join)."""
    return _nsw_pairs_df(emb, n_centroids, n_probe, iters, id_col,
                         vec_col, target_occupancy, quantizer, None)


def nsw_adjacency(emb: DataFrame, k_nbrs: int = 6,
                  n_centroids: int | None = None, n_probe: int = 2,
                  iters: int = 2, id_col: str = "vec_id",
                  vec_col: str = "embedding",
                  target_occupancy: int = NSW_TARGET_OCCUPANCY,
                  quantizer: str = "auto") -> DataFrame:
    """k-NN GRAPH build for graph-based ANN (sim28) — the offline half
    of an NSW/DiskANN-style index: every vector's k_nbrs most-similar
    neighbors as an edge list (src, dst, cos_sim_q8, nrk). Candidates
    and scores as nsw_candidate_pairs (cell-bounded, never all-pairs;
    n_centroids=None derives the cell count from corpus size so pair
    work stays ~linear — derive_nsw_centroids), except that the
    kernel already keeps each src's top k_nbrs of every (cell, salt)
    group by (cos_sim_q8 desc NULLS LAST, dst), so at most n_probe x
    k_nbrs rows per src leave the Python stage. The per-src rank is
    then a window partitioned by src over those rows — bounded per
    key at any scale, and equal to the rank over all the src's pairs
    (its top k_nbrs are among its cells' top k_nbrs). At 100 TB this
    is one shuffle on (cell, salt) with fan-out bounded by cell
    occupancy x n_probe, then one shuffle for the per-src rank;
    production DiskANN builds refine exactly such a bucketed candidate
    graph rather than exact k-NN. `quantizer` as nsw_candidate_pairs
    (identical output from either engine)."""
    pairs = _nsw_pairs_df(emb, n_centroids, n_probe, iters, id_col,
                          vec_col, target_occupancy, quantizer, k_nbrs)
    w = Window.partitionBy("src").orderBy(
        F.desc("cos_sim_q8"), F.col("dst"))
    return (
        pairs.withColumn("nrk", F.row_number().over(w).cast("long"))
        .filter(F.col("nrk") <= k_nbrs)
        .select("src", "dst", "cos_sim_q8", "nrk")
    )


_NSW_BLOCK_ROWS = 256
"""Src rows _nsw_pair_kernel scores at once: a block's working set is
O(block x cell occupancy), whatever the occupancy."""


def _nsw_pairs_df(emb: DataFrame, n_centroids: int | None, n_probe: int,
                  iters: int, id_col: str, vec_col: str,
                  target_occupancy: int, quantizer: str,
                  k_nbrs: int | None) -> DataFrame:
    """(src, dst, cos_sim_q8) of the graph build: every candidate pair
    (k_nbrs None) or each src's top k_nbrs per (cell, salt) group."""
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    emb_q, cents, _c, engine = _nsw_quantize_and_train(
        emb, n_centroids, n_probe, iters, id_col, vec_col,
        target_occupancy, quantizer)
    (base,), cc = _attach_cells(engine, cents, emb_q)
    scored = _scored_cells_df(F.col("_qv"), cc)
    # a NULL id pairs with nothing (src != dst is NULL)
    cells = base.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("_id"), "_qv",
        F.array_min(scored)["i"].alias("_home"),
        F.slice(F.array_sort(scored), 1, n_probe)["i"].alias("_probe"))
    # ONE explode gives every vector its roles: src in each probed cell
    # and data in its home cell. SALT the src side: _cid alone has only
    # n_centroids distinct values, so grouping by the cell alone bounds
    # the pair-scoring parallelism by the CELL count (the round-12
    # straggler: at sf1, 200M integer dots in <=4 tasks). Salting from
    # the src id splits every cell's src rows across the buckets; the
    # data side pays the standard |corpus| x buckets replication,
    # dwarfed by the pair fan-out it parallelizes. The cells are
    # scored in the projection below the explode, once per vector.
    buckets = 32
    salt = F.pmod(F.xxhash64(F.col("_id")), F.lit(buckets))
    roles = F.concat(
        F.transform("_probe", lambda c: F.struct(
            F.lit(True).alias("_is_src"), c.alias("_cid"),
            salt.alias("_salt"))),
        F.transform(F.sequence(F.lit(0).cast("long"),
                               F.lit(buckets - 1).cast("long")),
                    lambda b: F.struct(
                        F.lit(False).alias("_is_src"),
                        F.col("_home").alias("_cid"), b.alias("_salt"))))
    rows = cells.select("_id", "_qv", F.explode(roles).alias("_r")) \
        .select("_r.*", "_id", "_qv")
    id_type = emb_q.schema[id_col].dataType
    schema = T.StructType([T.StructField("src", id_type),
                           T.StructField("dst", id_type),
                           T.StructField("cos_sim_q8", T.DoubleType())])
    ansi = emb.sparkSession.conf.get("spark.sql.ansi.enabled") == "true"
    return (rows.groupBy("_cid", "_salt").applyInArrow(
                _nsw_pair_kernel(k_nbrs, ansi, to_arrow_schema(schema)),
                schema))


def _nsw_pair_kernel(k: int | None, ansi: bool, schema):
    """The applyInArrow function of the graph build. It scores one
    (cell, salt) group (columns _is_src, _id, _qv): every src row
    against every data row, src == dst excluded, exactly as Spark's
    `double(idot(s, d)) / (sqrt(double(idot(s, s))) *
    sqrt(double(idot(d, d))))` — int64 dots, then IEEE double
    conversion, sqrt, multiply and divide in that order. A pair with
    an invalid vector (NULL, a NULL element, another length) scores
    NULL, as Spark's zip_with/aggregate does; a zero divisor raises
    ValueError under ANSI and scores NULL otherwise, as Spark's
    divide. With k, each src row keeps its top k by (cos_sim_q8 desc
    NULLS LAST, dst); without, every pair. Src rows go in blocks of
    _NSW_BLOCK_ROWS. The functions are nested so that Spark ships
    them by value: a Python worker need not import this package."""
    block = _NSW_BLOCK_ROWS

    def int_rows(col) -> dict:
        # {length: (row indices, int64 matrix)} over the valid rows
        import numpy as np
        import pyarrow.compute as pc

        arr = col.combine_chunks()
        lens = pc.list_value_length(arr).fill_null(0).to_numpy(
            zero_copy_only=False).astype(np.int64)
        flat = pc.list_flatten(arr)
        valid = arr.is_valid().to_numpy(zero_copy_only=False).copy()
        if flat.null_count:
            par = pc.list_parent_indices(arr).to_numpy(zero_copy_only=False)
            valid[par[flat.is_null().to_numpy(zero_copy_only=False)]] = \
                False
        vals = flat.fill_null(0).to_numpy(zero_copy_only=False) \
            .astype(np.int64)
        starts = np.zeros(len(arr), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        mats = {}
        for n in np.unique(lens[valid]).tolist():
            rows = np.flatnonzero(valid & (lens == n))
            mats[n] = (rows, vals[starts[rows, None] + np.arange(n)])
        return mats

    def kernel(table):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        is_src = table.column("_is_src")
        src = table.filter(is_src)
        data = table.filter(pc.invert(is_src))
        if not src.num_rows or not data.num_rows:
            return schema.empty_table()
        # data rows in dst order: the stable sort below then breaks
        # score ties by dst
        data = data.take(pc.sort_indices(data, [("_id", "ascending")]))
        s_ids = src.column("_id").combine_chunks()
        d_ids = data.column("_id").combine_chunks()
        s_idn = s_ids.to_numpy(zero_copy_only=False)
        d_idn = d_ids.to_numpy(zero_copy_only=False)
        s_mats = int_rows(src.column("_qv"))
        d_mats = int_rows(data.column("_qv"))
        d_norms = {n: np.sqrt((dm * dm).sum(axis=1).astype(np.float64))
                   for n, (_, dm) in d_mats.items()}
        out_s, out_d, out_c = [], [], []
        for lo in range(0, src.num_rows, block):
            hi = min(lo + block, src.num_rows)
            # rank key: -score in [-1, 1] (a cosine), 2 = NULL (ranks
            # last), 3 = no pair (src == dst)
            key = np.full((hi - lo, data.num_rows), 2.0)
            for n, (rows, sm) in s_mats.items():
                sel = (rows >= lo) & (rows < hi)
                if n not in d_mats or not sel.any():
                    continue
                rows, sm = rows[sel], sm[sel]
                cols, dm = d_mats[n]
                dots = (sm @ dm.T).astype(np.float64)
                den = (np.sqrt((sm * sm).sum(axis=1).astype(np.float64))
                       [:, None] * d_norms[n][None, :])
                zero = den == 0
                if zero.any():
                    zero &= s_idn[rows][:, None] != d_idn[cols][None, :]
                    if ansi and zero.any():
                        i, j = (int(x[0]) for x in np.nonzero(zero))
                        raise ValueError(
                            "nsw graph build: zero-norm vector in the "
                            f"scored pair src={s_idn[rows[i]]!r}, "
                            f"dst={d_idn[cols[j]]!r}; cosine is "
                            "undefined (the int8 vector is all zeros)")
                    den = np.where(zero, 1.0, den)
                key[np.ix_(rows - lo, cols)] = np.where(
                    zero, 2.0, -(dots / den))
            key[s_idn[lo:hi][:, None] == d_idn[None, :]] = 3.0
            if k is None:
                r, c = np.nonzero(key < 3.0)
            else:
                top = np.argsort(key, axis=1, kind="stable")[:, :max(k, 0)]
                r = np.repeat(np.arange(hi - lo), top.shape[1])
                c = top.ravel()
                keep = key[r, c] < 3.0
                r, c = r[keep], c[keep]
            v = key[r, c]
            out_s.append(r + lo)
            out_d.append(c)
            out_c.append(pa.array(-v, mask=v == 2.0, type=pa.float64()))
        return pa.table([s_ids.take(pa.array(np.concatenate(out_s))),
                         d_ids.take(pa.array(np.concatenate(out_d))),
                         pa.chunked_array(out_c, type=pa.float64())],
                        schema=schema)

    return kernel


def nsw_build_stats(emb: DataFrame, n_centroids: int | None = None,
                    n_probe: int = 2, iters: int = 2,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    target_occupancy: int = NSW_TARGET_OCCUPANCY,
                    quantizer: str = "auto") -> dict:
    """ANALYTIC cost model of the graph build, computed WITHOUT
    scoring the pairs: candidate pairs = sum over cells of
    (probe assignments into the cell) x (cell occupancy), minus the
    self-pairs (a vector probing its own cell meets itself once).
    All collects are O(n_centroids) rows. This is the pre-flight
    "how big is this build" answer an operator wants before spending
    cluster hours, and the instrument the linearity pin uses
    (equality with nsw_candidate_pairs' count() is itself pinned at
    small n in tests)."""
    emb_q, cents, c, engine = _nsw_quantize_and_train(
        emb, n_centroids, n_probe, iters, id_col, vec_col,
        target_occupancy, quantizer)
    (base,), cc = _attach_cells(engine, cents, emb_q)
    scored = _scored_cells_df(F.col("_qv"), cc)
    data = base.withColumn("_cid", F.array_min(scored)["i"])
    probed = data.withColumn(
        "_pid", F.explode(F.slice(F.array_sort(scored), 1,
                                  n_probe)["i"])).drop("_cents")
    data = data.drop("_cents")
    occ = {r["_cid"]: r["n"] for r in
           data.groupBy("_cid").agg(F.count("*").alias("n")).collect()}
    probes_per_cell = {r["_pid"]: r["n"] for r in
                       probed.groupBy("_pid")
                       .agg(F.count("*").alias("n")).collect()}
    self_hits = probed.filter(F.col("_pid") == F.col("_cid")).count()
    pair_count = sum(n_p * occ.get(cid, 0)
                     for cid, n_p in probes_per_cell.items()) - self_hits
    n = sum(occ.values())
    return {"n": n, "n_centroids": c, "n_probe": n_probe,
            "pair_count": int(pair_count),
            "max_occupancy": max(occ.values(), default=0),
            "mean_pairs_per_vector": pair_count / n if n else 0.0}


NSW_INDEX_VERSION = 1


@spans.span("build_index")
def save_nsw_index(emb: DataFrame, path: str, k_nbrs: int = 6,
                   n_centroids: int | None = None, n_probe: int = 2,
                   iters: int = 2, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   target_occupancy: int = NSW_TARGET_OCCUPANCY,
                   quantizer: str = "auto") -> None:
    """Persist the k-NN graph ONCE (build once / probe many — the
    sim19 lifecycle move applied to the graph-ANN family): the
    nsw_adjacency edge list lands as parquet under `path`
    (`adj/` + 1-row `meta/`), staged in a scratch dir and atomically
    os.rename'd in (the kv.py discipline — readers never see a
    half-built graph; racing builders are harmless because the build
    is fully deterministic). No-op if `path` is complete.

    Build cost: the pairs are scored by nsw_adjacency's numpy kernel,
    one call per (cell, salt) group — the src side salted 32 ways
    from its id and the cell's data side replicated per salt, so a
    group holds about 1/32 of a cell's src rows against the whole
    cell, and the scoring runs in as many tasks as the shuffle gives
    it, whatever the cell count. The adjacency write is the one O(n)
    Spark job after training; the meta is written with pyarrow
    (_driver_write_parquet, no Spark job).

    Day-2 contract, documented rather than faked: APPEND to a k-NN
    graph is NOT the frozen-quantizer O(batch) encode the IVF-PQ
    index gets — inserting a vector requires a search to find its
    neighbors AND back-edge updates on the nodes it displaces (what
    HNSW insert does). Until that lands, ingest goes to the IVF-PQ
    index and the graph is rebuilt on the gold cadence; DELETE is
    cheap if needed (anti-join src/dst against tombstones) but is
    deferred with append for a symmetric lifecycle."""
    import os
    import shutil
    import uuid

    if os.path.exists(os.path.join(path, "meta")):
        return
    if n_centroids is None:
        # uncapped derivation — the auto engine switch (not a cap on
        # the cell count) is what bounds the literal-plan risk, so
        # occupancy stays at target at ANY corpus size
        n_centroids = derive_nsw_centroids(emb.count(),
                                           target_occupancy, cap=None)
    # quantizer is an EXECUTION choice, not a semantic parameter: the
    # engines are bit-identical, so it is deliberately NOT part of the
    # meta/fingerprint — an artifact built by either engine is THE
    # graph for these (k_nbrs, n_centroids, n_probe, iters)
    adj = nsw_adjacency(emb, k_nbrs, n_centroids, n_probe, iters,
                        id_col, vec_col, quantizer=quantizer)
    tmp = f"{path.rstrip('/')}.build-{uuid.uuid4().hex[:12]}"
    adj.write.mode("overwrite").parquet(f"{tmp}/adj")
    _driver_write_parquet(
        f"{tmp}/meta",
        [(NSW_INDEX_VERSION, k_nbrs, n_centroids, n_probe, iters,
          id_col)],
        "version int, k_nbrs int, n_centroids int, n_probe int, "
        "iters int, id_col string")
    os.makedirs(os.path.dirname(path.rstrip("/")) or ".",
                exist_ok=True)
    try:
        os.rename(tmp, path)
    except OSError:
        if not os.path.exists(os.path.join(path, "meta")):
            raise
        shutil.rmtree(tmp, ignore_errors=True)


def _nsw_adj_dir(path: str) -> str:
    """Resolve the live adjacency directory via the ADJ pointer file
    (the CODES/BUCKETS pointer-swap discipline) — compactions write
    immutable `adj-g<N>/` generations and flip the pointer, so a probe
    racing a compaction always resolves one complete directory."""
    from ..sources.kv import resolve_pointer

    return resolve_pointer(path, "ADJ", "adj")


def _nsw_base_gen(path: str) -> tuple[str, int]:
    """(live adjacency dir, its generation number). The initial build
    is generation 1 (`adj/`); each compaction writes `adj-g<N>/`."""
    import os

    d = _nsw_adj_dir(path)
    name = os.path.basename(d)
    return d, (1 if name == "adj" else int(name.rsplit("-g", 1)[1]))


def _parquet_scan(spark, path: str) -> DataFrame:
    """spark.read.parquet(path) with the schema taken from one file's
    footer on the driver: Spark's own inference runs a Spark job per
    read. A `<name>=<int>/` directory layout (the IVF-PQ codes'
    `_cell`, the MinHash buckets' `band`) gets its partition column
    from the directory names, appended as int, the type Spark infers
    for it. Spark writes its schema into every footer; without one
    (or without files) Spark infers as usual."""
    import json
    import os

    import pyarrow.parquet as pq
    from pyspark.sql.types import IntegerType, StructType

    parts = sorted(n for n in os.listdir(path) if "=" in n
                   and os.path.isdir(os.path.join(path, n)))
    dirs = [os.path.join(path, n) for n in parts] or [path]
    first = next((os.path.join(d, n) for d in dirs
                  for n in sorted(os.listdir(d)) if n.endswith(".parquet")),
                 None)
    meta = {}
    if first is not None:
        meta = pq.read_schema(first).metadata or {}
    key = b"org.apache.spark.sql.parquet.row.metadata"
    if key not in meta:
        return spark.read.parquet(path)
    schema = StructType.fromJson(json.loads(meta[key]))
    if parts:
        schema = schema.add(parts[0].split("=", 1)[0], IntegerType())
    return spark.read.schema(schema).parquet(path)


def _nsw_fragments(path: str, gen: int) -> list[str]:
    """Append-override fragments that apply to base generation `gen`,
    in append order. Fragments are GENERATION-TAGGED
    (`adj-frag-g<gen>-<n>`) so a reader always pairs the pointer's
    base with exactly the fragments layered on it — a reader racing a
    compaction resolves either (old base + old-tagged fragments) or
    (new base, which already folded them), never a mix."""
    import os

    pre = f"adj-frag-g{gen}-"
    try:
        names = [n for n in os.listdir(path) if n.startswith(pre)]
    except OSError:
        return []
    return [os.path.join(path, n)
            for n in sorted(names, key=lambda n: int(n[len(pre):]))]


def _merged_nsw_adj(spark, path: str) -> DataFrame:
    """The live edge list: base generation with append fragments
    layered PER-SOURCE — a fragment row set for src replaces that
    node's whole stored neighbor list (append rewrites the affected
    lists in full), and a later fragment supersedes an earlier one.
    All fragment-side work is bounded by appends since the last
    compaction; the base stays an untouched lazy parquet scan."""
    import functools

    base_dir, gen = _nsw_base_gen(path)
    adj = _parquet_scan(spark, base_dir) \
        .select("src", "dst", "cos_sim_q8", "nrk")
    frags = _nsw_fragments(path, gen)
    if not frags:
        return adj
    parts = [_parquet_scan(spark, p).withColumn("_g", F.lit(i))
             for i, p in enumerate(frags)]
    fall = functools.reduce(lambda a, b: a.unionByName(b), parts)
    wg = Window.partitionBy("src")
    fall = (fall.withColumn("_keep",
                            F.col("_g") == F.max("_g").over(wg))
            .filter(F.col("_keep"))
            .select("src", "dst", "cos_sim_q8", "nrk"))
    return (adj.join(F.broadcast(fall.select("src").distinct()),
                     "src", "left_anti")
            .unionByName(fall))


def load_nsw_index(spark, path: str,
                   expect: dict | None = None) -> dict:
    """Load a save_nsw_index artifact: the adjacency stays a LAZY
    parquet scan (the O(n x k_nbrs) part — never collected) with the
    tombstone set anti-joined over BOTH endpoints (a deleted node
    must vanish as a source — its own neighbor list — AND as a
    destination in everyone else's); meta is a 1-row bounded collect.
    `expect` (ADVICE r12: parameter-drift guard) validates persisted
    build hyperparameters against the caller's — a probe that
    silently reads a graph built with OTHER parameters is an oracle
    mismatch waiting to happen, so mismatches refuse loudly here
    instead."""
    # 1-row meta read driver-side, no Spark job (round-14 — see
    # _driver_read_parquet); the adjacency stays a lazy parquet scan
    md = _driver_read_parquet(f"{path}/meta")[0]
    if md["version"] != NSW_INDEX_VERSION:
        raise ValueError(
            f"nsw index version {md['version']} at {path}; "
            f"this build reads version {NSW_INDEX_VERSION}")
    for k, v in (expect or {}).items():
        if md.get(k) != v:
            raise ValueError(
                f"nsw index at {path} was built with {k}="
                f"{md.get(k)!r}, caller expects {v!r} — rebuild the "
                f"artifact or fix the probe parameters")
    adj = _live_nsw_adj(spark, path)
    return {"adj": adj, "meta": md}


def _live_nsw_adj(spark, path: str) -> DataFrame:
    """Merged base+fragment edge list with the tombstone set
    anti-joined over BOTH endpoints — the adjacency every reader
    (probe, append's insert-search, compaction) must see."""
    adj = _merged_nsw_adj(spark, path)
    ts = read_tombstones(spark, path)
    if ts is not None:
        adj = (adj.join(F.broadcast(ts.withColumnRenamed("id", "src")),
                        "src", "left_anti")
               .join(F.broadcast(ts.withColumnRenamed("id", "dst")),
                     "dst", "left_anti")
               .select("src", "dst", "cos_sim_q8", "nrk"))
    return adj


@spans.span("append")
def append_to_nsw_index(emb_new: DataFrame, corpus: DataFrame,
                        path: str, beam: int = 8, rounds: int = 3,
                        n_entries: int = 2,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        skip_existing: bool = False) -> None:
    """Day-2 APPEND on the persisted k-NN graph — the search+relink
    insert real HNSW implementations do, batched (round 13: the last
    'rebuild on cadence' decline in the index family, now closed):

      1. INSERT-SEARCH — every new vector beam-searches the LIVE
         graph (merged fragments, tombstones excluded) for its
         k_nbrs most-similar reachable nodes; those become its
         out-edges. This is nsw_beam_search, so a batch of up to
         DRIVER_PROBE_MAX_Q vectors searches with driver-held state
         (bounded per vector) and one Spark collect per round, and
         a larger batch takes the all-Spark rounds — never a corpus
         rescan. The found edges come back as a local relation, so
         the relink below broadcasts them without a job.
      2. RELINK — each found neighbor v gets the new node as a
         back-edge CANDIDATE (cosine is symmetric), and v's whole
         neighbor list is re-ranked to the top-k_nbrs by
         (cos desc, dst) — exactly the stored build-time rule, so a
         new node that beats v's weakest edge displaces it. Affected
         lists are bounded by |batch| x k_nbrs.
      3. The new lists land as ONE override FRAGMENT
         (`adj-frag-g<G>-<n>`, staged + atomic rename): a fragment
         row set REPLACES that src's stored list at read time
         (_merged_nsw_adj), later fragments supersede earlier ones,
         and the next compaction folds them into a fresh base
         generation. O(batch x k_nbrs) rows written; the stored
         edge list is untouched.

    `corpus` is the graph's CURRENT member vectors (what it was
    built/maintained over, WITHOUT this batch) — the graph artifact
    stores edges, not vectors, so scoring needs the caller's table
    (same contract as nsw_beam_search's `emb`). Determinism: the
    insert-search is the deterministic BSP beam search and every
    score is exact-int, so the whole append replays as chained SQL
    CTEs (sim33's oracle). Approximation contract, stated: the new
    node's edges come from beam search (not exact k-NN) and
    batch-internal edges are deferred to the gold-cadence rebuild —
    the standard HNSW insert trade. skip_existing=True anti-joins
    the batch against live src ids INSIDE the lease (the st-family
    crash-replay contract: a replayed foreachBatch is a no-op).
    Tombstone interaction, same id-reuse contract as the other two
    indexes: a currently-tombstoned id is NOT seen by the anti-join
    (it is not live), so re-appending it writes rows the tombstone
    filter hides until the tombstone retires — tombstoned ids stay
    dead; mint fresh ids."""
    import os
    import uuid

    from ..sources.kv import maintenance_lease

    spark = emb_new.sparkSession
    meta = _driver_read_parquet(f"{path}/meta")[0]  # no Spark job
    if meta["version"] != NSW_INDEX_VERSION:
        raise ValueError(
            f"nsw index version {meta['version']} at {path}; "
            f"this build writes version {NSW_INDEX_VERSION}")
    k_nbrs = int(meta["k_nbrs"])
    with maintenance_lease(path):
        adj = _live_nsw_adj(spark, path)
        batch = emb_new.select(F.col(id_col), F.col(vec_col))
        if skip_existing:
            live_src = adj.select(
                F.col("src").alias(id_col)).distinct()
            batch = batch.join(live_src, id_col, "left_anti")
        qb = batch.select(F.col(id_col).alias("_uid"),
                          F.col(vec_col).alias("_uvec"))
        found = nsw_beam_search(
            adj, corpus, qb, k=k_nbrs, beam=beam, rounds=rounds,
            n_entries=n_entries, id_col=id_col, vec_col=vec_col,
            q_id_col="_uid", q_vec_col="_uvec")
        u_edges = found.select(
            F.col("_uid").alias("src"),
            F.col(id_col).alias("dst"),
            "cos_sim_q8",
            F.col("rk").alias("nrk"))
        back = u_edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"),
            "cos_sim_q8")
        affected = back.select("src").distinct()
        v_old = (adj.join(F.broadcast(affected), "src")
                 .select("src", "dst", "cos_sim_q8"))
        wv = Window.partitionBy("src").orderBy(
            F.desc("cos_sim_q8"), F.col("dst"))
        v_new = (v_old.unionByName(back)
                 .withColumn("nrk",
                             F.row_number().over(wv).cast("long"))
                 .filter(F.col("nrk") <= k_nbrs))
        frag = u_edges.unionByName(v_new) \
            .select("src", "dst", "cos_sim_q8", "nrk")
        rows = frag.localCheckpoint()   # bounded: O(batch x k_nbrs)
        if rows.limit(1).count() == 0:
            return                      # replayed/empty batch: no-op
        _, gen = _nsw_base_gen(path)
        frags = _nsw_fragments(path, gen)
        nxt = 1 if not frags else 1 + max(
            int(os.path.basename(p).rsplit("-", 1)[1]) for p in frags)
        tmp = os.path.join(path, f".frag-tmp-{uuid.uuid4().hex[:12]}")
        rows.write.mode("overwrite").parquet(tmp)
        os.rename(tmp, os.path.join(path, f"adj-frag-g{gen}-{nxt}"))


@spans.span("delete")
def delete_from_nsw_index(ids: DataFrame, path: str,
                          id_col: str = "vec_id") -> None:
    """TAKEDOWN on the persisted k-NN graph — the cheap half of the
    day-2 contract save_nsw_index documents (round-12 VERDICT #2; the
    append half stays a rebuild because HNSW insert needs
    search+relink). Appends the ids as a TOMBSTONE parquet fragment
    (O(delete batch); the stored edge list is untouched); every load
    anti-joins the tombstones over both edge endpoints, and the next
    compact_nsw_index physically purges them. Removing a node's
    in-edges leaves its former neighbors with < k_nbrs out-edges —
    recall degrades LOCALLY around heavy takedowns until the
    gold-cadence rebuild relinks; that asymmetry is the honest
    difference from the IVF-PQ delete (codes are independent rows,
    graph edges are not). Takes the maintenance lease (writers
    serialize; probes never wait). Id-reuse contract: as
    delete_from_minhash_index — tombstoned ids stay dead until their
    tombstone retires; mint fresh ids."""
    import os

    from ..sources.kv import maintenance_lease

    meta = _driver_read_parquet(f"{path}/meta")[0]  # no Spark job
    if meta["version"] != NSW_INDEX_VERSION:
        raise ValueError(
            f"nsw index version {meta['version']} at {path}; "
            f"this build writes version {NSW_INDEX_VERSION}")
    rows = ids.select(F.col(id_col).cast("long").alias("id")).distinct()
    with maintenance_lease(path):
        rows.write.mode("append").parquet(
            os.path.join(path, "tombstones"))


@spans.span("compact")
def compact_nsw_index(spark, path: str) -> None:
    """Physically purge tombstoned nodes from the stored edge list
    into a fresh immutable `adj-g<N>/` generation and flip the ADJ
    pointer (identical discipline to compact_ivfpq_index: superseded
    generation and freshly-folded tombstones each kept one cycle for
    in-flight readers, pruned on the NEXT compaction). Holds the
    maintenance lease against other deletes/compactions."""
    import os
    import shutil

    from ..sources.kv import maintenance_lease

    with maintenance_lease(path):
        cur, gen = _nsw_base_gen(path)
        cur_name = os.path.basename(cur)
        new_name = f"adj-g{gen + 1}"
        # fold append fragments + tombstones into the new generation:
        # _live_nsw_adj IS the reader contract, so compaction
        # materializes exactly what probes currently see
        rows = _live_nsw_adj(spark, path)
        rows.write.mode("overwrite").parquet(
            os.path.join(path, new_name))
        ptr = os.path.join(path, "ADJ")
        tmp = f"{ptr}.tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            f.write(new_name)
        os.replace(tmp, ptr)  # atomic: loads see old or new, never none
        # reader-safe fold (round-13 review): hard-link live
        # tombstones into the folded set so a racing reader's
        # captured live paths keep their bytes one more cycle
        from ..sources.kv import fold_tombstones_reader_safe
        folded_keep = fold_tombstones_reader_safe(path, gen + 1)
        # append fragments tagged with the JUST-SUPERSEDED generation
        # were folded into adj-g<gen+1> above — like the superseded
        # base, they stay one cycle for in-flight readers (a reader
        # holding the old pointer still pairs old base + old-tagged
        # fragments); fragments tagged OLDER than that were folded
        # two cycles ago and retire now
        keep_frag_pre = f"adj-frag-g{gen}-"
        for name in os.listdir(path):
            if name.startswith("adj-frag-g"):
                if not name.startswith(keep_frag_pre):
                    shutil.rmtree(os.path.join(path, name),
                                  ignore_errors=True)
            elif (name == "adj" or name.startswith("adj-g")
                    or name.startswith("tombstones-folded-g")) \
                    and name not in (cur_name, new_name, folded_keep):
                shutil.rmtree(os.path.join(path, name),
                              ignore_errors=True)


DRIVER_PROBE_MAX_Q = 256
"""Largest query set a driver-side probe head holds: nsw_beam_search's
per-query search state and the pruned IVF-PQ head's quantize-and-rank.
Above it both heads fall back to their Spark paths, which hold nothing
per query on the driver. Set from timings of the NSW search against
its Spark rounds (tools/time_probe_cap.py: 4-core box, k_nbrs 6,
beam 4, 3 rounds, load + search + collect, best of two runs). With
64-dim vectors the driver search was faster at every size tried
(1,100 vectors: 0.63 vs 1.84 s at 100 queries, 0.98 vs 2.06 s at
1,024; 5,000 vectors: 0.99 vs 1.97 s at 1,024). With 768-dim vectors
it was faster at 100 and 256 queries (3.57 vs 4.07 s, 5.09 vs
5.81 s), about even at 512 (10.35 vs 10.22 s) and slower at 1,024
(23.6 vs 19.9 s), where the bounded collect of the Spark-quantized
queries took most of the driver search's time. Since int8_quantize
computes its scale once per vector, the 768-dim run (one run each,
SPARK_GRAFT_CPUS=2 beside a 2-core job) reads 2.45 vs 6.47 s at 256
queries and 1.84 vs 7.52 s at 512 (7 vs 18 jobs, equal answers): the
driver search now wins at 512 too. The cap stays at 256, since no
workload runs above it."""


def _collect_bounded(df: DataFrame, head: str) -> list | None:
    """Rows of `df`, or None when it has more than DRIVER_PROBE_MAX_Q
    rows: a `limit(N+1)` collect, so the driver never holds more than
    N+1 rows whatever the input size. The None case is noted in the
    run record as `head`'s fall-back to its Spark path."""
    rows = df.limit(DRIVER_PROBE_MAX_Q + 1).collect()
    if len(rows) <= DRIVER_PROBE_MAX_Q:
        return rows
    spans.note("probe_cap", f"{head}: more than {DRIVER_PROBE_MAX_Q} "
               "queries; Spark path")
    return None


def _arrow_frame(spark, cols: dict, schema) -> DataFrame:
    """A driver-built frame as an Arrow-backed LOCAL relation:
    `createDataFrame` of a pyarrow.Table with an explicit schema plans
    as a LocalTableScan, so collecting or broadcasting it runs no Spark
    job. A list-built frame is an RDD scan instead (collecting one runs
    a Python-worker job), and a pandas-built one turns NULL doubles
    into NaN."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return spark.createDataFrame(
        pa.table(cols, schema=to_arrow_schema(schema)), schema=schema)


def _isin(col: str, values) -> Column:
    """`col IN (values)` for a driver-held id set. Integer ids travel
    as ONE SQL-text literal list (one JVM parse); Column.isin would
    make one py4j round trip per value."""
    vs = sorted(values)
    if all(type(v) is int for v in vs):
        return F.expr(f"`{col}` IN ({', '.join(map(str, vs))})")
    return F.col(col).isin(vs)


def nsw_beam_search(adj: DataFrame, emb: DataFrame, queries: DataFrame,
                    k: int = 5, beam: int = 4, rounds: int = 3,
                    n_entries: int = 2, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    q_id_col: str = "q_id",
                    q_vec_col: str = "q_emb") -> DataFrame:
    """Graph-ANN BEAM SEARCH over an nsw_adjacency edge list (sim28) —
    the query half of the NSW/DiskANN shape, as deterministic rounds
    (the g5 frontier discipline applied to ANN): every query starts
    from the n_entries lowest-id vectors, and each round expands the
    current beam's out-neighbors, scores them with the exact integer
    dot products (sim11 property — hash-checkable), and re-ranks the
    visited set to the top-`beam` by (score desc NULLS LAST, id).
    Fixed `rounds` keeps the traversal deterministic, so a SQL oracle
    replays the rounds as chained CTEs (no recursion, the g3/g5
    recipe).

    Scale shape: the search state lives on the DRIVER, bounded per
    query — visited grows to at most n_entries + rounds x beam x k_nbrs
    entries — for at most DRIVER_PROBE_MAX_Q queries. The queries are
    collected once, already quantized by Spark's int8_quantize; the
    n_entries lowest-id vectors are one ordered lookup; then each round
    runs ONE collect that fetches the new candidates' vectors and
    out-edges through literal IN filters over the corpus and the
    adjacency (both lazily localCheckpointed once per call, so the
    O(corpus) quantize and the adjacency plan run once, not per round).
    The exact integer dot (numpy int64, one matrix-vector product per
    query and round), sqrt and divide, the dedup by max and the
    ranking run on the driver and are IEEE-identical to the Spark
    expressions; the answer is an Arrow-backed local relation. About
    half the Spark jobs of the all-Spark rounds, which remain the path
    for a larger, null-id or duplicate-id query set
    (_nsw_beam_search_bsp); that path pays one Spark job more than the
    rounds alone, the bounded collect that chose it. Nothing rescans
    the corpus per round.

    A scored pair with a zero-norm vector has no cosine: under ANSI
    mode (the session default) it raises ValueError naming both ids,
    where the Spark rounds raise DIVIDE_BY_ZERO; with ANSI off the
    score is NULL, as in Spark."""
    import math

    import numpy as np
    from pyspark.sql import types as T

    qrows = _collect_bounded(queries.select(
        F.col(q_id_col), int8_quantize(F.col(q_vec_col)).alias("_qq")),
        "nsw_beam_search")
    if qrows is not None and (None in {r[0] for r in qrows}
                              or len({r[0] for r in qrows}) < len(qrows)):
        spans.note("probe_query_ids", "nsw_beam_search: NULL or "
                   "duplicate query ids; Spark rounds")
        qrows = None
    if qrows is None:
        return _nsw_beam_search_bsp(adj, emb, queries, k, beam, rounds,
                                    n_entries, id_col, vec_col, q_id_col,
                                    q_vec_col)
    spark = emb.sparkSession
    # the Spark rounds' output schema: ids are the union of the entry
    # rows' (corpus) and the candidates' (adjacency dst) id columns
    ids = emb.select(id_col)
    if rounds > 0:
        ids = ids.unionByName(adj.select(F.col("dst").alias(id_col)))
    schema = T.StructType([
        T.StructField(q_id_col, queries.schema[q_id_col].dataType,
                      queries.schema[q_id_col].nullable),
        T.StructField(id_col, ids.schema[id_col].dataType,
                      ids.schema[id_col].nullable),
        T.StructField("cos_sim_q8", T.DoubleType(), True),
        T.StructField("rk", T.LongType(), False)])
    out = {c: [] for c in schema.names}
    if not qrows:
        return _arrow_frame(spark, out, schema)
    ansi = spark.conf.get("spark.sql.ansi.enabled") == "true"
    emb_q = emb.select(
        F.col(id_col), int8_quantize(F.col(vec_col)).alias("_qv")) \
        .localCheckpoint(eager=False)
    adj = adj.select("src", "dst").localCheckpoint(eager=False)

    def with_norm(v):
        # a NULL element makes every dot with v NULL (Spark's
        # zip_with/aggregate), so v scores as a NULL vector; the norm
        # is sqrt(double(idot(v, v))): an exact int64 sum, one
        # long->double conversion, one sqrt — as in Spark
        if v is None or None in v:
            return None, None
        a = np.array(v, dtype=np.int64)
        return a, math.sqrt(float(int(a @ a)))

    def scores(qid, qq, qn, pairs: list) -> list:
        # cosines of one query against [(id, vector, norm)]: one exact
        # int64 matrix-vector product (|values| <= 127), then Spark's
        # double(dot) / (norm * norm) per pair
        out = [None] * len(pairs)
        ok = [j for j, (_, v, _) in enumerate(pairs) if qq is not None
              and v is not None and len(v) == len(qq)]
        if not ok:             # zip_with pads unequal lengths with NULL
            return out
        dots = (np.stack([pairs[j][1] for j in ok]) @ qq).tolist()
        for j, d in zip(ok, dots):
            vid, _, vn = pairs[j]
            if qn * vn == 0:
                if not ansi:
                    continue
                raise ValueError(
                    f"nsw_beam_search: zero-norm vector in the scored "
                    f"pair {q_id_col}={qid!r}, {id_col}={vid!r}; cosine "
                    "is undefined (the int8 vector is all zeros)")
            out[j] = float(d) / (qn * vn)
        return out

    def better(a, b):          # max() that ignores NULL, as Spark's max
        return b if a is None else a if b is None else max(a, b)

    def rank_key(row):         # (score desc NULLS LAST, id asc NULLS FIRST)
        i, sc = row
        return (sc is None, 0.0 if sc is None else -sc,
                i is not None, 0 if i is None else i)

    vecs: dict = {}            # id -> [(vector, norm)], one per corpus row
    edges: dict = {}           # id -> {dst}

    def fetch(vec_ids: set, edge_ids: set) -> None:
        parts = []
        if vec_ids:
            parts.append(emb_q.filter(_isin(id_col, vec_ids)).select(
                F.lit(0).alias("_t"), F.col(id_col).alias("_id"), "_qv"))
        if edge_ids:
            parts.append(adj.filter(_isin("src", edge_ids)).select(
                F.lit(1).alias("_t"), F.col("src").alias("_id"), "dst"))
        frame = functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
        for i in vec_ids:
            vecs[i] = []
        for i in edge_ids:
            edges[i] = set()
        for r in frame.collect():
            if r["_t"] == 0:
                vecs[r["_id"]].append(with_norm(r["_qv"]))
            else:
                edges[r["_id"]].add(r["dst"])

    qs = [(r[0], *with_norm(r[1])) for r in qrows]
    entries = [(r[0], *with_norm(r[1])) for r in
               emb_q.orderBy(id_col).limit(n_entries).collect()]
    # round 0 keeps one row per entry ROW (the Spark rounds dedup by
    # (query, id) only when a round merges its candidates)
    visited = {qid: list(zip((e[0] for e in entries),
                             scores(qid, qq, qn, entries)))
               for qid, qq, qn in qs}
    for rnd in range(rounds):
        beams = {qid: {i for i, _ in sorted(rows, key=rank_key)
                       [:max(beam, 0)]}
                 for qid, rows in visited.items()}
        need = set().union(*beams.values()) - edges.keys() - {None}
        if need:               # the entries' out-edges, first round only
            fetch(set(), need)
        cands = {qid: set().union(*(edges.get(b, ()) for b in bm))
                 - {None} for qid, bm in beams.items()}
        need = set().union(*cands.values()) - vecs.keys()
        if need:               # the last round needs no out-edges
            fetch(need, need if rnd + 1 < rounds else set())
        for qid, qq, qn in qs:
            best: dict = {}
            for i, sc in visited[qid]:
                best[i] = better(best[i], sc) if i in best else sc
            pairs = [(c, v, vn) for c in cands[qid] for v, vn in vecs[c]]
            for (c, _, _), sc in zip(pairs, scores(qid, qq, qn, pairs)):
                best[c] = better(best[c], sc) if c in best else sc
            visited[qid] = list(best.items())
    for qid, rows in visited.items():
        for rk, (i, sc) in enumerate(
                sorted(rows, key=rank_key)[:max(k, 0)], 1):
            for c, x in zip(schema.names, (qid, i, sc, rk)):
                out[c].append(x)
    return _arrow_frame(spark, out, schema)


def _nsw_beam_search_bsp(adj: DataFrame, emb: DataFrame,
                         queries: DataFrame, k: int, beam: int,
                         rounds: int, n_entries: int, id_col: str,
                         vec_col: str, q_id_col: str,
                         q_vec_col: str) -> DataFrame:
    """nsw_beam_search as all-Spark BSP rounds: the path for a query
    set above DRIVER_PROBE_MAX_Q or with NULL or duplicate query ids,
    and the reference the driver search is tested against. Each round
    is one join of the (|Q| x beam)-row beam against the adjacency
    list, plus a per-query rank window (partitioned by q_id, never
    global); about seven Spark jobs per round under AQE."""
    # quantized corpus + queries are re-joined EVERY round — pin them
    # once (round-13 optimization: lazy checkpoint, same discipline as
    # the adjacency below) so rounds 2..R reuse blocks instead of
    # re-scanning and re-quantizing per round
    emb_q = emb.select(
        F.col(id_col), int8_quantize(F.col(vec_col)).alias("_qv")) \
        .withColumn("_vnorm",
                    F.sqrt(idot(F.col("_qv"), F.col("_qv"))
                           .cast("double"))) \
        .localCheckpoint(eager=False)
    qs = queries.select(
        F.col(q_id_col), int8_quantize(F.col(q_vec_col)).alias("_qq")) \
        .withColumn("_qnorm",
                    F.sqrt(idot(F.col("_qq"), F.col("_qq"))
                           .cast("double"))) \
        .localCheckpoint(eager=False)
    entries = emb_q.orderBy(id_col).limit(n_entries)
    # every round joins the SAME adjacency; without the checkpoint an
    # in-query-built graph (sim28's shape) would re-run its pair
    # scoring + rank once per round — materialize it on first use and
    # let rounds 2..R reuse the blocks (the g1/g3 iterative
    # discipline; a persisted adjacency just reloads parquet here)
    adj = adj.select("src", "dst").localCheckpoint(eager=False)

    def score(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(q_id_col), F.col(id_col),
            (idot(F.col("_qq"), F.col("_qv")).cast("double")
             / (F.col("_qnorm") * F.col("_vnorm")))
            .alias("cos_sim_q8"))

    visited = score(qs.crossJoin(F.broadcast(entries)))
    wb = Window.partitionBy(q_id_col).orderBy(
        F.desc("cos_sim_q8"), F.col(id_col))
    for _ in range(rounds):
        beam_df = (
            visited.withColumn("_rk", F.row_number().over(wb))
            .filter(F.col("_rk") <= beam).select(q_id_col, id_col)
        )
        cand = (
            beam_df.join(adj, beam_df[id_col] == adj["src"])
            .select(F.col(q_id_col), F.col("dst").alias(id_col))
            .distinct()
        )
        scored = score(
            cand.join(emb_q, id_col).join(F.broadcast(qs), q_id_col))
        # dedup by key: the score per (q, vec) is deterministic, so
        # max() just collapses re-visits to the one value
        visited = (
            visited.unionByName(scored)
            .groupBy(q_id_col, id_col)
            .agg(F.max("cos_sim_q8").alias("cos_sim_q8"))
            .localCheckpoint(eager=False)
        )
    return (
        visited.withColumn("rk", F.row_number().over(wb).cast("long"))
        .filter(F.col("rk") <= k)
        .select(q_id_col, id_col, "cos_sim_q8", "rk")
    )


def int8_exact_cosine_topk(emb: DataFrame, n_q: int, k: int,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Exact int8-cosine top-k where the queries are the n_q lowest-id
    corpus vectors (the registry's standard query set) — the
    GROUND-TRUTH side of every graph/quantizer recall report (sim31,
    the recall pins in tests). One shared implementation so the
    tie-break (score desc, then id) and the quantize/norm recipe
    cannot drift between report and pin. Broadcast the n_q queries,
    score map-side with exact integer dots, rank per query — the
    brute_force_topk shape."""
    emb_q = emb.select(
        F.col(id_col), int8_quantize(F.col(vec_col)).alias("_qv")) \
        .withColumn("_n", F.sqrt(idot(F.col("_qv"), F.col("_qv"))
                                 .cast("double")))
    qq = emb_q.filter(F.col(id_col) < n_q).select(
        F.col(id_col).alias("q_id"), F.col("_qv").alias("_qq"),
        F.col("_n").alias("_qn"))
    pairs = emb_q.crossJoin(F.broadcast(qq)).select(
        "q_id", F.col(id_col),
        (idot(F.col("_qq"), F.col("_qv")).cast("double")
         / (F.col("_qn") * F.col("_n"))).alias("cs"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cs"),
                                           F.col(id_col))
    return (pairs.withColumn("xrk", F.row_number().over(w))
            .filter(F.col("xrk") <= k))


def int8_quantize(vec: Column) -> Column:
    """Symmetric per-vector int8 quantization: q_i = round-half-up(
    x_i * 127 / max|x|). The memory-side of a quantized ANN index —
    4x smaller than float32, integer dot products. Rounding is
    floor(x*s + 0.5) (round-half-toward-+inf) rather than round():
    half-even vs half-up conventions differ between engines, floor
    does not. Elements pass through double before any arithmetic so
    a float32 source quantizes identically everywhere.

    The scale is computed ONCE per vector and handed to the
    per-element lambda as a second array (`array_repeat(scale,
    size(v))`): a scale Column used inside the lambda is re-evaluated
    per element, which made quantizing O(dim^2) per vector (a noop
    write of 1,101 cached 64-dim vectors on two task threads took
    0.39-0.41 s that way, 0.16-0.25 s with the scale passed in). The
    double ops are the same, so the values are unchanged."""
    v = F.transform(vec, lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(v, F.abs))
    scale = F.lit(127.0) / maxabs
    return F.when(
        maxabs > 0,
        F.zip_with(v, F.array_repeat(scale, F.size(v)),
                   lambda x, s: F.floor(x * s + F.lit(0.5))
                   .cast("bigint")),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("bigint")))


def _driver_read_parquet(path: str) -> list[dict]:
    """Bounded artifact read WITHOUT a Spark job (round-14, VERDICT
    #2): a persisted index's meta/cells/codebooks sides are k-row
    driver literals by design, but reading each through
    spark.read.parquet paid a plan + collect job per probe call —
    and the streaming probes re-paid all of it per writer build.
    pyarrow reads the same Spark-written parquet bytes (directory
    scan skips _SUCCESS/dot files by default); values are exact
    ints/strings and every consumer keys rows by its own id columns,
    so the collect-order difference is immaterial. The O(n) sides
    (codes, adjacency) stay lazy Spark scans — this is only for the
    bounded sides."""
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


def _driver_write_parquet(path: str, rows: list[tuple],
                          schema: str) -> None:
    """Bounded artifact write WITHOUT a Spark job: the twin of
    _driver_read_parquet for a persisted index's k-row sides (IVF-PQ
    meta/cells/codebooks, NSW and MinHash meta). A one-row
    `createDataFrame(...).coalesce(1).write` cost 0.5-0.6 s per side
    in a traced index build; pyarrow writes the same table in about a
    millisecond. `schema` is a DDL list of `name type` with type int,
    bigint, string or array<bigint> (parquet int32, int64, string,
    list<int64>), so Spark, pyarrow and DuckDB read the columns with
    the types a Spark write gave them. The one file is named like a
    Spark part file, `part-00000-<uuid>-c000.snappy.parquet`, in the
    new directory `path`; the caller stages and publishes it."""
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    types = {"int": pa.int32(), "bigint": pa.int64(),
             "string": pa.string(), "array<bigint>": pa.list_(pa.int64())}
    fields = [f.strip().split(" ", 1) for f in schema.split(",")]
    table = pa.Table.from_pylist(
        [dict(zip((n for n, _ in fields), r)) for r in rows],
        schema=pa.schema([(n, types[t.strip()]) for n, t in fields]))
    os.makedirs(path)
    pq.write_table(table, os.path.join(
        path, f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"),
        compression="snappy")


def _non_finite_query(qid) -> ValueError:
    return ValueError(
        f"query {qid!r}: null or non-finite vector element; the probe "
        "head quantizes finite vectors only")


def _int8_quantize_py(vec, qid=None) -> list[int]:
    """Driver-side replica of `int8_quantize` for BOUNDED query sets
    (the pruned-probe head, round-14): identical IEEE-double sequence
    — elements through double, maxabs = max(abs(x)), scale = 127.0 /
    maxabs (one double divide), then floor(x * scale + 0.5) per
    element — so the quantized vectors are bit-identical to the Spark
    expression (pinned over the whole test corpus in TestIntIvf).
    Python floats ARE IEEE doubles and * / + here map to the same
    hardware ops Spark's codegen emits, so there is no rounding drift
    to reason about beyond evaluation ORDER, which this mirrors.

    Precondition: `vec` and its elements are non-null and finite.
    Outside it Spark gives nulls (null input) or all zeros (NaN/inf
    scale), which Python's max()/floor() do not replicate, so such a
    vector raises ValueError naming query `qid`."""
    import math

    if vec is None or not all(x is not None and math.isfinite(x)
                              for x in vec):
        raise _non_finite_query(qid)
    xs = [float(x) for x in vec]
    maxabs = max((abs(x) for x in xs), default=0.0)
    if not maxabs > 0:
        return [0] * len(xs)
    scale = 127.0 / maxabs
    return [int(math.floor(x * scale + 0.5)) for x in xs]


def idot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two bigint arrays (values ≤127 and
    dims ≤ 2^45 keep the sum far inside int64)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def quantized_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   q_id_col: str = "q_id",
                   q_vec_col: str = "q_emb") -> DataFrame:
    """Cosine top-k over int8-quantized vectors — the quantized ANN
    baseline (recall vs exact pinned in tests). All dot products are
    exact integers; only the final norm division is floating, so the
    scores are bit-reproducible across engines and the operator stays
    oracle-checkable. Same broadcast + window shape as
    brute_force_topk; at 100 TB the int8 corpus is what makes the
    scan side fit in a quarter of the memory/IO."""
    emb_q = emb.select(
        F.col(id_col), int8_quantize(F.col(vec_col)).alias("_qv"))
    emb_q = emb_q.withColumn("_vnorm", F.sqrt(idot(F.col("_qv"), F.col("_qv"))
                                              .cast("double")))
    qs = queries.select(
        F.col(q_id_col), int8_quantize(F.col(q_vec_col)).alias("_qq"))
    qs = qs.withColumn("_qnorm", F.sqrt(idot(F.col("_qq"), F.col("_qq"))
                                        .cast("double")))
    pairs = emb_q.crossJoin(F.broadcast(qs)).select(
        F.col(q_id_col),
        F.col(id_col),
        (idot(F.col("_qq"), F.col("_qv")).cast("double")
         / (F.col("_qnorm") * F.col("_vnorm"))).alias("cos_sim_q8"),
    )
    w = Window.partitionBy(q_id_col).orderBy(
        F.desc("cos_sim_q8"), F.col(id_col))
    return (
        pairs.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


def embedding_near_dup_pairs(emb: DataFrame, threshold: float = 0.95,
                             num_planes: int = 8, dim: int = 64,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed: candidate
    pairs share a bucket (the self-join key), verified by exact cosine.
    The bucket key caps the join fan-out at scale."""
    planes = hyperplanes(num_planes, dim)
    # materialized: both self-join sides read the bucketed vectors, and
    # the bucket id costs num_planes dot products per row
    keyed = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
        norm(F.col(vec_col)).alias("nrm"),
    )
    from .dedup import materialize
    keyed = materialize(keyed)
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            _cos(dot(F.col("a.v"), F.col("b.v")),
                 F.col("a.nrm"), F.col("b.nrm")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def _sub_d2(sub: Column, cent: list[float]) -> Column:
    """Squared L2 distance between a subvector column and a centroid."""
    carr = F.array(*[F.lit(v) for v in cent])
    diff = F.zip_with(sub, carr,
                      lambda a, b: (a.cast("double") - b)
                      * (a.cast("double") - b))
    return F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x)


def pq_encode(df: DataFrame, books: list[list[list[float]]],
              vec_col: str, out_col: str = "_codes") -> DataFrame:
    """Attach the PQ code array: per subspace, the argmin-distance
    codebook entry for that slice of the vector. m×k inline distance
    expressions — the codebooks fold into the plan as literals, so
    encoding is a pure map (no join, no UDF, no shuffle) at any scale."""
    m = len(books)
    sd = len(books[0][0])
    codes = []
    for j in range(m):
        sub = F.slice(F.col(vec_col), j * sd + 1, sd)
        cands = F.array(*[
            F.struct(_sub_d2(sub, c).alias("d"), F.lit(ci).alias("i"))
            for ci, c in enumerate(books[j])
        ])
        codes.append(F.array_min(cands)["i"])
    return df.withColumn(out_col, F.array(*codes))


def pq_codebooks(emb: DataFrame, m: int = 8, k: int = 16, iters: int = 2,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> list[list[list[float]]]:
    """Deterministic product-quantization training (Jégou et al. 2011,
    "Product quantization for nearest neighbor search"): split the
    vector into m contiguous subspaces and run Lloyd's k-means in each,
    seeded with the k lowest-id vectors' subvectors (no PRNG — rerun-
    and cluster-layout-independent). All m subspaces train in the SAME
    pass: one encode + one posexplode/groupBy per iteration, so the
    corpus is scanned 2·iters times total, never per-subspace.
    Codebooks are m×k×(dim/m) floats — driver/broadcast-sized for any
    realistic (m, k), independent of corpus size."""
    sd_rows = emb.orderBy(id_col).limit(k).select(vec_col).collect()
    dim = len(sd_rows[0][0])
    sd = dim // m
    books = [
        [[float(x) for x in r[0][j * sd:(j + 1) * sd]] for r in sd_rows]
        for j in range(m)
    ]
    for _ in range(iters):
        coded = pq_encode(emb, books, vec_col)
        parts = coded.select(
            F.col("_codes"),
            F.posexplode(F.col(vec_col)).alias("pos", "val"),
        ).select(
            (F.col("pos") / sd).cast("int").alias("sub"),
            F.element_at("_codes", (F.col("pos") / sd).cast("int") + 1)
            .alias("code"),
            F.col("pos"),
            F.col("val").cast("double").alias("val"),
        )
        means = (
            parts.groupBy("sub", "code", "pos").agg(F.avg("val").alias("m"))
            .groupBy("sub", "code")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("a"))
            .collect()
        )
        for r in means:
            books[r.sub][r.code] = [float(x.m) for x in r.a]
    return books


def pq_topk(emb: DataFrame, queries: DataFrame, k: int = 5,
            m: int = 8, n_codes: int = 16, iters: int = 2,
            id_col: str = "vec_id", vec_col: str = "embedding",
            q_id_col: str = "q_id", q_vec_col: str = "q_emb") -> DataFrame:
    """PQ approximate top-k by asymmetric distance (ADC): the corpus is
    stored as m small codes (m bytes vs dim×4 — a 32× index shrink at
    dim=64/m=8); each query precomputes an m×n_codes lookup table of
    subspace distances, and a candidate's approximate distance is m
    array lookups + a sum. At 100 TB the scan side reads only the code
    table; the full vectors never enter the distance path. Ties break
    by candidate id; rows ranked ascending by approximate distance."""
    books = pq_codebooks(emb, m, n_codes, iters, id_col, vec_col)
    sd = len(books[0][0])
    data = pq_encode(emb, books, vec_col).select(id_col, "_codes")

    luts = []
    for j, book in enumerate(books):
        sub = F.slice(F.col(q_vec_col), j * sd + 1, sd)
        luts.append(F.array(*[_sub_d2(sub, c) for c in book])
                    .alias(f"_lut{j}"))
    q = queries.select(F.col(q_id_col), *luts)

    approx = F.lit(0.0)
    for j in range(m):
        approx = approx + F.element_at(
            F.col(f"_lut{j}"), F.element_at("_codes", j + 1) + 1)
    pairs = data.crossJoin(F.broadcast(q)).select(
        F.col(q_id_col), F.col(id_col), approx.alias("adc_d2"))
    w = Window.partitionBy(q_id_col).orderBy("adc_d2", F.col(id_col))
    return pairs.withColumn("rk", F.row_number().over(w).cast("long")) \
        .filter(F.col("rk") <= k)


def rp_signs(dims: int, out_dims: int) -> list[list[int]]:
    """Deterministic Rademacher ±1 sign matrix from md5 — the seed IS
    the string, so any engine (or a later rerun on new hardware)
    reproduces the identical projection without shipping a matrix."""
    import hashlib

    return [
        [1 if hashlib.md5(f"rp|{i}|{j}".encode()).digest()[0] % 2 == 0
         else -1 for i in range(dims)]
        for j in range(out_dims)
    ]


def random_projection(emb: DataFrame, dims: int = 64, out_dims: int = 8,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Johnson-Lindenstrauss random projection over int8-quantized
    vectors: y_j = Σ_i s_ij · q_i with s ∈ {±1} (Achlioptas 2003 —
    database-friendly random projections; ±1 entries preserve pairwise
    distances within (1±ε) like Gaussian ones). The ANN scale path for
    wide embeddings: project 768-d float32 to a few dozen exact-integer
    dims BEFORE bucketing/LSH, shrinking shuffle and index width ~20×
    while keeping neighbor order approximately intact (recall pinned
    in tests).

    Everything is exact integer arithmetic (|y_j| ≤ 127·dims), so the
    operator is bit-reproducible and oracle-checkable — no float-sum
    order dependence. Pure map-side projection: no shuffle, whole-stage
    codegen, the sign matrix folds into the plan as literals."""
    qv = int8_quantize(F.col(vec_col))
    df = emb.select(F.col(id_col), qv.alias("_q"))
    cols = []
    for j, signs in enumerate(rp_signs(dims, out_dims)):
        arr = F.array(*[F.lit(s) for s in signs])
        y = F.aggregate(
            F.zip_with(F.col("_q"), arr, lambda a, b: a * b),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        cols.append(y.alias(f"proj_{j}"))
    return df.select(id_col, *cols)


def centroid_classify(emb: DataFrame, id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      label_col: str = "label",
                      scale: int = 1_000_000) -> DataFrame:
    """Nearest-centroid classification over the labeled embedding
    corpus — the standard embedding-quality / cluster-coherence eval in
    a training-data pipeline (assign each vector to the closest class
    centroid, report the label confusion matrix).

    Exact integer arithmetic end to end, so the result is
    bit-reproducible and DuckDB-oracle-checkable: vectors quantize to
    round(x*scale) bigints (round is half-away-from-zero in BOTH
    engines); per-label centroids are integer sums + an exact HALF_UP
    division onto the same grid; distances are integer squared-L2.
    |v| <= ~scale and dim<=1k keeps every term far below 2^63.

    Scale shape: one shuffle keyed (label, pos) whose output is
    labels x dim rows (map-side combine does the heavy sum), then the
    tiny centroid table broadcasts back over the corpus — assignment
    is map-side; the confusion rollup shuffles labels^2 rows. No
    per-vector state crosses the network beyond the first combine.

    Returns (label, predicted, n) ordered by (label, predicted)."""
    q = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * scale, 0).cast("long"))
    qd = emb.select(F.col(id_col), F.col(label_col).alias("_lbl"),
                    q.alias("_q"))

    sums = (
        qd.select("_lbl", F.posexplode("_q").alias("pos", "v"))
        .groupBy("_lbl", "pos")
        .agg(F.sum("v").alias("s"), F.count("*").alias("c"))
    )
    # HALF_UP(s/c) away from zero, pure bigint (div truncates toward 0,
    # so feed it |s| and restore the sign)
    m = (F.signum("s").cast("long")
         * F.expr("(2 * abs(s) + c) div (2 * c)"))
    cent = (
        sums.select("_lbl", "pos", m.alias("m"))
        .groupBy("_lbl")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("a"))
        .select(F.col("_lbl").alias("c_lbl"),
                F.expr("transform(a, x -> x.m)").alias("mu"))
    )

    dist = F.aggregate(
        F.zip_with(F.col("_q"), F.col("mu"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    assigned = (
        qd.crossJoin(F.broadcast(cent))
        .select(F.col(id_col), "_lbl",
                F.struct(dist.alias("d"), F.col("c_lbl").alias("l"))
                .alias("dl"))
        .groupBy(F.col(id_col), "_lbl")
        .agg(F.min("dl").alias("best"))  # min (dist, label): exact argmin
    )
    return (
        assigned.groupBy(F.col("_lbl").alias("label"),
                         F.col("best.l").alias("predicted"))
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("label", "predicted")
    )


def semantic_dedup(emb: DataFrame, threshold_pct: int = 40,
                   num_planes: int = 4, dim: int = 64,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    cluster the embedding space, then inside each cluster drop every
    vector that has a sufficiently-similar neighbor of higher keep
    priority, keeping exactly one exemplar per near-duplicate
    neighborhood.

    Deterministic re-expression of the paper's pipeline:

    * the k-means clustering step is replaced by the LSH hyperplane
      bucketing already used for ANN (deterministic, streaming-friendly,
      and at 100 TB the bucket id is a pure map-side expression instead
      of an iterative float k-means);
    * cosine similarity is evaluated on int8-quantized vectors with the
      threshold test cross-multiplied into exact integer arithmetic:
      cos(a,b) >= t  <=>  dot>0 and dot^2 * 10000 >= (100t)^2 * |a|^2*|b|^2
      (dims<=64, |q_i|<=127 keep every term far inside int64), so the
      keep/drop decision is bit-reproducible and oracle-checkable;
    * keep priority is md5(id) — uniform, so the retained exemplar is an
      unbiased choice within each neighborhood (the paper keeps a
      random point per duplicate group).

    Scale shape: one map-side bucket/quantize pass, one bucketed
    equi-self-join (never all-pairs), one semi-join back. Returns
    (vec_id, cluster, kept 0/1).
    """
    planes = hyperplanes(num_planes, dim)
    thr2 = (threshold_pct * threshold_pct)
    base = emb.select(
        F.col(id_col).alias("id"),
        lsh_bucket(F.col(vec_col), planes).alias("cluster"),
        int8_quantize(F.col(vec_col)).alias("q"),
    )
    base = base.withColumn("n2", idot(F.col("q"), F.col("q")))
    base = base.withColumn("pri", F.md5(F.col("id").cast("string")))
    from .dedup import materialize
    base = materialize(base)  # quantize/bucket once, read from both sides
    a, b = base.alias("a"), base.alias("b")
    d = idot(F.col("a.q"), F.col("b.q"))
    near = (d > 0) & (d * d * F.lit(10000) >=
                      F.lit(thr2) * F.col("a.n2") * F.col("b.n2"))
    higher_pri = (F.col("b.pri") < F.col("a.pri")) | (
        (F.col("b.pri") == F.col("a.pri")) & (F.col("b.id") < F.col("a.id")))
    dropped = a.join(
        b,
        (F.col("a.cluster") == F.col("b.cluster"))
        & (F.col("a.id") != F.col("b.id")) & near & higher_pri,
        "left_semi",
    ).select(F.col("id"))
    # no broadcast hint: the dropped set is O(duplicates) — can be a
    # large fraction of the corpus; let AQE pick the join strategy
    return (
        base.join(dropped.withColumn("_drop", F.lit(1)), "id", "left")
        .select(F.col("id").alias(id_col), "cluster",
                F.when(F.col("_drop").isNull(), F.lit(1))
                .otherwise(F.lit(0)).cast("int").alias("kept"))
    )


def mmr_rerank(emb: DataFrame, queries: DataFrame, pool: int = 10,
               k: int = 5, id_col: str = "vec_id",
               vec_col: str = "embedding", q_id_col: str = "q_id",
               q_vec_col: str = "q_emb") -> DataFrame:
    """Maximal-Marginal-Relevance diversity re-ranking (Carbonell &
    Goldstein 1998) with lambda = 1/2, in EXACT integer arithmetic:
    relevance and inter-candidate similarity are raw int8-quantized
    dot products (no norm division anywhere), so the greedy argmax
    at every step — score(d) = rel(d) - max_{s in selected} dot(d, s)
    — is deterministic and oracle-replayable. The near-dup-suppressing
    selection step of a retrieval-augmented data pipeline: a top-k
    full of one duplicated passage wastes the context budget.

    Scale shape: the candidate pool is top-`pool` per query (one
    broadcast probe, same as quantized_topk), so every later stage —
    pairwise dots (pool^2 per query), k greedy rounds of anti-join +
    max-reduction + per-query argmax — runs on O(queries x pool) rows
    regardless of corpus size. The k-step loop nests k plans deep,
    never collects."""
    from .dedup import materialize

    embq = emb.select(F.col(id_col).alias("vec_id"),
                      int8_quantize(F.col(vec_col)).alias("_qv"))
    qq = queries.select(F.col(q_id_col).alias("q_id"),
                        int8_quantize(F.col(q_vec_col)).alias("_qq"))
    scored = embq.crossJoin(F.broadcast(qq)).select(
        "q_id", "vec_id", "_qv",
        idot(F.col("_qq"), F.col("_qv")).alias("rel"))
    w = Window.partitionBy("q_id").orderBy(F.desc("rel"), F.asc("vec_id"))
    cand = (scored.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= pool).drop("_rk"))
    cand = materialize(cand)
    a, b = cand.alias("a"), cand.alias("b")
    pairs = a.join(
        b, (F.col("a.q_id") == F.col("b.q_id"))
        & (F.col("a.vec_id") != F.col("b.vec_id"))
    ).select(
        F.col("a.q_id").alias("q_id"),
        F.col("a.vec_id").alias("a_id"),
        F.col("b.vec_id").alias("b_id"),
        idot(F.col("a._qv"), F.col("b._qv")).alias("s"),
    )
    pairs = materialize(pairs)
    cand = cand.drop("_qv")

    w1 = Window.partitionBy("q_id").orderBy(F.desc("rel"), F.asc("vec_id"))
    sel = (
        cand.withColumn("_rk", F.row_number().over(w1))
        .filter(F.col("_rk") == 1).drop("_rk")
        .select("q_id", "vec_id", "rel",
                F.lit(0).cast("bigint").alias("red"),
                F.lit(1).cast("int").alias("rank"))
    )
    for step in range(2, k + 1):
        # fresh disambiguated projections each round: cand/pairs/sel all
        # descend from the same lineage, so qualified column names from
        # the raw frames would be ambiguous under the self-join analyzer
        sel_keys = sel.select(F.col("q_id").alias("_sq"),
                              F.col("vec_id").alias("_sv"))
        remaining = cand.join(
            sel_keys, (F.col("q_id") == F.col("_sq"))
            & (F.col("vec_id") == F.col("_sv")), "left_anti")
        pr = pairs.select(F.col("q_id").alias("_pq"), "a_id", "b_id", "s")
        red = (
            remaining
            .join(pr, (F.col("q_id") == F.col("_pq"))
                  & (F.col("vec_id") == F.col("a_id")))
            .join(sel_keys, (F.col("_pq") == F.col("_sq"))
                  & (F.col("b_id") == F.col("_sv")))
            .groupBy("q_id", "vec_id", "rel")
            .agg(F.max("s").alias("red"))
        )
        ws = Window.partitionBy("q_id").orderBy(
            F.desc(F.col("rel") - F.col("red")), F.asc("vec_id"))
        pick = (
            red.withColumn("_rk", F.row_number().over(ws))
            .filter(F.col("_rk") == 1).drop("_rk")
            .select("q_id", "vec_id", "rel", "red",
                    F.lit(step).cast("int").alias("rank"))
        )
        # truncate the iterative lineage each round (LOCAL checkpoint —
        # sel is O(queries x k) rows): without this the k-th round's
        # plan nests every prior round's anti-join/argmax and analyzer
        # time grows super-linearly (measured 72 s -> ~15 s at k=5)
        sel = sel.unionByName(pick).localCheckpoint(eager=True)
    return sel


def int_pq_topk(emb: DataFrame, queries: DataFrame, k: int = 5,
                m: int = 4, kc: int = 4, iters: int = 2, dim: int = 64,
                id_col: str = "vec_id", vec_col: str = "embedding",
                q_id_col: str = "q_id",
                q_vec_col: str = "q_emb") -> DataFrame:
    """Integer product quantization with ADC — the hash-checked
    sibling of pq_topk (sim9), built the way sim11 fixed sim4: the
    per-subspace codebooks come from integer Lloyd's k-means
    (int_ivf_centroids on the sliced sub-vectors: exact int64 L2,
    lowest-id seeds/ties, truncating-div updates), codes are exact-int
    argmins, and the ADC score is a pure INTEGER dot — each query
    precomputes dot(query_sub, codeword) per subspace (the lookup
    table), and a candidate's score is the sum of m table lookups by
    its stored codes. No float exists anywhere in the operator, so
    the whole approximate index is value-hash checkable.

    Scale shape: codebook training runs on m small sliced columns
    (k x m x iters bounded driver rows, the sim11 pattern); encoding
    is map-side codegen; queries broadcast; the scan reads m one-byte
    codes per vector instead of the full vector — the 16x memory cut
    that is PQ's reason to exist."""
    from .dedup import materialize

    sub = dim // m
    emb_q = materialize(emb.select(
        F.col(id_col), int8_quantize(F.col(vec_col)).alias("_qv")))
    codebooks = int_pq_codebooks(emb_q, m, sub, kc, iters,
                                 id_col, "_qv")
    data = _assign_codes(emb_q, codebooks, sub, "_qv")
    qs = queries.select(
        F.col(q_id_col), int8_quantize(F.col(q_vec_col)).alias("_qq"))
    pairs = data.drop("_qv").crossJoin(F.broadcast(qs))
    # LUT lookup: select the coded codeword FIRST, then one integer
    # dot — the element the all-codewords dot array would hold at
    # that code (the _ivfpq_probe ADC shape)
    books = _int_books_lit(codebooks)

    def lut_lookup(s: int):
        codeword = F.element_at(F.element_at(books, s + 1),
                                F.col(f"_c{s}").cast("int") + 1)["cent"]
        return idot(F.slice("_qq", s * sub + 1, sub), codeword)

    adc = lut_lookup(0)
    for s in range(1, m):
        adc = adc + lut_lookup(s)
    scored = pairs.withColumn("adc_dot", adc.cast("bigint"))
    w = Window.partitionBy(q_id_col).orderBy(
        F.desc("adc_dot"), F.col(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select(q_id_col, id_col, "adc_dot", "rk")
    )


def _ivfpq_train(emb: DataFrame, n_cells: int, m: int, kc: int,
                 iters: int, dim: int, id_col: str, vec_col: str
                 ) -> tuple[DataFrame, list[list[int]],
                            list[list[list[int]]]]:
    """Training half of IVF-PQ, shared verbatim by the inline query
    (int_ivfpq_topk, sim17) and the persisted lifecycle
    (save_ivfpq_index, sim19) so build-then-probe is bit-identical to
    train-and-probe-inline: int8 quantization, integer Lloyd's coarse
    cells, cell residuals q - centroid[cell], per-subspace residual
    codebooks, exact-int code assignment. Returns (codes frame with
    id/_cell/_c0.._c{m-1}, cells, codebooks); the list artifacts are
    k-bounded driver rows (the sim11/sim16 collect pattern)."""
    from .dedup import materialize

    sub = dim // m
    emb_q = materialize(emb.select(
        F.col(id_col), int8_quantize(F.col(vec_col)).alias("_qv")))
    # df-engine trainer (round-13 optimization): bit-identical to
    # int_ivf_centroids (TestNswGraphAnn pin) but the per-iteration
    # plan is O(1) in the cell count — measured 2.1 s -> 1.5 s at
    # c=4 and 10.3 s -> 1.5 s at c=32 on the sf0.1 corpus. The cells
    # artifact stays a bounded driver-side list (n_cells rows), the
    # same collect the literal trainer did internally.
    cells_rows = sorted(
        int_ivf_centroids_df(emb_q, n_cells, iters, id_col,
                             "_qv").collect(),
        key=lambda r: r["cid"])
    cells = [[int(x) for x in r["cent"]] for r in cells_rows]
    data = materialize(_cell_residuals(emb_q, cells))
    codebooks = int_pq_codebooks(data, m, sub, kc, iters,
                                 id_col, "_res")
    data = _assign_codes(data, codebooks, sub)
    return data.drop("_qv", "_res"), cells, codebooks


def _cell_residuals(emb_q: DataFrame, cells: list[list[int]]
                    ) -> DataFrame:
    """Coarse step of IVF-PQ encoding (shared by training and the
    day-2 append path): `_cell` = nearest cell of `_qv` (exact int64
    L2, lowest-cell ties) and `_res` = `_qv` minus that centroid, both
    read off ONE literal of the cell set."""
    cl = _int_cells_lit(cells)
    return (emb_q.withColumn("_cell", F.array_min(
                _scored_cells_df(F.col("_qv"), cl))["i"])
            .withColumn("_res", F.zip_with(
                F.col("_qv"), F.element_at(cl, F.col("_cell") + 1)["cent"],
                lambda a, b: a - b)))


def _assign_codes(data: DataFrame, codebooks: list[list[list[int]]],
                  sub: int, vec_col: str = "_res") -> DataFrame:
    """Exact-int PQ code assignment per subspace (shared by training,
    the day-2 append path and int_pq_topk): `_c{s}` = argmin codeword
    by int64 L2 on slice s of `vec_col`, all m codebooks read off ONE
    literal (_int_books_lit)."""
    books = _int_books_lit(codebooks)
    return data.withColumns({
        f"_c{s}": F.array_min(_scored_cells_df(
            F.slice(vec_col, s * sub + 1, sub),
            F.element_at(books, s + 1)))["i"]
        for s in range(len(codebooks))})


def _ivfpq_encode(emb: DataFrame, cells: list[list[int]],
                  codebooks: list[list[list[int]]], sub: int,
                  id_col: str, vec_col: str) -> DataFrame:
    """Encode vectors against EXISTING cells/codebooks — the no-
    retraining half of _ivfpq_train, used when appending to a
    persisted index (FAISS add() semantics: the quantizers are
    frozen artifacts; new vectors only get assigned). Plan
    construction costs a constant number of py4j round trips in
    n_cells and kc (pinned in tests)."""
    emb_q = emb.select(
        F.col(id_col), int8_quantize(F.col(vec_col)).alias("_qv"))
    data = _assign_codes(_cell_residuals(emb_q, cells), codebooks, sub)
    return data.drop("_qv", "_res")


def _codes_dir(path: str) -> str:
    """Resolve the CURRENT codes generation of a persisted IVF-PQ
    index. A fresh build uses the flat `codes/`; the first compaction
    (compact_ivfpq_index) introduces immutable `codes-g<N>/`
    generations behind a tiny `CODES` pointer file (the sources/kv.py
    pointer-swap discipline, mirroring the minhash index's BUCKETS
    pointer), so a probe racing a compaction always resolves one
    complete directory — never a hole."""
    from ..sources.kv import resolve_pointer

    return resolve_pointer(path, "CODES", "codes")


@spans.span("delete")
def delete_from_ivfpq_index(ids: DataFrame, path: str,
                            id_col: str = "vec_id") -> None:
    """Delete vectors from the persisted ANN index WITHOUT a rebuild —
    the takedown / right-to-be-forgotten operation (round-10 VERDICT
    missing #1, the sim-family twin of delete_from_minhash_index).
    Appends the ids as a TOMBSTONE parquet fragment (O(delete batch);
    codes, cells and codebooks untouched — deletion never retrains a
    quantizer, matching FAISS remove_ids semantics); every load
    anti-joins the tombstone set, and the next compact_ivfpq_index
    physically purges the tombstoned codes. The tombstone set stays
    bounded by one compaction cycle's takedowns. Takes the maintenance
    lease (writers serialize; probes never wait). Id-reuse contract:
    same as delete_from_minhash_index — a tombstoned id stays dead
    until its tombstone is retired (two compaction cycles), so
    re-appending under a deleted id is undefined; mint fresh ids."""
    import os

    from ..sources.kv import maintenance_lease

    meta = _driver_read_parquet(f"{path}/meta")[0]  # no Spark job
    if meta["version"] != IVFPQ_INDEX_VERSION:
        raise ValueError(
            f"ivfpq index version {meta['version']} at {path}; "
            f"this build writes version {IVFPQ_INDEX_VERSION}")
    rows = ids.select(F.col(id_col).cast("long").alias("id")).distinct()
    with maintenance_lease(path):
        rows.write.mode("append").parquet(os.path.join(path, "tombstones"))


@spans.span("compact")
def compact_ivfpq_index(spark, path: str) -> None:
    """Merge appended code fragments into one fresh GENERATION —
    physically purging tombstoned vectors — and flip the CODES pointer
    (identical discipline to compact_minhash_index: immutable
    `codes-g<N>/` generations, os.replace pointer swap, superseded
    generation and freshly-folded tombstones each kept one cycle for
    in-flight readers, pruned on the NEXT compaction). Holds the
    maintenance lease against other appends/compactions/deletes."""
    import os
    import shutil

    from ..sources.kv import maintenance_lease

    with maintenance_lease(path):
        cur = _codes_dir(path)
        cur_name = os.path.basename(cur)
        gen = 1 if cur_name == "codes" \
            else int(cur_name.rsplit("-g", 1)[1])
        new_name = f"codes-g{gen + 1}"
        meta = _driver_read_parquet(f"{path}/meta")[0]  # no Spark job
        rows = _parquet_scan(spark, cur)
        ts = read_tombstones(spark, path)
        if ts is not None:
            rows = rows.join(
                F.broadcast(ts.withColumnRenamed("id", meta["id_col"])),
                meta["id_col"], "left_anti")
        (rows.repartition("_cell")
         .write.mode("overwrite").partitionBy("_cell")
         .parquet(os.path.join(path, new_name)))
        ptr = os.path.join(path, "CODES")
        tmp = f"{ptr}.tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            f.write(new_name)
        os.replace(tmp, ptr)  # atomic: loads see old or new, never none
        # reader-safe fold (round-13 review): hard-link live
        # tombstones into the folded set so a racing reader's
        # captured live paths keep their bytes one more cycle
        from ..sources.kv import fold_tombstones_reader_safe
        folded_keep = fold_tombstones_reader_safe(path, gen + 1)
        for name in os.listdir(path):
            if (name == "codes" or name.startswith("codes-g")
                    or name.startswith("tombstones-folded-g")) \
                    and name not in (cur_name, new_name, folded_keep):
                shutil.rmtree(os.path.join(path, name),
                              ignore_errors=True)


@spans.span("append")
def append_to_ivfpq_index(emb_new: DataFrame, path: str,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          skip_existing: bool = False) -> None:
    """Day-2 index maintenance: encode NEW vectors with the index's
    FROZEN cells and codebooks (no k-means runs — FAISS add() parity)
    and append their codes to the cell partitions. Caller contract:
    the new ids must not already be in the index (dedup belongs to
    the dd-family upstream) — UNLESS skip_existing=True, which
    anti-joins the batch against the live codes' id column INSIDE the
    lease, making the call IDEMPOTENT: re-appending a batch whose ids
    already landed is a no-op. That is the retry contract streaming
    ingest needs (st15: a foreachBatch retried after the append but
    before its applied-batch marker must not double-insert codes —
    round-11 ADVICE). Cost of the idempotent path: one column-pruned
    scan of the current codes generation's id column per call — fine
    for micro-batches; bulk loaders that guarantee fresh ids keep the
    default and skip the scan. Visibility caveat, documented: parquet
    append is file-granular, so a probe racing an append may see a
    prefix of the new files — callers needing an atomic flip should
    stage the whole build+append under a scratch path and rename
    (what sim20 does). Takes the maintenance lease: without it an
    append racing a compaction lands in the codes generation the
    compaction already snapshotted and is dropped at the pointer flip
    (round-10 VERDICT missing #2). Tombstone interaction (ADVICE
    r12, documented pin): the anti-join runs against PHYSICAL code
    rows, which still include tombstoned ids pre-compaction — so
    appending a currently-tombstoned id is dropped here and the id
    stays dead. That is the id-reuse contract working as stated
    (delete_from_ivfpq_index: a tombstoned id stays dead until its
    tombstone retires; mint fresh ids); skip_existing targets the
    crash-REPLAY window, where the replayed batch's ids are by
    definition the ones just appended, not ones a concurrent delete
    targeted. Anti-joining live-only ids instead would merely write
    rows the tombstone filter hides and the next compaction purges."""
    from ..sources.kv import maintenance_lease

    spark = emb_new.sparkSession
    idx = load_ivfpq_index(spark, path)
    meta = idx["meta"]
    codes_new = _ivfpq_encode(emb_new, idx["cells"], idx["codebooks"],
                              meta["sub"], id_col, vec_col)
    if id_col != meta["id_col"]:  # persisted schema wins
        codes_new = codes_new.withColumnRenamed(id_col, meta["id_col"])
    with maintenance_lease(path):
        if skip_existing:
            # resolve the codes dir INSIDE the lease so the anti-join
            # and the append target the same generation
            existing = (_parquet_scan(spark, _codes_dir(path))
                        .select(meta["id_col"]))
            codes_new = codes_new.join(existing, meta["id_col"],
                                       "left_anti")
        codes_new.write.mode("append").partitionBy("_cell") \
            .parquet(_codes_dir(path))


def _ivfpq_probe(codes: DataFrame, cells: list[list[int]],
                 codebooks: list[list[list[int]]], queries: DataFrame,
                 k: int, n_probe: int, m: int, sub: int, kc: int,
                 id_col: str, q_id_col: str, q_vec_col: str,
                 prune_partitions: bool = False) -> DataFrame:
    """Probe half of IVF-PQ (shared by sim17 and sim19): quantize the
    queries, rank all cells by exact int64 L2 and keep the n_probe
    closest (carrying the exact dot(q, centroid) term), then score
    only the probed cells' codes with the integer ADC LUTs.

    With prune_partitions=True (the persisted-index path, where codes
    is a parquet scan partitioned by _cell) the probed q rows are
    materialized driver-side FIRST — a |Q| x n_probe BOUNDED collect —
    so the probed cell ids become literal `IN` filters on the scan and
    Spark prunes unprobed cell partitions at planning time: the 100 TB
    read cost is n_probe/n_cells of the index, not all of it. The
    bound is checked: above DRIVER_PROBE_MAX_Q queries the Spark head
    runs instead, and one Spark job over its lazily checkpointed
    probes makes the same input check and collects the probed cell
    ids for the same pruning (same answer). The driver-built
    q_probed and codebook frames are Arrow-backed local relations, so
    broadcasting them runs no Spark job.

    Round-13 optimization: the cells and codebooks ride ONE-ROW
    broadcast DataFrames (the df quantizer-engine shape) instead of
    arrays built one F.lit per element — O(n_cells x dim + m x kc x
    sub) py4j round trips of plan construction per build, which the
    streaming probe (st12/st14) paid PER MICRO-BATCH (the build and
    append paths now use one literal per set, _int_cells_lit).
    Arithmetic is unchanged and exact: the cell ranking sorts the
    same struct(d, i, qc) triples, and the ADC term selects the coded
    codeword FIRST and takes one integer dot with it — the same
    element an all-codewords LUT's element_at would pick, so the
    scores are bit-identical."""
    from pyspark.sql import types as T

    spark = codes.sparkSession
    i64 = T.ArrayType(T.LongType(), True)
    q_src = _collect_bounded(queries.select(
        F.col(q_id_col), F.col(q_vec_col)), "ivfpq_probe") \
        if prune_partitions else None
    if q_src is not None:
        # Round-14 (VERDICT #2): the pruned path always materialized
        # q_probed driver-side anyway (the bounded |Q| x n_probe
        # collect that makes static partition pruning possible), but
        # it got there by BUILDING AND RUNNING a Spark plan — the
        # query-side quantize HOF tree + the per-cell ranking
        # transform — once per probe call, which the streaming probes
        # (st12/st14) paid per micro-batch as a full plan analysis +
        # one extra driver job. The cells are ALREADY driver-side
        # Python lists here, so the probe head now runs in plain
        # Python off one bounded collect of the RAW queries:
        # _int8_quantize_py replays int8_quantize's exact IEEE-double
        # arithmetic (pinned bit-identical over the whole test corpus
        # in TestIntIvf), the distances/dots are exact ints, and the
        # (d, i, qc) tuple sort is array_sort's struct order — the
        # created q_probed rows are the same rows the Spark plan
        # collected, so everything downstream is unchanged. Above
        # DRIVER_PROBE_MAX_Q queries the Spark head below runs
        # instead (same check, same pruning, same answer).
        icells = [[int(v) for v in c] for c in cells]
        q_cols = {q_id_col: [], "_qq": [], "_cell": [], "_qc": []}
        for r in q_src:
            qq = _int8_quantize_py(r[1], r[0])
            scored = sorted(
                (sum((a - b) * (a - b) for a, b in zip(qq, c)), i,
                 sum(a * b for a, b in zip(qq, c)))
                for i, c in enumerate(icells))
            for _d, i, qc in scored[:n_probe]:
                for c, x in zip(q_cols, (r[0], qq, i, qc)):
                    q_cols[c].append(x)
        id_field = queries.schema[q_id_col]
        q_probed = _arrow_frame(spark, q_cols, T.StructType([
            T.StructField(q_id_col, id_field.dataType,
                          id_field.nullable),
            T.StructField("_qq", i64, True),
            T.StructField("_cell", T.IntegerType(), True),
            T.StructField("_qc", T.LongType(), True)]))
        probed_cells = sorted(set(q_cols["_cell"]))
        codes = codes.filter(F.col("_cell").isin(probed_cells))
    else:
        qcols = [F.col(q_id_col),
                 int8_quantize(F.col(q_vec_col)).alias("_qq")]
        if prune_partitions:   # the vectors _int8_quantize_py refuses
            qcols.append((F.col(q_vec_col).isNull() | F.exists(
                F.col(q_vec_col), lambda x: x.isNull() | F.isnan(x)
                | (F.abs(x.cast("double")) == float("inf"))))
                .alias("_bad"))
        qs = queries.select(*qcols)
        cents_1row = F.broadcast(_arrow_frame(
            spark, {"_cents": [[list(map(int, c)) for c in cells]]},
            T.StructType([T.StructField(
                "_cents", T.ArrayType(i64, True), True)])))
        scored_cells = F.transform(
            F.col("_cents"),
            lambda c, i: F.struct(
                F.aggregate(F.zip_with(F.col("_qq"), c,
                                       lambda a, b: (a - b) * (a - b)),
                            F.lit(0).cast("bigint"),
                            lambda acc, x: acc + x).alias("d"),
                i.alias("i"),
                idot(F.col("_qq"), c).alias("qc")))
        probes = F.slice(F.array_sort(scored_cells), 1, n_probe)
        qs = qs.crossJoin(cents_1row).withColumn("_ps", probes)
        if prune_partitions:
            # above DRIVER_PROBE_MAX_Q queries: the driver head's input
            # check and partition pruning from ONE job over the lazily
            # checkpointed per-query probes, which the probe reuses;
            # it collects at most n_cells cell ids
            qs = qs.localCheckpoint(eager=False)
            chk = qs.agg(
                F.array_sort(F.array_distinct(F.flatten(
                    F.collect_list("_ps.i")))).alias("cells"),
                F.first(F.when(F.col("_bad"), F.struct(q_id_col)),
                        ignorenulls=True).alias("bad")).collect()[0]
            if chk["bad"] is not None:
                raise _non_finite_query(chk["bad"][0])
            codes = codes.filter(F.col("_cell").isin(chk["cells"]))
        q_probed = (
            qs.withColumn("_p", F.explode("_ps"))
            .select(F.col(q_id_col), F.col("_qq"),
                    F.col("_p.i").alias("_cell"),
                    F.col("_p.qc").alias("_qc"))
        )
    books_1row = F.broadcast(_arrow_frame(
        spark,
        {"_books": [[[list(map(int, cw)) for cw in cb]
                     for cb in codebooks]]},
        T.StructType([T.StructField(
            "_books", T.ArrayType(T.ArrayType(i64, True), True), True)])))
    pairs = codes.join(F.broadcast(q_probed), "_cell") \
        .crossJoin(books_1row)

    def adc(s: int):
        codeword = F.element_at(F.element_at(F.col("_books"), s + 1),
                                F.col(f"_c{s}").cast("int") + 1)
        return idot(F.slice("_qq", s * sub + 1, sub), codeword)

    score = F.col("_qc")
    for s in range(m):
        score = score + adc(s)
    scored = pairs.withColumn("ip_q8", score.cast("bigint"))
    w = Window.partitionBy(q_id_col).orderBy(
        F.desc("ip_q8"), F.col(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select(q_id_col, id_col, "ip_q8", "rk")
    )


def int_ivfpq_topk(emb: DataFrame, queries: DataFrame, k: int = 5,
                   n_cells: int = 4, n_probe: int = 2, m: int = 4,
                   kc: int = 4, iters: int = 2, dim: int = 64,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   q_id_col: str = "q_id",
                   q_vec_col: str = "q_emb") -> DataFrame:
    """IVF-PQ — the production ANN composition (coarse inverted lists
    + product-quantized residuals, the FAISS IndexIVFPQ shape) built
    ENTIRELY from the integer engines so the whole index is
    value-hash checkable: int8 quantization (sim7), integer Lloyd's
    coarse cells (sim11), per-subspace integer Lloyd's codebooks
    trained on the CELL RESIDUALS q - centroid[cell] (what PQ
    compresses in a real IVF-PQ — residual energy, not raw vectors),
    and pure-integer ADC scoring by inner product:

        dot(q, cell_centroid + residual_code)
          = dot(q, centroid)            [exact, per probed cell]
          + sum_s LUT_s[code_s]         [LUT = dot(q_sub, codeword)]

    Scale shape: the index side stores one cell id + m one-byte codes
    per vector (the 16-32x memory cut); queries broadcast with their
    n_probe cell ids and O(kc*m) LUT entries; candidates are pruned
    to the probed cells BEFORE any scoring. Training collects are
    k-bounded driver artifacts (the sim11/sim16 pattern). For the
    train-once / probe-many production lifecycle, see
    save_ivfpq_index / load_ivfpq_index / ivfpq_probe_topk (sim19)."""
    codes, cells, codebooks = _ivfpq_train(
        emb, n_cells, m, kc, iters, dim, id_col, vec_col)
    return _ivfpq_probe(codes, cells, codebooks, queries, k, n_probe,
                        m, dim // m, kc, id_col, q_id_col, q_vec_col)


IVFPQ_INDEX_VERSION = 1


@spans.span("build_index")
def save_ivfpq_index(emb: DataFrame, path: str, n_cells: int = 4,
                     m: int = 4, kc: int = 4, iters: int = 2,
                     dim: int = 64, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> None:
    """Train an IVF-PQ index ONCE and persist it as parquet — the
    production ANN lifecycle (FAISS train/add/write_index shape): at
    100 TB an index is trained by one job and probed by thousands, so
    training inside every query (sim17's inline shape) is the wrong
    amortization. Layout under `path`:

      codes/      one row per vector (id, _c0.._c{m-1}),
                  PARTITIONED BY _cell — a probe reads n_probe of
                  n_cells partitions, pruned at planning time
      cells/      n_cells rows (cell, cent array<bigint>)
      codebooks/  m*kc rows (s, cid, cent array<bigint>)
      meta/       1 row (version, n_cells, m, kc, dim, sub, id_col)

    The build lands in a scratch dir and is atomically os.rename'd to
    `path` (the sources/kv.py gold-store pointer-swap discipline): a
    reader never sees a half-written index, and when concurrent
    builders race, the losers discard their scratch — harmless,
    because the training is fully deterministic, so every racer built
    the same artifact. No-op if `path` is already a complete index."""
    import os
    import shutil
    import uuid

    if os.path.exists(os.path.join(path, "meta")):
        return
    codes, cells, codebooks = _ivfpq_train(
        emb, n_cells, m, kc, iters, dim, id_col, vec_col)
    tmp = f"{path.rstrip('/')}.build-{uuid.uuid4().hex[:12]}"
    codes.write.mode("overwrite").partitionBy("_cell") \
        .parquet(f"{tmp}/codes")
    _driver_write_parquet(
        f"{tmp}/cells",
        [(i, [int(v) for v in c]) for i, c in enumerate(cells)],
        "cell int, cent array<bigint>")
    _driver_write_parquet(
        f"{tmp}/codebooks",
        [(s, j, [int(v) for v in codebooks[s][j]])
         for s in range(m) for j in range(kc)],
        "s int, cid int, cent array<bigint>")
    _driver_write_parquet(
        f"{tmp}/meta",
        [(IVFPQ_INDEX_VERSION, n_cells, m, kc, dim, dim // m, id_col)],
        "version int, n_cells int, m int, kc int, dim int, sub int, "
        "id_col string")
    os.makedirs(os.path.dirname(path.rstrip("/")) or ".", exist_ok=True)
    try:
        os.rename(tmp, path)
    except OSError:
        # a concurrent builder renamed first — identical content
        # (deterministic training), so just drop the scratch copy. If
        # the index is still absent the rename failed for a real
        # reason (cross-device tmp, stale target): re-raise instead
        # of discarding the built index.
        if not os.path.exists(os.path.join(path, "meta")):
            raise
        shutil.rmtree(tmp, ignore_errors=True)


def load_ivfpq_index(spark, path: str) -> dict:
    """Load a save_ivfpq_index artifact for probing. The codes frame
    stays a LAZY parquet scan (the O(n) part — never collected); the
    cells/codebooks/meta loads are bounded collects (n_cells, m*kc
    and 1 rows) because probing needs them as plan literals.

    The codes scan resolves the CURRENT generation (CODES pointer;
    flat `codes/` for a never-compacted index) and anti-joins the
    tombstone set (delete_from_ivfpq_index) — a broadcast of the
    bounded, compaction-drained takedown ids — so every probe over
    this handle excludes deleted vectors whichever generation it
    resolved. The tombstone snapshot is taken at LOAD time: a handle
    loaded before a delete keeps serving the pre-delete view (the
    same read-your-load semantics the generation pointer gives)."""
    # bounded sides read driver-side, no Spark jobs (round-14 — see
    # _driver_read_parquet); the codes scan stays a lazy parquet scan,
    # its schema from one file's footer (_parquet_scan: no inference job)
    meta_row = _driver_read_parquet(f"{path}/meta")[0]
    if meta_row["version"] != IVFPQ_INDEX_VERSION:
        raise ValueError(
            f"ivfpq index version {meta_row['version']} at {path}; "
            f"this build reads version {IVFPQ_INDEX_VERSION}")
    cells: list[list[int] | None] = [None] * meta_row["n_cells"]
    for r in _driver_read_parquet(f"{path}/cells"):
        cells[r["cell"]] = [int(x) for x in r["cent"]]
    books: list[list[list[int] | None]] = [
        [None] * meta_row["kc"] for _ in range(meta_row["m"])]
    for r in _driver_read_parquet(f"{path}/codebooks"):
        books[r["s"]][r["cid"]] = [int(x) for x in r["cent"]]
    codes = _parquet_scan(spark, _codes_dir(path))
    ts = read_tombstones(spark, path)
    if ts is not None:
        codes = codes.join(
            F.broadcast(ts.withColumnRenamed("id", meta_row["id_col"])),
            meta_row["id_col"], "left_anti")
    return {
        "codes": codes,
        "cells": cells,
        "codebooks": books,
        "meta": {"n_cells": meta_row["n_cells"], "m": meta_row["m"],
                 "kc": meta_row["kc"], "dim": meta_row["dim"],
                 "sub": meta_row["sub"], "id_col": meta_row["id_col"]},
    }


def ivfpq_cell_occupancy(index: dict) -> DataFrame:
    """Per-cell code counts of a LOADED index — the occupancy audit
    behind static partition pruning's cost model (round-9 VERDICT
    #6). The probe's "reads n_probe/n_cells of the index" claim
    assumes balanced cells: a probe touching a cell holding share p
    of the codes reads p of the corpus, so the worst-case probe cost
    is sum of the n_probe largest shares, NOT n_probe/n_cells. This
    audit reports each cell's share and flags HOT cells (share >
    2/n_cells — twice the balanced share, the bound the registered
    probes size themselves against); a hot flag is the signal to run
    `rebalance_ivfpq_index`. Empty cells are reported too (share 0):
    they waste a probe slot symmetric to how hot cells overflow one.

    Output (cell, n_codes, occ_milli, is_hot): occ_milli = share in
    integer thousandths (exact in both engines), all JVM-side — one
    groupBy over the cell-partitioned codes scan plus a broadcast of
    the 1-row total."""
    codes = index["codes"]
    n_cells = index["meta"]["n_cells"]
    spark = codes.sparkSession
    counts = codes.groupBy(
        F.col("_cell").cast("long").alias("cell")).agg(
        F.count("*").cast("long").alias("n_codes"))
    all_cells = spark.range(n_cells).select(F.col("id").alias("cell"))
    occ = (all_cells.join(counts, "cell", "left")
           .select("cell",
                   F.coalesce("n_codes", F.lit(0)).cast("long")
                   .alias("n_codes")))
    tot = occ.agg(F.sum("n_codes").cast("long").alias("_total"))
    return (
        occ.crossJoin(F.broadcast(tot))
        .select(
            "cell", "n_codes",
            # integer div, not double `/` + cast: exact at the
            # boundaries, bit-identical to DuckDB's `//`. Guarded for
            # an EMPTY index: _total = 0 would raise DIVIDE_BY_ZERO
            # under ANSI mode (Spark 4 default) — an empty audit
            # reports all-zero occupancy instead.
            F.when(F.col("_total") > 0,
                   F.expr("(n_codes * 1000) div _total"))
            .otherwise(F.lit(0).cast("long")).alias("occ_milli"),
            (F.col("n_codes") * n_cells > F.col("_total") * 2)
            .alias("is_hot"))
        .orderBy("cell")
    )


def rebalance_ivfpq_index(emb: DataFrame, path: str, out_path: str,
                          iters: int, id_col: str = "vec_id",
                          vec_col: str = "embedding") -> None:
    """Rebalance path for a skewed index: retrain from the SOURCE
    corpus with more Lloyd iterations and persist a fresh index of
    the same geometry at `out_path` (atomic rename — readers flip
    paths when the new artifact exists, the kv.py pointer-swap
    discipline). Retraining, not in-place cell surgery: the index
    stores PQ codes, not vectors, so splitting a hot cell in place
    could only re-encode reconstructions (approximation stacked on
    approximation); the corpus is the durable input at 100 TB and a
    retrain is one more pass over it. Geometry (n_cells/m/kc/dim)
    comes from the existing index's meta so the rebalanced artifact
    is drop-in probe-compatible."""
    meta = _driver_read_parquet(f"{path}/meta")[0]  # no Spark job
    if meta["version"] != IVFPQ_INDEX_VERSION:
        raise ValueError(
            f"ivfpq index version {meta['version']} at {path}; "
            f"this build reads version {IVFPQ_INDEX_VERSION}")
    save_ivfpq_index(emb, out_path, n_cells=meta["n_cells"],
                     m=meta["m"], kc=meta["kc"], iters=iters,
                     dim=meta["dim"], id_col=id_col, vec_col=vec_col)


def ivfpq_probe_topk(index: dict, queries: DataFrame, k: int = 5,
                     n_probe: int = 2, q_id_col: str = "q_id",
                     q_vec_col: str = "q_emb",
                     codes_filter=None) -> DataFrame:
    """Probe a LOADED IVF-PQ index (load_ivfpq_index) — NO training
    runs here: cells and codebooks are already driver literals, and
    the only distributed input is the cell-partitioned codes scan,
    statically pruned to the probed cells (prune_partitions=True).
    Bit-identical to int_ivfpq_topk at equal parameters because both
    run _ivfpq_train/_ivfpq_probe — the persistence layer adds only a
    parquet round-trip of exact integers.

    `codes_filter` (an optional Column predicate over the codes
    schema) is FILTERED SEARCH — the attribute-constrained ANN every
    production vector store exposes: the predicate restricts
    candidates BEFORE ADC scoring and ranking (pre-filter strategy),
    so the top-k is taken over the allowed subset rather than
    post-filtering an unconstrained top-k down to fewer than k
    survivors. The filter lands on the parquet codes scan, composing
    with the static cell pruning."""
    meta = index["meta"]
    codes = index["codes"]
    if codes_filter is not None:
        codes = codes.filter(codes_filter)
    return _ivfpq_probe(
        codes, index["cells"], index["codebooks"], queries,
        k, n_probe, meta["m"], meta["sub"], meta["kc"],
        meta["id_col"], q_id_col, q_vec_col, prune_partitions=True)


def ivfpq_refine_topk(index: dict, emb: DataFrame, queries: DataFrame,
                      k: int = 5, r: int = 15, n_probe: int = 3,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      q_id_col: str = "q_id",
                      q_vec_col: str = "q_emb") -> DataFrame:
    """Two-stage retrieval over a LOADED IVF-PQ index — the FAISS
    IndexRefine shape every production ANN deployment ends up running:
    the compressed index nominates r >> k candidates cheaply (ADC over
    the probed cells, never touching raw vectors), then ONLY those
    candidates are re-scored with the exact integer dot product
    against the full-precision (int8) corpus and the top-k is taken on
    the exact score. This recovers the recall the PQ approximation
    loses while reading just |Q| x r raw vectors instead of the whole
    corpus.

    Scale shape: the candidate stage is sim19's statically-pruned
    probe; the (q_id, id) candidate table is |Q| x r rows and is
    BROADCAST against the corpus scan, so the refine stage is one
    BroadcastHashJoin that prunes the 100 TB side down to candidate
    rows before any scoring — no second full scan is ever shuffled.
    Both stages are exact integer arithmetic end-to-end, so the whole
    two-stage result stays value-hash checkable."""
    meta = index["meta"]
    cand = _ivfpq_probe(
        index["codes"], index["cells"], index["codebooks"], queries,
        r, n_probe, meta["m"], meta["sub"], meta["kc"],
        meta["id_col"], q_id_col, q_vec_col, prune_partitions=True,
    ).select(q_id_col, F.col(meta["id_col"]).alias(id_col))
    emb_q = emb.select(
        F.col(id_col), int8_quantize(F.col(vec_col)).alias("_qv"))
    qq = queries.select(
        F.col(q_id_col), int8_quantize(F.col(q_vec_col)).alias("_qq"))
    scored = (
        emb_q.join(F.broadcast(cand), id_col)
        .join(F.broadcast(qq), q_id_col)
        .select(q_id_col, id_col,
                idot(F.col("_qq"), F.col("_qv")).alias("ip_exact"))
    )
    w = Window.partitionBy(q_id_col).orderBy(
        F.desc("ip_exact"), F.col(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select(q_id_col, id_col, "ip_exact", "rk")
    )


def int_pq_codebooks(data: DataFrame, m: int, sub: int, kc: int = 4,
                     iters: int = 2, id_col: str = "vec_id",
                     vec_col: str = "_res") -> list[list[list[int]]]:
    """Train ALL m per-subspace integer codebooks in one pass per
    Lloyd iteration — bit-identical to m separate int_ivf_centroids
    runs (same lowest-id seeds, same exact-int L2 argmin with
    lowest-cid ties, same truncating-div update, same keep-on-empty
    rule) but 1 job per phase instead of m: sub-vectors explode to
    (vec, s) rows once, centroids live in a small joined table (m*kc
    rows) instead of m*kc inline literal expressions, and the
    per-(s,cid,pos) means collect m*kc*sub bounded rows. This is what
    keeps IVF-PQ training latency flat as m grows."""
    spark = data.sparkSession
    slices = F.array(*[
        F.struct(F.lit(s).alias("s"),
                 F.slice(F.col(vec_col), s * sub + 1, sub).alias("sv"))
        for s in range(m)])
    sliced = (data.select(F.col(id_col), F.explode(slices).alias("_x"))
              .select(F.col(id_col), F.col("_x.s").alias("s"),
                      F.col("_x.sv").alias("sv"))
              .localCheckpoint(eager=False))

    sw = Window.partitionBy("s").orderBy(id_col)
    seed_rows = (sliced.withColumn("_rn", F.row_number().over(sw))
                 .filter(F.col("_rn") <= kc)
                 .select("s", (F.col("_rn") - 1).alias("cid"), "sv")
                 .collect())
    books: list[list[list[int]]] = [[None] * kc for _ in range(m)]
    for r in seed_rows:
        books[r.s][r.cid] = [int(x) for x in r.sv]

    def cent_df(bks):
        rows = [(s, j, bks[s][j]) for s in range(m) for j in range(kc)]
        return F.broadcast(spark.createDataFrame(
            rows, "s int, cid int, cent array<bigint>"))

    d2 = F.aggregate(
        F.zip_with(F.col("sv"), F.col("cent"),
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    aw = Window.partitionBy(id_col, "s").orderBy("_d2", "cid")
    for _ in range(iters):
        assigned = (
            sliced.join(cent_df(books), "s")
            .withColumn("_d2", d2)
            .withColumn("_rn", F.row_number().over(aw))
            .filter(F.col("_rn") == 1)
        )
        rows = (
            assigned.select("s", "cid",
                            F.posexplode("sv").alias("pos", "val"))
            .groupBy("s", "cid", "pos")
            .agg(F.expr("sum(val) div count(*)").alias("mval"))
            .collect()
        )
        upd: dict[tuple[int, int], dict[int, int]] = {}
        for r in rows:
            upd.setdefault((r.s, r.cid), {})[r.pos] = int(r.mval)
        for (s, cid), means in upd.items():
            books[s][cid] = [means[p] for p in sorted(means)]
    return books
