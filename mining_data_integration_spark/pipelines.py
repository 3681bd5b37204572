"""End-to-end training-data pipeline compositions (SURVEY §7.4).

`clean_corpus` is the canonical 100-TB pre-training data flow:

    documents
      -> language filter        (text.lang_id heuristic)
      -> quality filter         (text.quality_score thresholds)
      -> exact dedup            (content-digest groupBy, keep lowest id)
      -> near-dup removal       (MinHash LSH candidates; drop the
                                 higher id of every candidate pair)
      -> cleaned corpus + per-stage survival counts

Shuffle budget: one groupBy on the content digest (uniform), one LSH
band self-join (bounded buckets after stop-shingle handling), one
left-anti join against the drop list (broadcast — the drop list is
pairs of near-dups, tiny relative to the corpus). The language/quality
stages are pure map-side column math fused into the first scan.

Every stage is md5-based column arithmetic, so the full pipeline is
DuckDB-oracle-checkable end to end (queries/dedup.py dp1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .operators import dedup as D
from .operators import text as T


def clean_corpus(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id",
                 min_tokens: int = 10, min_quality: float = 0.3,
                 lang: str | None = "en",
                 jaccard_bands: int = 4, num_hashes: int = 16,
                 transitive: bool = False) -> DataFrame:
    """Returns the surviving documents (id + text) after the four
    cleaning stages. Deterministic keep-rule everywhere: the lowest
    doc id of a duplicate group survives.

    transitive=False drops the higher id of every candidate PAIR —
    cheap, but it can drop both B and C for pairs (A,C),(B,C) even
    though B only resembles C. transitive=True collapses candidate
    pairs into connected components (operators/components.py) and
    keeps exactly one representative per near-dup CLUSTER — the
    semantically right rule for a training corpus."""
    q = T.quality_score(docs, text_col, id_col).select(
        id_col, "n_tokens", "quality")
    l = T.lang_id(docs, text_col, id_col).select(id_col, "predicted_lang")
    kept = (
        docs.join(q, id_col).join(l, id_col)
        .filter(F.col("n_tokens") >= min_tokens)
        .filter(F.col("quality") >= min_quality)
    )
    if lang is not None:
        kept = kept.filter(F.col("predicted_lang") == lang)
    kept = kept.select(id_col, text_col)

    # exact dedup: keep the lowest id per content digest
    digests = kept.select(
        F.col(id_col),
        F.md5(D.normalize_text(F.col(text_col))).alias("_digest"),
    )
    keepers = digests.groupBy("_digest").agg(F.min(id_col).alias(id_col))
    kept = kept.join(keepers.select(id_col), id_col)

    # near-dup removal: LSH candidates among survivors
    cands = D.minhash_lsh_candidates(
        kept, text_col, id_col, num_hashes=num_hashes, bands=jaccard_bands)
    if transitive:
        # star contraction: O(log n) rounds even when near-dup
        # clusters chain arbitrarily deep across crawl snapshots
        from .operators.components import connected_components_star

        comp = connected_components_star(cands, "id1", "id2") \
            .withColumnRenamed("node", id_col)
        return (
            kept.join(comp, id_col, "left")
            .filter(F.col("component").isNull()
                    | (F.col("component") == F.col(id_col)))
            .select(id_col, text_col)
            .orderBy(id_col)
        )
    drops = cands.select(F.col("id2").alias(id_col)).distinct()
    return kept.join(drops, id_col, "left_anti").orderBy(id_col)


def stratified_sample(df: DataFrame, strata_col: str,
                      rates: dict[str, float], key_col: str = "doc_id",
                      default_rate: float = 1.0,
                      resolution: int = 10_000) -> DataFrame:
    """Deterministic per-stratum Bernoulli sampling — the class-
    rebalancing step of a training-data pipeline (downsample the
    dominant language/source, keep the rest). A row survives iff
    bucket(key, stratum) < rate[stratum] * resolution, with bucket =
    first 4 md5 hex digits of "key:stratum" mod resolution.

    No PRNG state: the decision is a pure function of (key, stratum),
    so it is stable under reshuffles/reruns/engines (unlike
    df.sampleBy, whose per-partition RNG draw changes with the
    partitioning) — which also makes it oracle-checkable. Map-side
    only: no shuffle at any scale."""
    # coalesce the stratum: a NULL stratum would null the md5 key and
    # silently DROP the row instead of sampling it at the default rate
    key = F.concat(F.col(key_col).cast("string"), F.lit(":"),
                   F.coalesce(F.col(strata_col).cast("string"), F.lit("")))
    bucket = F.pmod(
        F.conv(F.substring(F.md5(key), 1, 4), 16, 10).cast("long"),
        F.lit(resolution))
    # integer thresholds computed driver-side: no float cast whose
    # rounding could differ between engines
    thr = F.lit(int(default_rate * resolution))
    for stratum, r in rates.items():
        thr = F.when(F.col(strata_col) == stratum,
                     F.lit(int(r * resolution))).otherwise(thr)
    return (
        df.withColumn("_bucket", bucket)
        .filter(F.col("_bucket") < thr)
        .withColumnRenamed("_bucket", "sample_bucket")
    )


def decontaminate(train: DataFrame, test: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  n: int = 5,
                  prefilter_mod: int | None = None) -> DataFrame:
    """Benchmark decontamination: per training document, count the
    distinct word n-gram shingles it shares with the evaluation set,
    and flag it contaminated if any overlap exists (the n-gram-overlap
    rule of GPT-3 appx C / PaLM — drop or audit training docs that can
    leak eval answers). Returns every train doc: (doc_id, n_shared,
    contaminated).

    Scale shape: both sides explode to distinct (doc, shingle); the
    overlap is ONE equi shuffle join on the shingle (uniformly
    distributed text keys), then a rollup keyed by doc id. No
    broadcast assumption on the eval side — at 100 TB the eval set's
    shingle table can itself be huge.

    prefilter_mod enables the bounded-size membership prefilter: the
    distinct values of xxhash64(shingle) % prefilter_mod on the eval
    side are collected (≤ prefilter_mod values regardless of data
    size — the driver cost is capped, unlike collecting shingles) and
    broadcast as an isin filter over the train shingles before the
    shuffle. False positives are removed by the exact join that
    follows and false negatives are impossible, so results are
    IDENTICAL with or without it; it only cuts the shuffled volume —
    the same role a bloom filter plays in runtime row-level filtering."""
    from .operators.dedup import shingles

    tr = shingles(train, text_col, id_col, n)
    te = shingles(test, text_col, id_col, n).select("shingle").distinct()
    if prefilter_mod:
        buckets = [
            r[0] for r in
            te.select(F.pmod(F.xxhash64("shingle"), F.lit(prefilter_mod))
                      .alias("b")).distinct().collect()
        ]
        tr = tr.filter(
            F.pmod(F.xxhash64("shingle"), F.lit(prefilter_mod))
            .isin(buckets))
    hits = (
        tr.join(te, "shingle")
        .groupBy("id")
        .agg(F.count("*").alias("n_shared"))  # tr shingles are distinct/doc
    )
    return (
        train.select(F.col(id_col))
        .join(hits.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("long")
            .alias("n_shared"),
            (F.coalesce(F.col("n_shared"), F.lit(0)) > 0)
            .alias("contaminated"),
        )
    )


def temperature_sample(df: DataFrame, strata_col: str,
                       alpha: float = 0.5, coef: int = 4,
                       key_col: str = "doc_id") -> DataFrame:
    """Temperature-flattened corpus sampling: cap each stratum
    (language / source) at floor(coef * n_s^alpha) documents, keeping
    the deterministic md5-ordered prefix within the stratum — the
    multilingual rebalancing rule (alpha < 1 flattens the head
    stratum's dominance, cf. the T=0.3 sampling of mBERT/XLM-R /
    sqrt-smoothing of multilingual corpora).

    Determinism across engines: n_s^0.5 is one correctly-rounded IEEE
    sqrt and coef*sqrt one multiply — no cross-stratum float sum whose
    accumulation order could differ. The per-stratum rank is a window
    keyed by the stratum (one shuffle); the md5 order key makes the
    kept prefix a uniform random-but-reproducible sample."""
    if alpha != 0.5:
        raise ValueError("alpha must be 0.5: pow() beyond sqrt is not "
                         "guaranteed bit-identical across engines")
    sizes = df.groupBy(strata_col).agg(F.count("*").alias("_n"))
    cap = F.floor(F.lit(float(coef)) * F.sqrt(F.col("_n").cast("double")))
    order_key = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(":"),
                               F.col(strata_col).cast("string")))
    w = Window.partitionBy(strata_col).orderBy(order_key, F.col(key_col))
    return (
        df.join(sizes.withColumn("_cap", cap), strata_col)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= F.col("_cap"))
        .select(key_col, strata_col,
                F.col("_n").cast("long").alias("stratum_size"),
                F.col("_cap").cast("long").alias("stratum_cap"),
                F.col("_rk").cast("long").alias("sample_rank"))
    )


def global_shuffle(df: DataFrame, seed: str = "shuf-0",
                   n_shards: int = 16, key_col: str = "doc_id") -> DataFrame:
    """Deterministic global training-order shuffle: rank every document
    by md5(seed || key) — a reproducible pseudo-random permutation —
    and deal ranks into n_shards round-robin shards (shard = rank mod
    n_shards, position = rank div n_shards). The epoch-shuffle step of
    a training-data pipeline; changing the seed re-deals the corpus.

    The global rank uses the two-phase range-sharded row_number
    (operators/scalable.py) — no single-partition window at any corpus
    size; the md5 key space is uniform so range shards are balanced."""
    from .operators.scalable import global_row_number

    keyed = df.withColumn(
        "_shuf", F.md5(F.concat(F.lit(seed + ":"),
                                F.col(key_col).cast("string"))))
    ranked = global_row_number(
        keyed, [F.col("_shuf"), F.col(key_col)], rn_col="_rank")
    rank0 = F.col("_rank") - 1
    return ranked.select(
        key_col,
        F.col("_shuf").alias("shuffle_key"),
        rank0.cast("long").alias("rank"),
        F.pmod(rank0, F.lit(n_shards)).cast("long").alias("shard"),
        F.expr(f"(_rank - 1) div {n_shards}").cast("long")
        .alias("shard_pos"),
    )


def pack_sequences(df: DataFrame, budget: int, token_count: Column,
                   order_by: list[Column],
                   id_cols: list[str]) -> DataFrame:
    """Assign documents to fixed-token-budget training packs: documents
    in deterministic order, each assigned to the pack where its first
    token lands (pack_id = starting_offset // budget). The LLM-batch
    sharding step: downstream workers read one pack's documents and
    tokenize exactly `budget`-ish tokens.

    The global running offset uses the two-phase range-sharded cumsum
    (operators/scalable.py) — no single-partition window, so the
    assignment scales to the full corpus."""
    from .operators.scalable import global_cumsum

    with_cum = global_cumsum(
        df.withColumn("_nt", token_count.cast("long")),
        order_by, F.col("_nt"), out_col="_cum")
    # integral div/mod, not double division: a corpus-wide token offset
    # can exceed 2^53, where double arithmetic would misassign packs
    start = with_cum.withColumn("_start", F.col("_cum") - F.col("_nt"))
    return start.select(
        *id_cols,
        F.col("_nt").alias("n_tokens"),
        F.expr(f"_start div {budget}").alias("pack_id"),
        F.pmod("_start", F.lit(budget)).cast("long").alias("pack_offset"),
    )


def length_bucket_batches(df: DataFrame, batch_size: int = 8,
                          token_count: Column | None = None,
                          key_col: str = "doc_id") -> DataFrame:
    """Length-bucketed batch assignment: group documents into
    power-of-2 token-length buckets (bucket = floor(log2(n_tokens)),
    exact via bit length — no float log) and deal each bucket's docs
    into fixed-size batches in md5-pseudo-random order. The dynamic-
    batching step of a training pipeline: batches hold like-length
    sequences, so padding waste is bounded by 2x within a batch.

    Scale shape: a handful of buckets would make PARTITION BY bucket
    a giant-partition window, so the rank is computed as ONE composite
    global_row_number over (bucket, md5, key) — the two-phase range-
    sharded engine — then rebased per bucket by subtracting the
    bucket's min rank (a broadcast O(buckets) table). No
    single-partition window over the data at any corpus size."""
    from .operators.scalable import global_row_number

    nt = (token_count if token_count is not None
          else F.size(T.tokens(F.col("text")))).cast("long")
    keyed = df.select(
        F.col(key_col),
        nt.alias("n_tokens"),
        (F.length(F.bin(nt)) - 1).cast("long").alias("bucket"),
        F.md5(F.col(key_col).cast("string")).alias("_h"),
    )
    ranked = global_row_number(
        keyed,
        [F.asc("bucket"), F.asc("_h"), F.asc(key_col)],
        rn_col="_grank")
    base = ranked.groupBy("bucket").agg(F.min("_grank").alias("_b0"))
    rib = F.col("_grank") - F.col("_b0")  # 0-based rank in bucket
    return (
        ranked.join(F.broadcast(base), "bucket")
        .select(
            key_col, "n_tokens", "bucket",
            F.expr(f"(_grank - _b0) div {batch_size}").cast("long")
            .alias("batch_id"),
            F.pmod(rib, F.lit(batch_size)).cast("long")
            .alias("pos_in_batch"),
        )
    )


def chunk_documents(docs: DataFrame, max_chars: int = 512,
                    overlap: int = 64, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Sliding-window document chunking — the pre-tokenization splitter
    (long doc -> overlapping max_chars windows; RAG indexers and
    fixed-context tokenizer feeds both run this shape). Chunk i covers
    [i*stride, i*stride + max_chars) of the normalized text with
    stride = max_chars - overlap; every char position is covered and
    consecutive chunks share `overlap` chars of context.

    Pure map-side explode (no shuffle at any corpus size): fanout is
    ceil(len/stride) rows per doc — the same O(total chars) budget the
    downstream tokenizer pays anyway. Exact integer arithmetic only
    (the dd8 lesson: cross-engine / vs // casts diverge; use div).
    Returns (doc_id, chunk_idx, chunk_start, chunk_len, chunk_hash) —
    the hash stands in for the chunk text to keep rows narrow; swap
    the projection to carry text in a real feed."""
    from .operators.dedup import normalize_text

    stride = max_chars - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than max_chars")
    base = docs.select(
        F.col(id_col), normalize_text(F.col(text_col)).alias("_norm")
    ).filter(F.length("_norm") > 0)
    return base.select(
        id_col,
        F.explode(F.expr(
            f"transform(sequence(0, (length(_norm) - 1) div {stride}),"
            f" i -> struct("
            f"   cast(i as long) as chunk_idx,"
            f"   cast(i * {stride} as long) as chunk_start,"
            f"   cast(least({max_chars},"
            f"        length(_norm) - i * {stride}) as long) as chunk_len,"
            f"   md5(substr(_norm, i * {stride} + 1, {max_chars}))"
            f"     as chunk_hash))"
        )).alias("c"),
    ).select(id_col, "c.chunk_idx", "c.chunk_start", "c.chunk_len",
             "c.chunk_hash")


def fuzzy_decontaminate(docs: DataFrame, is_eval,
                        text_col: str = "text", id_col: str = "doc_id",
                        n: int = 3, num_hashes: int = 16, bands: int = 4,
                        thr_num: int = 1, thr_den: int = 2) -> DataFrame:
    """Fuzzy train-vs-eval decontamination: MinHash-band candidate pairs
    BETWEEN the two corpus splits, verified by exact n-gram Jaccard.

    `decontaminate` (dp6) implements the exact n-gram-overlap rule;
    this is the fuzzy complement (the near-duplicate contamination
    screens of GPT-3 appx C / Lee et al. 2021): an eval document that
    was lightly edited before landing in the training set shares no
    long exact run but still collides in MinHash band space. Returns
    every cross-split candidate pair with its exact overlap and a
    contaminated flag at Jaccard >= thr_num/thr_den — the flag test is
    cross-multiplied (thr_den*common >= thr_num*union) so the verdict
    is exact-integer, engine- and order-independent.

    Scale shape: signatures cost one md5 per shingle; candidates come
    from a band-bucket equi join between the (thin) stacked band tables
    — never train x eval; verification explodes only candidate pairs
    against their own shingle sets (two id-keyed joins). `is_eval` is a
    Column predicate so the split never materializes twice.
    """
    from .operators.dedup import materialize, minhash_signatures, shingles

    sh = materialize(shingles(docs, text_col, id_col, n))
    sigs = minhash_signatures(sh, num_hashes)
    rows = num_hashes // bands
    band_cols = [
        F.md5(F.concat_ws(
            "|", *[F.col(f"mh{b * rows + r}") for r in range(rows)]))
        .alias(f"band{b}")
        for b in range(bands)
    ]
    stacked = sigs.select("id", *band_cols).select(
        "id",
        F.explode(F.array(*[
            F.concat_ws(":", F.lit(str(b)), F.col(f"band{b}"))
            for b in range(bands)
        ])).alias("bucket"),
    )
    side = docs.select(F.col(id_col).alias("id"), is_eval.alias("_ev"))
    st = stacked.join(side, "id")
    train = st.filter(~F.col("_ev")).select(F.col("id").alias("train_id"),
                                            "bucket")
    evl = st.filter(F.col("_ev")).select(F.col("id").alias("eval_id"),
                                         "bucket")
    cand = train.join(evl, "bucket").select("train_id", "eval_id").distinct()
    sz = sh.groupBy("id").agg(F.count("*").alias("sz"))
    com = (
        cand
        .join(sh.select(F.col("id").alias("train_id"), "shingle"), "train_id")
        .join(sh.select(F.col("id").alias("eval_id"), "shingle"),
              ["eval_id", "shingle"])
        .groupBy("train_id", "eval_id").agg(F.count("*").alias("common"))
    )
    out = (
        cand.join(com, ["train_id", "eval_id"], "left")
        .join(sz.select(F.col("id").alias("train_id"),
                        F.col("sz").alias("sz_t")), "train_id")
        .join(sz.select(F.col("id").alias("eval_id"),
                        F.col("sz").alias("sz_e")), "eval_id")
        .withColumn("common", F.coalesce(F.col("common"),
                                         F.lit(0).cast("long")))
        .withColumn("union_sz", F.col("sz_t") + F.col("sz_e")
                    - F.col("common"))
    )
    return out.select(
        "train_id", "eval_id", "common", "union_sz",
        F.when(F.lit(thr_den) * F.col("common")
               >= F.lit(thr_num) * F.col("union_sz"), F.lit(1))
        .otherwise(F.lit(0)).cast("int").alias("contaminated"),
    )


def token_budget_mix(df: DataFrame, strata_col: str, token_count: Column,
                     budget_num: int, budget_den: int,
                     key_col: str = "doc_id") -> DataFrame:
    """Token-budget mixture sampling: allocate a global token budget of
    (budget_num/budget_den) x corpus tokens across strata proportional
    to sqrt(stratum token mass) — the temperature-style source
    reweighting used to compose pre-training mixtures (upweights tail
    sources vs proportional sampling) — then keep each stratum's
    md5-priority document prefix while the running token count fits
    its allocation.

    Exactness at any scale: the only float op is one correctly-rounded
    IEEE sqrt per stratum (floor() of it is a bit-stable integer
    weight, the dp7 rule); everything else is int64. The per-stratum
    allocation (B*w) div tw is computed as
    (B div tw)*w + ((B mod tw)*w) div tw — ALGEBRAICALLY IDENTICAL
    (write B = q*tw + r) but never forms the B*w product, which at
    10^14 corpus tokens x 10^6-scale weights would overflow int64.

    Scale: one groupBy(strata) for masses (O(strata) rows), one
    broadcast of the allocation table, one window partitioned by
    stratum. A stratum's documents shuffle to one partition only for
    the prefix scan — for a head stratum holding ~half the corpus, the
    scale path swaps the window for the two-phase range-sharded cumsum
    (operators/scalable.global_cumsum) per stratum."""
    base = (
        df.withColumn("_nt", token_count.cast("long"))
        .select(key_col, strata_col, "_nt")
    )
    mass = base.groupBy(strata_col).agg(F.sum("_nt").alias("_mass"))
    wts = mass.withColumn(
        "_w", F.floor(F.sqrt(F.col("_mass").cast("double"))).cast("long"))
    tot = wts.agg(F.sum("_mass").alias("_tm"), F.sum("_w").alias("_tw"))
    alloc = (
        wts.crossJoin(F.broadcast(tot))
        .withColumn("_b", F.expr(f"(_tm * {budget_num}) div {budget_den}"))
        .withColumn(
            "_budget",
            F.expr("(_b div _tw) * _w + ((_b % _tw) * _w) div _tw"))
        .select(strata_col, "_w", "_budget")
    )
    order_key = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(":"),
                               F.col(strata_col).cast("string")))
    w = (Window.partitionBy(strata_col)
         .orderBy(order_key, F.col(key_col))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        base.join(F.broadcast(alloc), strata_col)
        .withColumn("_cum", F.sum("_nt").over(w))
        .filter(F.col("_cum") <= F.col("_budget"))
        .select(
            key_col, strata_col,
            F.col("_nt").alias("n_tokens"),
            F.col("_cum").cast("long").alias("cum_tokens"),
            F.col("_budget").alias("tok_budget"),
        )
    )


def dsir_importance(docs: DataFrame, target: Column,
                    text_col: str = "text", id_col: str = "doc_id",
                    milli: int = 1000) -> DataFrame:
    """DSIR-style importance weighting (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling" — public
    method): score every raw document by how much its unigram profile
    resembles the TARGET subset's distribution relative to the raw
    corpus, the classifier-free data-selection signal used to compose
    pre-training mixtures from a small in-domain seed.

    Integer-exact variant so the DuckDB oracle replays it bit-for-bit:
    per-token weight is the add-one-smoothed count ratio in milli units

        w(tok) = (milli * (cnt_target(tok) + 1)) DIV (cnt_raw(tok) + 1)

    (the constant total-count normalizer of the true likelihood ratio
    is dropped — it rescales every weight equally, so top-k selection
    is unchanged), and a document's score is the weight sum over its
    token occurrences; `per_token_milli = score DIV n_tokens` is the
    length-debiased selection key.

    Scale: tokenization is map-side; counting is one
    groupBy(doc, tok) (pre-aggregation so the weight join moves
    distinct pairs, not occurrences) + one groupBy(tok) each for the
    raw/target vocabularies; the weight join shuffles on tok —
    vocabulary-keyed, with AQE handling stopword skew — and the final
    per-doc sum is a uniform doc_id groupBy. No collect, no windows,
    no data-sized broadcast."""
    toks = docs.select(
        F.col(id_col),
        F.explode(T.tokens(F.col(text_col))).alias("tok"),
    ).filter(F.col("tok") != "")
    per_doc = toks.groupBy(id_col, "tok").agg(F.count("*").alias("c"))
    raw_cnt = per_doc.groupBy("tok").agg(F.sum("c").alias("cnt_r"))
    tgt_ids = docs.filter(target).select(id_col)
    tgt_cnt = (per_doc.join(tgt_ids, id_col)
               .groupBy("tok").agg(F.sum("c").alias("cnt_t")))
    w = (raw_cnt.join(tgt_cnt, "tok", "left")
         .select("tok", F.expr(
             f"({milli} * (coalesce(cnt_t, 0L) + 1)) DIV (cnt_r + 1)"
         ).alias("wm")))
    return (per_doc.join(w, "tok")
            .groupBy(id_col)
            .agg(F.sum(F.col("c") * F.col("wm")).alias("score_milli"),
                 F.sum("c").alias("n_tokens"))
            .select(id_col,
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    F.col("score_milli").cast("long").alias("score_milli"),
                    F.expr("score_milli DIV n_tokens")
                    .alias("per_token_milli")))
