"""Unit tests for the extension operators (dedup, similarity,
sessionize/asof, multimodal plumbing) on hand-built micro-fixtures."""

from __future__ import annotations

import pytest


class TestIvf:
    def test_recall_vs_brute_force(self, spark):
        from pyspark.sql import functions as F
        from mining_data_integration_spark.io import read_table
        from mining_data_integration_spark.operators import similarity as S

        emb = read_table(spark, "/root/testdata/sf0.001", "embeddings") \
            .repartition(8, "vec_id")
        q = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
        exact = S.brute_force_topk(emb, q, k=5)
        approx = S.ivf_topk(emb, q, k=5, n_centroids=8, n_probe=3)
        ex = {(r.q_id, r.vec_id) for r in exact.collect()}
        ap = {(r.q_id, r.vec_id) for r in approx.collect()}
        recall = len(ex & ap) / len(ex)
        # 3-of-8 cells probed on near-orthogonal synthetic vectors:
        # recall is data-dependent; pin a floor so regressions surface
        assert recall >= 0.4, f"IVF recall collapsed: {recall}"
        # every query's own vector must be its top hit (cos=1 in-probe)
        own = {(r.q_id, r.vec_id) for r in approx.collect() if r.rk == 1}
        assert own == {(i, i) for i in range(5)}

    def test_int_ivf_recall_and_determinism(self, spark):
        """sim11's integer-k-means IVF: recall floor vs brute force,
        own-vector-is-top-hit, and bit-identical reruns under a
        different partitioning (the property that makes its raw top-k
        hash-checkable where float-k-means sim4 is gated through
        verdict columns instead)."""
        from pyspark.sql import functions as F
        from mining_data_integration_spark.io import read_table
        from mining_data_integration_spark.operators import similarity as S

        emb = read_table(spark, "/root/testdata/sf0.001", "embeddings") \
            .repartition(8, "vec_id")
        q = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
        exact = S.brute_force_topk(emb, q, k=5)
        approx = S.int_ivf_topk(emb, q, k=5, n_centroids=4, n_probe=3)
        ex = {(r.q_id, r.vec_id) for r in exact.collect()}
        got = approx.collect()
        ap = {(r.q_id, r.vec_id) for r in got}
        recall = len(ex & ap) / len(ex)
        assert recall >= 0.4, f"int-IVF recall collapsed: {recall}"
        own = {(r.q_id, r.vec_id) for r in got if r.rk == 1}
        assert own == {(i, i) for i in range(5)}
        again = S.int_ivf_topk(emb.repartition(3, "vec_id"), q, k=5,
                               n_centroids=4, n_probe=3).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, again))

    def test_int_ivf_range_search_matches_unbounded_topk(self, spark):
        """sim27's radius search must equal 'top-k with k=infinity,
        then threshold' over the SAME probe parameters (the rank
        window changes presentation, never membership), include every
        query's own vector (cos=1 >= tau), and rerun bit-identical
        under a different partitioning (the sim11 property that makes
        the raw hit set hash-checkable)."""
        from pyspark.sql import functions as F
        from mining_data_integration_spark.io import read_table
        from mining_data_integration_spark.operators import similarity as S

        emb = read_table(spark, "/root/testdata/sf0.001", "embeddings") \
            .repartition(8, "vec_id")
        q = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
        tau = 0.12
        got = S.int_ivf_range_search(emb, q, tau=tau,
                                     n_centroids=4, n_probe=2).collect()
        rng = {(r.q_id, r.vec_id, r.cos_sim_q8) for r in got}
        big = S.int_ivf_topk(emb, q, k=1_000_000,
                             n_centroids=4, n_probe=2).collect()
        want = {(r.q_id, r.vec_id, r.cos_sim_q8)
                for r in big if r.cos_sim_q8 >= tau}
        assert rng == want and rng
        assert {(i, i) for i in range(5)} <= {(a, b) for a, b, _ in rng}
        again = S.int_ivf_range_search(emb.repartition(3, "vec_id"), q,
                                       tau=tau, n_centroids=4,
                                       n_probe=2).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, again))

from pyspark.sql import functions as F

from mining_data_integration_spark import spans
from mining_data_integration_spark.operators import dedup as D
from mining_data_integration_spark.operators import similarity as S
from mining_data_integration_spark.operators import text as TX
from mining_data_integration_spark.operators.multimodal import (
    extract_features, make_fake_media,
)
from mining_data_integration_spark.operators.sessionize import (
    asof_join, session_stats, sessionize,
)


def docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_shingles_short_doc_guard(spark):
    # docs shorter than n words must yield zero shingles, not a
    # descending-sequence explosion
    df = docs_df(spark, [(1, "one two"), (2, "a b c d")])
    sh = D.shingles(df, n=3).collect()
    ids = [r.id for r in sh]
    assert 1 not in ids
    assert sorted(r.shingle for r in sh if r.id == 2) == ["a b c", "b c d"]


def test_exact_dedup_groups_identical_texts(spark):
    df = docs_df(spark, [(1, "Hello  World"), (2, "hello world"), (3, "x y")])
    out = {r.keep_id: r.n_dups for r in D.exact_dedup(df).collect()}
    assert out == {1: 2, 3: 1}  # normalization folds case/whitespace


def test_ngram_jaccard_finds_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog tonight"
    near = "the quick brown fox jumps over the lazy cat tonight"
    far = "completely different words appear in this sentence here now"
    df = docs_df(spark, [(1, base), (2, near), (3, far)])
    pairs = D.ngram_jaccard_pairs(df, n=3, threshold=0.3).collect()
    assert [(p.id1, p.id2) for p in pairs] == [(1, 2)]
    assert 0.3 <= pairs[0].jaccard < 1.0


def test_minhash_lsh_candidates_superset_of_high_jaccard(spark):
    # long doc, one word changed -> Jaccard ≈ 0.94: the 4-band/4-row
    # S-curve catches it with near-certainty, and md5 determinism makes
    # the outcome reproducible
    words = [f"w{i}" for i in range(100)]
    base = " ".join(words)
    near = " ".join(words[:50] + ["CHANGED"] + words[51:])
    df = docs_df(spark, [(1, base), (2, near), (3, "q r s t u v w x y z")])
    cands = {(r.id1, r.id2) for r in D.minhash_lsh_candidates(df).collect()}
    assert (1, 2) in cands
    assert (1, 3) not in cands


def test_simhash_hamming_small_for_near_dups(spark):
    # one changed word in 100 perturbs 2 of 99 bigram votes -> only a
    # few simhash bits flip, so one 16-bit half stays identical
    words = [f"tok{i}" for i in range(100)]
    base = " ".join(words)
    near = " ".join(words[:70] + ["CHANGED"] + words[71:])
    df = docs_df(spark, [(1, base), (2, near)])
    out = D.simhash_near_dups(df, max_hamming=16).collect()
    assert len(out) == 1 and out[0].hamming <= 16


def test_brute_force_topk_self_is_best(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    top = S.brute_force_topk(emb, q, k=3).collect()
    assert top[0].vec_id == 7  # cosine(v, v) == 1
    assert abs(top[0].cos_sim - 1.0) < 1e-12


def test_brute_force_large_q_routes_off_broadcast(spark):
    """A query set above the broadcast threshold must take the
    shard-replicated shuffle join (no BroadcastExchange anywhere in
    the plan) and return bit-identical rows to the broadcast route."""
    from mining_data_integration_spark import plans

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").limit(60)
    q = emb.limit(20).select(F.col("vec_id").alias("q_id"),
                             F.col("embedding").alias("q_emb"))
    sharded = S.brute_force_topk(emb, q, k=3, max_broadcast_q=5)
    assert "BroadcastExchange" not in plans.formatted_plan(sharded)
    bcast = S.brute_force_topk(emb, q, k=3)
    key = ["q_id", "vec_id", "rk"]
    assert sorted(map(tuple, sharded.select(*key).collect())) == \
        sorted(map(tuple, bcast.select(*key).collect()))


def test_ann_lsh_query_bucket_contains_self(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    top = S.ann_lsh_topk(emb, q, k=3, num_planes=4).collect()
    assert top and top[0].vec_id == 3


def test_sessionize_gap_splits(spark):
    rows = [
        (1, 100, "2024-01-01 00:00:00"),
        (2, 100, "2024-01-01 00:10:00"),
        (3, 100, "2024-01-01 01:00:00"),  # 50-min gap -> new session
        (4, 200, "2024-01-01 00:00:00"),
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts string") \
        .withColumn("ts", F.to_timestamp("ts"))
    s = {(r.user_id, r.event_id): r.session_idx
         for r in sessionize(ev, gap_minutes=30).collect()}
    assert s[(100, 1)] == 1 and s[(100, 2)] == 1 and s[(100, 3)] == 2
    assert s[(200, 4)] == 1
    stats = {(r.user_id, r.session_idx): r.n_events
             for r in session_stats(ev, gap_minutes=30).collect()}
    assert stats == {(100, 1): 2, (100, 2): 1, (200, 1): 1}


def test_asof_join_matches_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [(100, 1, 50, 9.9), (100, 2, 10, 1.1), (200, 3, 70, 5.0)],
        "user_id long, event_id long, ts_us long, value double",
    )
    right = spark.createDataFrame(
        [(100, 20, 11, 0.1), (100, 21, 50, 0.2), (200, 22, 80, 0.3)],
        "user_id long, view_event_id long, r_ts_us long, view_value double",
    )
    out = {r.event_id: (r.asof_view_event_id, r.asof_view_value)
           for r in asof_join(left, right, "user_id", "ts_us", "r_ts_us",
                              ["view_event_id", "view_value"]).collect()}
    assert out[1] == (21, 0.2)   # exact-ts match counts (<=)
    assert 2 not in out          # no view at or before ts 10
    assert 3 not in out          # user 200's view is after the purchase


def test_multimodal_feature_plumbing(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    media = make_fake_media(docs.limit(20), "doc_id", "text")
    feats = extract_features(media, min_width=0)
    rows = feats.collect()
    assert len(rows) == 20
    assert all(len(r.feature) == 16 for r in rows)
    assert all(0.0 <= v <= 1.0 for r in rows for v in r.feature)
    # deterministic: same payload -> same feature
    again = extract_features(media, min_width=0).collect()
    assert {r.media_id: r.feature for r in rows} == \
           {r.media_id: r.feature for r in again}


def test_ppm_decoder_parses_real_images():
    """From-scratch PPM parser vs hand-built payloads: comment-laden
    headers, multi-whitespace, and each malformed class raises."""
    import pytest as _pytest

    from mining_data_integration_spark.operators.multimodal import decode_ppm

    pix = bytes(range(12))  # 2x2 RGB
    assert decode_ppm(b"P6\n2 2\n255\n" + pix) == (2, 2, pix)
    # comments between any header tokens + arbitrary whitespace runs
    fancy = b"P6 # magic\n  2 # width\n\t2\n# maxval next\n255 " + pix
    assert decode_ppm(fancy) == (2, 2, pix)
    # exactly one separator byte: the raster may BEGIN with whitespace
    # bytes (0x20 pixels) and must not be eaten
    ws_pix = b" " * 12
    assert decode_ppm(b"P6\n2 2\n255\n" + ws_pix) == (2, 2, ws_pix)
    for bad in (
        b"P5\n2 2\n255\n" + pix,          # wrong magic (grayscale)
        b"P6\n2 2\n65535\n" + pix * 2,    # 2-byte samples unsupported
        b"P6\n2 2\n255\n" + pix[:-1],     # truncated raster
        b"P6\n2 x\n255\n" + pix,          # non-numeric dimension
        b"P6\n2 2\n255",                  # no separator / raster
        b"P6 # comment never ends",       # unterminated comment
    ):
        with _pytest.raises(ValueError):
            decode_ppm(bad)


def test_ppm_decode_stats_end_to_end(spark):
    """make_ppm_media builds REAL binary PPMs JVM-side; the Arrow
    kernel decodes them; channel sums match a pure-Python replay of
    the generator. A poison (non-PPM) payload yields ok=false, not a
    task failure."""
    from pyspark.sql import functions as F

    from mining_data_integration_spark.operators.multimodal import (
        PPM_STATS_SCHEMA, PPM_W, PPM_H, decode_ppm_stats, make_ppm_media,
    )

    ids = spark.range(1, 8).select(F.col("id").alias("media_id"))
    media = make_ppm_media(ids)
    out = {r.media_id: r for r in media.mapInPandas(
        decode_ppm_stats, PPM_STATS_SCHEMA).collect()}
    for mid in range(1, 8):
        raster = [(mid * (j + 1)) % 256 for j in range(PPM_W * PPM_H * 3)]
        r = out[mid]
        assert (r.width, r.height, r.ok) == (PPM_W, PPM_H, True)
        assert (r.sum_r, r.sum_g, r.sum_b) == (
            sum(raster[0::3]), sum(raster[1::3]), sum(raster[2::3]))
    poison = spark.createDataFrame(
        [(99, bytearray(b"GIF89a not a ppm"))],
        "media_id long, payload binary")
    bad = poison.mapInPandas(decode_ppm_stats, PPM_STATS_SCHEMA).collect()[0]
    assert bad.ok is False and bad.width is None and bad.sum_r is None


def test_frame_sampling_plumbing(spark):
    from mining_data_integration_spark.operators.multimodal import (
        sample_frames,
    )
    rows = [(1, "a" * 100), (2, "b" * 31), (3, "c" * 32), (4, "")]
    media = make_fake_media(
        spark.createDataFrame(rows, "doc_id long, text string"),
        "doc_id", "text")
    out = sample_frames(media, frame_size=32, stride=2).collect()
    by_media: dict[int, list] = {}
    for r in out:
        by_media.setdefault(r.media_id, []).append(r.frame_idx)
    # 100 bytes -> 3 full frames -> sampled idx 0, 2; 31 bytes -> none;
    # 32 bytes -> exactly frame 0; empty payload -> none
    assert sorted(by_media[1]) == [0, 2]
    assert 2 not in by_media and 4 not in by_media
    assert by_media[3] == [0]
    assert all(len(r.frame_feature) == 4 for r in out)
    # identical frame bytes -> identical feature (same stub hash)
    feats1 = {r.frame_idx: r.frame_feature
              for r in out if r.media_id == 1}
    assert feats1[0] == feats1[2]  # both frames are 32 x 'a'


def test_quality_and_langid_ranges(spark):
    df = docs_df(spark, [(1, "the cat and the dog in the house"),
                         (2, "zzz qqq xxx www")])
    q = {r.doc_id: r for r in TX.quality_score(df).collect()}
    assert q[1].stopword_ratio > q[2].stopword_ratio
    assert 0.0 <= q[1].quality <= 1.0
    lang = {r.doc_id: r.predicted_lang for r in TX.lang_id(df).collect()}
    assert lang[1] == "en" and lang[2] == "other"


def test_stratified_sample_rates_and_determinism(spark):
    from mining_data_integration_spark.pipelines import stratified_sample

    rows = [(i, f"text {i}", "en" if i % 2 == 0 else "de")
            for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = stratified_sample(df, "lang", {"en": 0.3}, key_col="doc_id")
    counts = {r.lang: r.cnt for r in
              out.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    assert counts["de"] == 500                 # default rate keeps all
    assert 0.2 < counts["en"] / 500 < 0.4      # ~0.3 within md5 noise
    # pure function of (key, stratum): rerun is identical
    again = stratified_sample(df, "lang", {"en": 0.3}, key_col="doc_id")
    assert sorted(r.doc_id for r in out.collect()) == \
        sorted(r.doc_id for r in again.collect())


def test_pack_sequences_invariants(spark):
    from mining_data_integration_spark.pipelines import pack_sequences

    rows = [(i, 10 + (i * 37) % 90) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, nt int")
    out = pack_sequences(df, budget=256, token_count=F.col("nt"),
                         order_by=[F.col("doc_id")], id_cols=["doc_id"]) \
        .orderBy("doc_id").collect()
    assert len(out) == 200
    start = 0
    for r in out:
        assert r.pack_id == start // 256
        assert r.pack_offset == start % 256
        start += r.n_tokens


def test_sharded_topk_equals_brute_force(spark):
    from mining_data_integration_spark.operators import similarity as S

    import math
    rows = [(i, [math.sin(i * j + j) for j in range(8)]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>") \
        .repartition(8)
    q = emb.filter("vec_id < 4").selectExpr("vec_id as q_id",
                                            "embedding as q_emb")
    a = S.brute_force_topk(emb, q, k=7).select("q_id", "vec_id", "rk")
    b = S.brute_force_topk_sharded(emb, q, k=7).select("q_id", "vec_id", "rk")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_stratified_sample_null_stratum_uses_default_rate(spark):
    from mining_data_integration_spark.pipelines import stratified_sample

    rows = [(i, "x", None if i % 2 else "en") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = stratified_sample(df, "lang", {"en": 0.5}, key_col="doc_id")
    null_kept = out.filter(F.col("lang").isNull()).count()
    assert null_kept == 100  # default rate 1.0 keeps every NULL-stratum row


def test_repetition_metrics_known_values(spark):
    # doc 1: "a b a b a" -> 2-grams [ab, ba, ab, ba]: n=4, top=2, dup=4
    # doc 2: all distinct grams; doc 3: single word -> no grams, dropped
    df = docs_df(spark, [(1, "a b a b a"), (2, "w x y z"), (3, "solo")])
    out = {r.id: r for r in TX.repetition_metrics(df).collect()}
    assert set(out) == {1, 2}
    assert out[1].n_grams == 4
    assert out[1].top_gram_frac == 0.5
    assert out[1].dup_gram_frac == 1.0
    assert not out[1].keep
    assert out[2].n_grams == 3
    assert out[2].top_gram_frac == pytest.approx(1 / 3)
    assert out[2].dup_gram_frac == 0.0


def test_decontaminate_prefilter_identical_results(spark):
    from mining_data_integration_spark.pipelines import decontaminate

    train = docs_df(spark, [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "one two three four five six"),
        (3, "unrelated words entirely here now yes"),
    ])
    test = docs_df(spark, [
        (100, "zz alpha beta gamma delta epsilon yy"),
    ])
    exact = decontaminate(train, test, n=5)
    pre = decontaminate(train, test, n=5, prefilter_mod=64)
    rows_e = sorted(map(tuple, exact.collect()))
    rows_p = sorted(map(tuple, pre.collect()))
    assert rows_e == rows_p
    by_id = {r[0]: r for r in rows_e}
    assert by_id[1][2] is True and by_id[1][1] == 1  # one shared 5-gram
    assert by_id[2][2] is False and by_id[3][2] is False


def test_temperature_sample_caps_and_determinism(spark):
    from mining_data_integration_spark.pipelines import temperature_sample

    rows = [(i, "en" if i < 90 else "fr") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_sample(df, "lang", coef=2)
    counts = {r.lang: r["count"] for r in out.groupBy("lang").count().collect()}
    import math
    assert counts["en"] == math.floor(2 * math.sqrt(90))  # 18: flattened
    assert counts["fr"] == math.floor(2 * math.sqrt(10))  # 6
    again = temperature_sample(df, "lang", coef=2)
    assert sorted(r.doc_id for r in out.collect()) == \
        sorted(r.doc_id for r in again.collect())


def test_dsir_importance_prefers_target_profile(spark):
    """DSIR weighting must rank documents that share the target
    subset's vocabulary above documents that don't — without ever
    reading the label during scoring — and the milli scores must be
    exact integer arithmetic (replayable)."""
    from pyspark.sql import functions as F

    from mining_data_integration_spark.pipelines import dsir_importance

    rows = (
        [(i, "alpha beta gamma alpha", "t") for i in range(6)]
        + [(10 + i, "delta epsilon zeta delta", "r") for i in range(6)]
        + [(20, "alpha beta", "r"), (21, "delta zeta", "r")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, kind string")
    out = {r.doc_id: r for r in
           dsir_importance(df, F.col("kind") == "t").collect()}
    # doc 20 shares the target vocabulary, doc 21 does not
    assert out[20].per_token_milli > out[21].per_token_milli
    # exact smoothed-ratio check: 'alpha' occurs 12x in target
    # (2 per doc x 6), 13x raw -> w = 1000*13 DIV 14 = 928;
    # 'beta' 6x target, 7x raw -> w = 1000*7 DIV 8 = 875
    assert out[20].score_milli == 928 + 875
    assert out[20].n_tokens == 2
    assert out[20].per_token_milli == (928 + 875) // 2


def test_global_shuffle_is_permutation(spark):
    from mining_data_integration_spark.pipelines import global_shuffle

    df = spark.createDataFrame([(i,) for i in range(97)], "doc_id long")
    out = global_shuffle(df, seed="s1", n_shards=8).collect()
    assert sorted(r.rank for r in out) == list(range(97))
    for r in out:
        assert r.shard == r.rank % 8
        assert r.shard_pos == r.rank // 8
    # a different seed re-deals the permutation
    other = global_shuffle(df, seed="s2", n_shards=8).collect()
    assert {r.doc_id: r.rank for r in out} != {r.doc_id: r.rank for r in other}


def test_quantized_topk_recall_vs_exact(spark):
    from mining_data_integration_spark.io import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings") \
        .repartition(8, "vec_id")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    exact = {(r.q_id, r.vec_id) for r in S.brute_force_topk(emb, q, k=10).collect()}
    quant = {(r.q_id, r.vec_id) for r in S.quantized_topk(emb, q, k=10).collect()}
    recall = len(exact & quant) / len(exact)
    # int8 keeps ~7 significant bits per component: top-10 overlap stays high
    assert recall >= 0.8, f"int8 quantization recall collapsed: {recall}"
    # each query's own vector still ranks first (self-cos == 1 exactly)
    own = {(r.q_id, r.vec_id) for r in S.quantized_topk(emb, q, k=10).collect()
           if r.rk == 1}
    assert own == {(i, i) for i in range(5)}


class TestEditDistanceNN:
    def test_known_neighbors(self, spark):
        rows = [
            (1, "the quick brown fox jumps over the dog"),
            (2, "the quick brown fox jumps over the dogs"),   # 1 edit from 1
            (3, "the quick brown cat sleeps under a tree"),   # same block, far
            (4, "zebra stripes pattern"),                     # lone block
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        from mining_data_integration_spark.operators.dedup import (
            edit_distance_nn)
        out = {r.doc_id: (r.nn_id, r.dist)
               for r in edit_distance_nn(docs, prefix_len=4,
                                         len_bucket=64).collect()}
        assert out[1] == (2, 1)
        assert out[2] == (1, 1)
        assert out[3][1] > 5            # nearest is still far
        assert 4 not in out             # no block-mate -> no row

    def test_adaptive_cap_refines_and_skips(self, spark):
        """Round 11: max_block turns on adaptive blocking. An
        oversized level-1 block is re-keyed by the longer prefix (its
        sub-blocks still pair up); a block STILL oversized after
        refinement is skipped entirely (bounded pairwise work); and
        when every level-1 block is within the cap the output is
        byte-identical to the uncapped operator."""
        from mining_data_integration_spark.operators.dedup import (
            edit_distance_nn)

        # 6 docs share the 4-char prefix 'same' (one level-1 block);
        # refinement by 12-char prefix splits them 3 + 3. Another 4
        # docs share BOTH prefixes -> still oversized at level 2 with
        # cap 3 -> skipped.
        rows = [(i, f"same group{g} word tail{i} filler text")
                for g, base in ((1, 0), (2, 3)) for i in range(base, base + 3)]
        rows += [(10 + i, f"same clique fixed stem tail{i}")
                 for i in range(4)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r.nn_id for r in edit_distance_nn(
            docs, prefix_len=4, len_bucket=512, max_block=3).collect()}
        assert set(out) == set(range(6))          # clique skipped
        assert all(out[i] in {0, 1, 2} - {i} for i in range(3))
        assert all(out[i] in {3, 4, 5} - {i} for i in range(3, 6))
        # small blocks: cap irrelevant, equals the uncapped answer
        small = docs.filter("doc_id < 3")
        capped = sorted(tuple(r) for r in edit_distance_nn(
            small, prefix_len=4, len_bucket=512, max_block=64).collect())
        plain = sorted(tuple(r) for r in edit_distance_nn(
            small, prefix_len=4, len_bucket=512).collect())
        assert capped == plain and capped

    def test_bloom_has_no_false_negatives(self, spark):
        import __spark_entry__ as e
        row = e.queries()["j17_bloom_prune"](
            spark, "/root/testdata/sf0.001").collect()[0]
        assert row.false_negatives == 0
        assert row.bloom_passes >= row.true_matches


class TestRandomProjection:
    def test_jl_norm_preservation_in_expectation(self, spark):
        """E[||Sq||^2] = out_dims * ||q||^2 for Rademacher S; the mean
        ratio over 500 vectors concentrates hard around 1."""
        from mining_data_integration_spark.operators.similarity import (
            idot, int8_quantize, random_projection)
        from pyspark.sql import functions as F

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        proj = random_projection(emb, dims=64, out_dims=8)
        pn = sum(F.col(f"proj_{j}") * F.col(f"proj_{j}") for j in range(8))
        qn = emb.select(
            "vec_id",
            idot(int8_quantize(F.col("embedding")),
                 int8_quantize(F.col("embedding"))).alias("qn"))
        ratio = (proj.select("vec_id", pn.alias("pn")).join(qn, "vec_id")
                 .agg(F.avg(F.col("pn") / (8 * F.col("qn")))).collect()[0][0])
        assert 0.85 < ratio < 1.15, ratio

    def test_scale_invariance(self, spark):
        """Per-vector quantization makes the projection invariant to
        positive rescaling — a scaled copy projects identically."""
        from mining_data_integration_spark.operators.similarity import (
            random_projection)
        from pyspark.sql import functions as F

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet").limit(20)
        scaled = emb.select(
            "vec_id", F.transform("embedding", lambda x: x * 7.5)
            .alias("embedding"))
        a = random_projection(emb, 64, 8).collect()
        b = random_projection(scaled, 64, 8).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


class TestBoilerplateScrub:
    def test_planted_boilerplate_removed(self, spark):
        from mining_data_integration_spark.operators.text import (
            boilerplate_scrub)
        chrome = "accept all cookies"
        docs = [(i, f"unique{i} words here {chrome} tail{i}")
                for i in range(5)]
        docs.append((99, "no boilerplate in this document at all"))
        df = spark.createDataFrame(docs, "doc_id long, text string")
        out = {r.doc_id: r for r in
               boilerplate_scrub(df, n=3, min_df=5).collect()}
        # the shared span "words here accept all cookies" yields three
        # df=5 3-grams covering positions 1-5; only the doc-unique
        # first and last tokens survive
        import hashlib
        for i in range(5):
            assert out[i].n_tokens == 7 and out[i].n_kept == 2, out[i]
            assert out[i].cleaned_hash == hashlib.md5(
                f"unique{i} tail{i}".encode()).hexdigest()
        # untouched doc keeps everything, hash = md5 of original text
        r = out[99]
        assert r.n_kept == r.n_tokens == 7
        assert r.cleaned_hash == hashlib.md5(
            b"no boilerplate in this document at all").hexdigest()

    def test_all_boilerplate_doc_survives_empty(self, spark):
        from mining_data_integration_spark.operators.text import (
            boilerplate_scrub)
        import hashlib
        docs = [(i, "only the chrome") for i in range(5)]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        out = boilerplate_scrub(df, n=3, min_df=5).collect()
        assert all(r.n_kept == 0 for r in out)
        assert all(r.cleaned_hash == hashlib.md5(b"").hexdigest()
                   for r in out)


class TestAudioWindows:
    def test_window_counts_and_overlap(self, spark):
        from mining_data_integration_spark.operators.multimodal import (
            window_audio)
        from pyspark.sql import functions as F
        rows = [(1, bytes(range(100))), (2, b"\x05" * 64), (3, b"short")]
        media = spark.createDataFrame(rows, "media_id long, payload binary")
        out = window_audio(media, frame=64, hop=32).collect()
        by_id = {}
        for r in out:
            by_id.setdefault(r.media_id, []).append(r)
        # 100 bytes -> (100-64)//32+1 = 2 windows; 64 -> 1; short -> 0
        assert len(by_id[1]) == 2 and len(by_id[2]) == 1
        assert 3 not in by_id
        w0, w1 = sorted(by_id[1], key=lambda r: r.win_idx)
        assert (w0.start, w1.start) == (0, 32)           # 32-byte overlap
        assert w0.energy == sum(range(64)) and w0.peak == 63
        assert w1.energy == sum(range(32, 96)) and w1.peak == 95
        assert by_id[2][0].energy == 5 * 64 and by_id[2][0].peak == 5


class TestCentroidClassify:
    def test_separated_clusters_classify_perfectly(self, spark):
        from mining_data_integration_spark.operators.similarity import (
            centroid_classify)
        # two well-separated 4-d clusters: label 0 near (1,0,0,0),
        # label 1 near (0,1,0,0) — nearest centroid must be diagonal
        rows = []
        for i in range(10):
            eps = i * 0.01
            rows.append((i, [1.0 + eps, eps, 0.0, 0.0], 0))
            rows.append((100 + i, [eps, 1.0 - eps, 0.0, 0.0], 1))
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int")
        out = {(r.label, r.predicted): r.n
               for r in centroid_classify(df).collect()}
        assert out == {(0, 0): 10, (1, 1): 10}

    def test_deterministic_across_partitionings(self, spark):
        from mining_data_integration_spark.operators.similarity import (
            centroid_classify)
        import random
        rng = random.Random(7)
        rows = [(i, [rng.uniform(-0.5, 0.5) for _ in range(8)], i % 3)
                for i in range(60)]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int")
        a = centroid_classify(df.repartition(1)).collect()
        b = centroid_classify(df.repartition(13, "vec_id")).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]


class TestSourceMix:
    def test_share_sums_to_one_and_counts(self, spark):
        from mining_data_integration_spark.queries.pipeline_q import (
            dp9_source_mix)
        out = dp9_source_mix(spark, "/root/testdata/sf0.001").collect()
        assert abs(sum(r.token_share for r in out) - 1.0) < 1e-12
        assert all(r.n_docs > 0 and r.n_tokens > 0 for r in out)


class TestSubstringDupSpans:
    def test_detects_shared_long_run_and_skips_unique(self, spark):
        from mining_data_integration_spark.operators.dedup import (
            substring_dup_spans)
        shared = "x" * 200  # shared run >> k + stride - 1
        rows = [
            (1, "aaa " + shared + " tail one"),
            (2, "prefix two " + shared + " zzz"),
            (3, "completely different text " + "q" * 200),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = substring_dup_spans(df, k=64, stride=32).collect()
        ids = {r.id for r in out}
        assert {1, 2} <= ids and 3 not in ids
        assert all(r.n_docs == 2 for r in out)

    def test_short_docs_emit_nothing(self, spark):
        from mining_data_integration_spark.operators.dedup import (
            substring_dup_spans)
        df = spark.createDataFrame(
            [(1, "short"), (2, "short")], "doc_id long, text string")
        assert substring_dup_spans(df, k=64, stride=32).count() == 0

    def test_misaligned_nonperiodic_duplicate_is_found(self, spark):
        """The round-2 flaw this operator was rewritten for: a shared
        run embedded at offsets that differ mod stride, in non-periodic
        text, must still collide (content-defined anchors move with the
        content, not with the document's absolute offset grid)."""
        import random
        from mining_data_integration_spark.operators.dedup import (
            substring_dup_spans)
        rng = random.Random(42)
        letters = "abcdefghijklmnopqrstuvwxyz"
        mk = lambda n: "".join(rng.choice(letters) for _ in range(n))
        shared = mk(600)          # non-periodic, >> k + a few gaps
        rows = [
            (1, mk(3) + shared + mk(40)),    # offset 3
            (2, mk(17) + shared + mk(25)),   # offset 17 (17 != 3 mod 32)
            (3, mk(700)),                    # unique text
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = substring_dup_spans(df, k=64, stride=32).collect()
        ids = {r.id for r in out}
        assert {1, 2} <= ids and 3 not in ids
        # the colliding span hashes must agree across both copies
        by_doc = {
            d: {r.span_hash for r in out if r.id == d} for d in (1, 2)}
        assert by_doc[1] & by_doc[2]


class TestChunkDocuments:
    def test_coverage_and_overlap(self, spark):
        from mining_data_integration_spark.pipelines import chunk_documents
        text = "a" * 1000
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        out = sorted(chunk_documents(df, max_chars=512, overlap=64).collect(),
                     key=lambda r: r.chunk_idx)
        # stride 448: starts 0, 448, 896; last chunk truncated
        assert [(r.chunk_start, r.chunk_len) for r in out] \
            == [(0, 512), (448, 512), (896, 104)]
        # full coverage: next start is inside the previous chunk by 64
        for a, b in zip(out, out[1:]):
            assert b.chunk_start == a.chunk_start + 448

    def test_short_doc_single_chunk(self, spark):
        from mining_data_integration_spark.pipelines import chunk_documents
        df = spark.createDataFrame([(1, "hello world")],
                                   "doc_id long, text string")
        out = chunk_documents(df, max_chars=512, overlap=64).collect()
        assert len(out) == 1
        assert out[0].chunk_start == 0 and out[0].chunk_len == 11

    def test_bad_overlap_raises(self, spark):
        import pytest as _pytest
        from mining_data_integration_spark.pipelines import chunk_documents
        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with _pytest.raises(ValueError):
            chunk_documents(df, max_chars=64, overlap=64)


class TestSemanticDedup:
    def test_keeps_one_exemplar_per_duplicate_group(self, spark):
        from mining_data_integration_spark.operators.similarity import (
            semantic_dedup)
        # ids 0/1/2 are near-identical (tiny perturbations of one
        # direction -> same LSH bucket, cosine ~1); ids 10/11 are two
        # mutually-orthogonal directions — no near-dup neighbor
        base = [1.0, 0.5, -0.25, 0.125]
        rows = [(i, [v + i * 1e-4 for v in base]) for i in range(3)]
        rows += [(10, [0.0, 0.0, 1.0, 0.0]), (11, [0.0, 0.0, 0.0, 1.0])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = {r.vec_id: r.kept
               for r in semantic_dedup(df, threshold_pct=90, num_planes=2,
                                       dim=4).collect()}
        assert sum(out[i] for i in (0, 1, 2)) == 1  # one exemplar survives
        assert out[10] == 1 and out[11] == 1        # singletons kept

    def test_threshold_zero_pct_like_exact_only(self, spark):
        from mining_data_integration_spark.operators.similarity import (
            semantic_dedup)
        # threshold 100% (cos >= 1.0): only exact duplicates collapse
        rows = [(0, [1.0, 2.0, 3.0, 4.0]), (1, [2.0, 4.0, 6.0, 8.0]),
                (2, [1.0, 2.0, 3.0, 4.1])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = {r.vec_id: r.kept
               for r in semantic_dedup(df, threshold_pct=100, num_planes=2,
                                       dim=4).collect()}
        # 0 and 1 quantize identically (scale-invariant int8) -> dups;
        # 2 differs after quantization -> kept
        assert sum(out[i] for i in (0, 1)) == 1 and out[2] == 1


class TestZscoreOutliers:
    def test_flags_exactly_the_planted_spike(self, spark, tmp_path):
        import pyspark.sql.functions as F
        from mining_data_integration_spark.queries.windows import (
            w20_zscore_outliers)
        # 40 values at 10.0 +- 0.5 and one spike at 1000 -> only the
        # spike exceeds 3 sigma
        rows = [(i, "t", 10.0 + (0.5 if i % 2 else -0.5)) for i in range(40)]
        rows.append((99, "t", 1000.0))
        df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
        import datetime
        ev = df.select("event_id", F.lit(datetime.datetime(2024, 1, 1)).alias("ts"),
                       F.lit(7).cast("long").alias("user_id"),
                       "event_type", "value", F.lit("{}").alias("props"))
        d = str(tmp_path / "sf")
        ev.write.parquet(d + "/events.parquet")
        out = w20_zscore_outliers(spark, d).collect()
        assert [(r.event_id, r.z_sign) for r in out] == [(99, 1)]


class TestScalableMedian:
    def test_matches_sorted_rank_definition(self, spark, tmp_path):
        import pyspark.sql.functions as F
        from mining_data_integration_spark.queries.aggregates import (
            a20_scalable_median)
        import datetime
        prices = [10.0, 20.0, 20.0, 30.0, 100.0]  # n=5 -> median 20, p90 100
        orders = spark.createDataFrame(
            [(i, 1, "O", p, datetime.datetime(2024, 1, 1), "1-URGENT")
             for i, p in enumerate(prices)],
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp, o_orderpriority string")
        cust = spark.createDataFrame(
            [(1, "c", 0, 0.0, "SEG")],
            "c_custkey long, c_name string, c_nationkey int, "
            "c_acctbal double, c_mktsegment string")
        d = str(tmp_path / "sf")
        orders.write.parquet(d + "/orders.parquet")
        cust.write.parquet(d + "/customer.parquet")
        r, = a20_scalable_median(spark, d).collect()
        assert (r.seg, r.n_orders, r.median_price, r.p90_price) == \
            ("SEG", 5, 20.0, 100.0)


class TestCurriculumEpochs:
    def test_rank_is_permutation_and_epochs_balanced(self, spark):
        from mining_data_integration_spark.operators.scalable import (
            global_row_number)
        from pyspark.sql import functions as F
        df = spark.createDataFrame(
            [(i, float((i * 37) % 101)) for i in range(101)],
            "doc_id long, quality double")
        out = global_row_number(
            df, [F.desc("quality"), F.asc("doc_id")], rn_col="grank")
        rows = out.withColumn("epoch", ((F.col("grank") - 1) % 4)).collect()
        ranks = sorted(r.grank for r in rows)
        assert ranks == list(range(1, 102))
        by_q = sorted(rows, key=lambda r: (-r.quality, r.doc_id))
        assert [r.grank for r in by_q] == list(range(1, 102))
        from collections import Counter
        c = Counter((r.grank - 1) % 4 for r in rows)
        assert max(c.values()) - min(c.values()) <= 1


class TestGopherFilter:
    def test_reason_bits_fire_on_planted_docs(self, spark):
        from mining_data_integration_spark.operators.text import (
            gopher_filter)
        # 60 distinct-ish words, >=2 distinct stopwords, no repeated
        # bigram, mean word length inside [3, 10]
        good = "the start of it all " + " ".join(
            f"word{i:02d} item{i:02d}" for i in range(28))
        short = "tiny doc here"                # < 50 words -> bit 1 (+4)
        longwords = " ".join(["pneumonoultramicroscopic"] * 60)
        repeat = " ".join(["the of"] * 40)     # one bigram dominates
        rows = [(0, good), (1, short), (2, longwords), (3, repeat)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r for r in gopher_filter(df).collect()}
        assert out[0].reasons == 0 and out[0].keep == 1
        assert out[1].reasons & 1 and out[1].keep == 0
        assert out[2].reasons & 2 and out[2].reasons & 4  # long words, no stops
        assert out[3].reasons & 8 and out[3].reasons & 16
        # single-word doc: no bigram signal, only length/stopword bits
        one = spark.createDataFrame([(9, "word")], "doc_id long, text string")
        r9, = gopher_filter(one).collect()
        assert r9.reasons & 1 and not (r9.reasons & 8) and not (r9.reasons & 16)


class TestFuzzyDecontaminate:
    def test_planted_near_dup_crosses_split(self, spark):
        import pyspark.sql.functions as F
        from mining_data_integration_spark.pipelines import (
            fuzzy_decontaminate)
        base = " ".join(f"tok{i:03d}" for i in range(60))
        edited = base.replace("tok030", "tokXXX")   # light edit, J >> 0.5
        other = " ".join(f"zzz{i:03d}" for i in range(60))
        rows = [(1, base, "train"), (2, edited, "eval"), (3, other, "train")]
        df = spark.createDataFrame(rows, "doc_id long, text string, split string")
        out = fuzzy_decontaminate(df, F.col("split") == "eval").collect()
        pairs = {(r.train_id, r.eval_id): r for r in out}
        assert (1, 2) in pairs
        r = pairs[(1, 2)]
        # 58 shingles each, 2 edits x 3-gram window -> common=53, union=63
        assert r.common > 0 and r.union_sz > r.common
        assert r.contaminated == 1
        assert (3, 2) not in pairs or pairs[(3, 2)].contaminated == 0

    def test_exemplar_invariants_on_fixture(self, spark):
        """Every dropped vector has a higher-priority near-dup neighbor
        in its cluster; every kept vector has none — i.e. the kept set
        is exactly the md5-priority-minimal exemplar set."""
        from mining_data_integration_spark.operators.similarity import (
            idot, int8_quantize, lsh_bucket, hyperplanes, semantic_dedup)
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        out = {r.vec_id: r for r in
               semantic_dedup(emb, threshold_pct=30, num_planes=3).collect()}
        # recompute ground truth driver-side
        import hashlib
        planes = hyperplanes(3, 64)
        rows = emb.select(
            "vec_id",
            lsh_bucket(F.col("embedding"), planes).alias("cluster"),
            int8_quantize(F.col("embedding")).alias("q")).collect()
        pri = {r.vec_id: hashlib.md5(str(r.vec_id).encode()).hexdigest()
               for r in rows}
        def near(a, b):
            d = sum(x * y for x, y in zip(a.q, b.q))
            na = sum(x * x for x in a.q); nb = sum(x * x for x in b.q)
            return d > 0 and d * d * 10000 >= 900 * na * nb
        for a in rows:
            has_better = any(
                b.cluster == a.cluster and b.vec_id != a.vec_id
                and near(a, b)
                and (pri[b.vec_id], b.vec_id) < (pri[a.vec_id], a.vec_id)
                for b in rows)
            assert out[a.vec_id].kept == (0 if has_better else 1), a.vec_id


class TestSketches:
    def test_misra_gries_superset_and_exact(self, spark):
        """MG summaries are a superset of true heavy hitters, and the
        exact refinement returns precisely the > n/s keys."""
        from pyspark.sql import functions as F
        from mining_data_integration_spark.operators import sketches as SK

        # 60% 'a', 25% 'b', rest singletons — across 8 partitions
        rows = [("a",)] * 600 + [("b",)] * 260 + [(f"z{i}",) for i in range(140)]
        df = spark.createDataFrame(rows, "k string").repartition(8)
        hh = {r.k: r.cnt for r in SK.heavy_hitters_exact(df, "k", 3).collect()}
        assert hh == {"a": 600}  # only 'a' exceeds 1000/3
        hh4 = {r.k: r.cnt for r in SK.heavy_hitters_exact(df, "k", 4).collect()}
        assert hh4 == {"a": 600, "b": 260}  # strict >: 250 would NOT qualify
        # summaries stay bounded: <= s rows per partition
        summ = SK.misra_gries_summaries(df, "k", 3)
        per_part = summ.groupBy(F.spark_partition_id().alias("p")).count()
        assert all(r["count"] <= 3 for r in per_part.collect())

    def test_hll_estimate_error_and_partition_independence(self, spark):
        from mining_data_integration_spark.operators import sketches as SK

        df = spark.createDataFrame([(i % 700,) for i in range(5000)], "v long")
        r1 = SK.hll_distinct(df, "v").collect()[0]
        r2 = SK.hll_distinct(df.repartition(13), "v").collect()[0]
        assert r1 == r2  # registers are data-only, never plan-dependent
        assert r1.exact_distinct == 700
        # m=256 -> ~6.5% std err; allow 4 sigma
        assert abs(r1.hll_estimate - 700) / 700 < 0.26

    def test_countmin_never_underestimates(self, spark):
        from pyspark.sql import functions as F
        from mining_data_integration_spark.operators import sketches as SK

        df = spark.createDataFrame(
            [(f"k{i % 300}",) for i in range(4000)], "v string").repartition(7)
        est = SK.countmin_estimates(df, "v")
        assert est.filter(F.col("cm_estimate") < F.col("exact_cnt")).count() == 0
        assert est.count() == 300
        # deterministic across partitionings
        a = sorted(map(tuple, est.collect()))
        b = sorted(map(tuple,
                       SK.countmin_estimates(df.repartition(3), "v").collect()))
        assert a == b


def test_token_budget_mix_invariants(spark):
    """Every stratum's kept prefix fits its allocation, is maximal
    (next doc in priority order would overflow), and allocations sum
    to <= the global budget with sqrt flattening."""
    import math
    from pyspark.sql import functions as F
    from mining_data_integration_spark.pipelines import token_budget_mix

    rows = [(i, "big" if i < 160 else "small", 10 + (i % 7)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, src string, nt long")
    out = token_budget_mix(df, "src", F.col("nt"), 1, 2, key_col="doc_id")
    got = out.collect()
    assert got, "empty mix"
    # per-stratum: cum <= budget everywhere
    assert all(r.cum_tokens <= r.tok_budget for r in got)
    # allocations replay exactly
    masses = {"big": sum(10 + (i % 7) for i in range(160)),
              "small": sum(10 + (i % 7) for i in range(160, 200))}
    tm = sum(masses.values())
    ws = {s: math.floor(math.sqrt(m)) for s, m in masses.items()}
    tw = sum(ws.values())
    B = tm * 1 // 2
    budgets = {s: (B // tw) * w + ((B % tw) * w) // tw for s, w in ws.items()}
    for r in got:
        assert r.tok_budget == budgets[r.src], (r.src, r.tok_budget)
    # maximality: kept token mass + the smallest unkept doc > budget is
    # too strong (prefix rule, not knapsack); instead pin prefix order:
    # within a stratum the kept set is exactly the first k docs by
    # (md5(doc:src), doc) priority
    import hashlib
    for s in ("big", "small"):
        pri = sorted(
            (hashlib.md5(f"{i}:{s}".encode()).hexdigest(), i)
            for i in (range(160) if s == "big" else range(160, 200)))
        kept = {r.doc_id for r in got if r.src == s}
        run, expect = 0, set()
        for _, i in pri:
            run += 10 + (i % 7)
            if run > budgets[s]:
                break
            expect.add(i)
        assert kept == expect, s


def test_bpe_merges_known_corpus(spark):
    """Hand-computed BPE on a toy corpus, including early exhaustion
    (fewer merges available than requested) and greedy overlap rule."""
    from mining_data_integration_spark.operators.text import bpe_merges

    df = spark.createDataFrame(
        [(1, "aa aa ab"), (2, "aaa")], "doc_id long, text string")
    got = bpe_merges(df, n_merges=5)
    # words: aa x2, ab x1, aaa x1
    # it1: (a,a) freq 2+1(ab has none)+2(aaa: a-a,a-a)=4 ... hand-walk:
    #   'aa' x2 -> pair (a,a) x2; 'ab' -> (a,b) x1; 'aaa' -> (a,a) x2
    #   best (a,a) pf=4
    # it2: 'aa'->[aa]; 'ab'->[a,b]; 'aaa'->[aa,a] (greedy)
    #   pairs: (a,b) x1, (aa,a) x1 -> tie pf=1, lexicographic: (a,b)
    # it3: (aa,a) x1
    # it4: exhausted -> stop
    assert got == [(1, "a", "a", 4), (2, "a", "b", 1), (3, "aa", "a", 1)]


def test_surprisal_score_known_values(spark):
    """Hand-computed exact-integer surprisal on a 4-doc corpus."""
    from mining_data_integration_spark.operators.text import surprisal_score

    df = spark.createDataFrame(
        [(1, "the cat"), (2, "the dog"), (3, "the the rare"),
         (4, "the cat dog")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in surprisal_score(df).collect()}
    # N=4. df: the->4, cat->2, dog->2, rare->1
    # surp = floor(log2(4 // df)): the->0, cat->1, dog->1, rare->2
    assert (got[1].n_tokens, got[1].sum_surprisal) == (2, 1)
    assert (got[3].n_tokens, got[3].sum_surprisal) == (3, 2)
    assert (got[4].n_tokens, got[4].sum_surprisal) == (2 + 1, 0 + 1 + 1)
    # HALF_UP milli mean: doc3 -> 2000*2+3 // 6 = 4003//6 = 667
    assert got[3].mean_surprisal_milli == 667
    assert got[1].mean_surprisal_milli == 500


def test_length_bucket_batches_invariants(spark):
    """Buckets are exact floor(log2(n_tokens)); each bucket's batches
    fill 0..batch_size-1 densely in md5 order."""
    from mining_data_integration_spark.pipelines import length_bucket_batches

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in
         enumerate([1, 2, 3, 4, 7, 8, 9, 15, 16, 31, 32, 100])],
        "doc_id long, text string")
    rows = length_bucket_batches(docs, batch_size=2).collect()
    import math
    for r in rows:
        assert r.bucket == int(math.floor(math.log2(r.n_tokens)))
        assert 0 <= r.pos_in_batch < 2
    # per (bucket, batch) positions are dense from 0
    from collections import defaultdict
    seen = defaultdict(list)
    for r in rows:
        seen[(r.bucket, r.batch_id)].append(r.pos_in_batch)
    for ps in seen.values():
        assert sorted(ps) == list(range(len(ps)))
    # batch ids per bucket are dense from 0
    byb = defaultdict(set)
    for r in rows:
        byb[r.bucket].add(r.batch_id)
    for bs in byb.values():
        assert bs == set(range(len(bs)))


def test_containment_pairs_known_values(spark):
    """Planted containment: doc 2's text is a strict prefix of doc 1's;
    doc 3 unrelated."""
    from mining_data_integration_spark.operators.dedup import (
        containment_pairs)

    long_text = "a b c d e f g h i j"
    df = spark.createDataFrame(
        [(1, long_text), (2, "a b c d e"), (3, "x y z w v u")],
        "doc_id long, text string")
    rows = {(r.contained_id, r.container_id): r
            for r in containment_pairs(df, n=3, threshold_pct=70).collect()}
    # doc2 shingles: 3 of them (a b c, b c d, c d e) all inside doc1 (8)
    r = rows[(2, 1)]
    assert (r.common, r.sz_contained, r.contained_full) == (3, 3, 1)
    # doc1 -> doc2: 3/8 common = 37% < 70%, absent; doc3 shares nothing
    assert (1, 2) not in rows
    assert not any(3 in k for k in rows)


class TestPngCodec:
    def test_roundtrip_all_filters(self):
        from mining_data_integration_spark.operators import multimodal as M
        for seed in range(5):
            raw = bytes((seed * 31 + j * 7) % 256
                        for j in range(M.PNG_W * M.PNG_H * 3))
            png = M.png_encode(raw, M.PNG_W, M.PNG_H, filter_seed=seed)
            assert M.png_decode(png) == (M.PNG_W, M.PNG_H, raw)

    def test_corruptions_raise(self):
        import pytest as _pytest
        from mining_data_integration_spark.operators import multimodal as M
        raw = bytes(range(M.PNG_W * M.PNG_H * 3 % 256 or 256))[
            :M.PNG_W * M.PNG_H * 3]
        raw = bytes((j * 3) % 256 for j in range(M.PNG_W * M.PNG_H * 3))
        png = bytearray(M.png_encode(raw, M.PNG_W, M.PNG_H))
        for mut in (lambda b: b[:10],                  # truncated
                    lambda b: b"X" + bytes(b[1:]),     # bad signature
                    lambda b: bytes(b[:41]) + bytes([b[41] ^ 1])
                    + bytes(b[42:])):                  # IDAT bitflip
            with _pytest.raises(ValueError):
                M.png_decode(mut(png))

    def test_decode_stats_end_to_end(self, spark):
        from mining_data_integration_spark.operators import multimodal as M
        ids = spark.range(0, 200).selectExpr("id as media_id")
        media = ids.mapInPandas(
            M.make_png_media, "media_id bigint, payload binary")
        rows = {r.media_id: r for r in media.mapInPandas(
            M.decode_png_stats, M.PNG_STATS_SCHEMA).collect()}
        n = M.PNG_W * M.PNG_H * 3
        for mid in (1, 42, 97, 150, 0):
            r = rows[mid]
            if mid % M.PNG_POISON_EVERY == 0:
                assert not r.ok and r.sum_r is None
            else:
                exp = [sum((mid * (j + 1)) % 256
                           for j in range(c, n, 3)) for c in range(3)]
                assert (r.sum_r, r.sum_g, r.sum_b) == tuple(exp)
                assert (r.width, r.height, r.ok) == (M.PNG_W, M.PNG_H, True)


def test_mmr_rerank_prefers_diverse_pick(spark):
    """Hand-walked MMR: d1 and d2 are near-duplicates, d3 is diverse;
    after picking d1, MMR must pick d3 over the duplicate d2."""
    from mining_data_integration_spark.operators.similarity import mmr_rerank

    emb = spark.createDataFrame(
        [(1, [2.0, 0.2]), (2, [4.0, 0.4]), (3, [2.0, -1.0])],
        "vec_id long, embedding array<float>")
    q = spark.createDataFrame(
        [(0, [1.0, 0.0])], "q_id long, q_emb array<float>")
    rows = {r.rank: r for r in mmr_rerank(emb, q, pool=3, k=3).collect()}
    # quantized (floor(x*scale + 0.5)): d1=d2=[127,13], d3=[127,-63]
    # (-63.5 + 0.5 floors to -63), qq=[127,0] -> rel all 16129
    assert [rows[i].vec_id for i in (1, 2, 3)] == [1, 3, 2]
    assert rows[1].red == 0
    assert rows[2].red == 127 * 127 - 63 * 13   # dot(d3, d1) = 15310
    assert rows[3].red == 127 * 127 + 13 * 13   # dot(d2, d1) = 16298


def test_mojibake_repair_known_values(spark):
    from mining_data_integration_spark.operators.text import mojibake_repair

    df = spark.createDataFrame(
        [(1, "cafÃ© is donâ€™t"), (2, "clean text")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in mojibake_repair(df).collect()}
    assert got[1].n_fixes == 2
    import hashlib
    assert got[1].fixed_hash == hashlib.md5(
        "café is don't".encode()).hexdigest()
    assert got[1].fixed_len == len("café is don't")
    assert got[2].n_fixes == 0
    assert got[2].fixed_hash == hashlib.md5(b"clean text").hexdigest()


class TestWavCodec:
    def test_roundtrip_and_stdlib_crosscheck(self):
        import io
        import wave as stdwave
        from mining_data_integration_spark.operators import multimodal as M
        samples = [((7 * (j + 3)) % 4001) - 2000
                   for j in range(M.WAV_N_SAMPLES)]
        w = M.wav_encode(samples, M.WAV_SR)
        assert M.wav_decode(w) == (M.WAV_SR, samples)
        wf = stdwave.open(io.BytesIO(w))
        assert (wf.getframerate(), wf.getnchannels(),
                wf.getsampwidth(), wf.getnframes()) == (
            M.WAV_SR, 1, 2, M.WAV_N_SAMPLES)

    def test_corruptions_raise(self):
        import pytest as _pytest
        from mining_data_integration_spark.operators import multimodal as M
        w = bytearray(M.wav_encode([0, 1, -1], 8000))
        for mut in (lambda b: b[:10],
                    lambda b: b"XIFF" + bytes(b[4:]),
                    lambda b: bytes(b[:4]) + bytes([b[4] ^ 1])
                    + bytes(b[5:])):
            with _pytest.raises(ValueError):
                M.wav_decode(mut(w))


def test_cusum_alarms_hand_walked(spark):
    """CUSUM with k=500, h=2000 on a planted drift series."""
    from mining_data_integration_spark.queries.windows import (
        w23_cusum_alarms)
    import os
    import tempfile

    # values in dollars; cents = *100. Series: steady 5.00 (s stays 0),
    # then a +15.00 burst driving s past h.
    rows = []
    vals = [5.0, 5.0, 15.0, 15.0, 15.0, 5.0]
    # s after each (cents, k=500): 0,0,1000,2000 (=h, no strict
    # alarm), 3000->alarm, 3000 (x-k=0)->alarm
    import datetime
    for i, v in enumerate(vals):
        rows.append((i, datetime.datetime(2024, 1, 1, 0, i), 1, "c", v,
                     "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = {r.user_id: r for r in w23_cusum_alarms(spark, d).collect()}
    r = out[1]
    assert (r.n_events, r.final_s, r.max_s, r.n_alarms) == (6, 3000, 3000, 2)
    assert r.lane_safe is True


def test_cusum_lane_overflow_saturates_and_flags(spark):
    """ADVICE r4 (medium): drift past the 2^20-cent lane must not bleed
    into the max_s lane. The fold now SATURATES s at 2^20-1 and the
    exact positive-excess bound flags the user as lane_safe=false."""
    from mining_data_integration_spark.queries.windows import (
        _CU_S, w23_cusum_alarms)
    import datetime
    import os
    import tempfile

    rows = []
    # user 1: two events of $20,000 = 2,000,000 cents each; after k=500
    # each contributes 1,999,500 — the true S (3,999,000) is ~4x the
    # 1,048,576-cent lane. Pre-fix this silently corrupted max_s.
    for i in range(2):
        rows.append((i, datetime.datetime(2024, 1, 1, 0, i), 1, "c",
                     20000.0, "{}"))
    # user 2: well inside the lane — must stay exact and lane_safe.
    rows.append((10, datetime.datetime(2024, 1, 1, 1, 0), 2, "c",
                 8.0, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = {r.user_id: r for r in w23_cusum_alarms(spark, d).collect()}
    r1 = out[1]
    # saturated at the lane max, never corrupting the neighbor lane
    assert r1.final_s == _CU_S - 1
    assert r1.max_s == _CU_S - 1
    assert r1.n_alarms == 2          # both steps exceed h=2000
    assert r1.lane_safe is False     # flagged, not silently wrong
    r2 = out[2]
    assert (r2.final_s, r2.max_s, r2.n_alarms) == (300, 300, 0)
    assert r2.lane_safe is True


def test_pagerank_fixedpoint_hand_walked(spark):
    """3-node graph walked by hand, 1 iteration, scale=1000, damp 17/20.
    A->B(w1), A->C(w1), B->C(w2). r0 = 333 each.
    teleport = (1000*3)//20//3 = 50.
    A: no in-edges -> 50.
    B: from A: ((333*17)//20 * 1)//2 = (283*1)//2 = 141 -> 191.
    C: from A 141, from B ((333*17)//20 * 2)//2 = 283 -> 474."""
    from mining_data_integration_spark.operators.graph import (
        pagerank_fixedpoint)

    edges = spark.createDataFrame(
        [(1, 2, 1), (1, 3, 1), (2, 3, 2)], "src long, dst long, w long")
    out = {r.n: r.r for r in
           pagerank_fixedpoint(edges, iterations=1, scale=1000).collect()}
    assert out == {1: 50, 2: 191, 3: 474}


def test_mad_outliers_hand_walked(spark):
    """cents {100,200,300,400,10000}: median=300 (rank 3), deviations
    {200,100,0,100,9700} -> MAD=100 (sorted 0,100,100,200,9700, rank
    3), fence 3*100=300 -> only the 9700 deviation is an outlier. The
    mean/stddev fence would be dragged by the 10000 value; MAD is not."""
    import datetime
    import os
    import tempfile

    from mining_data_integration_spark.queries.windows import (
        w27_mad_outliers)

    vals = [1.0, 2.0, 3.0, 4.0, 100.0]
    rows = [(i, datetime.datetime(2024, 1, 1, 0, i), 1, "t", v, "{}")
            for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    r = w27_mad_outliers(spark, d).collect()[0]
    assert (r.n_events, r.median_cents, r.mad_cents, r.n_outliers) == (
        5, 300, 100, 1)


def test_changelog_apply_latest_wins(spark):
    """u5 semantics on the planted ops: a %7 doc must carry the seq-2
    'v3' digest (not v2), %13 docs (not also %7*13-overlap handling:
    91 is both -> delete seq 3 wins) vanish, %11 inserts appear."""
    import hashlib

    from mining_data_integration_spark.queries.scans import (
        u5_changelog_apply)

    out = {r.doc_id: r for r in
           u5_changelog_apply(spark, "/root/testdata/sf0.001").collect()}
    docs = {r.doc_id: r.text for r in spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").collect()}

    def dig(s):
        import re
        n = re.sub(r"\s+", " ", s.lower()).strip()
        return hashlib.md5(n.encode()).hexdigest()

    assert out[7].status == "updated"
    assert out[7].dig == dig(docs[7] + " v3")      # seq 2 beat seq 1
    assert 13 not in out                            # deleted
    assert 91 not in out                            # delete (seq 3) wins
    # insert keys live at -id - 1: doc 0's insert lands on key -1
    assert out[-1].status == "inserted"
    assert out[-1].dig == dig("new " + docs[0])
    assert out[1].status == "kept"
    assert out[1].dig == dig(docs[1])


def test_min_label_components_hand_checked(spark):
    """Three known components: a path 1-2-3 (diameter 2), an isolated
    edge 10-11, and a 4-cycle 20-21-22-23. Min-label propagation at
    k >= diameter must label each node with its component minimum."""
    from mining_data_integration_spark.operators.graph import (
        min_label_components)

    raw = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23),
           (23, 20)]
    edges = spark.createDataFrame(raw, "u long, v long")
    got = {(r.n, r.comp)
           for r in min_label_components(edges, iterations=3).collect()}
    want = {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
            (20, 20), (21, 20), (22, 20), (23, 20)}
    assert got == want


def test_g3_six_rounds_converge_on_registered_graph(spark):
    """The g3 query runs 6 propagation rounds; on the registered
    part-supplier graph that must be past the component diameter —
    round 7 changes no label (so the reported rollup IS the true
    connected-components rollup, not a truncated propagation)."""
    from pyspark.sql import functions as F

    from mining_data_integration_spark.operators.graph import (
        min_label_components)
    from mining_data_integration_spark.queries._util import t

    li = t(spark, "/root/testdata/sf0.001", "lineitem")
    edges = (
        li.filter((F.col("l_partkey") * 7 + F.col("l_suppkey")) % 5 == 0)
        .select((F.col("l_partkey").cast("long") * 2).alias("u"),
                (F.col("l_suppkey").cast("long") * 2 + 1).alias("v"))
        .distinct()
    )
    l6 = {(r.n, r.comp)
          for r in min_label_components(edges, iterations=6).collect()}
    l7 = {(r.n, r.comp)
          for r in min_label_components(edges, iterations=7).collect()}
    assert l6 == l7 and l6


def test_bfs_hops_hand_checked(spark):
    """Path 1-2-3-4-5 seeded at {1}: hops are the path positions;
    the disconnected edge 10-11 stays absent (fragmentation is
    signal). Seeding BOTH ends {1, 5} makes every hop the MIN over
    seeds — node 3 sits at 2 from either end."""
    from mining_data_integration_spark.operators.graph import bfs_hops

    raw = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)]
    edges = spark.createDataFrame(raw, "u long, v long")
    one = spark.createDataFrame([(1,)], "n long")
    got = {(r.n, r.hops) for r in bfs_hops(edges, one, rounds=6).collect()}
    assert got == {(1, 0), (2, 1), (3, 2), (4, 3), (5, 4)}
    both = spark.createDataFrame([(1,), (5,)], "n long")
    got2 = {(r.n, r.hops)
            for r in bfs_hops(edges, both, rounds=6).collect()}
    assert got2 == {(1, 0), (5, 0), (2, 1), (4, 1), (3, 2)}


def test_kcore_hand_checked(spark):
    """Triangle 1-2-3 with a pendant chain 3-4-5: peeling at k=2
    removes 5 (degree 1), then 4, leaving exactly the triangle —
    every survivor at degree 2. The cascade needs the iteration (4
    has degree 2 before 5 peels), so rounds=1 must still hold 4 —
    pinning that fixed-round peeling is the monotone PREFIX of the
    exact core, not an approximation of it."""
    from mining_data_integration_spark.operators.graph import kcore

    raw = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    edges = spark.createDataFrame(raw, "u long, v long")
    got = {(r.n, r.degree) for r in
           kcore(edges, k=2, rounds=3).collect()}
    assert got == {(1, 2), (2, 2), (3, 2)}
    one = {(r.n, r.degree) for r in
           kcore(edges, k=2, rounds=1).collect()}
    assert one == {(1, 2), (2, 2), (3, 3), (4, 1)}
    # k=3: nothing in this graph survives
    assert kcore(edges, k=3, rounds=3).count() == 0


def test_bfs_hops_partition_invariant_on_registered_graph(spark):
    """The g5 traversal is deterministic at any fixed round bound —
    bit-identical reruns under a different partitioning (what makes
    the chained-CTE oracle hash-checkable), and hop layers nest: the
    round-4 row set is exactly the round-6 rows with hops <= 4."""
    from pyspark.sql import functions as F

    from mining_data_integration_spark.operators.graph import bfs_hops
    from mining_data_integration_spark.queries._util import t

    li = t(spark, "/root/testdata/sf0.001", "lineitem")
    edges = (
        li.filter((F.col("l_partkey") * 7 + F.col("l_suppkey")) % 5 == 0)
        .select((F.col("l_partkey").cast("long") * 2).alias("u"),
                (F.col("l_suppkey").cast("long") * 2 + 1).alias("v"))
        .distinct()
    )
    seeds = (
        t(spark, "/root/testdata/sf0.001", "supplier")
        .filter(F.col("s_suppkey") % 7 == 1)
        .select((F.col("s_suppkey").cast("long") * 2 + 1).alias("n"))
    )
    d6 = {(r.n, r.hops) for r in bfs_hops(edges, seeds, rounds=6).collect()}
    again = {(r.n, r.hops)
             for r in bfs_hops(edges.repartition(3, "u"), seeds,
                               rounds=6).collect()}
    assert d6 == again and d6
    d4 = {(r.n, r.hops) for r in bfs_hops(edges, seeds, rounds=4).collect()}
    assert d4 == {(n, h) for (n, h) in d6 if h <= 4}


def test_triangle_stats_hand_checked(spark):
    """Square 1-2-3-4 with one diagonal (1,3): exactly 2 triangles,
    5 edges, wedges = sum C(deg,2) = C(3,2)*2 + C(2,2)*2 = 8. Input
    deliberately messy: duplicates and both orientations must
    collapse before counting."""
    from mining_data_integration_spark.operators.graph import (
        triangle_stats)

    raw = [(1, 2), (2, 1), (2, 3), (3, 4), (4, 1), (1, 3),
           (3, 1), (1, 2), (2, 2)]   # dupes, reversals, self-loop
    pairs = spark.createDataFrame(raw, "a long, b long")
    row = triangle_stats(pairs).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles) \
        == (4, 5, 8, 2)


class TestPyQuantizeParity:
    """Round-14: the pruned-probe head quantizes BOUNDED query sets
    driver-side (_int8_quantize_py) instead of building a Spark plan
    per probe call. The replica must match int8_quantize bit-for-bit
    on every vector it can ever see — pinned over the real corpus
    plus adversarial shapes (negatives, zeros, all-equal, tiny/huge
    magnitudes, sign-flipped)."""

    def test_python_head_equals_spark_quantize_on_corpus(self, spark):
        from pyspark.sql import functions as F

        from mining_data_integration_spark.operators.similarity import (
            _int8_quantize_py, int8_quantize)

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet")
        zero = spark.createDataFrame(
            [(-1, [0.0] * 64)], "vec_id long, embedding array<float>")
        got = emb.select("vec_id", "embedding").unionByName(zero).select(
            "vec_id", "embedding",
            int8_quantize(F.col("embedding")).alias("q")).collect()
        assert sum(r.vec_id != -1 for r in got) > 0
        assert [r.q for r in got if r.vec_id == -1] == [[0] * 64]
        for r in got:
            assert _int8_quantize_py(r.embedding) == list(r.q), r.vec_id

    def test_python_head_equals_spark_quantize_adversarial(self, spark):
        from pyspark.sql import functions as F

        from mining_data_integration_spark.operators.similarity import (
            _int8_quantize_py, int8_quantize)

        vecs = [
            [0.0, 0.0, 0.0],
            [1.0, 1.0, 1.0],
            [-1.0, 2.0, -3.0],
            [1e-12, -1e-12, 5e-13],
            [1e12, -7e11, 3.3e11],
            [127.0, -127.0, 63.5],
            [0.1, 0.2, 0.30000000000000004],
            [-0.0, 0.0, 1.0],
        ]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)],
            "i long, v array<double>")
        got = df.select("i", "v",
                        int8_quantize(F.col("v")).alias("q")).collect()
        for r in got:
            assert _int8_quantize_py(r.v) == list(r.q), r.i


class TestInt8QuantizeScaleOnce:
    """int8_quantize computes each vector's scale once: no array_max is
    evaluated inside a per-element lambda (the values are pinned equal
    to the driver replica's in TestPyQuantizeParity)."""

    def test_no_array_max_inside_a_lambda(self, spark):
        plan = spark.createDataFrame(
            [(1, [1.0, -2.0])], "i long, v array<double>").select(
            S.int8_quantize(F.col("v"))) \
            ._jdf.queryExecution().optimizedPlan().toString()
        bodies, at = [], plan.find("lambdafunction(")
        while at >= 0:
            depth, i = 0, at + len("lambdafunction")
            for i in range(i, len(plan)):
                depth += {"(": 1, ")": -1}.get(plan[i], 0)
                if depth == 0:
                    break
            bodies.append(plan[at:i + 1])
            at = plan.find("lambdafunction(", at + 1)
        assert any("FLOOR" in b for b in bodies), plan
        assert not any("array_max" in b for b in bodies), plan


class TestDriverWrittenIndexSides:
    """The bounded index sides are written with pyarrow (no Spark job)
    in the column types a Spark write gave them, and the partitioned
    index reads take their schema from a footer (no inference job)."""

    def test_driver_write_runs_no_job_and_reads_as_spark_wrote(
            self, spark, tmp_path, jobs_of):
        import os

        ddl = "version int, n int, id_col string, cent array<bigint>"
        rows = [(1, 7, "vec_id", [3, -2, 127]), (2, 8, "x", [])]
        path = str(tmp_path / "driver")
        _, n = jobs_of(lambda: S._driver_write_parquet(path, rows, ddl))
        assert n == 0
        names = os.listdir(path)
        assert len(names) == 1 and names[0].startswith("part-00000-") \
            and names[0].endswith(".snappy.parquet")
        spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(
            str(tmp_path / "spark"))
        ours = spark.read.parquet(path)
        theirs = spark.read.parquet(str(tmp_path / "spark"))
        assert ours.schema == theirs.schema
        assert sorted(map(tuple, ours.collect())) == \
            sorted(map(tuple, theirs.collect()))
        assert S._driver_read_parquet(path) == \
            S._driver_read_parquet(str(tmp_path / "spark"))

    def test_index_sides_keep_their_schema(self, spark, tmp_path):
        import os

        emb = vec_df(spark, [(i, [float((i * 5 + j) % 9) - 4.0
                                  for j in range(8)]) for i in range(30)])
        S.save_ivfpq_index(emb, str(tmp_path / "ivf"), n_cells=2, m=2,
                           kc=2, iters=1, dim=8)
        S.save_nsw_index(emb, str(tmp_path / "nsw"), k_nbrs=4,
                         n_centroids=2, iters=1)
        D.save_minhash_index(docs_df(spark, [(i, f"doc {i} words {i % 3}")
                                             for i in range(6)]),
                             str(tmp_path / "mh"))
        want = {
            "ivf/meta": "version:int,n_cells:int,m:int,kc:int,dim:int,"
                        "sub:int,id_col:string",
            "ivf/cells": "cell:int,cent:array<bigint>",
            "ivf/codebooks": "s:int,cid:int,cent:array<bigint>",
            "nsw/meta": "version:int,k_nbrs:int,n_centroids:int,"
                        "n_probe:int,iters:int,id_col:string",
            "mh/meta": "version:int,n:int,num_hashes:int,bands:int"}
        for side, schema in want.items():
            d = str(tmp_path / side)
            assert all(n.startswith("part-") for n in os.listdir(d))
            assert spark.read.parquet(d).schema.simpleString() == \
                f"struct<{schema}>", side

    def test_partitioned_reads_take_the_footer_schema(
            self, spark, tmp_path, jobs_of):
        emb = vec_df(spark, [(i, [float((i * 7 + j * 3) % 11) - 5.0
                                  for j in range(8)]) for i in range(40)])
        path = str(tmp_path / "ivf")
        S.save_ivfpq_index(emb, path, n_cells=2, m=2, kc=2, iters=2,
                           dim=8)
        idx, n = jobs_of(lambda: S.load_ivfpq_index(spark, path))
        assert n == 0
        inferred = spark.read.parquet(S._codes_dir(path))
        assert idx["codes"].schema == inferred.schema
        q = emb.filter("vec_id < 5").select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
        got = sorted(map(tuple, S.ivfpq_probe_topk(idx, q, k=3).collect()))
        want = sorted(map(tuple, S.ivfpq_probe_topk(
            dict(idx, codes=inferred), q, k=3).collect()))
        assert got == want and got
        mh = str(tmp_path / "mh")
        D.save_minhash_index(docs_df(spark, [(i, f"doc {i} words {i % 3}")
                                             for i in range(6)]), mh)
        assert S._parquet_scan(spark, D._buckets_dir(mh)).schema \
            == spark.read.parquet(D._buckets_dir(mh)).schema


class TestIvfpqPersistedLifecycle:
    """sim19: train-once / save / load / probe-many (round-8 VERDICT
    #1). The persisted probe must (a) equal the inline sim17 operator
    bit-for-bit at the same parameters, (b) run NO training code, and
    (c) be replayable by DuckDB straight off the parquet artifacts."""

    def _emb(self, spark, n=40, dim=8):
        import math
        rows = [(i, [float(((i * 7 + j * 3) % 11) - 5)
                     for j in range(dim)]) for i in range(n)]
        return rows, spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")

    def test_persisted_probe_matches_inline(self, spark, tmp_path):
        from mining_data_integration_spark.operators import (
            similarity as S)

        rows, emb = self._emb(spark)
        q = emb.filter("vec_id < 2").select(
            emb.vec_id.alias("q_id"), emb.embedding.alias("q_emb"))
        inline = S.int_ivfpq_topk(
            emb, q, k=3, n_cells=2, n_probe=1, m=2, kc=2, iters=2,
            dim=8).collect()
        path = str(tmp_path / "idx")
        S.save_ivfpq_index(emb, path, n_cells=2, m=2, kc=2, iters=2,
                           dim=8)
        idx = S.load_ivfpq_index(spark, path)
        persisted = S.ivfpq_probe_topk(idx, q, k=3, n_probe=1).collect()
        key = lambda r: (r.q_id, r.rk)
        assert sorted([tuple(r) for r in persisted]) \
            == sorted([tuple(r) for r in inline])

    def test_probe_path_runs_no_training(self, spark, tmp_path,
                                         monkeypatch):
        """Poison every training entry point AFTER the index is
        built: load + probe must still produce the full result —
        the probe path provably contains no k-means."""
        from mining_data_integration_spark.operators import (
            similarity as S)

        rows, emb = self._emb(spark)
        path = str(tmp_path / "idx")
        S.save_ivfpq_index(emb, path, n_cells=2, m=2, kc=2, iters=2,
                           dim=8)

        def boom(*a, **k):
            raise AssertionError("training ran on the probe path")

        monkeypatch.setattr(S, "_ivfpq_train", boom)
        monkeypatch.setattr(S, "int_ivf_centroids", boom)
        monkeypatch.setattr(S, "int_pq_codebooks", boom)
        q = emb.filter("vec_id < 2").select(
            emb.vec_id.alias("q_id"), emb.embedding.alias("q_emb"))
        idx = S.load_ivfpq_index(spark, path)
        out = S.ivfpq_probe_topk(idx, q, k=3, n_probe=1).collect()
        assert len(out) == 6 and all(r.ip_q8 is not None for r in out)

    def test_encode_plan_round_trips_flat_in_cell_count(
            self, spark, monkeypatch):
        """Building the append-path encode plan (no action) costs a
        constant number of py4j round trips in n_cells and kc: each
        centroid set and codebook is ONE literal column, never one
        Column per element (per-element literals cost ~15k round trips
        at 4 cells x 4 codewords and ~60k at 16 x 16). py4j's
        memory-management deletes ("m" commands) are left out: they
        are flushed in bursts for objects freed by earlier work."""
        from py4j.clientserver import ClientServerConnection

        from mining_data_integration_spark.operators import (
            similarity as S)

        _, emb = self._emb(spark, dim=64)
        calls = [0]
        send = ClientServerConnection.send_command

        def counting(conn, command):
            if not command.startswith("m\n"):
                calls[0] += 1
            return send(conn, command)

        monkeypatch.setattr(ClientServerConnection, "send_command",
                            counting)

        def round_trips(n_cells, kc, m=4, dim=64):
            sub = dim // m
            cells = [[(c * 7 + j) % 255 - 127 for j in range(dim)]
                     for c in range(n_cells)]
            books = [[[(s + w * 3 + j) % 200 - 100 for j in range(sub)]
                      for w in range(kc)] for s in range(m)]
            before = calls[0]
            S._ivfpq_encode(emb, cells, books, sub, "vec_id",
                            "embedding")
            return calls[0] - before

        round_trips(4, 4)  # warm py4j's per-method lookups
        small, big = round_trips(4, 4), round_trips(16, 16)
        assert big - small <= 20, (small, big)

    def test_pruned_probe_rejects_non_finite_queries(self, spark,
                                                     tmp_path):
        """The pruned probe quantizes queries in Python; a NaN, inf
        or null element (or a null vector) has no int8 quantization
        the Spark expression agrees with, so the probe refuses it by
        query id instead of ranking a different vector."""
        import pytest as _pytest

        from mining_data_integration_spark.operators import (
            similarity as S)

        _, emb = self._emb(spark)
        path = str(tmp_path / "idx")
        S.save_ivfpq_index(emb, path, n_cells=2, m=2, kc=2, iters=2,
                           dim=8)
        idx = S.load_ivfpq_index(spark, path)
        good = [float(j) - 3.5 for j in range(8)]
        bad = [good[:3] + [x] + good[4:]
               for x in (float("nan"), float("inf"), float("-inf"), None)]
        for qid, vec in zip((11, 12, 13, 14, 15), bad + [None]):
            q = spark.createDataFrame([(1, good), (qid, vec)],
                                      "q_id long, q_emb array<double>")
            with _pytest.raises(ValueError, match=f"query {qid}:"):
                S.ivfpq_probe_topk(idx, q, k=3, n_probe=1)
        ok = spark.createDataFrame([(1, good)],
                                   "q_id long, q_emb array<double>")
        assert len(S.ivfpq_probe_topk(idx, ok, k=3,
                                      n_probe=1).collect()) == 3

    def test_save_is_idempotent_and_versioned(self, spark, tmp_path):
        from mining_data_integration_spark.operators import (
            similarity as S)

        rows, emb = self._emb(spark)
        path = str(tmp_path / "idx")
        S.save_ivfpq_index(emb, path, n_cells=2, m=2, kc=2, iters=2,
                           dim=8)
        import os
        mt = os.path.getmtime(os.path.join(path, "meta"))
        S.save_ivfpq_index(emb, path, n_cells=2, m=2, kc=2, iters=2,
                           dim=8)  # no-op: meta untouched
        assert os.path.getmtime(os.path.join(path, "meta")) == mt
        # version gate: a reader from a different layout generation
        # must refuse, not misread
        import pytest as _pytest
        from unittest import mock
        with mock.patch.object(S, "IVFPQ_INDEX_VERSION", 99):
            with _pytest.raises(ValueError, match="version"):
                S.load_ivfpq_index(spark, path)

    def test_duckdb_replays_probe_over_artifacts(self, spark, tmp_path):
        """The artifacts are engine-portable: DuckDB reads the SAME
        parquet files (codes partitions, cells, codebooks) and
        replays quantize -> probe -> ADC -> top-k, matching the Spark
        probe row-for-row."""
        import duckdb

        from mining_data_integration_spark.operators import (
            similarity as S)

        rows, emb = self._emb(spark)
        path = str(tmp_path / "idx")
        S.save_ivfpq_index(emb, path, n_cells=2, m=2, kc=2, iters=2,
                           dim=8)
        idx = S.load_ivfpq_index(spark, path)
        q = emb.filter("vec_id < 2").select(
            emb.vec_id.alias("q_id"), emb.embedding.alias("q_emb"))
        got = sorted(tuple(r) for r in
                     S.ivfpq_probe_topk(idx, q, k=3, n_probe=1)
                     .collect())

        con = duckdb.connect()
        con.execute("CREATE TABLE src (vec_id BIGINT, "
                    "embedding DOUBLE[])")
        con.executemany("INSERT INTO src VALUES (?, ?)", rows)
        sub, kc = 4, 2
        d2 = (f"list_sum(list_transform(range(1, 9), "
              f"i -> (q.q[i]-c.cent[i])*(q.q[i]-c.cent[i])))")
        sql = f"""
        WITH base AS (
            SELECT vec_id, embedding,
                   list_max(list_transform(embedding, x -> abs(x))) mx
            FROM src WHERE vec_id < 2
        ), qv AS (
            SELECT vec_id AS q_id,
                   CASE WHEN mx > 0 THEN list_transform(embedding,
                       x -> CAST(floor(x * (127.0/mx) + 0.5) AS BIGINT))
                   ELSE list_transform(embedding,
                       x -> CAST(0 AS BIGINT)) END AS q
            FROM base
        ), cells AS (
            SELECT * FROM read_parquet('{path}/cells/*.parquet')
        ), probe AS (
            SELECT q.q_id, c.cell, q.q,
                   CAST(list_sum(list_transform(range(1, 9),
                       i -> q.q[i]*c.cent[i])) AS BIGINT) AS qc,
                   row_number() OVER (PARTITION BY q.q_id
                       ORDER BY {d2}, c.cell) AS rn
            FROM qv q CROSS JOIN cells c
        ), probed AS (
            SELECT * FROM probe WHERE rn <= 1
        ), codes AS (
            SELECT vec_id, _c0, _c1, CAST(_cell AS INT) AS _cell
            FROM read_parquet('{path}/codes/*/*.parquet',
                              hive_partitioning=1)
        ), books AS (
            SELECT * FROM read_parquet('{path}/codebooks/*.parquet')
        ), luts AS (
            SELECT p.q_id, b.s, b.cid,
                   CAST(list_sum(list_transform(range(1, {sub + 1}),
                       i -> p.q[b.s*{sub} + i] * b.cent[i]))
                   AS BIGINT) AS dot
            FROM (SELECT DISTINCT q_id, q FROM probed) p
            CROSS JOIN books b
        ), scored AS (
            SELECT p.q_id, c.vec_id,
                   CAST(p.qc + l0.dot + l1.dot AS BIGINT) AS ip_q8
            FROM probed p
            JOIN codes c ON c._cell = p.cell
            JOIN luts l0 ON l0.q_id = p.q_id AND l0.s = 0
                        AND l0.cid = c._c0
            JOIN luts l1 ON l1.q_id = p.q_id AND l1.s = 1
                        AND l1.cid = c._c1
        )
        SELECT q_id, vec_id, ip_q8, CAST(rk AS BIGINT) AS rk FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
                ORDER BY ip_q8 DESC, vec_id) AS rk
            FROM scored
        ) WHERE rk <= 3 ORDER BY q_id, rk
        """
        want = sorted(tuple(r) for r in con.execute(sql).fetchall())
        assert got == want

    def test_append_runs_no_training_and_matches_union(
            self, spark, tmp_path, monkeypatch):
        """Day-2 append (sim20): poisons every training entry point
        BEFORE the append — encoding new vectors must use only the
        frozen cells/codebooks — then pins that probing the appended
        index equals probing an index built over the same union with
        the SAME frozen quantizers (encode-inline parity)."""
        from mining_data_integration_spark.operators import (
            similarity as S)

        rows, emb = self._emb(spark)
        base = emb.filter("vec_id % 2 = 0")
        delta = emb.filter("vec_id % 2 = 1")
        path = str(tmp_path / "idx")
        S.save_ivfpq_index(base, path, n_cells=2, m=2, kc=2, iters=2,
                           dim=8)

        def boom(*a, **k):
            raise AssertionError("training ran during append")

        monkeypatch.setattr(S, "_ivfpq_train", boom)
        monkeypatch.setattr(S, "int_ivf_centroids", boom)
        monkeypatch.setattr(S, "int_pq_codebooks", boom)
        S.append_to_ivfpq_index(delta, path)

        idx = S.load_ivfpq_index(spark, path)
        assert idx["codes"].count() == 40  # base 20 + appended 20
        q = emb.filter("vec_id < 2").select(
            emb.vec_id.alias("q_id"), emb.embedding.alias("q_emb"))
        got = sorted(tuple(r) for r in
                     S.ivfpq_probe_topk(idx, q, k=3, n_probe=1)
                     .collect())
        # parity: encode the union in memory with the SAME frozen
        # artifacts and probe that
        union_codes = S._ivfpq_encode(
            emb, idx["cells"], idx["codebooks"], idx["meta"]["sub"],
            "vec_id", "embedding")
        want = sorted(tuple(r) for r in S._ivfpq_probe(
            union_codes, idx["cells"], idx["codebooks"], q,
            3, 1, 2, idx["meta"]["sub"], idx["meta"]["kc"],
            "vec_id", "q_id", "q_emb").collect())
        assert got == want

    def test_refine_reranks_candidates_exactly(self, spark, tmp_path):
        """sim22: the refined top-k must equal re-ranking the probe's
        r candidates by the exact integer dot, computed independently
        in Python from the same int8 quantization — and every refined
        row must come from the candidate set (two-stage containment)."""
        from mining_data_integration_spark.operators import (
            similarity as S)

        rows, emb = self._emb(spark)
        path = str(tmp_path / "idx")
        S.save_ivfpq_index(emb, path, n_cells=2, m=2, kc=2, iters=2,
                           dim=8)
        idx = S.load_ivfpq_index(spark, path)
        q = emb.filter("vec_id < 2").select(
            emb.vec_id.alias("q_id"), emb.embedding.alias("q_emb"))
        r, k = 6, 3
        got = S.ivfpq_refine_topk(idx, emb, q, k=k, r=r,
                                  n_probe=1).collect()
        cand = S.ivfpq_probe_topk(idx, q, k=r, n_probe=1).collect()
        cand_ids = {(c.q_id, c.vec_id) for c in cand}
        assert all((g.q_id, g.vec_id) in cand_ids for g in got)

        def quant(v):
            mx = max(abs(x) for x in v)
            if mx == 0:
                return [0] * len(v)
            import math
            return [math.floor(x * 127.0 / mx + 0.5) for x in v]

        qvecs = {i: quant(v) for i, v in rows}
        want = []
        for qid in (0, 1):
            cs = [(c.vec_id,
                   sum(a * b for a, b in zip(qvecs[qid],
                                             qvecs[c.vec_id])))
                  for c in cand if c.q_id == qid]
            cs.sort(key=lambda t: (-t[1], t[0]))
            want += [(qid, vid, ip, rk + 1)
                     for rk, (vid, ip) in enumerate(cs[:k])]
        assert sorted(tuple(g) for g in got) == sorted(want)

    def test_refine_path_runs_no_training(self, spark, tmp_path,
                                          monkeypatch):
        """The sim22 two-stage path must run NO k-means: poison every
        training entry point after the build; refine must still
        produce the full result."""
        from mining_data_integration_spark.operators import (
            similarity as S)

        rows, emb = self._emb(spark)
        path = str(tmp_path / "idx")
        S.save_ivfpq_index(emb, path, n_cells=2, m=2, kc=2, iters=2,
                           dim=8)

        def boom(*a, **k):
            raise AssertionError("training ran on the refine path")

        monkeypatch.setattr(S, "_ivfpq_train", boom)
        monkeypatch.setattr(S, "int_ivf_centroids", boom)
        monkeypatch.setattr(S, "int_pq_codebooks", boom)
        q = emb.filter("vec_id < 2").select(
            emb.vec_id.alias("q_id"), emb.embedding.alias("q_emb"))
        idx = S.load_ivfpq_index(spark, path)
        out = S.ivfpq_refine_topk(idx, emb, q, k=3, r=6,
                                  n_probe=1).collect()
        assert len(out) == 6 and all(r.ip_exact is not None for r in out)

    def test_filtered_probe_is_prefilter_not_postfilter(
            self, spark, tmp_path):
        """sim23: codes_filter must restrict candidates BEFORE
        ranking — every returned id satisfies the predicate, each
        query still gets a full k rows, and the result equals probing
        an index whose codes frame was filtered by hand (while a
        post-filter of the unconstrained top-k would generally return
        fewer rows)."""
        from pyspark.sql import functions as F

        from mining_data_integration_spark.operators import (
            similarity as S)

        rows, emb = self._emb(spark)
        path = str(tmp_path / "idx")
        S.save_ivfpq_index(emb, path, n_cells=2, m=2, kc=2, iters=2,
                           dim=8)
        idx = S.load_ivfpq_index(spark, path)
        q = emb.filter("vec_id < 2").select(
            emb.vec_id.alias("q_id"), emb.embedding.alias("q_emb"))
        pred = F.col("vec_id") % 3 == 0
        got = S.ivfpq_probe_topk(idx, q, k=3, n_probe=2,
                                 codes_filter=pred).collect()
        assert len(got) == 6
        assert all(r.vec_id % 3 == 0 for r in got)
        by_hand = dict(idx)
        by_hand["codes"] = idx["codes"].filter(pred)
        want = S.ivfpq_probe_topk(by_hand, q, k=3, n_probe=2).collect()
        assert sorted(tuple(r) for r in got) \
            == sorted(tuple(r) for r in want)
        # a post-filter of the unconstrained top-3 keeps fewer rows
        # on this fixture — the semantics genuinely differ
        unf = S.ivfpq_probe_topk(idx, q, k=3, n_probe=2).collect()
        assert sum(1 for r in unf if r.vec_id % 3 == 0) < len(got)


class TestIvfpqOccupancy:
    """sim24: the cell-occupancy audit + the rebalance path."""

    def _fan(self, spark):
        # angular fan: direction varies, so per-vector int8
        # quantization preserves the geometry; the first 4 vec_ids
        # (the k-means seeds) are clustered in a narrow angle, so a
        # short train leaves one genuinely HOT cell
        import math

        rows = []
        for j in range(32):
            th = math.radians(j * 3.0)
            rows.append((j, [100 * math.cos(th), 100 * math.sin(th)]
                         + [0.0] * 6))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")

    @pytest.mark.slow
    def test_audit_flags_hot_cell_and_rebalance_clears_it(
            self, spark, tmp_path):
        from mining_data_integration_spark.operators import (
            similarity as S)

        emb = self._fan(spark)
        skewed = str(tmp_path / "skewed")
        S.save_ivfpq_index(emb, skewed, n_cells=4, m=2, kc=2,
                           iters=2, dim=8)
        before = S.ivfpq_cell_occupancy(
            S.load_ivfpq_index(spark, skewed)).collect()
        assert sum(r.n_codes for r in before) == 32
        assert len(before) == 4                  # empty cells kept
        assert any(r.is_hot for r in before)     # skew detected
        # shares are exact integer thousandths of the total
        assert all(r.occ_milli == r.n_codes * 1000 // 32
                   for r in before)

        balanced = str(tmp_path / "balanced")
        S.rebalance_ivfpq_index(emb, skewed, balanced, iters=8)
        after = S.ivfpq_cell_occupancy(
            S.load_ivfpq_index(spark, balanced)).collect()
        assert sum(r.n_codes for r in after) == 32
        assert not any(r.is_hot for r in after)  # skew cleared
        assert max(r.occ_milli for r in after) \
            < max(r.occ_milli for r in before)
        # the rebalanced artifact is probe-compatible (same geometry)
        meta_a = spark.read.parquet(f"{skewed}/meta").collect()[0]
        meta_b = spark.read.parquet(f"{balanced}/meta").collect()[0]
        assert (meta_a.n_cells, meta_a.m, meta_a.kc, meta_a.dim) \
            == (meta_b.n_cells, meta_b.m, meta_b.kc, meta_b.dim)

    def test_empty_index_audit_reports_zero_occupancy(self, spark):
        # round-10 ADVICE: _total = 0 must not DIVIDE_BY_ZERO under
        # ANSI mode (Spark 4 default) — an empty index audits to
        # all-zero shares, no hot flags
        from mining_data_integration_spark.operators import (
            similarity as S)

        codes = spark.createDataFrame(
            [], "vec_id long, _cell int, code array<int>")
        out = S.ivfpq_cell_occupancy(
            {"codes": codes, "meta": {"n_cells": 4}}).collect()
        assert len(out) == 4
        assert all(r.n_codes == 0 and r.occ_milli == 0
                   and not r.is_hot for r in out)

    def test_rebalance_version_gate(self, spark, tmp_path):
        from unittest import mock

        import pytest as _pytest

        from mining_data_integration_spark.operators import (
            similarity as S)

        emb = self._fan(spark)
        path = str(tmp_path / "vg")
        S.save_ivfpq_index(emb, path, n_cells=4, m=2, kc=2,
                           iters=2, dim=8)
        with mock.patch.object(S, "IVFPQ_INDEX_VERSION", 99):
            with _pytest.raises(ValueError, match="version"):
                S.rebalance_ivfpq_index(
                    emb, path, str(tmp_path / "vg2"), iters=4)


class TestMinhashPersistedIndex:
    """dd15: the persisted near-dup ingest index (build band buckets
    once, probe each batch with the recorded parameters)."""

    def _docs(self, spark):
        base = "the quick brown fox jumps over the lazy dog tonight"
        rows = [(i, base.replace("dog", f"pet{i}")) for i in range(0, 8, 2)]
        rows += [(i, base.replace("dog", f"pet{i-1}"))   # near-dup of i-1
                 for i in range(1, 8, 2)]
        rows += [(20, "completely unrelated text with different words"),
                 (21, "another disjoint document nothing shared here")]
        return docs_df(spark, rows)

    def test_probe_matches_inline_cross_pairs(self, spark, tmp_path):
        docs = self._docs(spark)
        path = str(tmp_path / "lshidx")
        D.save_minhash_index(docs.filter("doc_id % 2 = 0"), path,
                             n=3, num_hashes=16, bands=4)
        got = {(r.new_id, r.corpus_id) for r in D.probe_minhash_index(
            docs.filter("doc_id % 2 = 1"), path).collect()}
        # expected: the odd-even cross slice of the full self-join
        # candidates (shared machinery, so parity must be exact)
        full = D.minhash_lsh_candidates(docs, n=3, num_hashes=16,
                                        bands=4).collect()
        want = set()
        for r in full:
            for a, b in ((r.id1, r.id2), (r.id2, r.id1)):
                if a % 2 == 1 and b % 2 == 0:
                    want.add((a, b))
        assert got == want and got  # non-empty: near-dups really match

    def test_append_probe_equals_one_shot_union(self, spark, tmp_path):
        """dd16 parity pin: build on gen 1 (doc_id % 4 == 0), APPEND
        gen 2 (doc_id % 4 == 2) with the recorded params, and the
        probe must equal probing an index built ONE-SHOT over the
        union corpus — day-2 appends are invisible to queries."""
        docs = self._docs(spark)
        appended = str(tmp_path / "appended")
        D.save_minhash_index(docs.filter("doc_id % 4 = 0"), appended,
                             n=3, num_hashes=16, bands=4)
        D.append_to_minhash_index(docs.filter("doc_id % 4 = 2"),
                                  appended)
        oneshot = str(tmp_path / "oneshot")
        D.save_minhash_index(docs.filter("doc_id % 2 = 0"), oneshot,
                             n=3, num_hashes=16, bands=4)
        batch = docs.filter("doc_id % 2 = 1")
        got = sorted((r.new_id, r.corpus_id) for r in
                     D.probe_minhash_index(batch, appended).collect())
        want = sorted((r.new_id, r.corpus_id) for r in
                      D.probe_minhash_index(batch, oneshot).collect())
        assert got == want and got

        # compaction merges fragments without changing any probe:
        import glob
        before = len(glob.glob(
            f"{D._buckets_dir(appended)}/band=*/*.parquet"))
        D.compact_minhash_index(spark, appended)
        after = len(glob.glob(
            f"{D._buckets_dir(appended)}/band=*/*.parquet"))
        assert after < before
        compacted = sorted(
            (r.new_id, r.corpus_id)
            for r in D.probe_minhash_index(batch, appended).collect())
        assert compacted == want

    def test_compaction_is_atomic_generation_swap(self, spark, tmp_path):
        """round-9 VERDICT: a probe racing a compaction must read
        either generation, never a missing buckets/. The swap is a
        pointer flip (kv.py discipline); the superseded generation
        survives one cycle for in-flight readers."""
        import os

        docs = self._docs(spark)
        path = str(tmp_path / "genswap")
        D.save_minhash_index(docs.filter("doc_id % 2 = 0"), path,
                             n=3, num_hashes=16, bands=4)
        D.append_to_minhash_index(docs.filter("doc_id % 2 = 1"), path)
        batch = docs.filter("doc_id % 3 = 0")
        want = sorted((r.new_id, r.corpus_id) for r in
                      D.probe_minhash_index(batch, path).collect())

        g_legacy = D._buckets_dir(path)
        assert g_legacy.endswith("buckets")     # fresh build: flat dir
        # an in-flight reader resolves the CURRENT dir before the flip
        pre_flip = spark.read.parquet(g_legacy)

        D.compact_minhash_index(spark, path)
        g2 = D._buckets_dir(path)
        assert g2.endswith("buckets-g2")
        # superseded generation kept one cycle: the pre-flip reader
        # still reads a complete, immutable directory
        assert os.path.exists(g_legacy)
        assert pre_flip.count() > 0
        got = sorted((r.new_id, r.corpus_id) for r in
                     D.probe_minhash_index(batch, path).collect())
        assert got == want

        # second compaction advances the generation and prunes g<=1
        D.compact_minhash_index(spark, path)
        assert D._buckets_dir(path).endswith("buckets-g3")
        assert not os.path.exists(g_legacy)     # pruned
        assert os.path.exists(os.path.join(path, "buckets-g2"))
        got = sorted((r.new_id, r.corpus_id) for r in
                     D.probe_minhash_index(batch, path).collect())
        assert got == want
        # appends land in the CURRENT generation after a flip
        D.append_to_minhash_index(
            docs.filter("doc_id % 4 = 3").withColumn(
                "doc_id", F.col("doc_id") + 10_000), path)
        assert len(os.listdir(os.path.join(path, "buckets-g3"))) > 0

    def test_append_version_gate(self, spark, tmp_path):
        from unittest import mock

        import pytest as _pytest

        docs = self._docs(spark)
        path = str(tmp_path / "vgate")
        D.save_minhash_index(docs.filter("doc_id % 4 = 0"), path,
                             n=3, num_hashes=16, bands=4)
        with mock.patch.object(D, "MINHASH_INDEX_VERSION", 99):
            with _pytest.raises(ValueError, match="version"):
                D.append_to_minhash_index(
                    docs.filter("doc_id % 4 = 2"), path)

    def test_stream_probe_over_appended_index_stays_green(
            self, spark, tmp_path):
        """st9 re-pointed at a dd16-style appended index (round-9
        VERDICT #3 done-criterion): the streamed novelty report over
        base+append equals the one over the one-shot index, because
        the corpora are identical sets."""
        from pyspark.sql import functions as F

        from mining_data_integration_spark.streaming import (
            stream_ingest_dedup)

        docs = self._docs(spark)
        src = str(tmp_path / "src")
        docs.write.parquet(src)
        appended = str(tmp_path / "appidx")
        D.save_minhash_index(docs.filter("doc_id % 4 = 0"), appended,
                             n=3, num_hashes=16, bands=4)
        D.append_to_minhash_index(docs.filter("doc_id % 4 = 2"),
                                  appended)
        D.compact_minhash_index(spark, appended)

        def run(idx_path: str, tag: str):
            stream = (spark.readStream.schema(docs.schema).parquet(src)
                      .filter(F.col("doc_id") % 2 == 1))
            out = str(tmp_path / f"out_{tag}")
            q = (stream_ingest_dedup(stream, idx_path, out)
                 .option("checkpointLocation",
                         str(tmp_path / f"ckpt_{tag}"))
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            return sorted(tuple(r) for r in spark.read.parquet(out)
                          .drop("batch_id").collect())

        oneshot = str(tmp_path / "oneidx")
        D.save_minhash_index(docs.filter("doc_id % 2 = 0"), oneshot,
                             n=3, num_hashes=16, bands=4)
        assert run(appended, "app") == run(oneshot, "one")

    def test_probe_uses_recorded_params_and_version_gate(
            self, spark, tmp_path):
        from unittest import mock

        import pytest as _pytest

        docs = self._docs(spark)
        path = str(tmp_path / "lshidx")
        # build with NON-default parameters; the probe must pick them
        # up from meta, not from its own defaults
        D.save_minhash_index(docs.filter("doc_id % 2 = 0"), path,
                             n=2, num_hashes=8, bands=2)
        meta = spark.read.parquet(f"{path}/meta").collect()[0]
        assert (meta.n, meta.num_hashes, meta.bands) == (2, 8, 2)
        out = D.probe_minhash_index(
            docs.filter("doc_id % 2 = 1"), path).collect()
        assert all(r.new_id % 2 == 1 and r.corpus_id % 2 == 0
                   for r in out)
        with mock.patch.object(D, "MINHASH_INDEX_VERSION", 99):
            with _pytest.raises(ValueError, match="version"):
                D.probe_minhash_index(
                    docs.filter("doc_id % 2 = 1"), path)

    @pytest.mark.slow
    def test_lifecycle_parity_across_configs(self, spark, tmp_path):
        """Persisted == inline must hold for ANY index geometry, not
        just the registered one: sweep (n_cells, m, kc, dim) configs
        covering uneven cells, more subspaces, bigger codebooks and a
        different dimensionality; each config round-trips through
        save/load/probe and must match int_ivfpq_topk bit-for-bit."""
        from mining_data_integration_spark.operators import (
            similarity as S)

        configs = [
            (2, 2, 2, 8),     # the registered small shape
            (3, 4, 2, 8),     # odd cell count, 4 subspaces of 2 dims
            (4, 2, 4, 16),    # wider codebooks, higher dim
        ]
        for i, (n_cells, m, kc, dim) in enumerate(configs):
            rows = [(j, [float(((j * 11 + d * 5) % 13) - 6)
                         for d in range(dim)]) for j in range(30)]
            emb = spark.createDataFrame(
                rows, "vec_id long, embedding array<double>")
            q = emb.filter("vec_id < 2").select(
                emb.vec_id.alias("q_id"), emb.embedding.alias("q_emb"))
            inline = sorted(tuple(r) for r in S.int_ivfpq_topk(
                emb, q, k=3, n_cells=n_cells, n_probe=2, m=m, kc=kc,
                iters=2, dim=dim).collect())
            path = str(tmp_path / f"idx{i}")
            S.save_ivfpq_index(emb, path, n_cells=n_cells, m=m, kc=kc,
                               iters=2, dim=dim)
            idx = S.load_ivfpq_index(spark, path)
            persisted = sorted(tuple(r) for r in S.ivfpq_probe_topk(
                idx, q, k=3, n_probe=2).collect())
            assert persisted == inline, (n_cells, m, kc, dim)

    def test_stream_ingest_report_matches_batch_probe(
            self, spark, tmp_path):
        """st9: the novelty report a genuine Structured Streaming run
        (foreachBatch over a file stream) appends must equal the
        batch probe + aggregate over the same ingest docs — stream/
        batch parity for the persisted-index lifecycle."""
        from pyspark.sql import functions as F

        from mining_data_integration_spark.streaming import (
            stream_ingest_dedup)

        docs = self._docs(spark)
        src = str(tmp_path / "src")
        docs.write.parquet(src)
        idx_path = str(tmp_path / "lshidx")
        D.save_minhash_index(docs.filter("doc_id % 2 = 0"), idx_path,
                             n=3, num_hashes=16, bands=4)
        stream = (
            spark.readStream.schema(docs.schema).parquet(src)
            .filter(F.col("doc_id") % 2 == 1)
        )
        out = str(tmp_path / "report")
        q = (stream_ingest_dedup(stream, idx_path, out)
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        # round-9 ADVICE: the sink writes each micro-batch under a
        # batch_id=<id> dir with mode=overwrite, so a RETRIED batch
        # replaces its own report instead of duplicating rows
        import os
        assert any(d.startswith("batch_id=") for d in os.listdir(out))
        got = sorted(tuple(r) for r in
                     spark.read.parquet(out).drop("batch_id").collect())

        pairs = D.probe_minhash_index(
            docs.filter("doc_id % 2 = 1"), idx_path).collect()
        by_new: dict[int, list[int]] = {}
        for r in pairs:
            by_new.setdefault(r.new_id, []).append(r.corpus_id)
        want = sorted(
            (int(r.doc_id), len(by_new.get(r.doc_id, [])),
             min(by_new[r.doc_id]) if r.doc_id in by_new else None,
             r.doc_id not in by_new)
            for r in docs.filter("doc_id % 2 = 1").collect())
        assert got == want
        assert any(not w[3] for w in want)   # real candidates flowed
        assert any(w[3] for w in want)       # and real novelty too


class TestIndexTombstones:
    """Round-11: delete/tombstone lifecycle for BOTH persisted indexes
    (takedown / right-to-be-forgotten without a rebuild). Deletes are
    tombstone appends; probes anti-join them; compaction physically
    purges and retires the folded tombstones one cycle later."""

    def _docs(self, spark):
        base = "the quick brown fox jumps over the lazy dog tonight"
        rows = [(i, base.replace("dog", f"pet{i}")) for i in range(0, 8, 2)]
        rows += [(i, base.replace("dog", f"pet{i-1}"))
                 for i in range(1, 8, 2)]
        rows += [(20, "completely unrelated text with different words"),
                 (21, "another disjoint document nothing shared here")]
        return docs_df(spark, rows)

    def test_minhash_delete_probe_equals_rebuilt(self, spark, tmp_path):
        """probe(index - deleted) == probe(index built WITHOUT the
        deleted docs): the tombstone anti-join is semantically a
        rebuild, at O(delete batch) cost."""
        docs = self._docs(spark)
        path = str(tmp_path / "tombidx")
        D.save_minhash_index(docs.filter("doc_id % 2 = 0"), path,
                             n=3, num_hashes=16, bands=4)
        dels = docs.filter("doc_id % 4 = 0").select("doc_id")
        D.delete_from_minhash_index(dels, path)
        batch = docs.filter("doc_id % 2 = 1")
        got = sorted((r.new_id, r.corpus_id) for r in
                     D.probe_minhash_index(batch, path).collect())
        rebuilt = str(tmp_path / "rebuilt")
        D.save_minhash_index(
            docs.filter("doc_id % 2 = 0 and doc_id % 4 != 0"),
            rebuilt, n=3, num_hashes=16, bands=4)
        want = sorted((r.new_id, r.corpus_id) for r in
                      D.probe_minhash_index(batch, rebuilt).collect())
        assert got == want
        assert got and all(c % 4 != 0 for _, c in got)

    def test_minhash_compaction_purges_and_either_generation_is_safe(
            self, spark, tmp_path):
        """Compaction after delete physically shrinks the artifact,
        and a probe mid-compaction sees EITHER buckets generation
        with identical results: the new one is purged; the old one is
        covered by the folded tombstone set kept one cycle."""
        import os

        docs = self._docs(spark)
        path = str(tmp_path / "purgeidx")
        D.save_minhash_index(docs.filter("doc_id % 2 = 0"), path,
                             n=3, num_hashes=16, bands=4)
        D.delete_from_minhash_index(
            docs.filter("doc_id % 4 = 0").select("doc_id"), path)
        batch = docs.filter("doc_id % 2 = 1")
        want = sorted((r.new_id, r.corpus_id) for r in
                      D.probe_minhash_index(batch, path).collect())
        old_gen = D._buckets_dir(path)
        rows_before = spark.read.parquet(old_gen).count()
        D.compact_minhash_index(spark, path)
        new_gen = D._buckets_dir(path)
        assert new_gen != old_gen
        # physical purge: tombstoned ids absent from the new generation
        new_rows = spark.read.parquet(new_gen)
        assert new_rows.filter("id % 4 = 0").count() == 0
        assert new_rows.count() < rows_before
        # reader-safe fold (round 13): the live tombstone FILES keep
        # their bytes one more cycle (hard-linked into the folded
        # set, not renamed) so a racing reader's captured scan still
        # executes; the folded set carries the same names
        live_files = set(os.listdir(os.path.join(path, "tombstones")))
        folded = set(os.listdir(
            os.path.join(path, "tombstones-folded-g2")))
        assert {f for f in live_files if f.endswith(".parquet")} \
            <= folded
        got = sorted((r.new_id, r.corpus_id) for r in
                     D.probe_minhash_index(batch, path).collect())
        assert got == want
        # the mid-compaction interleaving: a probe that resolved the
        # OLD generation just before the pointer flip — simulate by
        # pointing BUCKETS back at it — must still exclude deleted
        # docs via the folded tombstones
        with open(os.path.join(path, "BUCKETS"), "w") as f:
            f.write(os.path.basename(old_gen))
        via_old = sorted((r.new_id, r.corpus_id) for r in
                         D.probe_minhash_index(batch, path).collect())
        assert via_old == want
        with open(os.path.join(path, "BUCKETS"), "w") as f:
            f.write(os.path.basename(new_gen))
        # next compaction retires the folded set with the generation
        # AND removes the now-expired names from the live dir
        D.compact_minhash_index(spark, path)
        assert not os.path.isdir(
            os.path.join(path, "tombstones-folded-g2"))
        remaining = [f for f in os.listdir(
            os.path.join(path, "tombstones")) if f.endswith(".parquet")]
        assert not remaining
        got = sorted((r.new_id, r.corpus_id) for r in
                     D.probe_minhash_index(batch, path).collect())
        assert got == want

    def test_bucket_audit_reflects_deletes(self, spark, tmp_path):
        """dd19's audit must report the PROBE's view: tombstoned docs
        leave the live row counts immediately (before any compaction),
        per-band totals stay internally consistent, and milli-shares
        are the exact integer floor."""
        docs = self._docs(spark)
        path = str(tmp_path / "auditidx")
        D.save_minhash_index(docs, path, n=3, num_hashes=16, bands=4)
        before = {r.band: r for r in
                  D.audit_minhash_buckets(spark, path).collect()}
        assert set(before) == {0, 1, 2, 3}
        n_docs = docs.count()
        for r in before.values():
            assert r.n_rows == n_docs      # one bucket row per doc/band
            assert r.max_milli == r.max_bucket * 1000 // r.n_rows
            assert r.n_buckets <= r.n_rows
        D.delete_from_minhash_index(
            docs.filter("doc_id % 2 = 0").select("doc_id"), path)
        after = {r.band: r for r in
                 D.audit_minhash_buckets(spark, path).collect()}
        n_kept = docs.filter("doc_id % 2 = 1").count()
        for r in after.values():
            assert r.n_rows == n_kept      # tombstones excluded live
            assert r.max_milli == r.max_bucket * 1000 // r.n_rows

    def test_minhash_delete_version_gate(self, spark, tmp_path):
        from unittest import mock

        docs = self._docs(spark)
        path = str(tmp_path / "vgate")
        D.save_minhash_index(docs.filter("doc_id % 2 = 0"), path,
                             n=3, num_hashes=16, bands=4)
        with mock.patch.object(D, "MINHASH_INDEX_VERSION", 99):
            with pytest.raises(ValueError, match="version"):
                D.delete_from_minhash_index(
                    docs.select("doc_id"), path)

    def _emb(self, spark, n=40, dim=8):
        rows = [(i, [float(((i * 7 + j * 3) % 11) - 5)
                     for j in range(dim)]) for i in range(n)]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")

    def test_ivfpq_delete_equals_prefilter_and_compaction_purges(
            self, spark, tmp_path):
        """Deleting ids == filtered search excluding them (deletion is
        a permanent pre-filter); compaction flips the CODES generation,
        physically drops the tombstoned codes, and leaves every probe
        bit-identical."""
        import os

        emb = self._emb(spark)
        q = emb.filter("vec_id < 2").select(
            emb.vec_id.alias("q_id"), emb.embedding.alias("q_emb"))
        path = str(tmp_path / "ividx")
        S.save_ivfpq_index(emb, path, n_cells=2, m=2, kc=2, iters=2,
                           dim=8)
        # parity target: pre-filter on the PRISTINE index
        pristine = S.load_ivfpq_index(spark, path)
        want = sorted(tuple(r) for r in S.ivfpq_probe_topk(
            pristine, q, k=3, n_probe=2,
            codes_filter=F.col("vec_id") % 5 != 0).collect())
        dels = emb.filter("vec_id % 5 = 0").select("vec_id")
        S.delete_from_ivfpq_index(dels, path)
        idx = S.load_ivfpq_index(spark, path)
        got = sorted(tuple(r) for r in S.ivfpq_probe_topk(
            idx, q, k=3, n_probe=2).collect())
        assert got == want
        assert got and all(r[1] % 5 != 0 for r in got)
        # compaction: physical purge + generation flip
        old_gen = S._codes_dir(path)
        rows_before = spark.read.parquet(old_gen).count()
        S.compact_ivfpq_index(spark, path)
        new_gen = S._codes_dir(path)
        assert new_gen != old_gen and new_gen.endswith("codes-g2")
        new_rows = spark.read.parquet(new_gen)
        assert new_rows.filter("vec_id % 5 = 0").count() == 0
        assert new_rows.count() < rows_before
        # reader-safe fold (round 13): live tombstone files keep
        # their bytes one cycle (hard-linked into the folded set)
        live_files = {f for f in os.listdir(
            os.path.join(path, "tombstones")) if f.endswith(".parquet")}
        assert live_files <= set(os.listdir(
            os.path.join(path, "tombstones-folded-g2")))
        idx2 = S.load_ivfpq_index(spark, path)
        post = sorted(tuple(r) for r in S.ivfpq_probe_topk(
            idx2, q, k=3, n_probe=2).collect())
        assert post == want
        # old-generation reader mid-compaction: point CODES back at
        # the superseded generation (kept one cycle) — the folded
        # tombstones still exclude the deleted codes
        with open(os.path.join(path, "CODES"), "w") as f:
            f.write(os.path.basename(old_gen))
        idx_old = S.load_ivfpq_index(spark, path)
        via_old = sorted(tuple(r) for r in S.ivfpq_probe_topk(
            idx_old, q, k=3, n_probe=2).collect())
        assert via_old == want
        with open(os.path.join(path, "CODES"), "w") as f:
            f.write(os.path.basename(new_gen))
        # appends after a flip land in the CURRENT generation and a
        # second compaction retires the folded tombstones
        extra = self._emb(spark).filter("vec_id >= 38").withColumn(
            "vec_id", F.col("vec_id") + 1000)
        S.append_to_ivfpq_index(extra, path)
        assert spark.read.parquet(new_gen).filter(
            "vec_id >= 1000").count() == 2
        S.compact_ivfpq_index(spark, path)
        assert S._codes_dir(path).endswith("codes-g3")
        assert not os.path.isdir(
            os.path.join(path, "tombstones-folded-g2"))

    def test_ivfpq_occupancy_reflects_deletes(self, spark, tmp_path):
        """The occupancy audit counts LIVE codes only — a takedown
        shows up in the cost model the probes size against."""
        emb = self._emb(spark)
        path = str(tmp_path / "occidx")
        S.save_ivfpq_index(emb, path, n_cells=2, m=2, kc=2, iters=2,
                           dim=8)
        total0 = sum(r.n_codes for r in S.ivfpq_cell_occupancy(
            S.load_ivfpq_index(spark, path)).collect())
        S.delete_from_ivfpq_index(
            emb.filter("vec_id % 2 = 0").select("vec_id"), path)
        total1 = sum(r.n_codes for r in S.ivfpq_cell_occupancy(
            S.load_ivfpq_index(spark, path)).collect())
        assert total0 == 40 and total1 == 20


class TestCrashRecovery:
    """Round-11: a compaction killed MID-WRITE (after staging its new
    generation directory, before the pointer flip, lease file left
    behind by the dead process) must leave the index fully usable:
    probes keep reading the still-pointed old generation, and the
    NEXT maintenance run takes over the stale lease, overwrites the
    dead generation, and completes — the recovery story the compact
    docstrings claim ('a dead buckets-g<N+1> is overwritten next
    time'), pinned here for both persisted indexes."""

    @staticmethod
    def _dead_pid():
        import subprocess

        p = subprocess.Popen(["true"])
        p.wait()
        return p.pid

    @staticmethod
    def _plant_crash(path, dead_gen_name):
        """Simulate the kill: a partial, garbage generation dir that
        never got the pointer flip, plus the dead holder's lease."""
        import os
        import time

        dead = os.path.join(path, dead_gen_name)
        os.makedirs(dead, exist_ok=True)
        with open(os.path.join(dead, "part-00000.parquet"), "wb") as f:
            f.write(b"\x00not a parquet file")  # torn mid-write
        with open(os.path.join(path, ".maintenance-lease"), "w") as f:
            f.write(f"{TestCrashRecovery._dead_pid()} {time.time()}")

    def _docs(self, spark):
        base = "the quick brown fox jumps over the lazy dog tonight"
        rows = [(i, base.replace("dog", f"pet{i}")) for i in range(0, 8, 2)]
        rows += [(i, base.replace("dog", f"pet{i-1}"))
                 for i in range(1, 8, 2)]
        return docs_df(spark, rows)

    def test_minhash_compaction_recovers_from_crashed_predecessor(
            self, spark, tmp_path):
        import os

        docs = self._docs(spark)
        path = str(tmp_path / "crashidx")
        D.save_minhash_index(docs.filter("doc_id % 2 = 0"), path,
                             n=3, num_hashes=16, bands=4)
        batch = docs.filter("doc_id % 2 = 1")
        want = sorted((r.new_id, r.corpus_id) for r in
                      D.probe_minhash_index(batch, path).collect())
        assert want
        self._plant_crash(path, "buckets-g2")
        # probes never see the dead generation (pointer untouched)
        got = sorted((r.new_id, r.corpus_id) for r in
                     D.probe_minhash_index(batch, path).collect())
        assert got == want
        # next compaction: stale-lease takeover + overwrite of the
        # dead dir; afterwards the pointer lands on the recovered gen
        D.compact_minhash_index(spark, path)
        assert os.path.basename(D._buckets_dir(path)) == "buckets-g2"
        got = sorted((r.new_id, r.corpus_id) for r in
                     D.probe_minhash_index(batch, path).collect())
        assert got == want

    def test_ivfpq_compaction_recovers_from_crashed_predecessor(
            self, spark, tmp_path):
        import os

        from mining_data_integration_spark.operators import (
            similarity as S)

        rows = [(i, [float(((i * 7 + j * 3) % 11) - 5)
                     for j in range(8)]) for i in range(40)]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")
        q = emb.filter("vec_id < 2").select(
            emb.vec_id.alias("q_id"), emb.embedding.alias("q_emb"))
        path = str(tmp_path / "crashann")
        S.save_ivfpq_index(emb, path, n_cells=2, m=2, kc=2,
                           iters=2, dim=8)
        want = sorted(tuple(r) for r in S.ivfpq_probe_topk(
            S.load_ivfpq_index(spark, path), q, k=3, n_probe=2).collect())
        assert want
        self._plant_crash(path, "codes-g2")
        got = sorted(tuple(r) for r in S.ivfpq_probe_topk(
            S.load_ivfpq_index(spark, path), q, k=3, n_probe=2).collect())
        assert got == want
        S.compact_ivfpq_index(spark, path)
        assert os.path.basename(S._codes_dir(path)) == "codes-g2"
        got = sorted(tuple(r) for r in S.ivfpq_probe_topk(
            S.load_ivfpq_index(spark, path), q, k=3, n_probe=2).collect())
        assert got == want


class TestMaintenanceLease:
    """Round-11: the single-writer lease serializing index
    maintenance (append/compact/delete) — a concurrent append+compact
    must never lose the appended rows at the pointer flip."""

    def test_blocked_by_live_holder_then_acquires(self, tmp_path):
        import os

        from mining_data_integration_spark.sources.kv import (
            LeaseHeldError, maintenance_lease)

        path = str(tmp_path)
        with maintenance_lease(path):
            with pytest.raises(LeaseHeldError):
                with maintenance_lease(path, timeout_sec=0.3):
                    pass
        # released -> immediate acquisition
        with maintenance_lease(path, timeout_sec=0.3):
            assert os.path.exists(
                os.path.join(path, ".maintenance-lease"))

    def test_stale_dead_pid_is_taken_over(self, tmp_path):
        import os
        import time

        from mining_data_integration_spark.sources.kv import (
            maintenance_lease)

        path = str(tmp_path)
        lease = os.path.join(path, ".maintenance-lease")
        # pid 1 is init (alive but not ours -> PermissionError -> held);
        # use an impossible pid for the dead-holder case
        with open(lease, "w") as f:
            f.write(f"99999999 {time.time()}")
        with maintenance_lease(path, timeout_sec=2.0):
            pass    # takeover succeeded

    def test_stale_timestamp_is_taken_over(self, tmp_path):
        import os
        import time

        from mining_data_integration_spark.sources.kv import (
            maintenance_lease)

        path = str(tmp_path)
        lease = os.path.join(path, ".maintenance-lease")
        with open(lease, "w") as f:
            f.write(f"{os.getpid()} {time.time() - 7200}")
        with maintenance_lease(path, timeout_sec=2.0, stale_sec=3600):
            pass    # own live pid, but stamp 2h old -> takeover

    def test_concurrent_append_and_compact_lose_nothing(
            self, spark, tmp_path):
        """The round-10 VERDICT race: an append landing in the
        generation a concurrent compaction already snapshotted was
        silently dropped at the pointer flip. Under the lease the two
        serialize — EVERY appended doc must be probeable afterwards,
        whichever order won."""
        import threading

        base = "the quick brown fox jumps over the lazy dog tonight"
        rows = [(i, base.replace("dog", f"pet{i}")) for i in range(0, 40, 2)]
        docs = docs_df(spark, rows)
        new_rows = [(i, base.replace("dog", f"pet{i-1}"))
                    for i in range(1, 40, 2)]
        new_docs = docs_df(spark, new_rows)
        path = str(tmp_path / "raceidx")
        D.save_minhash_index(docs, path, n=3, num_hashes=16, bands=4)

        errs = []

        def do_append():
            try:
                D.append_to_minhash_index(new_docs, path)
            except Exception as e:      # surface, don't swallow
                errs.append(e)

        def do_compact():
            try:
                D.compact_minhash_index(spark, path)
            except Exception as e:
                errs.append(e)

        ts = [threading.Thread(target=do_append),
              threading.Thread(target=do_compact)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errs, errs
        # every appended doc present in the index: its own band rows
        # survive whichever interleaving the lease serialized
        idx_ids = {r.id for r in spark.read.parquet(
            D._buckets_dir(path)).select("id").distinct().collect()}
        assert {i for i, _ in new_rows} <= idx_ids


class TestNswGraphAnn:
    """sim28 (round-12 VERDICT #8): graph-based ANN — k-NN graph with
    cell-bounded candidates + deterministic BSP beam search."""

    def _emb(self, spark):
        from mining_data_integration_spark.io import read_table

        return read_table(spark, "/root/testdata/sf0.001",
                          "embeddings").repartition(8, "vec_id")

    def _q(self, emb):
        return emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"))

    def test_adjacency_is_knn_and_never_self(self, spark):
        emb = self._emb(spark)
        adj = S.nsw_adjacency(emb, k_nbrs=6, n_centroids=4,
                              n_probe=2, iters=2)
        rows = adj.collect()
        assert all(r.src != r.dst for r in rows)
        per_src = {}
        for r in rows:
            per_src.setdefault(r.src, []).append(r)
        n = emb.count()
        assert len(per_src) == n            # every vector has edges
        for src, es in per_src.items():
            assert len(es) <= 6
            rks = sorted(e.nrk for e in es)
            assert rks == list(range(1, len(es) + 1))

    def test_adjacency_candidates_are_cell_bounded_not_all_pairs(
            self, spark):
        """The dd5/dd7 discipline applied to the graph build: the
        candidate pairs must be formed inside a cell, never by a
        cartesian — pinned on the physical plan. The pairs are scored
        by the Arrow kernel grouped by (cell id, salt). The df
        quantizer engine ('auto''s round-13 resolution at every cell
        count) attaches its centroid set as a 1-row
        IdentityBroadcastMode cross — those BNLJ nodes are O(1)-row
        scalar attaches, not candidate joins, so the pin asserts the
        SHAPE: no cartesian, the kernel grouped by the cell id and
        the salt, and every BNLJ a Cross build (the 1-row attach),
        never an inner pair join."""
        import re

        emb = self._emb(spark)
        adj = S.nsw_adjacency(emb, k_nbrs=6)
        plan = adj._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert re.search(r"FlatMapGroupsInArrow \[_cid#\d+, _salt#\d+L\]",
                         plan), plan
        for m in re.finditer(r"BroadcastNestedLoopJoin[^\n]*", plan):
            assert "Cross" in m.group(0), m.group(0)

    def test_beam_search_recall_floor_vs_exact(self, spark):
        """Recall floor at the registry-default parameters: measured
        recall@5 vs brute force at sf0.001 is 0.60 (beam=4, rounds=3,
        6-nbr graph over near-orthogonal synthetic vectors — the same
        corpus regime where IVF 3-of-8 probes score 0.4+); pin a 0.5
        floor so regressions surface. The HIGH-RECALL point lives in
        the next test and sim31."""
        emb = self._emb(spark)
        q = self._q(emb)
        adj = S.nsw_adjacency(emb, k_nbrs=6)
        got = S.nsw_beam_search(adj, emb, q, k=5, beam=4, rounds=3,
                                n_entries=2)
        exact = S.brute_force_topk(emb, q, k=5)
        ex = {(r.q_id, r.vec_id) for r in exact.collect()}
        ap = {(r.q_id, r.vec_id) for r in got.collect()}
        recall = len(ex & ap) / len(ex)
        assert recall >= 0.5, f"beam-search recall collapsed: {recall}"

    def test_beam_search_high_recall_point(self, spark):
        """Round-13 VERDICT #3 done-bar: at the documented parameter
        point (k_nbrs=12, beam=12, rounds=3, n_entries=8) recall@5
        vs the exact int8-cosine ranking is >= 0.9 (measured 0.95 /
        1.00 / 1.00 at sf0.001 / 0.01 / 0.1 — the full sweep is in
        sim31's docstring; graph DENSITY is the recall lever on
        near-orthogonal corpora, beam width second). Pin 0.9."""
        emb = self._emb(spark)
        q = self._q(emb)
        adj = S.nsw_adjacency(emb, k_nbrs=12)
        got = S.nsw_beam_search(adj, emb, q, k=5, beam=12, rounds=3,
                                n_entries=8)
        exact = S.int8_exact_cosine_topk(emb, n_q=5, k=5)
        ex = {(r.q_id, r.vec_id) for r in exact.collect()}
        ap = {(r.q_id, r.vec_id) for r in got.collect()}
        recall = len(ex & ap) / len(ex)
        assert recall >= 0.9, f"high-recall point regressed: {recall}"

    def test_beam_search_deterministic_across_partitionings(self, spark):
        emb = self._emb(spark)
        q = self._q(emb)
        a = S.nsw_beam_search(S.nsw_adjacency(emb, k_nbrs=6), emb, q)
        emb2 = self._emb(spark).repartition(3, "vec_id")
        b = S.nsw_beam_search(S.nsw_adjacency(emb2, k_nbrs=6), emb2, q)
        ra = sorted(tuple(r) for r in a.collect())
        rb = sorted(tuple(r) for r in b.collect())
        assert ra == rb

    def test_persisted_index_roundtrip_and_poisoned_edge_pin(
            self, spark, tmp_path):
        """sim29: probing the persisted graph equals the in-query
        build (deterministic graph), AND the probe really READS the
        artifact — poisoning a saved edge changes the result (the
        sim19 no-training pin applied to graphs: a probe that rebuilt
        the graph would silently ignore the poison)."""
        import os

        from pyspark.sql import functions as F2

        emb = self._emb(spark)
        q = self._q(emb)
        path = str(tmp_path / "nswidx")
        S.save_nsw_index(emb, path, k_nbrs=6)
        assert os.path.exists(os.path.join(path, "meta"))
        S.save_nsw_index(emb, path, k_nbrs=6)      # idempotent no-op
        idx = S.load_nsw_index(spark, path)
        want = sorted(tuple(r) for r in S.nsw_beam_search(
            S.nsw_adjacency(emb, k_nbrs=6), emb, q).collect())
        got = sorted(tuple(r) for r in S.nsw_beam_search(
            idx["adj"], emb, q).collect())
        assert got == want
        # poison: drop every edge out of the entry points — a probe
        # reading the artifact must now go nowhere past the entries
        poisoned = str(tmp_path / "poisoned")
        adj = idx["adj"].filter(~F2.col("src").isin([0, 1]))
        adj.write.parquet(os.path.join(poisoned, "adj"))
        spark.read.parquet(os.path.join(path, "meta")) \
            .write.parquet(os.path.join(poisoned, "meta"))
        pidx = S.load_nsw_index(spark, poisoned)
        pgot = S.nsw_beam_search(pidx["adj"], emb, q, k=5, beam=4,
                                 rounds=3, n_entries=2)
        # only the two entry vectors are reachable per query
        assert pgot.count() == q.count() * 2
        # version guard
        import pytest as _pytest
        bad = str(tmp_path / "badver")
        idx["adj"].write.parquet(os.path.join(bad, "adj"))
        spark.createDataFrame(
            [(99, 6, 4, 2, 2, "vec_id")],
            "version int, k_nbrs int, n_centroids int, n_probe int, "
            "iters int, id_col string",
        ).write.parquet(os.path.join(bad, "meta"))
        with _pytest.raises(ValueError, match="version"):
            S.load_nsw_index(spark, bad)

    def test_build_stats_match_real_pair_join(self, spark):
        """The analytic cost model (nsw_build_stats) must equal the
        real candidate join's cardinality — otherwise the linearity
        pin below would be measuring a fiction."""
        emb = self._emb(spark)
        stats = S.nsw_build_stats(emb, n_centroids=4, n_probe=2,
                                  iters=2)
        real = S.nsw_candidate_pairs(emb, n_centroids=4, n_probe=2,
                                     iters=2).count()
        assert stats["pair_count"] == real
        assert stats["n"] == emb.count()

    def test_build_stats_engine_parity(self, spark):
        """nsw_build_stats scores cells through the shared kernel for
        both quantizer engines, so the cost model cannot depend on
        which engine ran."""
        emb = self._emb(spark)
        stats = {e: S.nsw_build_stats(emb, n_centroids=4, n_probe=2,
                                      iters=2, quantizer=e)
                 for e in ("literal", "df")}
        assert stats["literal"] == stats["df"]

    def _lattice_emb(self, spark, n, dim=16):
        """Deterministic synthetic corpus sized to order — vec_id
        arithmetic mod a lattice, no RNG (Date.now/np.random are
        banned in oracle-replayable paths and unneeded here)."""
        return spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(dim)),
                lambda d: (F.pmod(F.col("id") * (d * 7 + 3)
                                  + d * d, F.lit(199)) - 99
                           ).cast("double")).alias("embedding"),
        ).repartition(16, "vec_id")

    def test_derived_cell_count_keeps_pair_work_linear(self, spark):
        """Round-13 VERDICT #1 done-bar: with the occupancy-targeted
        derived cell count, total candidate-pair work grows ~linearly
        when the corpus grows 10x — vs the fixed-cell build whose
        occupancy (and so per-vector work) grows with n. Measured via
        the analytic model (equality with the real join pinned
        above), so no 100M-row join materializes in CI."""
        small = self._lattice_emb(spark, 1_500)
        big = self._lattice_emb(spark, 15_000)
        d_small = S.nsw_build_stats(small, target_occupancy=128)
        d_big = S.nsw_build_stats(big, target_occupancy=128)
        assert d_small["n_centroids"] >= 8       # derivation engaged
        assert d_big["n_centroids"] >= 8 * d_small["n_centroids"] // 2
        ratio = d_big["pair_count"] / max(1, d_small["pair_count"])
        assert ratio <= 25, (
            f"pair work grew {ratio:.1f}x for 10x corpus "
            f"(want ~linear): {d_small} -> {d_big}")
        # the fixed-cell contrast: same corpus, n_centroids pinned at
        # 4 — occupancy is n/4, pair work superlinear
        f_big = S.nsw_build_stats(big, n_centroids=4,
                                  target_occupancy=128)
        assert f_big["pair_count"] > 5 * d_big["pair_count"], (
            f"fixed-cell build should dominate: {f_big} vs {d_big}")

    def test_load_expect_mismatch_raises(self, spark, tmp_path):
        """ADVICE r12: probing a persisted graph with different build
        parameters than it was saved with must refuse, not silently
        return stale-parameter results."""
        import pytest as _pytest

        emb = self._emb(spark)
        path = str(tmp_path / "nswidx")
        S.save_nsw_index(emb, path, k_nbrs=6)
        idx = S.load_nsw_index(spark, path,
                               expect={"k_nbrs": 6, "n_probe": 2})
        assert idx["meta"]["k_nbrs"] == 6
        with _pytest.raises(ValueError, match="k_nbrs"):
            S.load_nsw_index(spark, path, expect={"k_nbrs": 8})

    def test_delete_tombstone_vs_compact_parity(self, spark, tmp_path):
        """sim30's contract as a unit: tombstoned and compacted
        graphs answer identically; deleted nodes vanish from BOTH
        edge endpoints; compaction physically purges into a fresh
        generation behind the ADJ pointer flip."""
        import os

        emb = self._emb(spark)
        q = self._q(emb)
        path = str(tmp_path / "idx")
        S.save_nsw_index(emb, path, k_nbrs=6)
        dead = emb.filter(F.col("vec_id") % 7 == 3).select("vec_id")
        n_dead = dead.count()
        assert n_dead > 0
        S.delete_from_nsw_index(dead, path)
        idx = S.load_nsw_index(spark, path)
        assert idx["adj"].filter(
            (F.col("src") % 7 == 3) | (F.col("dst") % 7 == 3)
        ).count() == 0
        got_t = sorted(tuple(r) for r in S.nsw_beam_search(
            idx["adj"], emb, q).collect())
        assert all(r[1] % 7 != 3 for r in got_t)   # vec_id col
        S.compact_nsw_index(spark, path)
        with open(os.path.join(path, "ADJ")) as f:
            assert f.read().strip() == "adj-g2"
        raw = spark.read.parquet(os.path.join(path, "adj-g2"))
        assert raw.filter(
            (F.col("src") % 7 == 3) | (F.col("dst") % 7 == 3)
        ).count() == 0
        idx2 = S.load_nsw_index(spark, path)
        got_c = sorted(tuple(r) for r in S.nsw_beam_search(
            idx2["adj"], emb, q).collect())
        assert got_c == got_t
        # second compaction retires the folded tombstones + old gen
        S.compact_nsw_index(spark, path)
        names = set(os.listdir(path))
        assert "adj-g3" in names and "adj" not in names
        assert "tombstones-folded-g2" not in names

    def test_visited_state_is_bounded(self, spark):
        """Scale-shape pin: per-query visited never exceeds
        n_entries + rounds * beam * k_nbrs."""
        emb = self._emb(spark)
        q = self._q(emb)
        adj = S.nsw_adjacency(emb, k_nbrs=6)
        out = S.nsw_beam_search(adj, emb, q, k=10 ** 6, beam=4,
                                rounds=3, n_entries=2)
        per_q = out.groupBy("q_id").count().collect()
        bound = 2 + 3 * 4 * 6
        assert all(r["count"] <= bound for r in per_q)

    def test_append_search_relink_lifecycle(self, spark, tmp_path):
        """sim33's contract as a unit (round 13 — the last day-2
        decline closed): appended nodes get <= k_nbrs out-edges from
        the insert-search, back-links displace weaker edges under the
        stored re-rank rule (nrk stays contiguous per src), the
        fragment is O(batch x k_nbrs), a skip_existing replay writes
        NO second fragment, and compaction folds the fragment into
        the next generation with the merged probe answer unchanged —
        then retires it one cycle later."""
        import os

        emb = self._emb(spark)
        is_batch = F.col("vec_id") % 97 == 13
        batch, old = emb.filter(is_batch), emb.filter(~is_batch)
        path = str(tmp_path / "idx")
        S.save_nsw_index(old, path, k_nbrs=6)
        S.append_to_nsw_index(batch, old, path, beam=8, rounds=3,
                              n_entries=2)
        idx = S.load_nsw_index(spark, path)
        bids = {r.vec_id for r in batch.select("vec_id").collect()}
        rows = idx["adj"].collect()
        per = {}
        for r in rows:
            per.setdefault(r.src, []).append(r.nrk)
        assert bids <= set(per)                  # new nodes reachable
        assert all(len(v) <= 6 for v in per.values())
        assert any(r.dst in bids for r in rows)  # back-links landed
        assert all(sorted(v) == list(range(1, len(v) + 1))
                   for v in per.values())        # re-rank stayed sane
        frag_dirs = [n for n in os.listdir(path)
                     if n.startswith("adj-frag-g")]
        assert len(frag_dirs) == 1
        frows = spark.read.parquet(
            os.path.join(path, frag_dirs[0])).count()
        assert frows <= len(bids) * 6 * 7        # O(batch), never O(n)
        q = self._q(emb)
        r1 = sorted(tuple(r) for r in S.nsw_beam_search(
            idx["adj"], emb, q).collect())
        S.append_to_nsw_index(batch, old, path, skip_existing=True)
        assert [n for n in os.listdir(path)
                if n.startswith("adj-frag-g")] == frag_dirs
        S.compact_nsw_index(spark, path)
        idx2 = S.load_nsw_index(spark, path)
        r2 = sorted(tuple(r) for r in S.nsw_beam_search(
            idx2["adj"], emb, q).collect())
        assert r2 == r1                          # fold is invisible
        assert any(n.startswith("adj-frag-g1-")
                   for n in os.listdir(path))    # kept one cycle
        S.compact_nsw_index(spark, path)
        assert not any(n.startswith("adj-frag-")
                       for n in os.listdir(path))

    def test_sequential_appends_compose(self, spark, tmp_path):
        """Two sequential appends layer fragments: batch B's
        insert-search runs over the graph that already contains
        batch A (B can link to A nodes), a later fragment supersedes
        an earlier one per src, and the merged view keeps every
        member with <= k_nbrs contiguously-ranked edges. This is the
        composition st17 deliberately does NOT stream multi-file
        (sequential appends are order-sensitive; the stream pins one
        deterministic batch, the unit pins the layering)."""
        import os

        emb = self._emb(spark)
        pa = F.col("vec_id") % 97 == 13
        pb = F.col("vec_id") % 97 == 31
        a, b, old = emb.filter(pa), emb.filter(pb), emb.filter(~pa & ~pb)
        path = str(tmp_path / "idx")
        S.save_nsw_index(old, path, k_nbrs=6)
        S.append_to_nsw_index(a, old, path)
        S.append_to_nsw_index(b, emb.filter(~pb), path)
        frags = sorted(n for n in os.listdir(path)
                       if n.startswith("adj-frag-g1-"))
        assert frags == ["adj-frag-g1-1", "adj-frag-g1-2"]
        idx = S.load_nsw_index(spark, path)
        per = {}
        for r in idx["adj"].collect():
            per.setdefault(r.src, []).append(r.nrk)
        aids = {r.vec_id for r in a.select("vec_id").collect()}
        bids = {r.vec_id for r in b.select("vec_id").collect()}
        assert (aids | bids) <= set(per)
        assert all(sorted(v) == list(range(1, len(v) + 1))
                   and len(v) <= 6 for v in per.values())

    def test_df_quantizer_engine_is_bit_identical(self, spark):
        """Round-13 cap-lift: the DataFrame quantizer engine
        (int_ivf_centroids_df / int_assign_centroid_df — centroids as
        a one-row broadcast array column) must produce the SAME
        training AND the same adjacency as the codegen-literal
        engine. This equality is what makes the SQL oracle replay
        engine-agnostic (sim32) and what lets quantizer='auto' switch
        engines without a semantic change."""
        emb = self._emb(spark)
        emb_q = emb.select(
            "vec_id", S.int8_quantize(F.col("embedding")).alias("_qv"))
        for c in (4, 8):
            lit = S.int_ivf_centroids(emb_q, c, 2, "vec_id", "_qv")
            dfc = {r.cid: [int(x) for x in r.cent] for r in
                   S.int_ivf_centroids_df(emb_q, c, 2, "vec_id",
                                          "_qv").collect()}
            assert [dfc[i] for i in range(c)] == lit
        a_lit = sorted(tuple(r) for r in S.nsw_adjacency(
            emb, k_nbrs=6, n_centroids=8, quantizer="literal")
            .collect())
        a_df = sorted(tuple(r) for r in S.nsw_adjacency(
            emb, k_nbrs=6, n_centroids=8, quantizer="df").collect())
        assert a_lit == a_df
        # and the query-side IVF family (sim35 rides this)
        q = self._q(emb)
        t_lit = sorted(tuple(r) for r in S.int_ivf_topk(
            emb, q, k=5, n_centroids=8, quantizer="literal").collect())
        t_df = sorted(tuple(r) for r in S.int_ivf_topk(
            emb, q, k=5, n_centroids=8, quantizer="df").collect())
        assert t_lit == t_df

    def test_df_engine_plan_size_independent_of_cell_count(self, spark):
        """THE point of the df engine: the literal plan embeds
        O(c x dim) expression nodes (the reason NSW_MAX_CENTROIDS
        exists), so it GROWS with the cell count; the df plan must
        not — its centroids travel as broadcast data, never as plan.
        Pinned on the optimized-plan string length at 4 vs 64 cells
        (a small deterministic lattice corpus keeps the four builds
        cheap)."""
        emb = self._lattice_emb(spark, 800)

        def plan_len(c, engine):
            pairs = S.nsw_candidate_pairs(emb, n_centroids=c,
                                          quantizer=engine)
            return len(pairs._jdf.queryExecution()
                       .optimizedPlan().toString())

        assert plan_len(64, "df") < plan_len(4, "df") * 1.5
        # the contrast that justifies the auto resolution: the
        # literal plan at 64 cells dwarfs its 4-cell self. (The
        # round-13 materialization barrier caches the quantized
        # corpus, so the repeated quantize subtrees no longer inflate
        # the ratio — what remains growing is the c x dim centroid
        # literals themselves, measured ~3.1x at 64 vs 4 cells.)
        assert plan_len(64, "literal") > plan_len(4, "literal") * 2

    def test_auto_engine_switch_and_uncapped_derivation(self):
        """'auto' resolves to the df engine at EVERY cell count
        (round-13 optimization: literal-plan Janino compilation costs
        seconds per stage even at c=4 — the engines are bit-identical
        so this is an execution choice only); cap=None removes the
        ceiling from the occupancy rule (what
        save_nsw_index(n_centroids=None) uses, so occupancy holds at
        target at ANY corpus size)."""
        import pytest as _pytest

        assert S._resolve_nsw_quantizer("auto", 4) == "df"
        assert S._resolve_nsw_quantizer(
            "auto", S.NSW_MAX_CENTROIDS) == "df"
        assert S._resolve_nsw_quantizer(
            "auto", S.NSW_MAX_CENTROIDS + 1) == "df"
        assert S._resolve_nsw_quantizer("literal", 4) == "literal"
        assert S._resolve_nsw_quantizer("df", 4) == "df"
        with _pytest.raises(ValueError, match="quantizer"):
            S._resolve_nsw_quantizer("bogus", 4)
        n = 1 << 20
        assert S.derive_nsw_centroids(n, 256) == S.NSW_MAX_CENTROIDS
        assert S.derive_nsw_centroids(n, 256, cap=None) == n // 256


def ref_nsw_candidate_pairs(emb, n_centroids=None, n_probe=2, iters=2,
                            id_col="vec_id", vec_col="embedding",
                            quantizer="auto"):
    """The graph build's pair scoring before the numpy kernel: a
    32-way salted equi-join on the cell id, scored by Spark's idot
    lambdas. The reference the kernel must equal row for row."""
    from mining_data_integration_spark.operators.skew import salted_join

    emb_q, cents, _c, engine = S._nsw_quantize_and_train(
        emb, n_centroids, n_probe, iters, id_col, vec_col,
        S.NSW_TARGET_OCCUPANCY, quantizer)
    (base,), cc = S._attach_cells(engine, cents, emb_q)
    scored = S._scored_cells_df(F.col("_qv"), cc)
    data = (base.withColumn("_cid", F.array_min(scored)["i"])
            .drop("_cents"))
    src = (base.withColumn(
        "_p", F.explode(F.slice(F.array_sort(scored), 1, n_probe)))
        .select(F.col(id_col).alias("_src"), F.col("_qv").alias("_sv"),
                F.col("_p.i").alias("_cid")))
    data = data.withColumn("_vnorm", F.sqrt(
        S.idot(F.col("_qv"), F.col("_qv")).cast("double")))
    src = src.withColumn("_snorm", F.sqrt(
        S.idot(F.col("_sv"), F.col("_sv")).cast("double")))
    return (salted_join(src, data, "_cid", buckets=32, salt_from="_src")
            .filter(F.col("_src") != F.col(id_col))
            .select(F.col("_src").alias("src"),
                    F.col(id_col).alias("dst"),
                    (S.idot(F.col("_sv"), F.col("_qv")).cast("double")
                     / (F.col("_snorm") * F.col("_vnorm")))
                    .alias("cos_sim_q8")))


def ref_nsw_adjacency(emb, k_nbrs, **kw):
    from pyspark.sql import Window

    w = Window.partitionBy("src").orderBy(F.desc("cos_sim_q8"),
                                          F.col("dst"))
    return (ref_nsw_candidate_pairs(emb, **kw)
            .withColumn("nrk", F.row_number().over(w).cast("long"))
            .filter(F.col("nrk") <= k_nbrs)
            .select("src", "dst", "cos_sim_q8", "nrk"))


def vec_df(spark, rows):
    return spark.createDataFrame(rows,
                                 "vec_id long, embedding array<double>")


class TestNswPairKernel:
    """The graph build scores its cell-bounded pairs with one numpy
    kernel per (cell, salt) group: its all-pairs output and its
    adjacency equal the salted-join reference row for row, NULLs and
    errors included."""

    def _emb(self, spark):
        return TestNswGraphAnn()._emb(spark).filter("vec_id < 240")

    def _same(self, emb, k_nbrs=6, **kw):
        """(pairs, adjacency) of the kernel, each equal to the
        reference's."""
        pairs = sorted(map(tuple, S.nsw_candidate_pairs(emb, **kw)
                           .collect()))
        want = sorted(map(tuple, ref_nsw_candidate_pairs(emb, **kw)
                          .collect()))
        assert pairs == want and pairs
        adj = sorted(map(tuple, S.nsw_adjacency(emb, k_nbrs, **kw)
                         .collect()))
        want = sorted(map(tuple, ref_nsw_adjacency(emb, k_nbrs, **kw)
                          .collect()))
        assert adj == want
        return pairs, adj

    @pytest.mark.parametrize("n_probe,quantizer", [
        (1, "df"), (2, "df"), (1, "literal"), (2, "literal")])
    def test_equals_reference(self, spark, n_probe, quantizer):
        self._same(self._emb(spark), n_centroids=4, n_probe=n_probe,
                   iters=1, quantizer=quantizer)

    def test_k_nbrs_above_the_cell_size(self, spark):
        pairs, adj = self._same(self._emb(spark), k_nbrs=240,
                                n_centroids=8, n_probe=2, iters=1)
        assert [r[:3] for r in adj] == pairs    # every pair ranked

    @pytest.mark.parametrize("n_probe", [1, 2])
    def test_one_vector_cell(self, spark, n_probe):
        # seeds are the lowest ids: vector 0 points away from the rest,
        # so its cell holds only itself
        rows = [(0, [100.0, 100.0, 100.0, 100.0, 0.0, 0.0, 0.0, 0.0])] + [
            (i, [-float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)])
            for i in range(1, 40)]
        _, adj = self._same(vec_df(spark, rows), n_centroids=4,
                            n_probe=n_probe, iters=1)
        assert (0 in {r[0] for r in adj}) == (n_probe > 1)

    def test_duplicate_vectors_break_ties_by_dst(self, spark):
        rows = [(i + 100 * c, [float((i * 5 + j) % 9) - 4.0
                               for j in range(8)])
                for i in range(12) for c in range(3)]
        _, adj = self._same(vec_df(spark, rows), n_centroids=4,
                            n_probe=2, iters=1, k_nbrs=3)
        # each vector's two copies score 1.0 and come first, by dst
        first = {r[0]: r[1] for r in adj if r[3] == 1}
        assert first[5] == 105 and first[205] == 5

    def test_shuffle_width_seven(self, spark):
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        try:
            self._same(self._emb(spark), n_centroids=4, n_probe=2,
                       iters=1)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)

    def _zeroed(self, spark):
        rows = [(i, [float((i * 3 + j) % 7) - 3.0 for j in range(8)])
                for i in range(30)]
        rows[7] = (7, [0.0] * 8)
        return vec_df(spark, rows)

    def test_zero_norm_pair_raises_under_ansi(self, spark):
        emb = self._zeroed(spark)
        with pytest.raises(Exception, match=r"ValueError: nsw graph "
                           r"build: zero-norm vector in the scored pair "
                           r"src=\d+, dst=\d+"):
            S.nsw_adjacency(emb, 6, n_centroids=2, iters=1).collect()
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            ref_nsw_adjacency(emb, 6, n_centroids=2, iters=1).collect()

    def test_zero_norm_scores_null_and_ranks_last_with_ansi_off(
            self, spark):
        spark.conf.set("spark.sql.ansi.enabled", "false")
        try:
            _, adj = self._same(self._zeroed(spark), k_nbrs=40,
                                n_centroids=2, iters=1)
        finally:
            spark.conf.set("spark.sql.ansi.enabled", "true")
        nulls = [r for r in adj if r[2] is None]
        assert nulls and all(7 in r[:2] for r in nulls)
        n_edges = {}
        for r in adj:
            n_edges[r[0]] = n_edges.get(r[0], 0) + 1
        # a NULL score ranks after every scored neighbor
        assert all(r[3] == n_edges[r[0]] for r in nulls if r[0] != 7)

    def test_null_vector_edges_score_null(self, spark):
        """A NULL vector quantizes to NULL; the cell scoring still puts
        it in cell 0 (its NULL distances sort first), so it pairs
        inside that cell with every score NULL, as in the reference."""
        rows = [(i, [float((i * 3 + j) % 7) - 3.0 for j in range(8)])
                for i in range(30)]
        rows[9] = (9, None)
        _, adj = self._same(vec_df(spark, rows), k_nbrs=40,
                            n_centroids=2, iters=1)
        assert all(r[2] is None for r in adj if 9 in r[:2])
        assert all(r[2] is not None for r in adj if 9 not in r[:2])


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def pruned_cells(plan: str) -> str | None:
    """The cell ids of the scan's static `_cell IN (...)` (or, for one
    cell, `_cell = c`) PartitionFilter; None when there is none."""
    import re

    found = re.search(r"PartitionFilters: \[[^\]]*?_cell#\d+ "
                      r"(?:IN \(([^)]*)\)|= (\d+))", plan)
    return (found.group(1) or found.group(2)) if found else None


class TestDriverProbeHeads:
    """nsw_beam_search's driver-held search state and the pruned
    IVF-PQ head: the same answers and schema as the all-Spark paths,
    fewer Spark jobs, and a bounded query set (DRIVER_PROBE_MAX_Q)
    above which both fall back to Spark."""

    _emb = TestNswGraphAnn._emb
    _q = TestNswGraphAnn._q

    @staticmethod
    def _bsp(adj, emb, q, k=5, beam=4, rounds=3, n_entries=2):
        return S._nsw_beam_search_bsp(adj, emb, q, k, beam, rounds,
                                      n_entries, "vec_id", "embedding",
                                      "q_id", "q_emb")

    def _assert_same(self, adj, emb, q, **kw):
        got = S.nsw_beam_search(adj, emb, q, **kw)
        want = self._bsp(adj, emb, q, **kw)
        rows = sorted(tuple(r) for r in got.collect())
        assert rows == sorted(tuple(r) for r in want.collect()), kw
        assert got.schema == want.schema
        return rows

    def test_driver_search_equals_bsp_grid(self, spark):
        emb = self._emb(spark)
        q = self._q(emb)
        adj = S.nsw_adjacency(emb, k_nbrs=6).localCheckpoint()
        n = emb.count()
        for kw in ({}, {"k": 10 ** 6}, {"beam": 500},
                   {"n_entries": n + 5}, {"rounds": 0}, {"beam": 0}):
            rows = self._assert_same(adj, emb, q, **kw)
            assert rows
        # dangling dst: the graph links ids the searched corpus lacks
        self._assert_same(adj, emb.filter(F.col("vec_id") % 5 != 1), q)
        # a duplicated entry id: round 0 keeps both rows, later
        # rounds keep the max
        twin = emb.unionByName(emb.filter(F.col("vec_id") == 0)
                               .withColumn("embedding",
                                           F.reverse("embedding")))
        for rounds in (0, 3):
            self._assert_same(adj, twin, q, rounds=rounds, n_entries=3)
        # empty query set: empty answer, same schema
        assert self._assert_same(adj, emb, q.limit(0)) == []

    def test_null_vectors_score_null(self, spark):
        emb = self._emb(spark)
        adj = S.nsw_adjacency(emb, k_nbrs=6).localCheckpoint()
        # entry 0 and a query lose their vectors: their pairs score
        # NULL and rank last, as in the Spark rounds
        holed = emb.withColumn(
            "embedding", F.when(F.col("vec_id") == 0, F.lit(None))
            .otherwise(F.col("embedding")))
        q = self._q(emb).withColumn(
            "q_emb", F.when(F.col("q_id") == 3, F.lit(None))
            .otherwise(F.col("q_emb")))
        rows = self._assert_same(adj, holed, q, k=10 ** 6)
        assert all(r[2] is None for r in rows if r[0] == 3)
        for qid in (0, 1, 2, 4):
            mine = [r for r in rows if r[0] == qid]
            assert max(mine, key=lambda r: r[3])[1:3] == (0, None)

    def test_zero_norm_pair_raises_naming_ids(self, spark):
        emb = self._emb(spark)
        adj = S.nsw_adjacency(emb, k_nbrs=6).localCheckpoint()
        zeroed = emb.withColumn(
            "embedding", F.when(F.col("vec_id") == 1,
                                F.array_repeat(F.lit(0.0), 64))
            .otherwise(F.col("embedding")))
        q = self._q(emb)
        with pytest.raises(ValueError, match="zero-norm.*vec_id=1"):
            S.nsw_beam_search(adj, zeroed, q)
        # the Spark rounds fail on the same pair under ANSI mode
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            self._bsp(adj, zeroed, q).collect()

    def test_duplicate_query_ids_take_the_spark_rounds(self, spark):
        emb = self._emb(spark)
        adj = S.nsw_adjacency(emb, k_nbrs=6).localCheckpoint()
        q = self._q(emb)
        dup = q.unionByName(q.filter(F.col("q_id") == 2).withColumn(
            "q_emb", F.reverse("q_emb")))
        got = S.nsw_beam_search(adj, emb, dup)
        assert "LocalTableScan" not in executed_plan(got)
        self._assert_same(adj, emb, dup)

    def _persisted_graph(self, spark, path):
        emb = self._emb(spark)
        is_batch = F.col("vec_id") % 97 == 13
        batch, old = emb.filter(is_batch), emb.filter(~is_batch)
        S.save_nsw_index(old, path, k_nbrs=6)
        S.append_to_nsw_index(batch, old, path, beam=8, rounds=3,
                              n_entries=2)
        S.delete_from_nsw_index(
            emb.filter(F.col("vec_id") % 7 == 3).select("vec_id"), path)
        return emb.filter(F.col("vec_id") % 7 != 3)

    def test_persisted_probe_equals_bsp_within_job_budget(
            self, spark, tmp_path, jobs_of):
        """Fragments + tombstones: the driver search equals the Spark
        rounds, and load + search + collect stays within 14 Spark jobs
        (the Spark rounds take about 30 here)."""
        path = str(tmp_path / "nsw")
        live = self._persisted_graph(spark, path)
        q = self._q(live)
        rows, n_jobs = jobs_of(lambda: sorted(
            tuple(r) for r in S.nsw_beam_search(
                S.load_nsw_index(spark, path)["adj"], live, q).collect()))
        want = sorted(tuple(r) for r in self._bsp(
            S.load_nsw_index(spark, path)["adj"], live, q).collect())
        assert rows == want and rows
        assert n_jobs <= 14, n_jobs

    def test_cap_fallback_gives_the_driver_answers(
            self, spark, tmp_path, monkeypatch):
        """Above DRIVER_PROBE_MAX_Q queries both heads take their
        Spark paths, with the same answers; the IVF-PQ Spark head
        keeps the driver head's partition pruning and input check."""
        path = str(tmp_path / "nsw")
        live = self._persisted_graph(spark, path)
        q = self._q(live)
        adj = S.load_nsw_index(spark, path)["adj"]
        nsw_driver = S.nsw_beam_search(adj, live, q)
        assert "LocalTableScan" in executed_plan(nsw_driver)
        nsw_want = sorted(tuple(r) for r in nsw_driver.collect())
        emb = spark.createDataFrame(
            [(i, [float(((i * 7 + j * 3) % 11) - 5) for j in range(8)])
             for i in range(40)], "vec_id long, embedding array<double>")
        ivf_path = str(tmp_path / "ivfpq")
        S.save_ivfpq_index(emb, ivf_path, n_cells=2, m=2, kc=2, iters=2,
                           dim=8)
        ivf_q = emb.filter("vec_id < 5").select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
        ivf_driver = S.ivfpq_probe_topk(
            S.load_ivfpq_index(spark, ivf_path), ivf_q, k=3, n_probe=1)
        assert "Generate" not in executed_plan(ivf_driver)
        ivf_want = sorted(tuple(r) for r in ivf_driver.collect())
        # three copies of one query probe one cell of the two
        one_cell_q = ivf_q.filter("q_id = 0").crossJoin(
            spark.range(3).withColumnRenamed("id", "c")) \
            .select(F.col("c").alias("q_id"), "q_emb")
        one_cell = pruned_cells(executed_plan(S.ivfpq_probe_topk(
            S.load_ivfpq_index(spark, ivf_path), one_cell_q, k=3,
            n_probe=1)))
        assert one_cell in ("0", "1")

        monkeypatch.setattr(S, "DRIVER_PROBE_MAX_Q", 2)
        with spans.span("probe") as rec:
            nsw_spark = S.nsw_beam_search(adj, live, q)
            ivf_spark = S.ivfpq_probe_topk(
                S.load_ivfpq_index(spark, ivf_path), ivf_q, k=3,
                n_probe=1)
        # both fall-backs are in the run record
        assert [(f["kind"], f["detail"].split(":")[0])
                for f in rec.record["fallbacks"]] == [
            ("probe_cap", "nsw_beam_search"), ("probe_cap", "ivfpq_probe")]
        assert "LocalTableScan" not in executed_plan(nsw_spark)
        assert sorted(tuple(r) for r in nsw_spark.collect()) == nsw_want
        assert "Generate" in executed_plan(ivf_spark)   # Spark head
        assert sorted(tuple(r) for r in ivf_spark.collect()) == ivf_want
        # the Spark head prunes the codes scan to the same cells
        assert pruned_cells(executed_plan(ivf_spark)) == \
            pruned_cells(executed_plan(ivf_driver))
        assert pruned_cells(executed_plan(S.ivfpq_probe_topk(
            S.load_ivfpq_index(spark, ivf_path), one_cell_q, k=3,
            n_probe=1))) == one_cell
        # ... and refuses the vectors the driver head refuses
        good = [float(j) - 3.5 for j in range(8)]
        for vec in (good[:3] + [float("nan")] + good[4:],
                    good[:3] + [float("-inf")] + good[4:],
                    good[:3] + [None] + good[4:], None):
            q = spark.createDataFrame([(1, good), (2, good), (99, vec)],
                                      "q_id long, q_emb array<double>")
            with pytest.raises(ValueError, match="query 99:"):
                S.ivfpq_probe_topk(S.load_ivfpq_index(spark, ivf_path),
                                   q, k=3, n_probe=1)

    def test_probe_head_frames_are_local_table_scans(self, spark,
                                                     tmp_path, jobs_of):
        """The driver-built frames plan as Arrow-backed local
        relations, never as RDD scans (collecting a list-built frame
        runs a Python-worker job)."""
        emb = spark.createDataFrame(
            [(i, [float(((i * 5 + j) % 9) - 4) for j in range(8)])
             for i in range(30)], "vec_id long, embedding array<double>")
        path = str(tmp_path / "ivfpq")
        S.save_ivfpq_index(emb, path, n_cells=2, m=2, kc=2, iters=2,
                           dim=8)
        q = emb.filter("vec_id < 3").select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
        plan = executed_plan(S.ivfpq_probe_topk(
            S.load_ivfpq_index(spark, path), q, k=3, n_probe=1))
        assert plan.count("LocalTableScan") == 2     # queries + books
        assert "ExistingRDD" not in plan
        adj = S.nsw_adjacency(emb, k_nbrs=4, n_centroids=2)
        found = S.nsw_beam_search(adj, emb, q, k=3)
        assert executed_plan(found).strip().startswith("LocalTableScan")
        assert jobs_of(found.collect)[1] == 0

    def test_minhash_meta_and_tombstone_reads_run_no_jobs(self, spark,
                                                          tmp_path,
                                                          jobs_of):
        """The 1-row meta is read with pyarrow and the tombstones with
        a given schema: a delete runs only its tombstone write, and
        the tombstone read plans without a schema-inference job."""
        from mining_data_integration_spark.sources.kv import (
            read_tombstones)

        docs = docs_df(spark, [(i, f"doc {i} shares these words {i % 3}")
                               for i in range(8)])
        path = str(tmp_path / "mh")
        D.save_minhash_index(docs, path, n=3, num_hashes=16, bands=4)
        dead = docs.filter("doc_id = 1").select("doc_id")
        _, n_delete = jobs_of(
            lambda: D.delete_from_minhash_index(dead, path))
        _, n_write = jobs_of(
            lambda: dead.select(
                F.col("doc_id").cast("long").alias("id")).distinct()
            .write.parquet(str(tmp_path / "ts")))
        assert n_delete == n_write
        ts, n_read = jobs_of(lambda: read_tombstones(spark, path))
        assert n_read == 0
        assert [r.id for r in ts.collect()] == [1]


class TestBatchReplayIdempotency:
    """Round-12 (VERDICT #7 + ADVICE): exactly-once for the streaming
    maintenance matrix under CRASH-REPLAY. Structured Streaming's
    foreachBatch contract is at-least-once: a batch can be re-run
    after the mutation landed but BEFORE its applied-batch marker was
    written (the st15 retry window). Both mutation kinds must
    converge under that replay:

      - append: skip_existing=True anti-joins the batch against the
        live codes inside the lease -> the replay inserts NOTHING,
        the index equals the clean single-application state, and
        probes never rank a duplicate code.
      - delete: tombstones are append-only but every reader
        distincts the tombstone set -> a replayed delete is
        absorbed; probe results equal the single-application run.
    """

    @staticmethod
    def _emb(spark, n=40):
        rows = [(i, [float(((i * 7 + j * 3) % 11) - 5)
                     for j in range(8)]) for i in range(n)]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")

    @staticmethod
    def _q(emb):
        from pyspark.sql import functions as F

        return emb.filter("vec_id < 3").select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"))

    def _probe(self, spark, path, q):
        from mining_data_integration_spark.operators import (
            similarity as S)

        return sorted(tuple(r) for r in S.ivfpq_probe_topk(
            S.load_ivfpq_index(spark, path), q, k=5,
            n_probe=2).collect())

    def test_append_replay_converges_and_probes_see_no_dupes(
            self, spark, tmp_path):
        import os
        import shutil

        from mining_data_integration_spark.operators import (
            similarity as S)

        emb = self._emb(spark)
        batch = emb.filter("vec_id % 2 = 1")
        clean = str(tmp_path / "clean")
        S.save_ivfpq_index(emb.filter("vec_id % 2 = 0"), clean,
                           n_cells=2, m=2, kc=2, iters=2, dim=8)
        crashed = str(tmp_path / "crashed")
        shutil.copytree(clean, crashed)
        # clean run: marker written -> batch applied exactly once
        S.append_to_ivfpq_index(batch, clean, skip_existing=True)
        want = self._probe(spark, clean, self._q(emb))
        # crashed run: append committed, process dies before the
        # marker write; the retried foreachBatch re-applies the batch
        S.append_to_ivfpq_index(batch, crashed, skip_existing=True)
        S.append_to_ivfpq_index(batch, crashed, skip_existing=True)
        codes = spark.read.parquet(S._codes_dir(crashed))
        assert codes.count() == 40                       # no dupes
        assert codes.select("vec_id").distinct().count() == 40
        assert self._probe(spark, crashed, self._q(emb)) == want
        assert not os.path.exists(
            os.path.join(crashed, ".maintenance-lease"))  # released

    def test_append_without_skip_existing_documents_the_hazard(
            self, spark, tmp_path):
        """The contract boundary: the DEFAULT bulk-load path trusts
        the caller's fresh-ids guarantee, so a raw double-append DOES
        duplicate — pinning that the idempotence lives in
        skip_existing, not in some accidental dedup downstream."""
        from mining_data_integration_spark.operators import (
            similarity as S)

        emb = self._emb(spark)
        path = str(tmp_path / "rawidx")
        S.save_ivfpq_index(emb.filter("vec_id % 2 = 0"), path,
                           n_cells=2, m=2, kc=2, iters=2, dim=8)
        batch = emb.filter("vec_id % 2 = 1")
        S.append_to_ivfpq_index(batch, path)
        S.append_to_ivfpq_index(batch, path)
        assert spark.read.parquet(S._codes_dir(path)).count() == 60

    def test_minhash_append_replay_converges(self, spark, tmp_path):
        """The band-index twin: probes were already replay-safe (the
        final distinct), but a replayed raw append doubles the bucket
        rows the dd19 occupancy audit counts — skip_existing keeps
        the physical index identical to the single-application run."""
        base = "the quick brown fox jumps over the lazy dog tonight"
        docs = docs_df(spark, [
            (i, base.replace("dog", f"pet{i // 2}")) for i in range(20)])
        path = str(tmp_path / "mhidx")
        D.save_minhash_index(docs.filter("doc_id % 2 = 0"), path,
                             n=3, num_hashes=16, bands=4)
        batch = docs.filter("doc_id % 2 = 1")
        D.append_to_minhash_index(batch, path, skip_existing=True)
        n_once = spark.read.parquet(D._buckets_dir(path)).count()
        D.append_to_minhash_index(batch, path, skip_existing=True)
        assert spark.read.parquet(D._buckets_dir(path)).count() == n_once
        ids = {r.id for r in spark.read.parquet(D._buckets_dir(path))
               .select("id").distinct().collect()}
        assert ids == set(range(20))

    @pytest.mark.slow
    def test_delete_replay_converges(self, spark, tmp_path):
        from mining_data_integration_spark.operators import (
            similarity as S)

        emb = self._emb(spark)
        ids = emb.filter("vec_id % 5 = 0").select("vec_id")
        clean = str(tmp_path / "dclean")
        S.save_ivfpq_index(emb, clean, n_cells=2, m=2, kc=2,
                           iters=2, dim=8)
        S.delete_from_ivfpq_index(ids, clean)
        want = self._probe(spark, clean, self._q(emb))
        crashed = str(tmp_path / "dcrashed")
        S.save_ivfpq_index(emb, crashed, n_cells=2, m=2, kc=2,
                           iters=2, dim=8)
        S.delete_from_ivfpq_index(ids, crashed)
        S.delete_from_ivfpq_index(ids, crashed)          # the replay
        assert self._probe(spark, crashed, self._q(emb)) == want
        # and the NEXT compaction folds the duplicated tombstones
        # away without resurrecting or double-purging anything
        S.compact_ivfpq_index(spark, crashed)
        assert self._probe(spark, crashed, self._q(emb)) == want


class TestStreamAnnProbe:
    """st12's operator: streaming ANN ingest probe over the persisted
    IVF-PQ index — the streamed per-batch reports must equal one
    batch probe over the union of the streamed vectors (stream/batch
    parity, st9's discipline applied to the sim family)."""

    def test_stream_report_equals_batch_probe(self, spark, tmp_path):
        from mining_data_integration_spark.streaming import (
            stream_probe_ann)

        rows = [(i, [float(((i * 7 + j * 3) % 11) - 5)
                     for j in range(8)]) for i in range(40)]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")
        path = str(tmp_path / "idx")
        S.save_ivfpq_index(emb, path, n_cells=2, m=2, kc=2, iters=2,
                           dim=8)
        src = str(tmp_path / "incoming")
        emb.filter("vec_id in (10, 11)").coalesce(1) \
            .write.mode("append").parquet(src)
        emb.filter("vec_id in (20, 21)").coalesce(1) \
            .write.mode("append").parquet(src)
        stream = (spark.readStream.schema(emb.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        out = str(tmp_path / "report")
        q = (stream_probe_ann(stream, path, out, k=3, n_probe=1)
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        report = spark.read.parquet(out)
        # two genuine micro-batches, each writing its own partition
        assert {r.batch_id for r in
                report.select("batch_id").distinct().collect()} \
            == {0, 1}
        got = sorted(tuple(r) for r in
                     report.drop("batch_id").collect())
        idx = S.load_ivfpq_index(spark, path)
        batch_q = emb.filter("vec_id in (10, 11, 20, 21)").select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"))
        want = sorted(tuple(r) for r in S.ivfpq_probe_topk(
            idx, batch_q, k=3, n_probe=1).collect())
        assert got == want and len(got) == 12    # 4 vecs x top-3
