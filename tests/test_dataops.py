"""Semantics tests for the training-data operators (dedup / similarity /
textstats / multimodal) — especially the sketch ops the DuckDB oracle can't
express."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_rivers_spark.operators import dedup as D
from data_rivers_spark.operators import multimodal as M
from data_rivers_spark.operators import similarity as S
from data_rivers_spark.operators import textstats as TX


def _docs(spark, sf_dir):
    from data_rivers_spark.session import load_tables

    return load_tables(spark, sf_dir, ["documents"])["documents"].select("doc_id", "text")


def test_minhash_lsh_planted(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    copies = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .withColumn("doc_id", F.col("doc_id") + 100000)
        .withColumn("text", F.regexp_replace(F.col("text"), r"^\S+\s*", ""))
    )
    aug = docs.unionByName(copies)
    survivors = {r.doc_id for r in D.minhash_lsh_dedup(aug, "text", "doc_id", 0.7).collect()}
    planted = {r.doc_id for r in copies.select("doc_id").collect()}
    # every planted near-dup (higher id than its original) must be dropped
    assert not (survivors & planted), sorted(survivors & planted)[:5]


def test_lsh_bucket_cap_keeps_candidates_linear(spark):
    """1000 identical boilerplate docs: all-pairs expansion would emit
    ~500k candidates; the bucket cap must switch to star expansion (hub =
    min id), keeping candidates linear while still collapsing the clique."""
    n = 1000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit(
            "the same boilerplate disclaimer text repeated verbatim in every "
            "single document of this scraped corpus shard"
        ).alias("text"),
    )
    cands = D.minhash_lsh_candidates(df, "text", "doc_id", bucket_cap=100)
    rows = cands.collect()
    assert len(rows) == n - 1, len(rows)  # star: (0, x) for every x > 0
    assert {r.id_a for r in rows} == {0}
    # the full dedup still collapses the boilerplate clique to one survivor
    out = D.minhash_lsh_dedup(df, "text", "doc_id", 0.9, bucket_cap=100)
    assert out.count() == 1
    # and occupancy monitoring reports the pathological buckets
    stats = D.lsh_bucket_stats(df, "text", "doc_id").collect()
    assert stats[0].occupancy == n and stats[0].n_buckets == 8


def test_minhash_no_false_negatives_on_exact_dups(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "alpha beta gamma delta epsilon zeta"),
         (3, "completely different words entirely here now")],
        "doc_id long, text string",
    )
    out = {r.doc_id for r in D.minhash_lsh_dedup(df, "text", "doc_id", 0.9).collect()}
    assert out == {1, 3}


def test_simhash_close_and_far(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
            (2, "the quick brown fox jumps over the lazy dog near the river bank"),
            (3, "entirely unrelated content about spark query engines and columnar execution"),
        ],
        "doc_id long, text string",
    )
    sigs = D.simhash_column(df, "text")
    rows = {r.doc_id: r.simhash for r in sigs.collect()}
    ham12 = bin(rows[1] ^ rows[2]).count("1")
    ham13 = bin(rows[1] ^ rows[3]).count("1")
    assert ham12 < ham13
    pairs = D.simhash_near_pairs(sigs, "doc_id", max_hamming=ham12)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got


def test_simhash_blocking_rejects_overflowing_combo_keys(spark):
    import pytest

    sigs = spark.createDataFrame([(1, 7), (2, 5)], "doc_id long, simhash long")
    sc = spark.sparkContext
    group = "simhash_rejects_bad_config"
    sc.setJobGroup(group, "bad combo-key configs")
    try:
        # max_hamming=1, extra_clean_blocks=11 -> slot=6, 11*6=66 bits > 63
        with pytest.raises(ValueError, match="63"):
            D.simhash_near_pairs(sigs, "doc_id", max_hamming=1, extra_clean_blocks=11)
        # extra_clean_blocks=22 would overflow LongType at plan build; same guard
        with pytest.raises(ValueError, match="63"):
            D.simhash_near_pairs(sigs, "doc_id", max_hamming=1, extra_clean_blocks=22)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # an explicit bad config is rejected before the signature checkpoint job
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    # the measured 4-clean operating point stays legal (t=7, slot=10, 40 bits)
    D.simhash_near_pairs(sigs, "doc_id", max_hamming=3, extra_clean_blocks=4).collect()


def test_shingle_rows_partitioning_floor_and_override(spark):
    """The pre-explode repartition never collapses a wide input to core
    count, and callers can pin the count explicitly (ADVICE r4)."""
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(40)], "doc_id long, text string"
    )
    wide = docs.repartition(64)
    dp = spark.sparkContext.defaultParallelism
    assert (
        D.word_shingle_rows(wide, "text", "doc_id").rdd.getNumPartitions()
        == max(dp, 64)
    )
    assert (
        D.char_shingle_rows(wide, "text", "doc_id", num_partitions=7)
        .rdd.getNumPartitions()
        == 7
    )


def test_signlsh_recall_vs_exact(spark, sf_dir):
    from data_rivers_spark.session import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    exact = S.cosine_topk(emb, queries, "embedding", "vec_id", 5)
    approx = S.signlsh_topk(emb, queries, "embedding", "vec_id", 5, num_planes=4)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # 4 planes → 16 buckets over 500 vecs; recall is approximate by design but
    # must beat random chance (5/500) by a wide margin
    assert recall > 0.2, recall


def test_embedding_neardup_default_is_bucketed(spark, sf_dir):
    """Unblocked embedding_near_dup_pairs must dispatch to the LSH bucket
    path (equi join on the (table, bucket) key — no cartesian in the plan)
    and agree with the exact all-pairs verifier — the blocked join over a
    constant block column — on the planted-twin corpus (wide sim margins —
    see q_embedding_lsh_neardup)."""
    from data_rivers_spark.session import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"].filter(
        F.col("vec_id") < 100
    )
    twins = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x.cast("double") + F.lit(0.05)
        ).alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").unionByName(twins)
    default = S.embedding_near_dup_pairs(corpus, "embedding", "vec_id", 0.75)
    plan = default._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan[:2000]
    exact = S.embedding_near_dup_pairs(
        corpus.withColumn("blk", F.lit(0)), "embedding", "vec_id", 0.75,
        block_col="blk",
    )
    d = {(r.id_a, r.id_b, r.sim) for r in default.collect()}
    e = {(r.id_a, r.id_b, r.sim) for r in exact.collect()}
    assert d == e and len(d) == 100


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "  hello world "), (3, "different")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.fingerprint for r in TX.fingerprint(df, "text").collect()}
    assert rows[1] == rows[2] != rows[3]


def test_shingle_fingerprints(spark):
    df = spark.createDataFrame([(1, "a b c d e f g")], "doc_id long, text string")
    out = D.word_shingles(F.col("text"), 5)
    n = TX.shingle_fingerprints(df, "text", "doc_id", 5).count()
    assert n == 3  # 7 words → 3 rolling 5-shingles


def test_multimodal_feature_extraction(spark):
    rows = [
        (1, b"\x00\x01imagebytes", "image", (64, 48, None, "png")),
        (2, b"\x00\x02audiobytes", "audio", (None, None, 120000, "wav")),
        (3, None, "image", (None, None, None, None)),
    ]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    feats = M.extract_features(df).collect()
    by_id = {r.media_id: r for r in feats}
    assert len(by_id[1].feature) == 16 and by_id[1].decode_ok
    # determinism: same bytes → same feature
    again = {r.media_id: r for r in M.extract_features(df).collect()}
    assert again[1].feature == by_id[1].feature
    # stats run natively
    stats = {r.media_type: r.n for r in M.media_stats(df).collect()}
    assert stats == {"image": 2, "audio": 1}


def _wav_bytes(n_frames=800, rate=8000, channels=1):
    import io
    import math
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(
            b"".join(
                struct.pack("<h", int(12000 * math.sin(i / 10.0)))
                for i in range(n_frames)
            )
        )
    return buf.getvalue()


def test_real_decode_wav_end_to_end(spark):
    """The stdlib WAV path of real_decode works on every runtime: a genuine
    in-memory WAV decodes through the full mapInPandas pipeline; rows whose
    codec is unavailable quarantine as decode_ok=False instead of failing
    the job."""
    caps = M.media_capabilities()
    assert caps["audio_wav"] is True
    wav = _wav_bytes()
    rows = [
        (1, wav, "audio", (None, None, None, "wav")),
        (2, b"\x89PNG\r\n\x1a\nnotreallyapng", "image", (None, None, None, "png")),
    ]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    feats = {r.media_id: r for r in M.extract_features(df, decoder=M.real_decode).collect()}
    assert feats[1].decode_ok and len(feats[1].feature) == 16
    # image row: either Pillow decodes garbage → error → quarantined, or
    # Pillow is absent → MediaCapabilityError → quarantined; never a crash
    assert feats[2].decode_ok is False and feats[2].feature is None
    # direct decode agrees with the wave module's own header math
    d = M.real_decode(wav, "audio")
    assert d["duration_ms"] == 100 and d["width"] == 1


def test_real_decode_image_gated():
    """Image decode either works (Pillow present) or raises the typed
    capability error — importing the operator never requires the codec."""
    caps = M.media_capabilities()
    if not caps["image"]:
        import pytest

        with pytest.raises(M.MediaCapabilityError):
            M.real_decode(b"\x00", "image")
        pytest.skip("Pillow not installed; gate verified")
    d = M.real_decode(_png_1x1(), "image")
    assert d["width"] == 1 and d["height"] == 1


def _png_1x1():
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("L", (1, 1), 128).save(buf, format="PNG")
    return buf.getvalue()


def test_multimodal_frame_sampling(spark):
    rows = [(1, b"v", "video", (None, None, 1000, "mp4"))]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    frames = M.sample_video_frames(df, every_ms=250).collect()
    assert [r.frame_ts_ms for r in frames] == [0, 250, 500, 750, 1000]


def test_quality_features_edge_cases(spark):
    df = spark.createDataFrame([(1, ""), (2, "the the the")], "doc_id long, text string")
    out = {r.doc_id: r for r in TX.quality_features(df, "text").collect()}
    assert out[1].q_n_words == 0 and out[1].q_punct_ratio == 0.0
    assert out[2].q_stopword_ratio == 1.0


def test_punct_count_matches_strip_form(spark):
    # r14: the punct count switched from length(regexp_replace(negated
    # class, '')) to regexp_count(class) — 37x cheaper, and it must be the
    # IDENTICAL integer on every input (each punctuation char is one
    # single-char non-overlapping match). Adversarial cases: empty, NULL,
    # all-punct, unicode, regex metacharacters, the class's range edges.
    rows = [
        (1, ""), (2, None), (3, "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~"),
        (4, "plain words only"), (5, "mixed: a,b.c;d!e?f(g)h[i]j{k}"),
        (6, "unicode \u00e9\u4e16\u754c \u2014 dash, ellipsis\u2026!"),
        (7, "  \t\nwhitespace ,  runs\n\n"), (8, "a" * 500 + "!?" * 50),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    old = F.length(F.regexp_replace(F.col("text"), r"[^!-/:-@\[-`{-~]", ""))
    new = F.regexp_count(F.col("text"), F.lit(r"[!-/:-@\[-`{-~]"))
    bad = df.select("doc_id", old.alias("o"), new.alias("n")).filter(
        ~(F.col("o").eqNullSafe(F.col("n")))
    )
    assert bad.count() == 0, bad.collect()


def test_cosine_topk_vectorized_matches_exact(spark, sf_dir):
    from data_rivers_spark.session import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    exact = S.cosine_topk(emb, queries, "embedding", "vec_id", 5)
    fast = S.cosine_topk_vectorized(emb, queries, "embedding", "vec_id", 5)
    e = {(r.query_id, r.neighbor_id): r.sim for r in exact.collect()}
    f = {(r.query_id, r.neighbor_id): r.sim for r in fast.collect()}
    assert set(e) == set(f)
    assert max(abs(e[k] - f[k]) for k in e) < 1e-9


def test_ivf_topk_recall(spark, sf_dir):
    from data_rivers_spark.session import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    exact = S.cosine_topk(emb, queries, "embedding", "vec_id", 5)
    approx = S.ivf_topk(emb, queries, "embedding", "vec_id", 5, n_centroids=8, nprobe=3)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall > 0.3, recall


def test_auto_clean_blocks_rule():
    # measured calibration: 3 wins through ~2M signatures, +1 per 4x beyond
    assert D._auto_clean_blocks(100_000, 3) == 3
    assert D._auto_clean_blocks(1_280_000, 3) == 3
    assert D._auto_clean_blocks(5_120_000, 3) == 4
    assert D._auto_clean_blocks(20_500_000, 3) == 5
    assert D._auto_clean_blocks(82_000_000, 3) == 6
    assert D._auto_clean_blocks(10**12, 3) == 6  # clamp
    # packing constraint respected for small max_hamming (wide slots)
    ecb = D._auto_clean_blocks(10**9, 1)
    slot = 64 // (1 + ecb) + (1 if 64 % (1 + ecb) else 0)
    assert ecb * slot <= 63


def test_simhash_pairs_invariant_to_clean_blocks(spark):
    """extra_clean_blocks is a pure cost knob: pigeonhole recall + exact
    bit_count verify make the pair set identical at any setting (and under
    the auto default)."""
    rows = [(i, (i * 0x9E3779B97F4A7C15) % (1 << 63)) for i in range(200)]
    rows += [(1000 + i, rows[i][1] ^ (1 << (i % 60))) for i in range(50)]  # planted
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    outs = []
    for ecb in (3, 4, None):
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in D.simhash_near_pairs(
                df, "doc_id", max_hamming=3, extra_clean_blocks=ecb
            ).collect()
        }
        outs.append(got)
    assert outs[0] == outs[1] == outs[2] and len(outs[0]) >= 50
    # corpus_count hint reproduces the opt-in auto result without the
    # count action (auto is opt-in via extra_clean_blocks=None since the
    # r10 measurement showed deepening loses on true-pair-dominated streams)
    hinted = {
        (r.id_a, r.id_b, r.hamming)
        for r in D.simhash_near_pairs(
            df, "doc_id", max_hamming=3, extra_clean_blocks=None, corpus_count=250
        ).collect()
    }
    assert hinted == outs[0]


def test_ngram_jaccard_pairs_salt_invariance(spark):
    """r13: the block-key salt only partitions the pair space — the output
    (pairs AND 4-dp jaccard values) must be identical at any salt count,
    including S=1 (the unsalted join), and empty/NULL texts must keep
    their pre-r13 behavior (filtered by callers; NULL jaccard drops)."""
    rows = [
        (1, "the quick brown fox", "en"),
        (2, "the quick brown fox jumps", "en"),
        (3, "the quick brown fox", "en"),
        (4, "der schnelle braune fuchs", "de"),
        (5, "der schnelle braune fuchs", "de"),
        (6, "unrelated words entirely here", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    outs = []
    for s in (1, 7, None):
        out = sorted(
            tuple(r)
            for r in D.ngram_jaccard_pairs(
                df, "text", "doc_id", ["lang"], 0.8, salts=s
            ).collect()
        )
        outs.append(out)
    assert outs[0] == outs[1] == outs[2]
    got = {(a, b): j for a, b, j in outs[0]}
    assert (1, 3) in got and got[(1, 3)] == 1.0
    assert (4, 5) in got and got[(4, 5)] == 1.0
    assert (2, 6) not in got


def test_connected_components_chain(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (3, 4)], "id_a long, id_b long"
    )
    comps = {r.id: r.component for r in D.connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 9: 7}


def test_connected_components_nonconvergence_raises(spark):
    """Exhausting max_iterations with labels still moving is a correctness
    failure (a long chain would key on two representatives — fatal for
    cluster_safe_split's leakage contract): strict (default) raises,
    strict=False warns loudly and returns the partial labels."""
    import warnings

    import pytest

    # path graph 1-2-3-4-5-6: min-label needs 5 rounds to reach node 6
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "id_a long, id_b long"
    )
    # driver_max_edges=0 pins the DISTRIBUTED loop (r13: small graphs
    # otherwise dispatch to the exact driver union-find, which never
    # iterates and so can never be non-convergent)
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(pairs, max_iterations=2, driver_max_edges=0)
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        partial = D.connected_components(
            pairs, max_iterations=2, strict=False, driver_max_edges=0
        )
        partial.collect()
    assert any("did not converge" in str(w.message) for w in rec)
    # and with enough rounds the same graph converges silently
    full = {r.id: r.component
            for r in D.connected_components(
                pairs, max_iterations=10, driver_max_edges=0
            ).collect()}
    assert full == {i: 1 for i in range(1, 7)}


def test_dedup_by_components(spark):
    df = spark.createDataFrame([(i, f"t{i}") for i in [1, 2, 3, 4, 7, 9, 50]],
                               "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 9)], "id_a long, id_b long")
    out = {r.doc_id for r in D.dedup_by_components(df, pairs, "doc_id").collect()}
    assert out == {1, 4, 7, 50} | {4}  # chain 1-2-3 -> keep 1; 7-9 -> keep 7


def test_flag_contaminated(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),   # contains benchmark 5-gram
            (2, "totally unrelated words with no overlap at all here"),
            (3, "xx quick brown fox jumps over yy"),              # shares the 5-gram
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "quick brown fox jumps over")], "doc_id long, text string"
    )
    out = {r.doc_id: r.contaminated for r in
           TX.flag_contaminated(docs, bench, "text", "doc_id").collect()}
    assert out == {1: True, 2: False, 3: True}


def test_incremental_lsh_dedup_two_batches(spark, sf_dir):
    """Batch 2 dedups against batch 1's signature store without re-reading
    batch 1 (except the bucket-hit semi-join): corpus dups drop, internal
    dups drop, novel docs survive; surviving signatures append cleanly."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)

    # batch 1 bootstraps the store (no master yet) — identical to batch dedup
    surv1, banded1 = D.incremental_lsh_dedup(
        docs, None, None, "text", "doc_id", threshold=0.7
    )
    batch_mode = {
        r.doc_id for r in D.minhash_lsh_dedup(docs, "text", "doc_id", 0.7).collect()
    }
    surv1_ids = {r.doc_id for r in surv1.collect()}
    assert surv1_ids == batch_mode
    docs = docs.join(surv1.select("doc_id"), "doc_id", "left_semi")  # canonical corpus

    # batch 2: near-copies of batch-1 docs (drop first word), one internal
    # dup pair, and untouched novel docs (ids shifted past batch 1's)
    corpus_dups = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .withColumn("doc_id", F.col("doc_id") + 10_000)
        .withColumn("text", F.regexp_replace(F.col("text"), r"^\S+\s*", ""))
    )
    novel = _docs(spark, sf_dir).filter(
        (F.col("doc_id") >= 200) & (F.col("doc_id") < 250)
    ).withColumn("doc_id", F.col("doc_id") + 10_000)
    internal_dup = novel.limit(1).withColumn("doc_id", F.col("doc_id") + 5_000)
    batch2 = corpus_dups.unionByName(novel).unionByName(internal_dup)

    surv2, banded2 = D.incremental_lsh_dedup(
        batch2, docs, D.group_banded_store(banded1, "doc_id"), "text", "doc_id",
        threshold=0.7,
    )
    got = {r.doc_id for r in surv2.collect()}
    assert not ({r.doc_id for r in corpus_dups.collect()} & got)  # corpus dups dropped
    assert {r.doc_id for r in novel.collect()} <= got  # novel docs kept
    assert not ({r.doc_id for r in internal_dup.collect()} & got)  # internal dup dropped
    # surviving signatures cover exactly the survivors
    assert {r.doc_id for r in banded2.select("doc_id").distinct().collect()} == got


def test_incremental_lsh_grouped_store_parity(spark, sf_dir):
    """Dedup of batch 2 against the grouped (inverted-index) store must
    reproduce batch dedup of master ∪ batch 2 on batch 2's rows: same
    survivors under the same banding, and surviving signature rows equal to
    the survivors' own banding. A row-form store is rejected by name before
    any Spark job runs."""
    import pytest

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    surv1, banded1 = D.incremental_lsh_dedup(
        docs, None, None, "text", "doc_id", threshold=0.7
    )
    master = docs.join(surv1.select("doc_id"), "doc_id", "left_semi")
    corpus_dups = (
        master.filter(F.col("doc_id") % 7 == 0)
        .withColumn("doc_id", F.col("doc_id") + 10_000)
        .withColumn("text", F.regexp_replace(F.col("text"), r"^\S+\s*", ""))
    )
    novel = _docs(spark, sf_dir).filter(
        (F.col("doc_id") >= 200) & (F.col("doc_id") < 250)
    ).withColumn("doc_id", F.col("doc_id") + 10_000)
    batch2 = corpus_dups.unionByName(novel)

    store = D.group_banded_store(banded1, "doc_id")
    grp_surv, grp_banded = D.incremental_lsh_dedup(
        batch2, master, store, "text", "doc_id", threshold=0.7
    )
    whole = D.minhash_lsh_dedup(master.unionByName(batch2), "text", "doc_id", 0.7)
    got = {r.doc_id for r in grp_surv.collect()}
    assert got == {r.doc_id for r in whole.collect() if r.doc_id >= 10_000}
    key = lambda r: (r.doc_id, r.band_idx, r.band_hash)  # noqa: E731
    expected = D._banded_from_sets(
        D.shingle_sets(grp_surv, "text", "doc_id"), "doc_id", 32, 8
    )
    assert sorted(map(key, grp_banded.collect())) == sorted(
        map(key, expected.collect())
    )
    # a row-form store is a caller error, caught from the schema alone
    sc = spark.sparkContext
    group = "incremental_lsh_row_store"
    sc.setJobGroup(group, "row-form store")
    try:
        with pytest.raises(ValueError, match="group_banded_store"):
            D.incremental_lsh_dedup(batch2, master, banded1, "text", "doc_id")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_incremental_lsh_no_master_master_candidates(spark, sf_dir):
    """Buckets holding only corpus ids emit nothing: candidate id_b is always
    a batch id, so per-batch cost tracks the batch, not the corpus."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 100)
    _, banded = D.incremental_lsh_dedup(docs, None, None, "text", "doc_id")
    batch = (
        docs.filter(F.col("doc_id") < 5)
        .withColumn("doc_id", F.col("doc_id") + 10_000)
    )
    sets_b = D.shingle_sets(batch, "text", "doc_id")
    banded_b = D._banded_from_sets(sets_b, "doc_id", 32, 8)
    cands = D._expand_grouped_buckets(
        D.group_banded_store(banded_b.unionByName(banded), "doc_id"), 1000,
        min_id_b=10_000,
    )
    rows = cands.collect()
    assert all(r.id_b >= 10_000 for r in rows)
    assert len(rows) > 0  # the exact copies do collide with their originals


def test_incremental_lsh_capped_bucket_nonhub_match(spark):
    """With a capped bucket, a batch doc duplicating a NON-hub corpus doc is
    still caught: the cap tests batch-side occupancy, so the expansion keeps
    full batch-vs-all coverage instead of collapsing to a star on the bucket
    min id (which is almost always a master)."""
    base = "alpha beta gamma delta epsilon zeta eta theta"
    # 6 identical corpus docs land every band in one bucket of occupancy 6
    corpus = spark.createDataFrame(
        [(i, base) for i in range(6)], "doc_id long, text string"
    )
    banded_m = D._banded_from_sets(
        D.shingle_sets(corpus, "text", "doc_id"), "doc_id", 32, 8
    )
    batch = spark.createDataFrame([(100, base)], "doc_id long, text string")
    # bucket_cap=3 < occupancy: the old star-on-min expansion emitted only
    # (0, 100); batch-vs-all must emit (i, 100) for every corpus member
    banded_b = D._banded_from_sets(
        D.shingle_sets(batch, "text", "doc_id"), "doc_id", 32, 8
    )
    cands = D._expand_grouped_buckets(
        D.group_banded_store(banded_b.unionByName(banded_m), "doc_id"),
        bucket_cap=3, min_id_b=100,
    )
    got = {(r.id_a, r.id_b) for r in cands.collect()}
    assert got == {(i, 100) for i in range(6)}
    # non-incremental capped expansion still stars on the bucket min
    allc = D._expand_buckets(
        banded_b.unionByName(banded_m), "doc_id", bucket_cap=3
    )
    got_all = {(r.id_a, r.id_b) for r in allc.collect()}
    assert got_all == {(0, b) for b in [1, 2, 3, 4, 5, 100]}


def test_incremental_lsh_dropped_signature_retention(spark):
    """keep_dropped_signatures=True appends dropped docs' banded rows to the
    store, so a later batch doc that duplicates a DROPPED doc (but not its
    kept representative) is itself dropped; with the default canonical-only
    store it is admitted."""
    # near-transitivity chain at threshold 0.8 (3-gram shingles):
    # d1 = 10 words (8 shingles); d2 = d1 + 1 word → J(d2,d1) = 8/9 ≈ .889
    # (dropped); x = d1 + 3 words → J(x,d2) = 9/11 ≈ .818 (dup of the
    # DROPPED doc) but J(x,d1) = 8/11 ≈ .727 < .8 (NOT a dup of the rep)
    d1 = "one two three four five six seven eight nine ten"
    d2 = d1 + " extra1"
    x = d1 + " extra1 extra2 extra3"
    b1 = spark.createDataFrame([(1, d1), (2, d2)], "doc_id long, text string")
    batch2 = spark.createDataFrame([(10, x)], "doc_id long, text string")
    for keep, admitted_expected in [(False, {10}), (True, set())]:
        surv1, banded1 = D.incremental_lsh_dedup(
            b1, None, None, "text", "doc_id", threshold=0.8,
            keep_dropped_signatures=keep,
        )
        assert {r.doc_id for r in surv1.collect()} == {1}
        # full doc history as master_docs so dropped-id bucket hits verify
        surv2, _ = D.incremental_lsh_dedup(
            batch2, b1, D.group_banded_store(banded1, "doc_id"), "text",
            "doc_id", threshold=0.8, batch_min_id=10,
        )
        assert {r.doc_id for r in surv2.collect()} == admitted_expected


def test_incremental_lsh_watermark_min_id(spark, tmp_path):
    """batch_min_id read from the RunLog watermark — no driver min() job
    — and the cutoff prunes master-vs-master pairs identically."""
    from data_rivers_spark.sources.watermark import RunLog

    log = RunLog(str(tmp_path))
    log.record_successful_run("lsh_dedup", "100")
    base = "kappa lambda mu nu xi omicron pi rho sigma tau"
    master = spark.createDataFrame(
        [(1, base)], "doc_id long, text string"
    )
    _, banded_m = D.incremental_lsh_dedup(master, None, None, "text", "doc_id")
    batch = spark.createDataFrame([(100, base)], "doc_id long, text string")
    surv, _ = D.incremental_lsh_dedup(
        batch, master, D.group_banded_store(banded_m, "doc_id"), "text",
        "doc_id", threshold=0.7,
        batch_min_id=int(log.last_successful_run("lsh_dedup")),
    )
    assert surv.count() == 0  # exact dup of master caught via watermark cutoff


def test_line_repetition_stats(spark):
    """Hand-checked: 'a b\\na b\\nc d' → 3 lines, 1 repeat, 6 of 9 chars in
    repeated lines; single-line doc → zero fractions."""
    df = spark.createDataFrame(
        [(1, "a b\na b\nc d"), (2, "only one line")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in
           TX.line_repetition_stats(df, "text", "doc_id").collect()}
    assert out[1].n_lines == 3
    assert abs(out[1].dup_line_frac - 1 / 3) < 1e-9
    assert abs(out[1].dup_line_char_frac - 6 / 9) < 1e-9
    assert out[2].n_lines == 1
    assert out[2].dup_line_frac == 0.0
    assert out[2].dup_line_char_frac == 0.0


def test_ngram_repetition_fractions(spark):
    """'x y x y x y': top 2-gram 'x y' covers 3*3 of 11 normalized chars;
    no duplicated 5-gram. 'a a a a a a a a a a' has one duplicated 5-gram
    whose repeat occurrences cover chars [2, 19) after span union."""
    df = spark.createDataFrame(
        [(1, "x y x y x y"), (2, "a a a a a a a a a a")], ["doc_id", "text"]
    )
    top = {r.doc_id: r.top_2gram_char_frac for r in
           TX.top_ngram_char_fraction(df, "text", "doc_id", 2).collect()}
    dup = {r.doc_id: r.dup_5gram_char_frac for r in
           TX.dup_ngram_char_fraction(df, "text", "doc_id", 5).collect()}
    assert abs(top[1] - 9 / 11) < 1e-9
    assert dup[1] == 0.0
    # doc 2: 'a a a a a' at word offsets 0..5; repeats (occ ≥ 2) span
    # [2,11)∪[4,13)∪…∪[10,19) → union [2,19) = 17 of 19 normalized chars —
    # bounded by 1.0 (the old count×len form gave 54/19 ≈ 2.84)
    assert abs(dup[2] - 17 / 19) < 1e-9
    assert all(v <= 1.0 for v in dup.values())


def test_gopher_repetition_filter_verdict(spark):
    """Clean doc keeps; heavy-repeat doc is rejected with audit columns."""
    clean = " ".join(f"w{i}" for i in range(40))
    spam = "\n".join(["buy now best price"] * 10)
    df = spark.createDataFrame([(1, clean), (2, spam)], ["doc_id", "text"])
    out = {r.doc_id: r for r in
           TX.gopher_repetition_filter(df, "text", "doc_id").collect()}
    assert out[1].keep is True
    assert out[2].keep is False
    assert out[2].dup_line_frac > 0.8


def test_c4_quality_filter_rules(spark):
    """Each C4 rule verified on a hand-built doc: terminal punctuation,
    min words per line, javascript lines, doc-level lorem-ipsum/brace."""
    good = "alpha beta gamma.\nshort.\nno terminal punct\nbad javascript line."
    lorem = "one two three.\nfour five six.\nseven eight nine.\nlorem ipsum x."
    brace = "one two three.\nfour five six.\nseven eight {nine}."
    clean = "one two three.\nfour five six!\nseven eight nine?"
    df = spark.createDataFrame(
        [(1, good), (2, lorem), (3, brace), (4, clean)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in TX.c4_quality_filter(df, "text", "doc_id").collect()}
    # doc 1: 'short.' (<3 words), bare line (no punct), javascript → only 1 kept
    assert out[1].n_lines == 4 and out[1].n_lines_kept == 1
    assert out[1].kept_text == "alpha beta gamma."
    assert out[1].keep is False  # < 3 kept lines
    assert out[2].n_lines_kept == 4 and out[2].keep is False  # lorem ipsum
    assert out[3].keep is False  # brace
    assert out[4].keep is True and out[4].kept_text == clean


def test_paragraph_dedup_first_occurrence_wins(spark):
    """Global first occurrence (lowest doc_id, pos) survives; later copies
    drop; within-doc order is preserved; whitespace/case normalize."""
    df = spark.createDataFrame(
        [
            (1, "shared footer\nunique one"),
            (2, "unique two\nSHARED   FOOTER\nunique three"),
            (3, "shared footer\nshared footer"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in D.paragraph_dedup(df, "text", "doc_id").collect()}
    assert out[1].dedup_text == "shared footer\nunique one"
    assert out[2].dedup_text == "unique two\nunique three"
    assert out[2].n_paragraphs == 3 and out[2].n_kept == 2
    assert out[3].dedup_text == "" and out[3].n_kept == 0
    # exact mode keeps the case-variant copy
    exact = {r.doc_id: r for r in
             D.paragraph_dedup(df, "text", "doc_id", normalize=False).collect()}
    assert exact[2].n_kept == 3


def test_paragraph_dedup_blank_paragraphs_exempt(spark):
    """Empty/whitespace-only paragraphs are separators, not dedupable
    content: every blank survives (not just the corpus-globally first), so
    'a\\n\\nb' keeps its paragraph break even when another doc also
    contains a blank line."""
    df = spark.createDataFrame(
        [(1, "alpha\n\nbeta"), (2, "gamma\n \ndelta"), (3, "alpha\n\nomega")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in D.paragraph_dedup(df, "text", "doc_id").collect()}
    assert out[1].dedup_text == "alpha\n\nbeta" and out[1].n_kept == 3
    # doc 2's whitespace-only separator also survives verbatim
    assert out[2].dedup_text == "gamma\n \ndelta" and out[2].n_kept == 3
    # non-blank dedup still applies: doc 3 loses the repeated 'alpha' but
    # keeps its own blank line
    assert out[3].dedup_text == "\nomega" and out[3].n_kept == 2


def test_vocabulary_and_unigram_logprob(spark):
    import math

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "")], "doc_id long, text string"
    )
    vocab = {r.token: r for r in TX.vocabulary(df, "text", "doc_id").collect()}
    assert vocab["a"].cnt == 3 and vocab["a"].doc_freq == 2 and vocab["a"].rank == 1
    assert vocab["b"].cnt == 1 and vocab["b"].doc_freq == 1
    assert TX.vocabulary(df, "text", "doc_id", min_count=2).count() == 1
    # unigram LM: total 5 tokens; P(a)=3/5, P(b)=1/5, P(c)=1/5
    out = {r.doc_id: r for r in
           TX.unigram_logprob_score(df, "text", "doc_id").collect()}
    exp1 = (2 * math.log(3 / 5) + math.log(1 / 5)) / 3
    assert abs(out[1].unigram_logprob - round(exp1, 4)) < 1e-9
    assert out[3].n_tokens == 0 and out[3].unigram_logprob is None


def test_inverted_index_cap_and_df(spark):
    rows = [(i, "common token" + (" rare" if i == 0 else "")) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.token: r for r in
           TX.inverted_index(df, "text", "doc_id", max_postings=5).collect()}
    assert out["common"].doc_freq == 30  # full df even when list capped
    assert out["common"].postings == "0,1,2,3,4"
    assert out["rare"].postings == "0"
    assert TX.inverted_index(df, "text", "doc_id", min_df=2).count() == 2


def test_exact_dedup_keeps_lowest_id_row(spark):
    """exact_dedup keeps the whole lowest-id row of each exact text."""
    df = spark.createDataFrame(
        [(3, "dup", "c"), (1, "dup", "a"), (2, "uniq", "b"), (4, "dup", "d")],
        "doc_id long, text string, extra string",
    )
    got = sorted((r.doc_id, r.text, r.extra) for r in
                 D.exact_dedup(df, "text", "doc_id").collect())
    assert got == [(1, "dup", "a"), (2, "uniq", "b")]


def test_simhash_dedup_greedy_and_closure(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, base + " x"),
         (4, "entirely different words about columnar query execution engines")],
        "doc_id long, text string",
    )
    surv = {r.doc_id for r in
            D.simhash_dedup(df, "text", "doc_id", max_hamming=3).collect()}
    assert 1 in surv and 2 not in surv and 4 in surv
    closure = {r.doc_id for r in
               D.simhash_dedup(df, "text", "doc_id", max_hamming=3,
                               exact_closure=True).collect()}
    assert closure <= surv and 1 in closure and 4 in closure


def test_corpus_curation_pipeline_end_to_end(spark):
    """Column contracts between all 7 stages hold; dirty docs fall out at
    the right stage; output carries (split, chunk_idx) for every survivor."""
    from data_rivers_spark.plans.pipelines import corpus_curation_pipeline

    good = "red blue. green gold. pink gray.\none two. three four. five six.\ncat dog. fox owl. bee ant."
    # same lines, permuted → every paragraph is a global dup of doc 1's →
    # dies at the paragraph-dedup stage (n_kept = 0)
    line_permuted = "\n".join(reversed(good.split("\n")))
    # same WORD stream reflowed across different line breaks → every line
    # key is new (survives paragraph dedup) but shingle jaccard vs doc 1 is
    # 14/16 = 0.875 → dies at the LSH stage
    reflowed = (
        "red blue. green gold.\n"
        "pink gray. one two. three four.\n"
        "five six. cat dog. fox owl.\n"
        "bee ant."  # < 3 words: C4 drops just this line
    )
    lorem = "one two three.\nfour five six.\nseven eight nine.\nlorem ipsum dolor."
    spammy = "\n".join(["buy now best price today."] * 12)
    bench = spark.createDataFrame(
        [(999, "totally unrelated benchmark prompt")], "doc_id long, text string"
    )
    df = spark.createDataFrame(
        [(1, good), (2, line_permuted), (3, lorem), (4, spammy),
         # long enough that no single 2-gram covers >20% of the doc (the
         # Gopher top-2gram rule intentionally rejects very short docs)
         (5, "unique survivor document number one with plenty of words inside.\n"
             "another completely full sentence follows here right now today.\n"
             "third distinct line closes this healthy document gracefully.")],
        "doc_id long, text string",
    ).unionByName(
        spark.createDataFrame([(6, reflowed)], "doc_id long, text string")
    )
    out = corpus_curation_pipeline(
        df, benchmark=bench, dedup_threshold=0.6, pack_budget=8
    ).collect()
    ids = {r.doc_id for r in out}
    assert 1 in ids and 5 in ids
    assert 3 not in ids      # lorem ipsum rejected by C4
    assert 4 not in ids      # repetition rejected by Gopher
    assert 2 not in ids      # all paragraphs were global dups → paragraph stage
    assert 6 not in ids      # reflowed near-dup of doc 1 → LSH stage
    for r in out:
        assert r.split in ("train", "test") and r.chunk_idx >= 0 and r.n_tokens > 0


def test_corpus_curation_pipeline_select_mix_mode(spark):
    """Round-11 tail: select_k + mix_budget switch the pipeline into
    clean → dedup → DSIR-select → UniMax-mix mode; the composed result
    equals the hand-written operator chain on the same cleaned corpus, and
    the mix respects the epoch cap."""
    from data_rivers_spark.operators import importance as IM
    from data_rivers_spark.operators import sampling as SA
    from data_rivers_spark.plans.pipelines import corpus_curation_pipeline

    rows = []
    for i in range(40):
        # 3 healthy '.'-terminated lines of mostly-unique tokens (every
        # 2-gram unique within a doc → Gopher-safe; i-dependent tokens →
        # LSH/paragraph-safe across docs); one family marker word per line
        # gives DSIR a real target signal separating even from odd ids
        fam = ("alpha", "beta", "gamma") if i % 2 == 0 else ("omega", "psi", "chi")
        rows.append((
            i,
            "\n".join(
                f"{w} token{i}x{j} value{i}y{j} item{i}z{j} mark{i}w{j}."
                for j, w in enumerate(fam)
            ),
        ))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    target = lambda d: d.filter(F.col("doc_id") % 2 == 0)  # noqa: E731
    grp = F.pmod(F.col("doc_id"), 3).cast("string")
    out = corpus_curation_pipeline(
        df, dedup_threshold=0.6, dsir_target=target, select_k=12,
        mix_budget=400.0, mix_group=grp, epoch_cap=2.0, dsir_buckets=256,
        seed=5,
    ).collect()
    assert set(out[0].asDict()) == {
        "doc_id", "mix_group", "log_weight", "n_tokens", "epoch"
    }
    ids = {r.doc_id for r in out}
    assert 0 < len(ids) <= 12
    # epoch cap: no doc repeats more than ceil(epoch_cap) times
    from collections import Counter

    copies = Counter(r.doc_id for r in out)
    assert max(copies.values()) <= 2
    # even-id (target-family) docs should dominate the selection
    assert sum(1 for i in ids if i % 2 == 0) > len(ids) / 2
    # parity with the hand-written chain on the same cleaned corpus
    cleaned = corpus_curation_pipeline(
        df, dedup_threshold=0.6, sample_fraction=1.0, test_fraction=0.0,
        pack_budget=10**9, seed=5,
    ).select("doc_id")
    w = IM.dsir_importance_weights(
        df.join(cleaned, "doc_id", "left_semi"), "text", "doc_id",
        target(df.join(cleaned, "doc_id", "left_semi")),
        num_buckets=256, seed=5,
    )
    sel = IM.dsir_resample(w, "doc_id", "log_weight", 12, seed=5)
    assert {r.doc_id for r in sel.collect()} == ids


def test_corpus_curation_pipeline_select_k_rejects_replaced_params(spark):
    # r12 (closing the r11 advice): select_k replaces the sample/split/pack
    # tail — passing non-default values for those alongside it must raise,
    # not silently no-op.
    import pytest

    from data_rivers_spark.plans.pipelines import corpus_curation_pipeline

    df = spark.createDataFrame([(1, "some text.")], "doc_id long, text string")
    with pytest.raises(ValueError, match="sample_fraction, pack_budget"):
        corpus_curation_pipeline(
            df, dsir_target=lambda d: d, select_k=5,
            sample_fraction=0.5, pack_budget=128,
        )


def test_char_shingles_cjk_and_reflow(spark):
    """Char shingles differentiate unspaced (CJK-like) texts that word
    tokenization collapses to single tokens, and are whitespace-reflow
    invariant."""
    cjk_a = "春眠不覚暁処処聞啼鳥"
    cjk_b = "春眠不覚暁夜来風雨声"
    df = spark.createDataFrame(
        [(1, cjk_a), (2, cjk_b), (3, "latin  text\nwith   reflow"),
         (4, "latin text with reflow")],
        "doc_id long, text string",
    )
    # word-level: each CJK doc is ONE token → one whole-text shingle each
    w = D.word_shingle_rows(df, "text", "doc_id", 3)
    assert w.filter(F.col("doc_id").isin(1, 2)).count() == 2
    sets = {r["doc_id"]: set(r["__set"]) for r in
            D.char_shingle_sets(df, "text", "doc_id", n=3).collect()}
    # char-level: overlapping prefix 春眠不覚暁 shares shingles, suffixes differ
    inter = sets[1] & sets[2]
    assert inter and sets[1] != sets[2]
    # sets store xxhash64(shingle) longs; the shared prefix shingle must be
    # present in both under the same hashing
    h = spark.sql("SELECT xxhash64('春眠不') AS h").first().h
    assert h in sets[1] and h in sets[2]
    # reflow invariance: docs 3 and 4 have identical shingle sets
    assert sets[3] == sets[4]


def test_char_mode_lsh_dedup_cjk(spark):
    """Char-mode LSH catches near-dup unspaced (CJK-like) docs that
    word-mode cannot even bucket meaningfully."""
    a = "春眠不覚暁処処聞啼鳥夜来風雨声花落知多少春眠不覚暁処処聞啼鳥"
    near_a = a[2:]  # clipped copy, char-gram J high
    other = "国破山河在城春草木深感時花濺涙恨別鳥驚心烽火連三月家書抵萬金"
    df = spark.createDataFrame(
        [(1, a), (2, near_a), (3, other)], "doc_id long, text string"
    )
    surv = {r.doc_id for r in D.minhash_lsh_dedup(
        df, "text", "doc_id", threshold=0.7, shingle_n=5, shingle_mode="char"
    ).collect()}
    assert surv == {1, 3}


def test_remove_contaminated_spans(spark):
    """Only the contaminated line is removed; the document survives with
    order preserved; an entirely-contaminated doc collapses to ''."""
    bench = spark.createDataFrame(
        [(1, "the exact benchmark question appears right here verbatim")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "clean opening line of text\n"
                "the exact benchmark question appears right here verbatim\n"
                "clean closing line of text"),
            (2, "totally unrelated content here\nnothing shared with eval data"),
            (3, "the exact benchmark question appears right here verbatim"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           TX.remove_contaminated_spans(docs, bench, "text", "doc_id").collect()}
    assert out[1].n_removed == 1 and out[1].clean_text == (
        "clean opening line of text\nclean closing line of text"
    )
    assert out[2].n_removed == 0 and out[2].n_spans == 2
    assert out[3].clean_text == "" and out[3].n_removed == 1


def test_perceptual_hash_and_media_dedup(spark):
    """pHash plumbing invariants that hold under ANY decoder: exact byte
    duplicates collide (hamming 0) and dedup keeps the lowest media_id;
    distinct contents get (deterministically) distinct hashes under
    fake_decode; undecodable rows never pair but are KEPT by dedup."""
    rows = [
        (1, b"imagebytes-aaaa", "image"),
        (2, b"imagebytes-bbbb", "image"),
        (3, b"imagebytes-aaaa", "image"),   # exact duplicate of 1
        (4, None, "image"),                 # decodes (fake) from empty
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary, media_type string")
    ph = {r.media_id: r for r in M.perceptual_hash(df).collect()}
    assert ph[1].phash == ph[3].phash
    assert ph[1].phash != ph[2].phash
    assert all(r.decode_ok for r in ph.values())

    pairs = M.media_near_dup_pairs(df, max_hamming=3).collect()
    assert [(p.id_a, p.id_b, p.hamming) for p in pairs] == [(1, 3, 0)]

    kept = sorted(r.media_id for r in M.media_dedup(df).collect())
    assert kept == [1, 2, 4]

    # a decoder that always fails → nothing pairs, dedup keeps everything
    def boom(content, media_type):
        raise ValueError("no codec")

    assert M.media_near_dup_pairs(df, decoder=boom).collect() == []
    assert sorted(r.media_id for r in M.media_dedup(df, decoder=boom).collect()) == [1, 2, 3, 4]


def test_perceptual_hash_mixed_shape_pixels_quarantine(spark):
    """Per-ROW quarantine survives the batched kernel: a decoder emitting
    2-D pixel grids for some rows and 1-D for others must not fail the
    whole Spark task (the batch concatenate would raise on mixed ranks
    without the ravel), and the 2-D rows must hash identically to their
    raveled 1-D equivalent — pHash is shape-blind by construction (cyclic
    tile over the flat stream)."""
    from data_rivers_spark.operators.multimodal import fake_decode

    def shapes(content, media_type):
        d = fake_decode(content, media_type)
        pix = d["pixels"]
        if content and content.startswith(b"grid"):
            import numpy as np

            n = (len(pix) // 4) * 4
            d = dict(d, pixels=np.asarray(pix[:n]).reshape(4, n // 4))
        elif content and content.startswith(b"boom"):
            raise ValueError("bad row")
        return d

    def flat(content, media_type):
        d = fake_decode(content, media_type)
        pix = d["pixels"]
        if content and content.startswith(b"grid"):
            n = (len(pix) // 4) * 4
            d = dict(d, pixels=list(pix[:n]))
        return d

    rows = [
        (1, b"grid-aaaa-bbbb-cccc", "image"),
        (2, b"plain-bytes", "image"),
        (3, b"boom-bytes", "image"),
    ]
    df = spark.createDataFrame(
        rows, "media_id long, content binary, media_type string"
    ).coalesce(1)  # one task → all three rows share a batch
    got = {r.media_id: r for r in M.perceptual_hash(df, decoder=shapes).collect()}
    assert got[1].decode_ok and got[2].decode_ok
    assert not got[3].decode_ok and got[3].phash is None
    want = {r.media_id: r for r in M.perceptual_hash(df, decoder=flat).collect()}
    assert got[1].phash == want[1].phash
    assert got[2].phash == want[2].phash


def test_lsh_oracle_miss_budget_guard():
    """The q_curation_pipeline oracle carries a loud precondition guard: if
    the summed expected banded-recall miss over above-threshold pairs
    exceeds 1e-3, DuckDB must ERROR with a diagnosis instead of letting the
    hash compare silently flake. Pin (a) the guard mechanism fires/passes at
    the budget boundary and (b) both LSH oracles still ship their guards."""
    import duckdb
    import pytest

    import __spark_entry__ as entry

    con = duckdb.connect()
    guard = (
        "SELECT CASE WHEN COALESCE(SUM(POWER(1 - j * j, 16)), 0) < 0.001 "
        "THEN 1 ELSE error('budget exceeded') END FROM pj WHERE j >= 0.7"
    )
    # a single mid-band pair (the sf0.001 reality): miss ~8e-6, passes
    con.execute("CREATE TABLE pj AS SELECT 0.72 AS j")
    assert con.execute(guard).fetchone()[0] == 1
    # 200 pairs hugging the threshold: sum ~4e-3, must fire
    con.execute("INSERT INTO pj SELECT 0.705 FROM range(200)")
    with pytest.raises(duckdb.Error, match="budget exceeded"):
        con.execute(guard)

    oracles = entry.oracle_sql()
    assert "aggregate LSH miss budget exceeded" in oracles["q_curation_pipeline"]
    # r9: the char oracle's binary any-pair-in-[0.8,0.85) refusal became
    # the same aggregate budget form (sf0.1 has one J~0.80 natural pair
    # that is comfortably inside budget but tripped the binary guard)
    assert "aggregate LSH miss budget exceeded" in oracles["q_char_lsh_dedup"]
    assert "1 - j*j*j*j" in oracles["q_char_lsh_dedup"]


def test_gopher_full_features_match_building_blocks(spark, sf_dir):
    """The one-pass gopher_ngram_features must equal the single-n building
    blocks feature-for-feature, and the full filter's keep verdict must
    apply every published threshold."""
    from data_rivers_spark.session import load_tables

    docs = (
        load_tables(spark, sf_dir, ["documents"])["documents"]
        .select("doc_id", "text")
        .filter((F.trim(F.col("text")) != "") & (F.col("doc_id") < 200))
    )
    full = TX.gopher_ngram_features(docs, "text", "doc_id").collect()
    got = {r.doc_id: r.asDict() for r in full}
    for n in (2, 3, 4):
        want = {
            r.doc_id: r[f"top_{n}gram_char_frac"]
            for r in TX.top_ngram_char_fraction(docs, "text", "doc_id", n).collect()
        }
        for d, v in want.items():
            assert abs(got[d][f"top_{n}gram_char_frac"] - v) < 1e-12, (n, d)
    for n in (5, 7, 10):
        want = {
            r.doc_id: r[f"dup_{n}gram_char_frac"]
            for r in TX.dup_ngram_char_fraction(docs, "text", "doc_id", n).collect()
        }
        for d, v in want.items():
            assert abs(got[d][f"dup_{n}gram_char_frac"] - v) < 1e-12, (n, d)

    filt = TX.gopher_repetition_filter_full(docs, "text", "doc_id")
    cols = set(filt.columns)
    assert {"dup_line_frac", "dup_line_char_frac", "keep"} <= cols
    assert {f"top_{n}gram_char_frac" for n in (2, 3, 4)} <= cols
    assert {f"dup_{n}gram_char_frac" for n in (5, 6, 7, 8, 9, 10)} <= cols
    row = filt.filter(F.col("doc_id") == docs.first().doc_id).first()
    expect = (
        row.dup_line_frac <= 0.30 and row.dup_line_char_frac <= 0.20
        and all(row[f"top_{n}gram_char_frac"] <= t
                for n, t in TX.GOPHER_TOP_NGRAM_THRESHOLDS.items())
        and all(row[f"dup_{n}gram_char_frac"] <= t
                for n, t in TX.GOPHER_DUP_NGRAM_THRESHOLDS.items())
    )
    assert row.keep == expect


def test_embedding_lsh_vectorized_matches_expression(spark, sf_dir):
    """The BLAS bucket builder's verified LSH pair set must equal the exact
    verifier's — the all-pairs cosine join over a constant block column —
    on the planted-twin corpus: every candidate verifies with the exact
    cosine, and the twins' wide sim margin leaves no recall miss."""
    from data_rivers_spark.session import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"].filter(
        F.col("vec_id") < 80
    )
    twins = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x.cast("double") + F.lit(0.05)
        ).alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").unionByName(twins)
    lsh = {(r.id_a, r.id_b, r.sim) for r in S.embedding_near_dup_pairs_lsh(
        corpus, "embedding", "vec_id", 0.75).collect()}
    exact = {(r.id_a, r.id_b, r.sim) for r in S.embedding_near_dup_pairs(
        corpus.withColumn("blk", F.lit(0)), "embedding", "vec_id", 0.75,
        block_col="blk").collect()}
    assert lsh == exact and len(lsh) == 80


def test_kmeans_semantic_dedup_lloyd_iterations(spark, sf_dir):
    from data_rivers_spark.session import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    # iterations tighten clusters but the operator contract holds at any
    # iteration count: survivors form a subset containing one min-id rep
    # per near-dup group, and every input row appears at most once
    for iters in (0, 2):
        out = S.kmeans_semantic_dedup(
            emb, "embedding", "vec_id", 0.3, n_clusters=4, iterations=iters
        )
        rows = out.select("vec_id", "cluster_id").collect()
        ids = [r.vec_id for r in rows]
        assert len(ids) == len(set(ids))
        assert 0 < len(ids) <= emb.count()
        assert set(r.cluster_id for r in rows) <= set(range(4))
    # determinism: same inputs, same survivors (no RNG anywhere)
    a = sorted(r.vec_id for r in S.kmeans_semantic_dedup(
        emb, "embedding", "vec_id", 0.3, 4, 2).select("vec_id").collect())
    b = sorted(r.vec_id for r in S.kmeans_semantic_dedup(
        emb.repartition(5), "embedding", "vec_id", 0.3, 4, 2
    ).select("vec_id").collect())
    assert a == b


def test_duplicate_span_stats_merges_overlaps(spark):
    # doc 1 and 2 share a verbatim 8-token run -> ONE merged span of 8
    # tokens (4 overlapping 5-grams), docs 3/4 are clean
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, f"intro words here {shared} trailing one"),
        (2, f"{shared} completely different ending text now"),
        (3, "no duplication in this document at all kept"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in D.duplicate_span_stats(df, "text", "doc_id", k=5).collect()}
    assert len(out) == 4
    # doc 1: shared run occupies positions 3..10 -> grams at 3,4,5,6
    assert out[1].dup_span_count == 1
    assert out[1].dup_gram_count == 4
    assert out[1].dup_token_count == 8
    assert out[2].dup_span_count == 1
    assert out[2].dup_token_count == 8
    assert out[3].dup_span_count == 0 and out[3].dup_token_count == 0
    assert out[4].n_tokens == 0 and out[4].dup_span_count == 0


def test_duplicate_span_stats_distinct_spans_not_merged(spark):
    # two separate shared runs inside one doc, separated by unique filler
    # wide enough that no bridging 5-gram is duplicated -> two islands
    run1 = "one two three four five"
    run2 = "six seven eight nine ten"
    rows = [
        (1, f"{run1} u1 u2 u3 u4 u5 u6 {run2}"),
        (2, f"{run1} completely other middle words {run2}"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in D.duplicate_span_stats(df, "text", "doc_id", k=5).collect()}
    assert out[1].dup_span_count == 2
    assert out[1].dup_token_count == 10
    assert out[2].dup_span_count == 2


def test_bpe_round_pair_counts_and_merge(spark):
    df = spark.createDataFrame(
        [(1, "low lower lowest"), (2, "low low newer")], ["doc_id", "text"]
    )
    wf = TX.word_frequency_table(df, "text")
    freqs = {r.word: r.freq for r in wf.collect()}
    assert freqs == {"low": 3, "lower": 1, "lowest": 1, "newer": 1}
    pc = {(r.left, r.right): r.pair_count for r in TX.bpe_pair_counts(wf).collect()}
    # 'lo' appears once per 'low'(3) + 'lower' + 'lowest' = 5
    assert pc[("l", "o")] == 5
    assert pc[("o", "w")] == 5
    assert pc[("e", "r")] == 2  # lower, newer
    # top-1 pair is deterministic under the (count desc, l, r) tiebreak
    top = TX.bpe_pair_counts(wf, top_k=1).collect()[0]
    assert top.pair_count == 5 and (top.left, top.right) == ("l", "o")
    # apply the merge: every 'l','o' adjacency fuses into 'lo'
    merged = TX.bpe_apply_merge(wf, "l", "o")
    syms = {r.word: r.symbols for r in merged.collect()}
    assert syms["low"] == ["lo", "w"]
    assert syms["lowest"] == ["lo", "w", "e", "s", "t"]
    # second round consumes the symbols column
    pc2 = {(r.left, r.right): r.pair_count
           for r in TX.bpe_pair_counts(merged, symbols_col="symbols").collect()}
    assert pc2[("lo", "w")] == 5
    assert ("l", "o") not in pc2


def test_bpe_apply_merge_greedy_nonoverlapping(spark):
    wf = spark.createDataFrame([("aaa", 1), ("aaaa", 2)], ["word", "freq"])
    syms = {r.word: r.symbols for r in TX.bpe_apply_merge(wf, "a", "a").collect()}
    assert syms["aaa"] == ["aa", "a"]
    assert syms["aaaa"] == ["aa", "aa"]


def test_train_bpe_composed_rounds(spark):
    # Sennrich et al.'s worked example shape: 'low'-family corpus. Round 1
    # merges the most frequent adjacent pair, round 2 must see round 1's
    # merged symbols (the composition one-round tests can't check).
    df = spark.createDataFrame(
        [(1, "low low low lower lowest"), (2, "newer newer wider")],
        ["doc_id", "text"],
    )
    wf = TX.word_frequency_table(df, "text")
    merges, vocab = TX.train_bpe(wf, 3)
    # round 1: lo/ow tie at 5, (l,o) wins on left asc; round 2: the
    # survivor pair (lo,w) at 5; round 3: (e,r) at 4 (lower + 2x newer +
    # wider) now tops (low,e)=2 and (w,e)=... which fell to 2 with 'low'
    # fully fused.
    assert merges[0] == ("l", "o", 5)
    assert merges[1] == ("lo", "w", 5)
    assert merges[2] == ("e", "r", 4)
    syms = {r.word: r.symbols for r in vocab.collect()}
    assert syms["low"] == ["low"]
    assert syms["lowest"] == ["low", "e", "s", "t"]
    assert syms["newer"] == ["n", "e", "w", "er"]


def test_train_bpe_deterministic_and_exhausts(spark):
    df = spark.createDataFrame([(1, "ab ab ba")], ["doc_id", "text"])
    wf = TX.word_frequency_table(df, "text")
    # deterministic: two independent runs produce identical merge lists
    m1, _ = TX.train_bpe(wf, 2)
    m2, _ = TX.train_bpe(wf, 2)
    assert m1 == m2
    # tie between (a,b) count 2 and (b,a) count 1 -> (a,b) first
    assert m1[0] == ("a", "b", 2)
    # exhaustion: once every word is a single symbol, training stops early
    m3, vocab = TX.train_bpe(wf, 10)
    assert len(m3) == 2
    assert all(len(r.symbols) == 1 for r in vocab.collect())
    # the single-frame verb carries the round index
    mdf = TX.bpe_train_merges(wf, 2).collect()
    assert [(r["round"], r["left"], r["right"]) for r in mdf] == [
        (1, "a", "b"),
        (2, "b", "a"),
    ]


def test_release_local_checkpoint_logs_on_failure(caplog):
    """The best-effort checkpoint release must not fail training when
    Spark's internals change shape — but it must say so: a silent pass
    would re-enable the linear per-round block accumulation invisibly."""
    import logging

    class Boom:
        @property
        def _jdf(self):
            raise RuntimeError("internals moved")

    with caplog.at_level(
        logging.WARNING, logger="data_rivers_spark.operators.textstats"
    ):
        TX._release_local_checkpoint(Boom())  # must not raise
    assert any(
        "local-checkpoint release failed" in r.getMessage()
        for r in caplog.records
    )


def test_bpe_encode_applies_trained_merges(spark):
    # train on the Sennrich-style corpus, then ENCODE it: each document's
    # token stream must be the per-word greedy-fold symbols in word order
    df = spark.createDataFrame(
        [(1, "low low low lower lowest"), (2, "newer newer wider"), (3, "  ")],
        ["doc_id", "text"],
    )
    wf = TX.word_frequency_table(df, "text")
    merges, _ = TX.train_bpe(wf, 3)  # (l,o), (lo,w), (e,r)
    out = {
        r.doc_id: (r.tokens, r.n_tokens)
        for r in TX.bpe_encode(
            df, "text", "doc_id", [(l, r) for l, r, _ in merges]
        ).collect()
    }
    assert out[1] == (
        ["low", "low", "low", "low", "er", "low", "e", "s", "t"], 9,
    )
    assert out[2] == (["n", "e", "w", "er", "n", "e", "w", "er",
                       "w", "i", "d", "er"], 12)
    assert 3 not in out  # whitespace-only doc emits nothing
    # empty merge list degrades to character tokens
    chars = {
        r.doc_id: r.tokens
        for r in TX.bpe_encode(
            spark.createDataFrame([(7, "ab ba")], ["doc_id", "text"]),
            "text", "doc_id", [],
        ).collect()
    }
    assert chars[7] == ["a", "b", "b", "a"]
    # checkpoint_every smaller than the merge count exercises the
    # mid-stream checkpoint/release path with identical results
    again = {
        r.doc_id: r.tokens
        for r in TX.bpe_encode(
            df, "text", "doc_id", [(l, r) for l, r, _ in merges],
            checkpoint_every=1,
        ).collect()
    }
    assert again[1] == out[1][0] and again[2] == out[2][0]


def test_bpe_encode_auto_broadcast_decision(spark):
    """broadcast_vocab=None measures the vocab (one count on the already-
    materialized frame) and supplies the stat the checkpointed scan lacks:
    a vocab under the threshold joins broadcast (no word-keyed corpus
    shuffle); over it — or forced False — the word key shuffles. Values
    are identical either way."""
    df = spark.createDataFrame(
        [(1, "low low lower"), (2, "newer wider")], ["doc_id", "text"]
    )

    def plan(bdf):
        return bdf._jdf.queryExecution().executedPlan().toString()

    auto = TX.bpe_encode(df, "text", "doc_id", [("l", "o")])
    assert "BroadcastHashJoin" in plan(auto)
    tiny = TX.bpe_encode(
        df, "text", "doc_id", [("l", "o")], broadcast_max_vocab=2
    )  # 5 distinct words > 2 → measured NO
    assert "BroadcastHashJoin" not in plan(tiny)
    forced = TX.bpe_encode(
        df, "text", "doc_id", [("l", "o")], broadcast_vocab=False
    )
    assert "BroadcastHashJoin" not in plan(forced)
    rows = lambda d: sorted((r.doc_id, tuple(r.tokens)) for r in d.collect())  # noqa: E731
    assert rows(auto) == rows(tiny) == rows(forced)


def test_domain_mixture_upsample_epochs(spark):
    from data_rivers_spark.operators import sampling as SA

    rows = [(i, "big") for i in range(400)] + [(1000 + i, "small") for i in range(16)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = SA.domain_mixture_upsample(df, "doc_id", "source",
                                     temperature=0.5, budget_frac=1.0, seed=3)
    rows_out = out.collect()
    by = {}
    for r in rows_out:
        by.setdefault(r.source, []).append(r)
    import math
    n = {"big": 400, "small": 16}
    s = sum(math.sqrt(v) for v in n.values())
    rate = {d: 416 * math.sqrt(v) / (s * v) for d, v in n.items()}
    assert rate["small"] > 1 > rate["big"]
    # scarce domain: every row appears floor(rate) or floor(rate)+1 times
    from collections import Counter
    copies = Counter(r.doc_id for r in by["small"])
    assert set(copies.keys()) == {1000 + i for i in range(16)}
    lo, hi = int(rate["small"]), int(rate["small"]) + 1
    assert all(c in (lo, hi) for c in copies.values())
    # expected total ~ rate * n
    assert abs(len(by["small"]) - rate["small"] * 16) <= 16
    # epochs are 0..copies-1 per doc
    eps = sorted(r.epoch for r in by["small"] if r.doc_id == 1000)
    assert eps == list(range(len(eps)))
    # dominant domain downsampled: no duplicates, subset of input
    big_ids = [r.doc_id for r in by["big"]]
    assert len(big_ids) == len(set(big_ids))
    assert all(r.epoch == 0 for r in by["big"])
    # reproducible under repartitioning
    again = sorted((r.doc_id, r.epoch) for r in
                   SA.domain_mixture_upsample(df.repartition(9), "doc_id", "source",
                                              0.5, 1.0, seed=3).collect())
    assert sorted((r.doc_id, r.epoch) for r in rows_out) == again


def test_kmeans_vectorized_kernels_match_expression(spark, sf_dir):
    from data_rivers_spark.session import load_tables
    import numpy as np
    from data_rivers_spark.operators.dedup import dedup_by_components

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    # assignment: BLAS argmin == plan-embedded expression argmin
    cents = S.train_ivf_centroids(emb, "embedding", "vec_id", 8, 0)
    cmat = np.array([c for _, c in cents])
    prep = emb.withColumn(
        "__v", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    ea = {r.vec_id: r.centroid_id for r in
          S._assign_to_centroids(prep, "__v", cmat).select("vec_id", "centroid_id").collect()}
    va = {r.vec_id: r.centroid_id for r in
          S._assign_to_centroids_vectorized(prep, "__v", cmat)
          .select("vec_id", "centroid_id").collect()}
    assert ea == va
    # within-block pairs: gram-matrix kernel == expression join (sim rounded 4)
    assigned = S.assign_kmeans_clusters(emb, "embedding", "vec_id", 8, 0)
    pe = sorted((r.id_a, r.id_b, r.sim) for r in S.embedding_near_dup_pairs(
        assigned, "embedding", "vec_id", 0.3, "cluster_id").collect())
    pv = sorted((r.id_a, r.id_b, r.sim) for r in
                S.embedding_near_dup_pairs_blocked_vectorized(
                    assigned, "embedding", "vec_id", 0.3, "cluster_id").collect())
    assert pe == pv
    # end-to-end: the >64-cluster dispatch (vectorized) keeps the operator
    # contract — unique survivors, deterministic
    out = S.kmeans_semantic_dedup(emb, "embedding", "vec_id", 0.3,
                                  n_clusters=80, iterations=1)
    ids = [r.vec_id for r in out.select("vec_id").collect()]
    assert len(ids) == len(set(ids)) and 0 < len(ids) <= 500
    # assign_vectorized=True (forcing BLAS assignment below the 64-centroid
    # size dispatch — the scaling harness's throughput path) produces the
    # same survivors as the default expression assignment at iterations=0,
    # where the kernel parity above makes the assignments identical
    forced = S.kmeans_semantic_dedup(emb, "embedding", "vec_id", 0.3,
                                     n_clusters=8, iterations=0,
                                     assign_vectorized=True)
    default = S.kmeans_semantic_dedup(emb, "embedding", "vec_id", 0.3,
                                      n_clusters=8, iterations=0)
    assert sorted(r.vec_id for r in forced.select("vec_id").collect()) == sorted(
        r.vec_id for r in default.select("vec_id").collect()
    )


def test_kmeans_semantic_dedup_pair_stage_is_gram_kernel(spark, sf_dir, monkeypatch):
    """At 8 clusters the default pair stage is the Arrow gram kernel (one
    FlatMapGroupsInPandas per cluster, no per-pair cosine join), and the
    survivors equal the exact within-cluster cosine join followed by the
    same component collapse."""
    from data_rivers_spark.session import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    seen = []
    real = D.dedup_by_components
    monkeypatch.setattr(
        D, "dedup_by_components",
        lambda df, pairs, id_col: seen.append(pairs) or real(df, pairs, id_col),
    )
    out = S.kmeans_semantic_dedup(
        emb, "embedding", "vec_id", 0.3, n_clusters=8, iterations=0
    )
    got = sorted((r.vec_id, r.cluster_id) for r in out.collect())
    plan = seen[0]._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan and "Join" not in plan, plan[:2000]
    assigned = S.assign_kmeans_clusters(emb, "embedding", "vec_id", 8, 0)
    pairs = S.embedding_near_dup_pairs(
        assigned, "embedding", "vec_id", 0.3, block_col="cluster_id"
    )
    ref = real(assigned, pairs.select("id_a", "id_b"), "vec_id")
    assert got == sorted((r.vec_id, r.cluster_id) for r in ref.collect())
    assert 0 < len(got) < emb.count()


def test_hierarchical_assignment_routes_exact_points_home(spark, monkeypatch):
    """The IVF-style two-level router (_assign_to_centroids_hierarchical):
    a point sitting EXACTLY on fine centroid i must come back with
    centroid_id == i — guaranteed deterministic, because the coarse cell
    that owns i is by definition the argmin coarse center for cmat[i], so
    it is the point's #1 probe and distance 0 wins the within-cell argmin.
    Slightly perturbed points must agree with the flat BLAS kernel, and
    the operator must reach the router through its size dispatch."""
    import numpy as np

    # 300 well-separated deterministic centroids in 8-dim (engages the
    # >256 hierarchical dispatch)
    k, dim = 300, 8
    cmat = np.zeros((k, dim))
    for i in range(k):
        cmat[i, i % dim] = 1.0 + i  # distinct magnitudes, axis-spread
    rows = [(int(i), [float(x) for x in cmat[i]]) for i in range(k)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    got = {
        r.vec_id: r.centroid_id
        for r in S._assign_to_centroids_hierarchical(df, "v", cmat).collect()
    }
    assert got == {i: i for i in range(k)}
    # perturbed points: agree with the flat vectorized kernel
    pert = [
        (int(i), [float(x) for x in cmat[i] + 1e-6]) for i in range(0, k, 7)
    ]
    pdf = spark.createDataFrame(pert, "vec_id long, v array<double>")
    hier = {
        r.vec_id: r.centroid_id
        for r in S._assign_to_centroids_hierarchical(pdf, "v", cmat).collect()
    }
    flat = {
        r.vec_id: r.centroid_id
        for r in S._assign_to_centroids_vectorized(pdf, "v", cmat).collect()
    }
    assert hier == flat
    # end-to-end: with the crossover moved below k=8 the operator's size
    # dispatch routes through the two-level router and keeps its contract
    # (unique survivors); at k=8 n_coarse=3 means every coarse cell is
    # probed, so the routing is exhaustive and the result exact
    calls = []
    real = S._assign_to_centroids_hierarchical
    monkeypatch.setattr(S, "_HIER_CROSSOVER", 4)
    monkeypatch.setattr(
        S, "_assign_to_centroids_hierarchical",
        lambda df, vc, c, **kw: calls.append(len(c)) or real(df, vc, c, **kw),
    )
    out = S.kmeans_semantic_dedup(
        df.withColumnRenamed("v", "embedding"), "embedding", "vec_id", 0.99,
        n_clusters=8, iterations=0,
    )
    ids = [r.vec_id for r in out.select("vec_id").collect()]
    assert calls == [8]
    # same-axis vectors are cosine-1.0 near-dups, so SOME collapse; the
    # contract is unique survivors and a non-empty result
    assert len(ids) == len(set(ids)) and 0 < len(ids) <= k


def test_hierarchical_dispatch_boundary(spark, monkeypatch):
    """_assign_to_centroids size dispatch: the two-level router takes
    over strictly past _HIER_CROSSOVER = 256 centroids (the measured
    crossover, SCALING.md flat ratio 5.9 vs 3.36) and the assignment stays
    flat at exactly 256."""
    import numpy as np

    calls = []
    real = S._assign_to_centroids_hierarchical
    monkeypatch.setattr(
        S, "_assign_to_centroids_hierarchical",
        lambda df, vc, c, **kw: calls.append(len(c)) or real(df, vc, c, **kw),
    )
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [9.0, 9.0])], "vec_id long, v array<double>"
    )
    c256 = np.arange(512, dtype=np.float64).reshape(256, 2)
    c257 = np.arange(514, dtype=np.float64).reshape(257, 2)
    S._assign_to_centroids(df, "v", c256).collect()
    assert calls == []  # at the boundary: flat
    S._assign_to_centroids(df, "v", c257).collect()
    assert calls == [257]  # past it: hierarchical


def test_deep_dispatch_requires_coupling(spark, monkeypatch):
    """r12 (closing the r11 advice): the dispatch takes the three-level
    tree only when BOTH k >= _DEEP_CROSSOVER and the coupled regime
    n >= _DEEP_COUPLING·k hold — the tree's driver-side Lloyd build is
    ~k^(5/3) and n-independent, so a huge codebook over a small corpus
    inverts the win (measured 46.05 vs 19.96 s at k=65536/n=2.05M,
    bench_out/assign_only_scan_r11.txt). Decoupled calls fall back to the
    two-level router."""
    import numpy as np

    routed = []
    monkeypatch.setattr(
        S, "_assign_to_centroids_tree",
        lambda df, vc, c: routed.append("tree")
        or df.withColumn("centroid_id", F.lit(0)),
    )
    monkeypatch.setattr(
        S, "_assign_to_centroids_hierarchical",
        lambda df, vc, c, **kw: routed.append("two")
        or df.withColumn("centroid_id", F.lit(0)),
    )
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [9.0, 9.0])], "vec_id long, v array<double>"
    )
    big = np.zeros((S._DEEP_CROSSOVER, 2))
    # no hint: the df.count() fallback sees n=2 — decoupled, two-level
    S._assign_to_centroids(df, "v", big)
    # coupled via explicit hint: tree
    S._assign_to_centroids(
        df, "v", big, n_hint=S._DEEP_COUPLING * S._DEEP_CROSSOVER
    )
    # hint one below the coupling bound: two-level again
    S._assign_to_centroids(
        df, "v", big, n_hint=S._DEEP_COUPLING * S._DEEP_CROSSOVER - 1
    )
    assert routed == ["two", "tree", "two"]


def test_hierarchical_orphan_fallback_never_emits_sentinel(spark, monkeypatch):
    """Degenerate codebook: if every coarse cell a point probes is EMPTY
    (duplicate centroids can stack >= nprobe childless cells nearest it),
    the point must fall back to the flat argmin over the full codebook,
    never the int32-max sentinel. The pathological partition is injected
    directly — constructing it through the driver-side Lloyd would hinge
    on argsort tie order."""
    import numpy as np

    k = 25  # ceil(sqrt(25)) = 5 coarse cells, nprobe stays 4
    cmat = np.array(
        [[100.0 + i, 0.0] for i in range(k)], dtype=np.float64
    )
    # 5 coarse cells: cells 0-3 sit ON the query region but own NOTHING;
    # cell 4 is far away and owns every fine centroid → a query at the
    # origin probes (nprobe=4) exactly the four empty cells
    coarse = np.array(
        [[0.0, 0.0], [0.1, 0.0], [0.0, 0.1], [0.1, 0.1], [500.0, 0.0]]
    )
    children = [np.array([], dtype=np.int64)] * 4 + [np.arange(k)]
    monkeypatch.setattr(
        S, "_coarse_partition_centroids", lambda cm, nc, iterations=3: (coarse, children)
    )
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [490.0, 0.0])], "vec_id long, v array<double>"
    )
    got = {
        r.vec_id: r.centroid_id
        for r in S._assign_to_centroids_hierarchical(df, "v", cmat).collect()
    }
    # point 0 probed only empty cells → flat fallback → centroid 0 (nearest)
    assert got[0] == 0
    # point 1 probed cell 4 → normal path → centroid 24 (nearest to 490)
    assert got[1] == k - 1
    assert all(0 <= cid < k for cid in got.values()), got


def test_kmeans_semantic_dedup_cluster_size_guard(spark, sf_dir):
    from data_rivers_spark.session import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    # one cluster (k=... well, n_clusters=8 but max_cluster_size=50 forces
    # sub-splits on every cluster of ~60) — survivors stay unique and the
    # guard only ever MISSES pairs (never invents them), so survivor count
    # with the guard >= survivor count without it
    full = S.kmeans_semantic_dedup(emb, "embedding", "vec_id", 0.3, 8, 0)
    capped = S.kmeans_semantic_dedup(emb, "embedding", "vec_id", 0.3, 8, 0,
                                     max_cluster_size=50)
    nf = full.count()
    ids = [r.vec_id for r in capped.select("vec_id").collect()]
    assert len(ids) == len(set(ids))
    assert len(ids) >= nf
    # with a cap far above every cluster size the result is unchanged
    loose = S.kmeans_semantic_dedup(emb, "embedding", "vec_id", 0.3, 8, 0,
                                    max_cluster_size=100000)
    assert sorted(r.vec_id for r in loose.select("vec_id").collect()) == sorted(
        r.vec_id for r in full.select("vec_id").collect()
    )


def test_signlsh_auto_depth_dispatch(spark):
    """num_planes=None scales plane count with log2(corpus/target): constant
    expected bucket occupancy, the fix for the fixed-depth bucket flooding
    the 1024x scaling octave measured (similarity.signlsh_topk docstring)."""
    import math as _m

    from data_rivers_spark.operators import similarity as S

    # the resolution rule itself (pure arithmetic, mirrors the operator)
    def resolve(n, target=1024):
        return max(4, min(24, _m.ceil(_m.log2(max(n, 2) / target))))

    assert resolve(1_000) == 4          # small corpora floor at 4
    assert resolve(1_600_000) == 11     # 256x-fixture scale
    assert resolve(6_500_000) == 13     # 1024x-fixture scale
    assert resolve(2**40) == 24         # ceiling guards the probe fan-out

    # end-to-end: auto-depth must stay exact on planted twins in a small
    # corpus (resolves to the 4-plane floor -> same regime the pinned
    # oracle query certifies)
    rows = [(i, [float((i * 13 + j * 7) % 17) / 17.0 for j in range(8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = S.signlsh_topk(
        emb, emb.filter(F.col("vec_id") < 3), "embedding", "vec_id", 3, dim=8
    )
    got = out.groupBy("query_id").count().collect()
    assert len(got) == 3 and all(r["count"] <= 3 for r in got)


def test_signlsh_corpus_count_skips_count_action(spark):
    """corpus_count lets loop callers skip auto-depth's extra corpus.count()
    pass: passing the true size must reproduce the auto-counted result
    exactly (same resolved plane count -> same buckets -> same top-k)."""
    from data_rivers_spark.operators import similarity as S

    rows = [(i, [float((i * 13 + j * 7) % 17) / 17.0 for j in range(8)])
            for i in range(60)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") < 3)
    auto = S.signlsh_topk(emb, q, "embedding", "vec_id", 3, dim=8)
    hinted = S.signlsh_topk(
        emb, q, "embedding", "vec_id", 3, dim=8, corpus_count=60
    )
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    assert sorted(map(key, auto.collect())) == sorted(map(key, hinted.collect()))


def test_train_ivf_centroids_leaves_no_corpus_cache(spark):
    """A single Lloyd pass must not materialize corpus-sized frames: the
    per-iteration assigned frame has exactly one consumer (the means agg)
    and lineage depends only on driver-side centroid literals, so nothing
    here should checkpoint (the r9 1024x octave caught the old posture
    OOMing on two ~26 GB caches at 5.12M x 64-dim)."""
    from data_rivers_spark.operators import similarity as S

    rows = [(i, [float((i * 7 + j) % 13) for j in range(8)]) for i in range(500)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    before = dict(spark.sparkContext._jsc.getPersistentRDDs())
    cents = S.train_ivf_centroids(emb, "embedding", "vec_id", 8, iterations=1)
    after = dict(spark.sparkContext._jsc.getPersistentRDDs())
    assert len(cents) == 8
    assert set(after) == set(before), "iterations=1 must not persist any RDD"
    # multi-pass DOES checkpoint the (id, vec) frame once — and only it
    S.train_ivf_centroids(emb, "embedding", "vec_id", 8, iterations=2)
    after2 = dict(spark.sparkContext._jsc.getPersistentRDDs())
    assert len(after2) - len(before) <= 1


def test_signlsh_auto_depth_keeps_planted_twin_recall(spark):
    """Deeper auto-depth buckets must still find EXACT-direction twins: a
    vector and its copy agree with every hyperplane (p = 1), so they share
    a bucket at ANY depth — recall on exact/near-exact dups is depth-proof,
    which is what the planted-copy oracle construction relies on."""
    from data_rivers_spark.operators import similarity as S

    rows = []
    for i in range(400):
        # injective construction: the i/1e5 term makes every corpus vector
        # distinct (a periodic modular pattern alone repeats every 23 ids,
        # planting accidental exact twins)
        v = [
            float((i * 31 + j * 17) % 23) / 23.0 + 0.01 + (i + 1) / 1e5 * (j + 1)
            for j in range(8)
        ]
        rows.append((i, v))
        if i < 5:  # plant an exact twin for the first five queries
            rows.append((i + 10000, list(v)))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = S.signlsh_topk(
        emb, emb.filter(F.col("vec_id") < 5), "embedding", "vec_id", 1,
        dim=8, target_bucket_rows=32,  # 405 rows / 32 -> 4 planes by the rule
    ).collect()
    best = {r.query_id: (r.neighbor_id, r.sim) for r in out}
    for q in range(5):
        nid, sim = best[q]
        assert nid == q + 10000 and abs(sim - 1.0) < 1e-9, (q, nid, sim)


def test_tree_assignment_routes_exact_points_home(spark, monkeypatch):
    """The three-level IVF-in-IVF router (_assign_to_centroids_tree): a
    point sitting EXACTLY on fine centroid i must come back with
    centroid_id == i — the mid cell owning i is its argmin mid center, the
    top cell owning that mid is its argmin top center, so the point's #1
    probe path leads straight home and distance 0 wins the fine argmin.
    Perturbed points must agree with the flat BLAS kernel, and the
    operator's size dispatch must reach the tree through
    kmeans_semantic_dedup."""
    import numpy as np

    k, dim = 300, 8
    cmat = np.zeros((k, dim))
    for i in range(k):
        cmat[i, i % dim] = 1.0 + i
    rows = [(int(i), [float(x) for x in cmat[i]]) for i in range(k)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    got = {
        r.vec_id: r.centroid_id
        for r in S._assign_to_centroids_tree(df, "v", cmat).collect()
    }
    assert got == {i: i for i in range(k)}
    pert = [(int(i), [float(x) for x in cmat[i] + 1e-6]) for i in range(0, k, 7)]
    pdf = spark.createDataFrame(pert, "vec_id long, v array<double>")
    tree = {
        r.vec_id: r.centroid_id
        for r in S._assign_to_centroids_tree(pdf, "v", cmat).collect()
    }
    flat = {
        r.vec_id: r.centroid_id
        for r in S._assign_to_centroids_vectorized(pdf, "v", cmat).collect()
    }
    assert tree == flat
    # sub-chunking must not change results (chunk boundary ≠ answer boundary)
    small_chunks = {
        r.vec_id: r.centroid_id
        for r in S._assign_to_centroids_tree(
            df, "v", cmat, chunk_rows=7
        ).collect()
    }
    assert small_chunks == got
    # end-to-end: with the tree's crossover moved to k=8 and the
    # coupling bound met (n=300 >= 1·8), the operator's size dispatch
    # routes through the tree and keeps the unique-survivor contract
    calls = []
    real = S._assign_to_centroids_tree
    monkeypatch.setattr(S, "_DEEP_CROSSOVER", 8)
    monkeypatch.setattr(S, "_DEEP_COUPLING", 1)
    monkeypatch.setattr(
        S, "_assign_to_centroids_tree",
        lambda df, vc, c, **kw: calls.append(len(c)) or real(df, vc, c, **kw),
    )
    out = S.kmeans_semantic_dedup(
        df.withColumnRenamed("v", "embedding"), "embedding", "vec_id", 0.99,
        n_clusters=8, iterations=0,
    )
    ids = [r.vec_id for r in out.select("vec_id").collect()]
    assert calls == [8]
    assert len(ids) == len(set(ids)) and 0 < len(ids) <= k


def test_connected_components_long_chain_converges_in_default_cap(spark):
    """The pointer-jumping shortcut makes convergence log-diameter: a
    120-link path graph (which pure min-label propagation would need 120
    rounds for — the failure the sf0.1 embedding graph hit at >20) must
    converge to ONE component within the default 20-round cap."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 121)], "id_a long, id_b long"
    )
    comps = {r.id: r.component
             for r in D.connected_components(pairs, driver_max_edges=0).collect()}
    assert comps == {i: 1 for i in range(1, 122)}


def test_connected_components_driver_gate_matches_distributed(spark):
    """r13 size-gated dispatch: below driver_max_edges an in-core
    union-find replaces the pointer-jumping loop. Both paths must return
    the identical min-reachable-id labels — chain, star, duplicate-edge,
    and singleton-pair shapes, including a >2-round-diameter chain."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),      # 6-chain
         (10, 11), (11, 10), (10, 12),                # star + dup edge
         (20, 21)],                                   # singleton pair
        "id_a long, id_b long",
    )
    via_driver = {r.id: r.component
                  for r in D.connected_components(pairs).collect()}
    via_loop = {r.id: r.component
                for r in D.connected_components(
                    pairs, driver_max_edges=0
                ).collect()}
    assert via_driver == via_loop
    assert via_driver == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1,
        10: 10, 11: 10, 12: 10, 20: 20, 21: 20,
    }


def test_lsh_plan_codifies_standing_banding():
    # r11: the MMDS S-curve planner. The curation pipelines' 16x2 at t=0.7
    # must be exactly what the planner picks; shallow-curve configs raise.
    import pytest

    p = D.lsh_plan(0.7, 32, miss_budget=1e-4)
    assert (p["bands"], p["rows"]) == (16, 2)
    assert p["miss_at_threshold"] < 2.2e-5
    with pytest.raises(ValueError, match="raise num_hashes"):
        D.lsh_plan(0.5, 32, miss_budget=1e-4, fp_budget=0.5)
    # the docstring's honesty-note example: t=0.5 with a 0.3 margin is
    # reachable at 222 hashes (74 bands x 3 rows)
    p222 = D.lsh_plan(0.5, 222, miss_budget=1e-4, margin=0.3, fp_budget=0.5)
    assert (p222["bands"], p222["rows"]) == (74, 3)
    assert p222["fp_at_margin"] <= 0.5
    with pytest.raises(ValueError):
        D.lsh_plan(0.05, 32)  # recall itself unreachable at 32 hashes
    with pytest.raises(ValueError):
        D.lsh_plan(1.5, 32)
    # r12: the planner is wired into the entry points — bands=None resolves
    # through lsh_plan (planner output == the standing 16x2 config), an
    # explicit int passes through untouched
    assert D._resolve_bands(0.7, 32, None) == 16
    assert D._resolve_bands(0.7, 32, 8) == 8
    # r13: the composites now pass bands=None everywhere the standing
    # literal WAS the planner's default-budget answer; the one deliberate
    # divergence (q_char_lsh_dedup's 16x4 at t=0.8/64 hashes) is itself
    # the planner's answer at the measured-safe 3e-4 budget — while the
    # default budget would pick the candidate-explosion 32x2 the query's
    # docstring measured at 1.36M candidates.
    p_char = D.lsh_plan(0.8, 64, miss_budget=3e-4)
    assert (p_char["bands"], p_char["rows"]) == (16, 4)
    assert D._resolve_bands(0.8, 64, None) == 32


def test_minhash_lsh_dedup_planner_banding_matches_explicit(spark):
    # r12: bands=None through the full dedup entry point must behave as the
    # planner-derived split — identical survivors to the explicit 16x2 call.
    rows = [(i, f"alpha bravo charlie delta echo foxtrot doc{i} x{i} y{i} z{i}")
            for i in range(12)]
    rows += [(100 + i, f"alpha bravo charlie delta echo foxtrot doc{i} x{i} y{i}")
             for i in range(0, 12, 3)]  # near-dup copies (one word dropped)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    auto = {r.doc_id for r in D.minhash_lsh_dedup(
        df, "text", "doc_id", threshold=0.7, num_hashes=32, bands=None
    ).collect()}
    explicit = {r.doc_id for r in D.minhash_lsh_dedup(
        df, "text", "doc_id", threshold=0.7, num_hashes=32, bands=16
    ).collect()}
    assert auto == explicit and len(auto) < len(rows)
