"""DSIR importance sampling (operators/importance.py): hashed n-gram
features, smoothed log-ratio models, Gumbel-top-k resampling."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_rivers_spark.operators import importance as IMP


def test_hashed_ngram_features_counts_unigrams_and_bigrams(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "x x"), (3, "   "), (4, "solo")],
        ["doc_id", "text"],
    )
    feats = IMP.hashed_ngram_features(df, "text", "doc_id", num_buckets=1 << 20)
    per_doc = {
        r.doc_id: r.total
        for r in feats.groupBy("doc_id").agg(F.sum("cnt").alias("total")).collect()
    }
    # doc 1: 3 unigrams + 2 bigrams; doc 2: 2 unigrams + 1 bigram;
    # doc 3: whitespace-only -> no rows; doc 4: 1 unigram, no bigram
    assert per_doc == {1: 5, 2: 3, 4: 1}
    # doc 2's repeated unigram is a multiset count on one bucket
    d2 = feats.filter(F.col("doc_id") == 2).collect()
    assert sorted(r.cnt for r in d2) == [1, 2]


def test_dsir_weights_prefer_target_like_docs(spark):
    # two vocabularies; target sample drawn from the "good" one — good-pool
    # docs must out-weigh bad-pool docs, empty docs weight exactly 0
    good = [(i, "alpha beta gamma delta " * 3, "g") for i in range(20)]
    bad = [(100 + i, "zeta eta theta iota " * 3, "b") for i in range(20)]
    pool = spark.createDataFrame(
        good + bad + [(999, "", "g")], ["doc_id", "text", "dom"]
    )
    target = pool.filter((F.col("dom") == "g") & (F.col("doc_id") < 5))
    out = IMP.dsir_importance_weights(
        pool, "text", "doc_id", target, num_buckets=512
    )
    w = {r.doc_id: r.log_weight for r in out.collect()}
    assert w[999] == 0.0
    assert min(w[i] for i in range(20)) > max(w[100 + i] for i in range(20))


def test_dsir_resample_is_deterministic_topk(spark):
    df = spark.createDataFrame(
        [(i, float(i % 7) - 3.0) for i in range(100)], ["doc_id", "log_weight"]
    )
    a = sorted(r.doc_id for r in IMP.dsir_resample(df, "doc_id", "log_weight", 25, seed=3).collect())
    b = sorted(
        r.doc_id
        for r in IMP.dsir_resample(
            df.repartition(7), "doc_id", "log_weight", 25, seed=3
        ).collect()
    )
    assert len(a) == 25 and a == b  # stable under repartitioning
    # heavier weights win more often: mean weight of selected > pool mean
    sel = IMP.dsir_resample(df, "doc_id", "log_weight", 25, seed=3)
    assert sel.agg(F.avg("log_weight")).first()[0] > df.agg(F.avg("log_weight")).first()[0]


def test_dsir_log_ratios_dense_and_rounded(spark):
    t = spark.createDataFrame([(1, 0, 10), (1, 1, 5)], ["id", "bucket", "cnt"]).select(
        "bucket", "cnt"
    )
    s = spark.createDataFrame([(1, 0, 10), (1, 2, 30)], ["id", "bucket", "cnt"]).select(
        "bucket", "cnt"
    )
    r = IMP.dsir_log_ratios(t, s, num_buckets=4)
    rows = {x.bucket: x.log_ratio for x in r.collect()}
    assert set(rows) == {0, 1, 2, 3}  # dense: every bucket present
    import math

    # totals: Tt=15, Ts=40, alpha*B=4
    # bucket 3 unseen in both -> the smoothing-only constant log(44/19), not 0
    assert rows[3] == round(math.log(44.0 / 19.0), 6)
    # bucket 0 seen in both: log((10+1)/19) - log((10+1)/44)
    assert rows[0] == round(math.log(11.0 / 19.0) - math.log(11.0 / 44.0), 6)
    assert all(x == round(x, 6) for x in rows.values())


def test_dsir_target_flag_matches_target_frame(spark):
    # r14: the predicate-subset target path (target_flag — one featurize
    # pass, joint count aggregate) must produce bit-identical weights to
    # passing the filtered target frame (two featurize passes). Includes a
    # NULL-flag doc (NULL group membership counts as non-target on both
    # paths) and an empty doc (weight 0 on both).
    from pyspark.sql import functions as F

    rows = [
        (1, "the quick brown fox jumps", "en"),
        (2, "le renard brun rapide saute", "fr"),
        (3, "the lazy dog sleeps all day", "en"),
        (4, "der schnelle braune fuchs", "de"),
        (5, "   ", "en"),
        (6, "mixed the le der words here", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    ref = IMP.dsir_importance_weights(
        df, "text", "doc_id", df.filter(F.col("lang") == "en"),
        num_buckets=64, n_max=2, alpha=1.0, seed=0,
    )
    flagged = IMP.dsir_importance_weights(
        df, "text", "doc_id", None, target_flag=F.col("lang") == "en",
        num_buckets=64, n_max=2, alpha=1.0, seed=0,
    )
    r = {x.doc_id: x.log_weight for x in ref.collect()}
    g = {x.doc_id: x.log_weight for x in flagged.collect()}
    assert g == r
    assert r[5] == 0.0
    import pytest

    with pytest.raises(ValueError, match="exactly one"):
        IMP.dsir_importance_weights(
            df, "text", "doc_id", df, target_flag=F.col("lang") == "en"
        )
    with pytest.raises(ValueError, match="exactly one"):
        IMP.dsir_importance_weights(df, "text", "doc_id", None)
