"""Skew-safe per-key top-k: exact equality with the naive window plan."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from snowy_json_spark.operators.topk import domain_cap, top_k_per_key


def _skewed(spark, n=2000, n_keys=7):
    # key 'k0' owns half the rows; scores collide heavily so the
    # tiebreaker path is exercised
    return spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit("k0"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % n_keys).cast("string")))
        .alias("key"),
        F.col("id").alias("doc_id"),
        (F.col("id") % 13).cast("double").alias("score"),
    )


def _naive(df, key, order, k):
    w = Window.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .drop("_r")
    )


def rows(df):
    return sorted(tuple(r) for r in df.collect())


THRESHOLD = "spark.sql.optimizer.windowGroupLimitThreshold"


@pytest.fixture(params=["window", "two_stage"])
def path(request, spark):
    """Each path of top_k_per_key, reached through the session's
    group-limit threshold: -1 makes every k exceed it (two-stage)."""
    if request.param == "two_stage":
        spark.conf.set(THRESHOLD, "-1")
    yield request.param
    spark.conf.unset(THRESHOLD)


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_matches_naive_window_exactly(spark, path):
    df = _skewed(spark)
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    for k in (1, 5, 40):
        got = top_k_per_key(df, "key", order, k, n_buckets=8)
        assert rows(got) == rows(_naive(df, "key", order, k)), (k, path)


def test_k_larger_than_group_keeps_all(spark, path):
    df = _skewed(spark, n=60)
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    got = top_k_per_key(df, "key", order, 10_000)
    assert got.count() == 60


def test_single_bucket_degenerates_to_naive(spark):
    df = _skewed(spark, n=200)
    order = [F.col("score").asc(), F.col("doc_id").desc()]
    spark.conf.set(THRESHOLD, "2")
    try:
        got = top_k_per_key(df, "key", order, 3, n_buckets=1)
        assert "WindowGroupLimit" not in _plan(got)
        assert rows(got) == rows(_naive(df, "key", order, 3))
    finally:
        spark.conf.unset(THRESHOLD)


def test_window_impl_plans_partial_group_limit(spark):
    """At or under the threshold the skew safety IS the
    InferWindowGroupLimit rewrite: pin `WindowGroupLimit ... Partial`
    (map-side top-k before the shuffle) into the physical plan so a
    Spark upgrade or conf change that drops it fails here, not on the
    cluster.  k = 1000 is the default threshold itself."""
    df = _skewed(spark)
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    for k in (5, 1000):
        plan = _plan(top_k_per_key(df, "key", order, k))
        assert "WindowGroupLimit" in plan and "Partial" in plan, (k, plan)
    # the two-stage path must NOT rely on the rule: it bounds sorts
    # structurally even when the rewrite is unavailable
    spark.conf.set(THRESHOLD, "-1")
    try:
        q2 = top_k_per_key(df, "key", order, 5, n_buckets=4)
        assert "_tkb" in _plan(q2)
        assert rows(q2) == rows(_naive(df, "key", order, 5))
    finally:
        spark.conf.unset(THRESHOLD)


def test_k_over_default_threshold_plans_two_stage(spark):
    """k = 1001 is past Spark's default threshold (1000): the rule does
    not fire, so a plain window here is the unmitigated plan.  The
    operator must plan the bucketed two-stage form instead, with the
    naive window's rows."""
    assert int(spark.conf.get(THRESHOLD)) == 1000
    df = _skewed(spark, n=6000, n_keys=3)
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    naive_plan = _plan(_naive(df, "key", order, 1001))
    assert "WindowGroupLimit" not in naive_plan, naive_plan
    got = top_k_per_key(df, "key", order, 1001, n_buckets=4)
    plan = _plan(got)
    assert "_tkb" in plan and plan.count("Window [") == 2, plan
    assert rows(got) == rows(_naive(df, "key", order, 1001))


def test_two_stage_hashes_around_map_columns(spark):
    """The bucket salt hashes row content; Spark refuses to hash map
    columns, so they are left out of the hash and still pass through."""
    df = _skewed(spark, n=300).withColumn(
        "m", F.create_map(F.lit("doc"), F.col("doc_id"))
    )
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    spark.conf.set(THRESHOLD, "-1")
    try:
        got = top_k_per_key(df, "key", order, 4, n_buckets=4)
        assert "_tkb" in _plan(got)
        assert {(r["doc_id"], r["m"]["doc"]) for r in got.collect()} == {
            (r["doc_id"], r["doc_id"]) for r in _naive(df, "key", order, 4).collect()
        }
    finally:
        spark.conf.unset(THRESHOLD)


def test_rank_col_is_global_rank(spark, path):
    df = _skewed(spark, n=400)
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    got = top_k_per_key(df, "key", order, 5, n_buckets=4, rank_col="rank").collect()
    naive = {
        (r["key"], r["doc_id"]): r["_r"]
        for r in _naive(df, "key", order, 5)
        .withColumn("_r", F.row_number().over(Window.partitionBy("key").orderBy(*order)))
        .collect()
    }
    assert len(got) == len(naive)
    for r in got:
        assert 1 <= r["rank"] <= 5
        assert naive[(r["key"], r["doc_id"])] == r["rank"]


def test_k_must_be_positive(spark):
    df = _skewed(spark, n=10)
    try:
        top_k_per_key(df, "key", [F.col("score")], 0)
    except ValueError:
        pass
    else:
        raise AssertionError("k=0 should raise")


def test_domain_cap_caps_per_host(spark, path):
    df = spark.range(300).select(
        F.concat(
            F.lit("https://h"),
            (F.col("id") % 3).cast("string"),
            F.lit(".example.com/p/"),
            F.col("id").cast("string"),
        ).alias("url"),
        F.col("id").alias("doc_id"),
        (F.col("id") % 11).cast("double").alias("score"),
    )
    out = domain_cap(df, "url", "score", 7, id_col="doc_id", n_buckets=4)
    counts = out.groupBy(
        F.regexp_extract("url", r"https://([^/]+)/", 1).alias("host")
    ).count().collect()
    assert len(counts) == 3
    assert all(r["count"] == 7 for r in counts)
    # schema passes through unchanged (no helper columns leak)
    assert out.columns == df.columns
    # deterministic: best scores kept, ties broken by doc_id
    kept = {r["doc_id"] for r in out.collect()}
    w = Window.partitionBy(
        F.regexp_extract("url", r"https://([^/]+)/", 1)
    ).orderBy(F.col("score").desc(), F.col("doc_id").asc())
    expect = {
        r["doc_id"]
        for r in df.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= 7)
        .collect()
    }
    assert kept == expect


def test_top_terms_per_group_tfidf(spark):
    from snowy_json_spark.operators.text import top_terms_per_group

    rows = [
        ("s1", "alpha alpha alpha shared shared"),
        ("s1", "alpha beta shared"),
        ("s2", "gamma gamma shared shared"),
        ("s2", "gamma delta delta shared"),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    got = top_terms_per_group(df, "source", "text", k=2, min_count=2)
    import math
    by = {(r["source"], r["rank"]): (r["word"], r["tf"], r["tfidf"])
          for r in got.collect()}
    # s1: alpha tf=4 unique to s1 → 4·ln2 ; shared appears in both → idf 0
    assert by[("s1", 1)][0] == "alpha"
    assert abs(by[("s1", 1)][2] - 4 * math.log(2)) < 1e-6
    # s2: gamma tf=3 beats delta tf=2
    assert by[("s2", 1)][0] == "gamma"
    assert by[("s2", 2)][0] == "delta"
    # zero-idf 'shared' can appear only after positive-score terms
    assert by[("s1", 2)][0] in ("shared",)
    assert by[("s1", 2)][2] == 0.0


def test_split_sentences_and_stats(spark):
    from snowy_json_spark.operators.text import sentence_stats, split_sentences

    rows = [
        (1, "First one. Second here! Third?  Fourth without end"),
        (2, "single sentence no punctuation"),
        (3, None),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["s"] for r in df.select(
        "doc_id", split_sentences(F.col("text")).alias("s")).collect()}
    assert got[1] == ["First one.", "Second here!", "Third?",
                      "Fourth without end"]
    assert got[2] == ["single sentence no punctuation"]
    assert got[3] is None
    assert got[4] == []
    st = {r["doc_id"]: r for r in
          sentence_stats(df, "doc_id", "text").collect()}
    assert st[1]["n_sentences"] == 4
    assert st[1]["max_sentence_chars"] == len("Fourth without end")
    assert st[2]["n_sentences"] == 1
    assert st[4]["n_sentences"] == 0 and st[4]["mean_sentence_chars"] is None
