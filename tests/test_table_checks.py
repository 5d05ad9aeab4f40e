"""Table-scope operator tests: stats, uniqueness, referential, drift.

Uses the driver-generated star schema at sf0.001 (TESTDATA.md) plus
hand-pinned slices (FIXTURES.md §3).
"""

from __future__ import annotations

import pytest

from snowy_json_spark.operators.drift import (
    DriftThresholds,
    HistogramSpec,
    collect_histogram,
    drift_verdicts,
    ks_statistic,
    psi,
)
from snowy_json_spark.operators.referential import (
    anti_join_violations,
    membership_check_broadcast_set,
    referential_violations,
)
from snowy_json_spark.operators.stats import (
    ColumnStatsSpec,
    HllSketches,
    column_stats,
    stats_violations,
)
from snowy_json_spark.operators import uniqueness
from snowy_json_spark.operators.uniqueness import (
    duplicate_keys,
    duplicate_keys_hashed,
    duplicate_keys_salted,
    distinct_rate,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


def test_column_stats_single_pass(spark, documents):
    specs = [
        ColumnStatsSpec("n_chars", exact_distinct=True),
        ColumnStatsSpec("lang", exact_distinct=True),
    ]
    row = column_stats(documents, specs).collect()[0].asDict()
    assert row["n_chars__count"] == 500
    assert row["n_chars__null_rate"] == 0.0
    assert row["n_chars__min"] == 47 and row["n_chars__max"] == 558
    assert row["lang__distinct"] == 5


def test_stats_thresholds(spark, documents):
    specs = [ColumnStatsSpec("n_chars", max_value=500, exact_distinct=True)]
    row = column_stats(documents, specs).collect()[0].asDict()
    v = stats_violations(row, specs, "n_chars_stats")
    assert len(v) == 1
    assert v[0]["constraint_id"] == "#/x-table-checks/n_chars_stats/max_value"
    assert v[0]["observed_value"] == "558"


def test_hll_sketches_mergeable(spark, documents):
    h = HllSketches(["lang"])
    per = h.per_group(documents, ["source"])
    merged = h.merge(per).collect()[0]
    # 5 true distinct langs; HLL exact at this cardinality
    assert merged["lang__distinct"] == 5


def test_duplicate_keys_and_salted_equivalence(spark):
    rows = [("u1",), ("u2",), ("u1",), ("u3",), ("u1",), ("u2",)]
    df = spark.createDataFrame(rows, "url string").repartition(4)
    plain = {(r["url"], r["dup_count"]) for r in duplicate_keys(df, ["url"]).collect()}
    salted = {
        (r["url"], r["dup_count"])
        for r in duplicate_keys_salted(df, ["url"], salt_buckets=8).collect()
    }
    assert plain == {("u1", 3), ("u2", 2)}
    assert salted == plain
    hashed = {
        (r["url"], r["dup_count"])
        for r in duplicate_keys_hashed(df, ["url"]).collect()
    }
    assert hashed == plain


def test_hashed_candidates_are_not_cached_for_the_session(spark):
    """Sized without ``n_rows``, the candidate set is materialized once
    for the join as a local checkpoint of the returned plan, which
    Spark's context cleaner drops once that plan is garbage-collected.
    Nothing enters the session's cache, where it would stay for the
    session."""
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet())
    df = spark.createDataFrame([("u1",), ("u2",), ("u1",)], "url string")
    dups = duplicate_keys_hashed(df, ["url"], n_rows=None)
    assert [(r["url"], r["dup_count"]) for r in dups.collect()] == [("u1", 2)]
    rdds = sc._jsc.getPersistentRDDs()
    new = [rdds.get(i).rdd() for i in set(rdds.keySet()) - before]
    assert [r.isCheckpointed() for r in new] == [True]


def test_distinct_rate(spark):
    df = spark.createDataFrame([("a",), ("b",), ("a",)], "k string")
    r = distinct_rate(df, ["k"], exact=True).collect()[0]
    assert r["total_rows"] == 3 and r["distinct_keys"] == 2
    assert abs(r["distinct_rate"] - 2 / 3) < 1e-9


def test_referential_anti_join(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    customer = spark.read.parquet(f"{SF}/customer.parquet")
    bad = anti_join_violations(orders, "o_custkey", customer, "c_custkey")
    # driver data is referentially clean: every order has a customer
    assert bad.count() == 0
    # poison one key
    poisoned = orders.limit(5).withColumn(
        "o_custkey", orders.o_custkey + 10_000_000
    )
    v = referential_violations(
        poisoned, "o_custkey", customer, "c_custkey", "#/x/ref/custkey", ["o_orderkey"]
    )
    rows = v.collect()
    assert len(rows) == 5
    assert all(r["constraint_id"] == "#/x/ref/custkey" for r in rows)


def test_referential_regimes_agree_on_duplicated_dim(spark, broadcast_threshold):
    """A dim holding every key 200 times: broadcast whole at the session
    threshold, reduced to distinct keys and shuffled at -1; both give
    the same violating fact rows."""
    from snowy_json_spark.sources.tables import local_frame

    fact = local_frame(
        spark, [(i, f"k{i % 7}" if i % 5 else None) for i in range(60)], "id long, k string"
    )
    dim = local_frame(spark, [(f"k{i % 4}",) for i in range(800)], "key string")

    def violations():
        bad = anti_join_violations(fact, "k", dim, "key")
        return bad._jdf.queryExecution().sparkPlan().toString(), sorted(map(tuple, bad.collect()))

    bplan, brows = violations()
    with broadcast_threshold(-1):
        splan, srows = violations()
    assert "BroadcastHashJoin" in bplan and "HashAggregate" not in bplan
    assert "BroadcastHashJoin" not in splan and "HashAggregate" in splan
    assert brows == srows
    assert {k for _, k in brows} == {"k4", "k5", "k6"}


def test_membership_set(spark, documents):
    v = membership_check_broadcast_set(
        documents, "lang", ["en", "fr", "de"], "#/x/lang", ["doc_id"]
    )
    got = {r["observed_value"] for r in v.collect()}
    assert got == {"es", "zh"}


def test_psi_ks_math():
    assert psi([10, 10, 10], [10, 10, 10]) == pytest.approx(0.0)
    assert ks_statistic([10, 0, 0], [0, 0, 10]) == pytest.approx(1.0)
    assert psi([100, 0, 0], [0, 0, 100]) > 1.0


def test_drift_verdicts_end_to_end(spark, documents):
    spec = HistogramSpec("n_chars", lo=0, hi=600, n_buckets=12)
    snapshot = collect_histogram(documents, spec, "lang")
    # identical data → no drift
    current = collect_histogram(documents, spec, "lang")
    verdicts = drift_verdicts(current, snapshot)
    assert all(v["status"] == "pass" for v in verdicts)
    # shift one group hard → fail
    from pyspark.sql import functions as F

    shifted = documents.withColumn(
        "n_chars",
        F.when(F.col("lang") == "en", F.col("n_chars") + 300).otherwise(
            F.col("n_chars")
        ),
    )
    cur2 = collect_histogram(shifted, spec, "lang")
    v2 = {v["group"]: v["status"] for v in drift_verdicts(cur2, snapshot)}
    assert v2["en"] == "fail"
    assert v2["de"] == "pass"


def test_drift_missing_group():
    v = drift_verdicts({"a": [1, 2]}, {"a": [1, 2], "b": [3, 4]})
    status = {x["group"]: x["status"] for x in v}
    assert status["b"] == "missing_current"


def test_hashed_shuffle_fallback_on_high_dup_corpus(spark, monkeypatch):
    """50%-duplicate corpus with HASHED_BROADCAST_LIMIT at 1: the
    candidate set exceeds the limit so the semi-join must degrade to a
    shuffle join (no BroadcastExchange of the candidates) while
    producing output identical to the plain strategy."""
    monkeypatch.setattr(uniqueness, "HASHED_BROADCAST_LIMIT", 1)
    rows = [(f"u{i % 500}",) for i in range(1000)]  # every key ×2
    df = spark.createDataFrame(rows, "url string").repartition(8)
    plain = {(r["url"], r["dup_count"]) for r in duplicate_keys(df, ["url"]).collect()}
    fallback = duplicate_keys_hashed(df, ["url"])
    got = {(r["url"], r["dup_count"]) for r in fallback.collect()}
    assert got == plain and len(got) == 500
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        fallback.explain("formatted")
    assert "BroadcastHashJoin" not in buf.getvalue()


def test_corpus_diff_statuses(spark):
    from snowy_json_spark.operators.stats import corpus_diff

    old = spark.createDataFrame(
        [(1, "same"), (2, "before"), (3, "gone"), (5, None), (6, None)],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "same"), (2, "after"), (4, "fresh"), (5, None), (6, "now set")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["status"]
           for r in corpus_diff(old, new, "doc_id", "text").collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed",
                   4: "added", 5: "unchanged", 6: "changed"}
