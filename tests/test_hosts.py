"""Host blocklist filtering + skew-safe per-host stats
(operators/urls.py — the RefinedWeb-style URL-filtering curation
stage; no Snow analog)."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from snowy_json_spark.operators.urls import (
    blocked_domain_match,
    blocklist_filter,
    flag_blocked_hosts,
    host_stats,
    host_suffixes,
)

BLOCKED = ["ads.example.com", "tracker.net", "bad.org"]

URLS = [
    # (url, expected blocked_domain)
    ("https://ads.example.com/x", "ads.example.com"),  # exact host
    ("https://a.ads.example.com/x", "ads.example.com"),  # subdomain
    ("https://deep.a.ads.example.com/x?q=1", "ads.example.com"),
    ("https://sub.tracker.net/", "tracker.net"),
    ("https://example.com/x", None),  # parent of blocked is NOT blocked
    ("https://notads.example.com/x", None),  # suffix must be label-aligned
    ("https://trackernet.com/", None),
    ("https://good.site/x", None),
    (None, None),
]


@pytest.fixture(scope="module")
def urls_df(spark):
    return spark.createDataFrame(
        [(u,) for u, _ in URLS], "url string"
    ).repartition(3)


def collect_flags(df, out_col="blocked_domain"):
    return {r["url"]: r[out_col] for r in df.collect()}


def test_host_suffixes_order_and_cap(spark):
    row = spark.range(1).select(
        host_suffixes(F.lit("a.b.c.com")).alias("s"),
        host_suffixes(F.lit("x.y"), max_labels=1).alias("capped"),
        host_suffixes(F.lit(None).cast("string")).alias("n"),
    ).first()
    assert row["s"] == ["a.b.c.com", "b.c.com", "c.com", "com"]
    assert row["capped"] == ["y"]
    assert row["n"] is None


def test_blocked_domain_match_literal(spark, urls_df):
    got = collect_flags(
        urls_df.withColumn("blocked_domain", blocked_domain_match(F.col("url"), BLOCKED))
    )
    assert got == {u: e for u, e in URLS}


def _plan(df):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _domains(spark, domains):
    return spark.createDataFrame([(d,) for d in domains], "domain string")


def test_flag_blocked_hosts_join_matches_literal(spark, urls_df):
    # a short list takes the literal path, a DataFrame blocklist the join
    lit = flag_blocked_hosts(urls_df, "url", BLOCKED)
    join = flag_blocked_hosts(urls_df, "url", _domains(spark, BLOCKED))
    assert "BroadcastHashJoin" not in _plan(lit)
    assert "BroadcastHashJoin" in _plan(join)
    assert collect_flags(lit) == collect_flags(join) == {u: e for u, e in URLS}


def test_flag_blocked_hosts_most_specific_wins(spark):
    # both example.com and ads.example.com are blocked: the deeper
    # (most-specific) domain must be reported for a host under both
    df = spark.createDataFrame([("https://x.ads.example.com/",)], "url string")
    blocked = ["example.com", "ads.example.com"]
    for bl in (blocked, _domains(spark, blocked)):
        (row,) = flag_blocked_hosts(df, "url", bl).collect()
        assert row["blocked_domain"] == "ads.example.com", type(bl)


def test_flag_blocked_hosts_dataframe_blocklist(spark, urls_df):
    got = collect_flags(flag_blocked_hosts(urls_df, "url", _domains(spark, BLOCKED)))
    assert got == {u: e for u, e in URLS}


def test_blocklist_filter_keeps_allowed_rows_and_columns(spark, urls_df):
    with_extra = urls_df.withColumn("k", F.length("url"))
    kept = blocklist_filter(with_extra, "url", BLOCKED)
    assert kept.columns == ["url", "k"]
    assert sorted(r["url"] for r in kept.collect() if r["url"]) == sorted(
        u for u, e in URLS if e is None and u is not None
    )
    # null url rows are kept (no host -> cannot match a blocked domain)
    assert sum(1 for r in kept.collect() if r["url"] is None) == 1


def test_auto_selects_join_above_literal_max(spark, urls_df, monkeypatch):
    import snowy_json_spark.operators.urls as U

    monkeypatch.setattr(U, "BLOCKLIST_LITERAL_MAX", 2)
    flagged = U.flag_blocked_hosts(urls_df, "url", BLOCKED)
    assert "BroadcastHashJoin" in _plan(flagged)
    assert collect_flags(flagged) == {u: e for u, e in URLS}


def test_join_path_broadcasts_blocklist(spark, urls_df):
    plan = _plan(flag_blocked_hosts(urls_df, "url", _domains(spark, BLOCKED)))
    assert "BroadcastHashJoin" in plan, "blocklist not broadcast"
    assert "Cartesian" not in plan


def test_host_stats_matches_naive_and_exact_distinct(spark):
    rows = []
    # hot host with duplicate urls spread across partitions
    for i in range(40):
        rows.append((f"https://hot.example.com/p{i % 10}", "x" * (i % 7)))
    rows.append(("https://cold.example.com/a", None))
    rows.append(("https://cold.example.com/a", "hello"))
    df = spark.createDataFrame(rows, "url string, text string").repartition(5)
    got = {r["host"]: r for r in host_stats(df, "url", "text", n_buckets=4).collect()}
    assert got["hot.example.com"]["n_docs"] == 40
    assert got["hot.example.com"]["n_urls"] == 10  # exact through the salt
    assert got["hot.example.com"]["total_chars"] == sum(i % 7 for i in range(40))
    assert got["cold.example.com"]["n_docs"] == 2
    assert got["cold.example.com"]["n_urls"] == 1
    assert got["cold.example.com"]["n_null_text"] == 1
    assert got["cold.example.com"]["mean_chars"] == pytest.approx(2.5)


def test_host_stats_partial_aggregation_plan(spark):
    df = spark.createDataFrame(
        [("https://h.example.com/a", "t")], "url string, text string"
    )
    plan = _plan(host_stats(df, "url", "text"))
    # two-stage: (host, bucket) partial before the host merge
    assert plan.count("HashAggregate") >= 4, plan
    assert "Cartesian" not in plan
