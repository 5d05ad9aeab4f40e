"""curate_documents: quality → dedup attribution end-to-end."""

from __future__ import annotations

from pyspark.sql import functions as F

from snowy_json_spark.operators import pipeline
from snowy_json_spark.operators.pipeline import curate_documents

GOOD = "the quick brown fox jumps over the lazy dog and then runs far away home " * 3


def test_attribution(spark):
    rows = [
        (0, GOOD),                    # kept (cluster representative)
        (1, GOOD),                    # exact dup of 0 → near_dup
        (2, GOOD + " extra tail"),  # near-dup of 0 (J=14/16) → near_dup
        (3, "too short"),             # quality
        (4, "uno dos tres quatro cinco seis " * 10),  # no stopwords → quality
        (5, "the unique and special words of this have other text " * 4),  # kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cur = curate_documents(df, "doc_id", "text", min_jaccard=0.8, min_words=20)
    got = {r["doc_id"]: (r["keep"], r["drop_reason"]) for r in cur.collect()}
    assert got[0] == (True, None)
    assert got[1] == (False, "near_dup")
    assert got[2] == (False, "near_dup")
    assert got[3] == (False, "quality")
    assert got[4] == (False, "quality")
    assert got[5] == (True, None)
    # input columns survive untouched
    assert set(cur.columns) == {"doc_id", "text", "keep", "drop_reason"}


def test_quality_dropped_docs_never_reach_dedup(spark):
    # a low-quality doc identical to a kept doc must NOT mark the kept
    # doc's twin as near_dup via itself (quality drops leave dedup)
    rows = [(0, GOOD), (1, "x")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cur = curate_documents(df, "doc_id", "text", min_words=20)
    got = {r["doc_id"]: (r["keep"], r["drop_reason"]) for r in cur.collect()}
    assert got[0] == (True, None)
    assert got[1] == (False, "quality")


def test_repetition_stage_optional(spark):
    looping = ("the be to of words fine enough length truly and that have "
               "with more stuff " * 2) + ("buy now " * 60)
    rows = [(0, GOOD), (1, looping)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = {r["doc_id"]: r["keep"] for r in
            curate_documents(df, "doc_id", "text", min_words=20).collect()}
    strict = {r["doc_id"]: (r["keep"], r["drop_reason"]) for r in
              curate_documents(df, "doc_id", "text", min_words=20,
                               check_repetition=True).collect()}
    assert base[1] is True          # passes plain gopher rules
    assert strict[1] == (False, "quality")  # repetition stage catches it
    assert strict[0] == (True, None)


def test_url_blocklist_stage(spark):
    import pytest

    rows = [
        (0, GOOD, "https://good.site/a"),        # kept
        (1, GOOD, "https://spam.bad.org/x"),     # blocked subdomain
        (2, GOOD, "https://bad.org/y"),          # blocked exact host
        (3, "tiny", "https://bad.org/z"),        # blocked wins over quality
        (4, "tiny", "https://good.site/b"),      # quality
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, url string")
    cur = curate_documents(
        df, "doc_id", "text", min_words=20,
        url_col="url", blocked_domains=["bad.org"],
    )
    got = {r["doc_id"]: (r["keep"], r["drop_reason"]) for r in cur.collect()}
    assert got[0] == (True, None)
    assert got[1] == (False, "blocked_url")
    assert got[2] == (False, "blocked_url")
    assert got[3] == (False, "blocked_url")  # URL stage runs first
    assert got[4] == (False, "quality")
    assert set(cur.columns) == {"doc_id", "text", "url", "keep", "drop_reason"}
    with pytest.raises(ValueError):
        curate_documents(df, "doc_id", "text", blocked_domains=["bad.org"])


def test_blocked_docs_never_reach_dedup(spark):
    # a blocked doc identical to a kept doc must not drag the kept doc
    # (or a twin) into a near_dup cluster
    rows = [
        (0, GOOD, "https://good.site/a"),
        (1, GOOD, "https://bad.org/x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, url string")
    cur = curate_documents(
        df, "doc_id", "text", min_words=20,
        url_col="url", blocked_domains=["bad.org"],
    )
    got = {r["doc_id"]: (r["keep"], r["drop_reason"]) for r in cur.collect()}
    assert got[0] == (True, None)
    assert got[1] == (False, "blocked_url")


def test_minhash_dedup_impl_matches_exact_on_clear_corpus(spark, monkeypatch):
    """The minhash plan (the corpus-scale LSH path, reached by a survivor
    threshold of 0) agrees with the exact path away from the Jaccard
    boundary: exact/near dups drop as near_dup, distinct docs keep,
    quality attribution unchanged."""
    rows = [
        (0, GOOD),
        (1, GOOD),                              # exact dup of 0
        (2, GOOD + " extra tail"),              # near-dup of 0
        (3, "too short"),                       # quality
        (5, "the unique and special words of this have other text " * 4),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        r["doc_id"]: (r["keep"], r["drop_reason"])
        for r in curate_documents(
            df, "doc_id", "text", min_jaccard=0.8, min_words=20
        ).collect()
    }
    monkeypatch.setattr(pipeline, "EXACT_DEDUP_MAX_ROWS", 0)
    lsh = {
        r["doc_id"]: (r["keep"], r["drop_reason"])
        for r in curate_documents(
            df, "doc_id", "text", min_jaccard=0.8, min_words=20,
            shingle_k=5, dedup_mode="char",
        ).collect()
    }
    assert lsh == exact
    assert lsh[1] == (False, "near_dup")
    assert lsh[2] == (False, "near_dup")
    assert lsh[0] == (True, None)


def test_minhash_dedup_null_text(spark, monkeypatch):
    monkeypatch.setattr(pipeline, "EXACT_DEDUP_MAX_ROWS", 0)
    rows = [(0, GOOD), (1, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["drop_reason"]
        for r in curate_documents(
            df, "doc_id", "text", min_words=20, shingle_k=5, dedup_mode="char",
        ).collect()
    }
    assert got[0] is None
    assert got[1] == "quality"  # null text fails gopher keep=false


def test_auto_impl_selects_by_survivor_count(spark, monkeypatch):
    """The survivor count picks the exact plan at or below
    EXACT_DEDUP_MAX_ROWS survivors and the LSH plan above it — the plan
    pin the r05 verdict asked for."""
    rows = [(i, GOOD + f" tail {i}") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    small = curate_documents(df, "doc_id", "text", min_jaccard=0.8, min_words=20)
    # a threshold AT the survivor count still takes the exact plan, bit
    # for bit
    monkeypatch.setattr(pipeline, "EXACT_DEDUP_MAX_ROWS", 12)
    exact = curate_documents(df, "doc_id", "text", min_jaccard=0.8, min_words=20)
    assert sorted(map(tuple, small.collect())) == sorted(map(tuple, exact.collect()))
    # the exact plan has no Python signature stage
    assert "ArrowEvalPython" not in small._jdf.queryExecution().executedPlan().toString()

    # force the threshold under the corpus size: the count must take the
    # LSH+prepass branch (the plan itself hides behind the
    # connected-components localCheckpoint, so intercept the call)
    calls = []
    orig = pipeline.minhash_near_duplicates_prepass

    def spy(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(pipeline, "minhash_near_duplicates_prepass", spy)
    monkeypatch.setattr(pipeline, "EXACT_DEDUP_MAX_ROWS", 5)
    curate_documents(df, "doc_id", "text", min_jaccard=0.8, min_words=20)
    assert calls, "above the threshold the count must route to the minhash prepass path"


def test_minhash_prepass_equivalent_and_cap_immune(spark):
    """The exact-hash pre-pass (a) yields the same connected components
    as the plain LSH path on an uncapped corpus, and (b) keeps finding
    text-identical duplicates even when max_bucket_rows would drop
    every one of their band buckets from the plain path."""
    from snowy_json_spark.operators.dedup import (
        connected_components,
        minhash_near_duplicates,
        minhash_near_duplicates_prepass,
    )

    # 12 copies of one text + 8 distinct docs
    rows = [(i, GOOD) for i in range(12)]
    import hashlib

    rows += [
        (
            100 + i,
            " ".join(
                hashlib.md5(f"{i}:{j}".encode()).hexdigest() for j in range(12)
            ),
        )
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(threshold=0.8, n_hashes=32, n_bands=8, shingle_k=5, mode="char")

    def clusters(pairs):
        return {
            tuple(sorted(g))
            for g in _group(connected_components(pairs).collect())
        }

    def _group(rows_):
        by = {}
        for r in rows_:
            by.setdefault(r["cluster"], []).append(r["node"])
        return by.values()

    plain = minhash_near_duplicates(df, "doc_id", "text", **kw)
    pre = minhash_near_duplicates_prepass(df, "doc_id", "text", **kw)
    assert clusters(plain) == clusters(pre) == {tuple(range(12))}

    # cap of 5 < 12: every band bucket of the identical group is over
    # cap, so the plain path finds nothing — the pre-pass still must
    capped_plain = minhash_near_duplicates(
        df, "doc_id", "text", max_bucket_rows=5, **kw
    )
    capped_pre = minhash_near_duplicates_prepass(
        df, "doc_id", "text", max_bucket_rows=5, **kw
    )
    assert capped_plain.count() == 0
    assert clusters(capped_pre) == {tuple(range(12))}
    # exact edges carry est 1.0 and rep-min orientation
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in capped_pre.collect()}
    assert got == {(0, i): 1.0 for i in range(1, 12)}
