"""Physical-plan regression tests: the plans we want, not just plans
that pass (SURVEY.md §4).

Asserts on `.explain("formatted")` output:
- column pruning: scans read only referenced columns (html/binary never
  decoded for row checks);
- filter pushdown reaches the parquet scan (PushedFilters);
- referential checks are broadcast anti-joins, not shuffles;
- aggregations are partial (map-side combine) — HashAggregate before
  the Exchange and again after.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from snowy_json_spark.operators.referential import anti_join_violations
from snowy_json_spark.operators.uniqueness import duplicate_keys
from snowy_json_spark.plans.compiler import compile_spec
from snowy_json_spark.plans.report import partition_verdicts, violations
from snowy_json_spark.sources.pages import generate_pages, lang_ref, with_partition_cols

SPEC = {
    "required": ["url", "warc_ts", "lang"],
    "properties": {
        "url": {"type": "string", "pattern": "^https://", "maxLength": 2048},
        "lang": {"type": "string", "pattern": "^[a-z]{2}$"},
        "text": {"type": ["string", "null"], "minLength": 1},
    },
}


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "pages")
    with_partition_cols(generate_pages(spark, 2000, 4), 4).write.parquet(path)
    return path


@pytest.fixture(scope="module")
def pages(spark, pages_path):
    return spark.read.parquet(pages_path)


def explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def read_schema_lines(plan: str) -> list[str]:
    return [line.strip() for line in plan.splitlines() if "ReadSchema" in line]


def test_violations_scan_prunes_binary(spark, pages):
    plan = compile_spec(SPEC, pages.schema)
    p = explain(violations(pages, plan, ["url"]))
    (schema_line,) = read_schema_lines(p)
    assert "html" not in schema_line, f"binary column not pruned: {schema_line}"
    assert "url_bucket" not in schema_line


def test_verdicts_partial_aggregation(spark, pages):
    plan = compile_spec(SPEC, pages.schema)
    p = explain(partition_verdicts(pages, plan, ["lang", "url_bucket"]))
    first_agg = p.find("HashAggregate")
    exchange = p.find("Exchange")
    last_agg = p.rfind("HashAggregate")
    assert -1 < first_agg < exchange < last_agg, "no map-side partial aggregation"
    (schema_line,) = read_schema_lines(p)
    assert "html" not in schema_line


def test_uniqueness_reads_only_keys(spark, pages):
    p = explain(duplicate_keys(pages, ["url"]))
    (schema_line,) = read_schema_lines(p)
    assert "struct<url:string>" in schema_line, schema_line
    assert p.find("HashAggregate") < p.find("Exchange") < p.rfind("HashAggregate")


def test_referential_is_broadcast_anti_join(spark, pages):
    p = explain(anti_join_violations(pages, "lang", lang_ref(spark), "lang"))
    assert "BroadcastHashJoin LeftAnti" in p, "anti-join not broadcast"
    assert "PushedFilters: [IsNotNull(lang)]" in p, "null filter not pushed to scan"


def test_filter_pushdown_reaches_scan(spark, pages):
    p = explain(pages.filter(F.col("lang") == "en").select("url"))
    assert "EqualTo(lang,en)" in p, "predicate not pushed to parquet scan"


def test_tdigest_scan_prunes_to_value_column(spark, pages):
    """The tdigest_drift grid aggregate must scan ONLY the sketched
    column — the wide source (html binary) is never read."""
    from snowy_json_spark.operators.drift import GRID_PROBS, quantiles

    p = explain(quantiles(pages.withColumn("tl", F.length("text")), "tl", GRID_PROBS))
    assert read_schema_lines(p), p
    for line in read_schema_lines(p):
        assert "html" not in line, line
        assert "url" not in line, line


def test_media_metadata_scan_prunes_to_payload(spark, pages):
    """extract_media_metadata reads url + payload only, even when the
    source has more columns."""
    from snowy_json_spark.operators.multimodal import extract_media_metadata

    p = explain(extract_media_metadata(pages, "url", "html"))
    (schema_line,) = read_schema_lines(p)
    assert "warc_ts" not in schema_line, schema_line
    assert "text" not in schema_line, schema_line


def test_repeated_paragraph_removal_plan(spark, pages):
    """Exact passage dedup: the repeated-paragraph frequency table is
    broadcast (map-side hash join on the md5 key — never a corpus-wide
    sort-merge), there is no cartesian expansion, and the explode/count
    subplans scan only (id, text) — the html binary stays columnar
    except in the final all-columns output rejoin."""
    from snowy_json_spark.operators.text import remove_repeated_paragraphs

    p = explain(remove_repeated_paragraphs(pages, "text", 2, "url"))
    assert "BroadcastHashJoin" in p, "frequency table not broadcast"
    assert "SortMergeJoin" not in p, "corpus-wide sort-merge join in passage dedup"
    assert "Cartesian" not in p
    lines = read_schema_lines(p)
    pruned = [l for l in lines if "struct<url:string,text:string>" in l]
    assert len(pruned) >= 2, f"explode subplans not pruned to (id,text): {lines}"
    assert sum("html" in l for l in lines) <= 1, lines


def test_incremental_probe_never_shuffles_index(spark, pages):
    """Cross-corpus incremental dedup: with a batch Spark sizes within
    the broadcast threshold, the index side (10^12 rows at scale) must
    stream through map-side hash joins — zero SortMergeJoin / ShuffledHashJoin anywhere in the plan,
    and every scan pruned to (id, text)."""
    from snowy_json_spark.operators.dedup import (
        incremental_near_duplicates,
        minhash_index,
    )

    corpus = pages.filter(F.crc32("url") % 5 != 0)
    new = pages.filter(F.crc32("url") % 5 == 0)
    sigs, bands = minhash_index(corpus, "url", "text", 64, 16, 5, "word", 7)
    p = explain(
        incremental_near_duplicates(new, sigs, bands, "url", "text", 0.5, 64, 16, 5, "word", 7)
    )
    assert "SortMergeJoin" not in p, "index side shuffled"
    assert "ShuffledHashJoin" not in p, "index side shuffled"
    assert p.count("BroadcastHashJoin") >= 3, "probe/signature joins not broadcast"
    for line in read_schema_lines(p):
        assert "html" not in line, line


def test_contamination_join_broadcasts_benchmark(spark, pages, monkeypatch):
    """Join-path decontamination (forced by a literal threshold of 0
    n-grams): the benchmark n-gram table is broadcast against the
    exploded document n-grams (no shuffle of the corpus-sized exploded
    side for the membership probe), and the explode subplan scans only
    (id, text)."""
    import snowy_json_spark.operators.text as T

    monkeypatch.setattr(T, "CONTAMINATION_LITERAL_MAX", 0)
    p = explain(T.contamination_counts(pages, "url", "text", ["alpha beta gamma delta"]))
    assert "BroadcastHashJoin" in p, "benchmark n-grams not broadcast"
    lines = read_schema_lines(p)
    assert any("struct<url:string,text:string>" in l for l in lines), lines


def test_chunk_spans_single_exchange_and_pruned_scan(spark, pages):
    """Concat-and-chunk packing: ONE shuffle (the per-shard window),
    and the scan reads only the id/token columns — never html."""
    from snowy_json_spark.operators.packing import chunk_spans

    df = pages.select(
        "url", F.length("text").alias("n_tokens"),
        F.pmod(F.xxhash64("url"), F.lit(16)).cast("int").alias("shard"),
    )
    out = chunk_spans(df, "url", "n_tokens", 512, shard_col="shard")
    plan = explain(out)
    import re
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    for line in read_schema_lines(plan):
        assert "html" not in line, line


def test_greedy_pack_single_exchange(spark, pages):
    """Greedy packing: one shuffle keyed on shard feeding one
    applyInPandas group per shard — metadata only, text never moves."""
    from snowy_json_spark.operators.packing import greedy_pack

    df = pages.select(
        "url", F.coalesce(F.length("text"), F.lit(0)).alias("n_tokens")
    )
    out = greedy_pack(df, "url", "n_tokens", 512, n_shards=16)
    plan = explain(out)
    assert "FlatMapGroupsInPandas" in plan, plan
    import re
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    for line in read_schema_lines(plan):
        assert "html" not in line and "warc_ts" not in line, line


def test_normalize_is_map_only(spark, pages):
    """canonical_text is a map-only stage: regexp + one ArrowEvalPython,
    zero shuffles."""
    from snowy_json_spark.operators.normalize import canonical_text

    out = pages.select(canonical_text(F.col("text")).alias("t"))
    plan = explain(out)
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" in plan, plan
