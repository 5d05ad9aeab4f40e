"""Histogram ``drift`` checks are read off the verdict aggregate.

``ValidationEngine._validate`` groups its one verdict aggregate by the
partition columns plus any histogram ``group_by`` column, adds each
histogram's bucket counts, and merges the rows per partition key on the
driver.  Its drift list and verdicts must equal the standalone
references, ``drift_verdicts(collect_histogram(...))`` and
``report.partition_verdicts``, whichever columns partition the run and
group the histogram, on a normal, an empty and an all-null input.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from snowy_json_spark.engine import ValidationEngine
from snowy_json_spark.operators.drift import (
    DriftThresholds,
    HistogramSpec,
    collect_histogram,
    drift_verdicts,
)
from snowy_json_spark.plans.report import partition_verdicts
from snowy_json_spark.sources.pages import generate_pages, with_partition_cols

ROW_SPEC = {
    "required": ["url", "lang"],
    "properties": {"lang": {"pattern": "^[a-z]{2}$"}, "text": {"minLength": 1}},
}


def _spec(group_by: str | None) -> dict:
    """A histogram check over a derived column, grouped by ``group_by``,
    and one over a source column with no group."""
    length = {"id": "len_drift", "kind": "drift", "column": "text_len",
              "expr": "length(text)", "lo": 0, "hi": 1500, "buckets": 20}
    if group_by:
        length["group_by"] = group_by
    bucket = {"id": "bucket_drift", "kind": "drift", "column": "url_bucket",
              "lo": 0, "hi": 4, "buckets": 4}
    return {**ROW_SPEC, "x-table-checks": [length, bucket]}


@pytest.fixture(scope="module")
def pages(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("histogram_fold") / "pages")
    with_partition_cols(generate_pages(spark, 2000, 8), url_buckets=4).write.parquet(path)
    return spark.read.parquet(path)


def _input(pages, kind: str):
    if kind == "empty":
        return pages.filter("false")
    if kind == "all_null":
        return pages.withColumn("text", F.lit(None).cast("string"))
    return pages


def _reference_drift(df, spec: dict, snapshot: dict) -> list[dict]:
    out = []
    for chk in spec["x-table-checks"]:
        g = chk.get("group_by")
        src = df.select(
            F.expr(chk.get("expr", chk["column"])).alias(chk["column"]),
            *([F.col(g)] if g else []),
        )
        hspec = HistogramSpec(chk["column"], chk["lo"], chk["hi"], chk["buckets"])
        for v in drift_verdicts(collect_histogram(src, hspec, g), snapshot[chk["id"]], DriftThresholds()):
            out.append({**v, "check_id": chk["id"]})
    return out


def _sorted(rows) -> list[tuple]:
    return sorted(map(tuple, rows), key=repr)


@pytest.mark.parametrize("single_pass", [False, True], ids=["run", "run_single_pass"])
@pytest.mark.parametrize("data", ["normal", "empty", "all_null"])
@pytest.mark.parametrize("group_by", [None, "lang", "url_bucket"], ids=["no_group", "lang", "url_bucket"])
@pytest.mark.parametrize("partition_cols", [[], ["lang"]], ids=["global", "by_lang"])
def test_histograms_fold_into_the_verdict_aggregate(
    pages, tmp_path, partition_cols, group_by, data, single_pass
):
    spec = _spec(group_by)
    eng = ValidationEngine(spec, id_cols=["url"], partition_cols=partition_cols)
    snapshot = eng.collect_snapshot(pages)
    df = _input(pages, data)
    if single_pass:
        res = eng.run_single_pass(df, str(tmp_path / "out"), snapshot=snapshot)
    else:
        res = eng.run(df, snapshot=snapshot)

    assert res.drift == _reference_drift(df, spec, snapshot)
    want = partition_verdicts(df, eng.compile(df), partition_cols)
    assert res.verdicts.schema == want.schema
    got = _sorted(res.verdicts.collect())
    assert got == _sorted(want.collect())
    if data == "empty":
        assert got == ([(0, None, None)] if not partition_cols else [])
        assert {v["status"] for v in res.drift} == {"missing_current"}


@pytest.mark.parametrize("partition_cols", [[], ["lang"]], ids=["global", "by_lang"])
def test_histograms_start_no_job(pages, tmp_path, jobs_started, partition_cols):
    """A run with histogram checks and their snapshot starts the jobs of
    a run without them."""
    drift = ValidationEngine(_spec("url_bucket"), id_cols=["url"], partition_cols=partition_cols)
    snapshot = drift.collect_snapshot(pages)
    bare = ValidationEngine(ROW_SPEC, id_cols=["url"], partition_cols=partition_cols)
    counts = [
        len(jobs_started(lambda: eng.run_single_pass(pages, str(tmp_path / name), snapshot=snapshot)))
        for name, eng in [("bare", bare), ("drift", drift)]
    ]
    assert counts[0] == counts[1]
