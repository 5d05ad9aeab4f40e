"""run_single_pass must produce results identical to run() while
scanning the source exactly once."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from snowy_json_spark.engine import ValidationEngine
from snowy_json_spark.plans.compiler import SpecError
from snowy_json_spark.sources.pages import generate_pages, lang_ref, with_partition_cols

SPEC = {
    "required": ["url", "lang"],
    "properties": {
        "url": {"pattern": "^https://"},
        "lang": {"pattern": "^[a-z]{2}$"},
        "text": {"type": ["string", "null"], "minLength": 1},
    },
    "x-table-checks": [
        {"id": "url_unique", "kind": "unique", "keys": ["url"]},
        {"id": "lang_valid", "kind": "referential", "column": "lang", "ref": "lang_ref"},
        # column_stats input must ride the flagged projection (round-1
        # advice: this used to KeyError in run_single_pass)
        {"id": "text_stats", "kind": "column_stats", "column": "text", "max_null_rate": 0.0},
        {
            "id": "len_drift",
            "kind": "drift",
            "column": "text_len",
            "expr": "length(text)",
            "lo": 0,
            "hi": 1000,
            "buckets": 10,
            "group_by": "lang",
        },
    ],
}


@pytest.fixture(scope="module")
def pages(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("sp") / "pages")
    with_partition_cols(generate_pages(spark, 3000, 8), 4).write.parquet(path)
    return spark.read.parquet(path)


#: one check of every table-check kind, drift kinds against a baseline
ALL_KINDS = [
    {"id": "contract", "kind": "schema", "columns": {"url": "string", "nope": "string"}},
    {"id": "url_unique", "kind": "unique", "keys": ["url"], "canonicalize_urls": True},
    {"id": "lang_valid", "kind": "referential", "column": "lang", "ref": "lang_ref"},
    {"id": "text_stats", "kind": "column_stats", "column": "text", "max_null_rate": 0.0},
    # grouped by a column no other check or key projects
    {**SPEC["x-table-checks"][3], "group_by": "url_bucket"},
    {"id": "len_q", "kind": "quantile_drift", "column": "text_len", "expr": "length(text)"},
    {"id": "len_grid", "kind": "tdigest_drift", "column": "text_len", "expr": "length(text)"},
]


@pytest.mark.parametrize("partition_cols", [[], ["lang"]], ids=["global", "lang"])
def test_single_pass_matches_run(spark, pages, tmp_path, partition_cols):
    eng = ValidationEngine(
        {**SPEC, "x-table-checks": ALL_KINDS}, id_cols=["url"], partition_cols=partition_cols
    )
    dims = {"lang_ref": lang_ref(spark)}
    snapshot = eng.collect_snapshot(pages)
    lazy = eng.run(pages, dims=dims, snapshot=snapshot)
    single = eng.run_single_pass(pages, str(tmp_path / "out"), dims=dims, snapshot=snapshot)

    for name in ("verdicts", "violations", "table_violations"):
        got, want = getattr(single, name), getattr(lazy, name)
        assert got.columns == want.columns, name
        assert Counter(map(tuple, got.collect())) == Counter(map(tuple, want.collect())), name
    assert single.drift == lazy.drift
    assert single.stats == lazy.stats
    # every kind ran: a schema violation, per-group histogram verdicts,
    # both grid checks and the column stats
    assert "missing_column" in {r["observed_value"] for r in single.table_violations.collect()}
    assert {d["check_id"] for d in single.drift} == {"len_drift", "len_q", "len_grid"}
    assert all(d["status"] == "pass" for d in single.drift)
    assert single.stats
    n_langs = pages.select("lang").distinct().count()
    assert single.verdicts.count() == (n_langs if partition_cols else 1)


@pytest.mark.parametrize("entry", ["run", "run_single_pass", "collect_snapshot"])
@pytest.mark.parametrize(
    "checks, name",
    [
        # would replace the id column in the flagged projection
        ([{"id": "d", "kind": "tdigest_drift", "column": "url", "expr": "length(text)"}], "url"),
        # two inputs under one name: only one can be projected
        (
            [
                {"id": "a", "kind": "tdigest_drift", "column": "n", "expr": "length(text)"},
                {"id": "b", "kind": "quantile_drift", "column": "n", "expr": "length(url)"},
            ],
            "n",
        ),
    ],
    ids=["id_column", "two_exprs"],
)
def test_drift_expr_name_collision_raises(spark, pages, tmp_path, entry, checks, name):
    """Every entry point refuses a drift ``expr`` output that collides
    with another projected column."""
    eng = ValidationEngine({**SPEC, "x-table-checks": checks}, id_cols=["url"])
    call = {
        "run": lambda: eng.run(pages),
        "run_single_pass": lambda: eng.run_single_pass(pages, str(tmp_path / "out")),
        "collect_snapshot": lambda: eng.collect_snapshot(pages),
    }[entry]
    with pytest.raises(SpecError, match=f"drift expr output '{name}' collides"):
        call()


def test_single_pass_resume(spark, pages, tmp_path):
    from snowy_json_spark.streaming.manifest import Manifest

    eng = ValidationEngine(SPEC, id_cols=["url"], partition_cols=["lang"])
    dims = {"lang_ref": lang_ref(spark)}
    m = Manifest(str(tmp_path / "manifest"))
    r1 = eng.run_single_pass(pages, str(tmp_path / "o1"), dims=dims, manifest=m)
    n1 = r1.verdicts.count()
    assert r1.skipped_partitions == [] and n1 > 0
    # re-submission: every partition already validated → all pruned
    r2 = eng.run_single_pass(pages, str(tmp_path / "o2"), dims=dims, manifest=m)
    assert r2.verdicts.count() == 0
    assert len(r2.skipped_partitions) == n1


def test_flagged_table_is_narrow(spark, pages, tmp_path):
    eng = ValidationEngine(SPEC, id_cols=["url"], partition_cols=["lang"])
    eng.run_single_pass(pages, str(tmp_path / "o2"), dims={"lang_ref": lang_ref(spark)})
    back = spark.read.parquet(str(tmp_path / "o2" / "flagged"))
    # html (the big binary column) must not ride along
    assert "html" not in back.columns
    assert {"lang", "url", "text_len", "passed", "violations"} <= set(back.columns)
