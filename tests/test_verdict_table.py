"""The verdict table is aggregated once per run and held on the driver.

Its collected rows, one per partition key, are ``ValidationResult.verdicts``,
the manifest append, the ``verdicts/`` file of ``write_results`` and the
row total that sizes the uniqueness join, so none of them runs the
aggregate again.  These tests catch the class of bookkeeping jobs and
leaks around it: collecting the verdicts starts no job, a run with a
``unique`` check leaves nothing persisted, the engine reads its own
outputs back under the schema it wrote, and the job count of a whole
run plus its result write is pinned.
"""

from __future__ import annotations

import pytest

from snowy_json_spark.engine import ValidationEngine
from snowy_json_spark.sources.pages import generate_pages, with_partition_cols
from snowy_json_spark.streaming.manifest import Manifest

SPEC = {
    "required": ["url", "lang"],
    "properties": {"lang": {"pattern": "^[a-z]{2}$"}},
    "x-table-checks": [{"id": "url_unique", "kind": "unique", "keys": ["url"]}],
}


@pytest.fixture(scope="module")
def pages(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("verdict_table") / "pages")
    with_partition_cols(generate_pages(spark, 2000, 8), url_buckets=4).write.parquet(path)
    return spark.read.parquet(path)


def _engine() -> ValidationEngine:
    return ValidationEngine(SPEC, id_cols=["url"], partition_cols=["lang"])


@pytest.mark.parametrize("with_manifest", [False, True], ids=["no_manifest", "manifest"])
@pytest.mark.parametrize("single_pass", [False, True], ids=["run", "run_single_pass"])
def test_verdicts_are_driver_rows(
    spark, pages, tmp_path, jobs_started, single_pass, with_manifest
):
    eng = _engine()
    manifest = Manifest(str(tmp_path / "manifest")) if with_manifest else None
    if single_pass:
        res = eng.run_single_pass(pages, str(tmp_path / "out"), manifest=manifest)
    else:
        res = eng.run(pages, manifest=manifest)
    rows = []
    assert jobs_started(lambda: rows.extend(res.verdicts.collect())) == []
    assert sum(r["row_count"] for r in rows) == pages.count()
    assert sorted(r["lang"] for r in rows) == sorted(
        r["lang"] for r in pages.select("lang").distinct().collect()
    )
    if with_manifest:
        recorded = {r["partition_key"]: r["row_count"] for r in manifest.read(spark).collect()}
        assert recorded == {r["lang"]: r["row_count"] for r in rows}


def test_unique_check_leaves_nothing_persisted(spark, pages, tmp_path):
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    eng = _engine()
    res = eng.run_single_pass(pages, str(tmp_path / "out"))
    eng.write_results(res, str(tmp_path / "out"))
    assert persisted().size() == before


def test_job_counts_are_pinned(pages, tmp_path, jobs_started):
    """Jobs of a run plus its result write, with a ``unique`` check.  A
    schema-inference read of the flagged table, a sizing count of the
    uniqueness candidates, a second verdict aggregate, a range sort of
    the verdicts or a Spark job for the manifest each moves these counts.
    The manifest is read and appended on the driver: the single pass
    dropped from 16 jobs to 15 when its append stopped being a Spark
    write (the manifest is empty here, so its read started none)."""
    eng = _engine()
    out = str(tmp_path / "single")
    manifest = Manifest(str(tmp_path / "manifest"))

    def single_pass():
        eng.write_results(eng.run_single_pass(pages, out, manifest=manifest), out)

    def lazy():
        eng.write_results(eng.run(pages), str(tmp_path / "lazy"))

    assert len(jobs_started(single_pass)) == 15
    assert len(jobs_started(lazy)) == 12


def test_outputs_read_back_under_the_written_schema(spark, pages, tmp_path):
    eng = _engine()
    out = str(tmp_path / "out")
    manifest = Manifest(str(tmp_path / "manifest"))
    eng.run_single_pass(pages, out, manifest=manifest)

    written = pages.select(*eng._flagged_projection(pages)).schema
    given = spark.read.schema(written).parquet(f"{out}/flagged")
    inferred = spark.read.parquet(f"{out}/flagged")
    assert given.schema == inferred.schema
    assert given.collect() == inferred.collect()

    assert manifest.read(spark).schema == spark.read.parquet(manifest.path).schema


def test_column_stats_ids_name_their_check(spark):
    """Two checks on one column with the same stat stay apart."""
    spec = {
        "x-table-checks": [
            {"id": "n_soft", "kind": "column_stats", "column": "n", "max_value": 5},
            {"id": "n_hard", "kind": "column_stats", "column": "n", "max_value": 7},
        ]
    }
    df = spark.sql("SELECT * FROM VALUES ('a', 1), ('b', 9) AS t(url, n)")
    res = ValidationEngine(spec, id_cols=["url"]).run(df)
    ids = sorted(r["constraint_id"] for r in res.table_violations.collect())
    assert ids == ["#/x-table-checks/n_hard/max_value", "#/x-table-checks/n_soft/max_value"]
    assert res.stats["n__max"] == 9


#: every scalar table check kind: two ``column_stats`` (one exact), one
#: ``quantile_drift`` and one ``tdigest_drift`` over a derived column
SCALAR_CHECKS = [
    {"id": "ts_stats", "kind": "column_stats", "column": "warc_ts", "max_null_rate": 0.0},
    {"id": "url_stats", "kind": "column_stats", "column": "url", "exact_distinct": True},
    {"id": "len_quantiles", "kind": "quantile_drift", "column": "text_len", "expr": "length(text)"},
    {"id": "len_tdigest", "kind": "tdigest_drift", "column": "text_len", "expr": "length(text)"},
]
SCALAR_SPEC = {**SPEC, "x-table-checks": SCALAR_CHECKS}
BARE_SPEC = {**SPEC, "x-table-checks": []}


def _scalar_engine(spec: dict = SCALAR_SPEC) -> ValidationEngine:
    return ValidationEngine(spec, id_cols=["url"], partition_cols=["lang"])


@pytest.fixture(scope="module")
def snapshot(pages):
    return _scalar_engine().collect_snapshot(pages)


def test_scalar_checks_share_one_aggregate(pages, snapshot, tmp_path, jobs_started):
    """All four scalar checks are read off one global aggregate: a run
    with them starts the jobs of a run with none plus those of one
    ``agg(...).first()`` holding a ``count(DISTINCT)`` (3 jobs: the
    distinct adds a shuffle stage), on both paths."""
    from pyspark.sql import functions as F

    one_agg = len(jobs_started(
        lambda: pages.agg(F.count(F.lit(1)), F.count_distinct("url")).first()
    ))
    counts = {}
    for name, call in [
        ("lazy", lambda eng, out: eng.run(pages, snapshot=snapshot)),
        ("single", lambda eng, out: eng.run_single_pass(pages, out, snapshot=snapshot)),
    ]:
        bare = len(jobs_started(lambda: call(_scalar_engine(BARE_SPEC), str(tmp_path / name / "bare"))))
        scalar = len(jobs_started(lambda: call(_scalar_engine(), str(tmp_path / name / "scalar"))))
        assert scalar - bare == one_agg, name
        counts[name] = (bare, scalar)
    assert one_agg == 3
    assert counts == {"lazy": (2, 5), "single": (3, 6)}


def test_run_and_single_pass_agree_on_scalar_checks(pages, snapshot, tmp_path):
    eng = _scalar_engine()
    lazy = eng.run(pages, snapshot=snapshot)
    single = eng.run_single_pass(pages, str(tmp_path / "out"), snapshot=snapshot)
    assert lazy.stats == single.stats
    assert lazy.drift == single.drift
    assert single.stats["url__distinct"] == pages.select("url").distinct().count()
    assert {v["check_id"]: v["status"] for v in single.drift} == {
        "len_quantiles": "pass",
        "len_tdigest": "pass",
    }


@pytest.mark.parametrize("single_pass", [False, True], ids=["run", "run_single_pass"])
def test_scalar_checks_on_an_empty_input(pages, snapshot, tmp_path, single_pass):
    eng = _scalar_engine()
    empty = pages.filter("false")
    if single_pass:
        res = eng.run_single_pass(empty, str(tmp_path / "out"), snapshot=snapshot)
    else:
        res = eng.run(empty, snapshot=snapshot)
    assert res.stats["warc_ts__count"] == res.stats["url__count"] == 0
    assert res.stats["url__distinct"] == 0
    assert res.stats["warc_ts__min"] is None and res.stats["url__null_rate"] is None
    drift = {v["check_id"]: v for v in res.drift}
    assert drift["len_tdigest"]["status"] == "missing_current"
    assert drift["len_quantiles"]["status"] == "missing_current"
    assert drift["len_quantiles"]["quantiles"] == {}


def test_scalar_checks_on_an_all_null_column(pages, snapshot, tmp_path):
    from pyspark.sql import functions as F

    nulls = pages.withColumns(
        {"warc_ts": F.lit(None).cast("timestamp"), "text": F.lit(None).cast("string")}
    )
    res = _scalar_engine().run_single_pass(nulls, str(tmp_path / "out"), snapshot=snapshot)
    assert res.stats["warc_ts__null_rate"] == 1.0
    assert res.stats["warc_ts__min"] is None and res.stats["warc_ts__max"] is None
    assert res.stats["warc_ts__distinct"] == 0
    statuses = {v["check_id"]: v["status"] for v in res.drift}
    assert statuses == {"len_quantiles": "missing_current", "len_tdigest": "missing_current"}
    ids = [r["constraint_id"] for r in res.table_violations.collect()]
    assert ids == ["#/x-table-checks/ts_stats/max_null_rate"]
