"""tdigest_drift table-check: snapshot → compare → pass/fail verdict
through the full engine surface."""

from __future__ import annotations

import numpy as np
import pytest

from snowy_json_spark.operators.drift import GRID_FORMAT, GRID_PROBS
from snowy_json_spark.plans.compiler import SpecError


def _engine(spec_checks):
    from snowy_json_spark.engine import ValidationEngine

    return ValidationEngine(
        {"properties": {}, "x-table-checks": spec_checks}, id_cols=["id"]
    )


def _df(spark, scale=1.0, n=20_000, seed=5):
    vals = np.random.default_rng(seed).lognormal(0.0, 1.0, size=n) * scale
    return spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "id long, x double"
    ).repartition(4)


CHECKS = [{"id": "x_tdigest", "kind": "tdigest_drift", "column": "x", "ks_fail": 0.2}]


def test_same_distribution_passes(spark):
    eng = _engine(CHECKS)
    snap = eng.collect_snapshot(_df(spark, seed=5))
    res = eng.run(_df(spark, seed=6), snapshot=snap)
    d = [v for v in res.drift if v["check_id"] == "x_tdigest"]
    assert len(d) == 1
    assert d[0]["status"] == "pass"
    assert d[0]["ks"] < 0.05


def test_shifted_distribution_fails(spark):
    eng = _engine(CHECKS)
    snap = eng.collect_snapshot(_df(spark, seed=5))
    res = eng.run(_df(spark, scale=4.0, seed=6), snapshot=snap)
    d = [v for v in res.drift if v["check_id"] == "x_tdigest"]
    assert d[0]["status"] == "fail"
    assert d[0]["ks"] > 0.2


def test_snapshot_roundtrips_as_json(spark, tmp_path):
    from snowy_json_spark.engine import ValidationEngine

    eng = _engine(CHECKS)
    snap = eng.collect_snapshot(_df(spark))
    p = str(tmp_path / "snap.json")
    ValidationEngine.save_snapshot(snap, p)
    loaded = ValidationEngine.load_snapshot(p)
    assert loaded == snap
    entry = loaded["x_tdigest"]
    assert entry["format"] == GRID_FORMAT
    assert entry["n"] == 20_000
    assert len(entry["grid"]) == len(GRID_PROBS)
    assert entry["grid"] == sorted(entry["grid"])


def test_single_pass_projects_tdigest_input(spark, tmp_path):
    """run_single_pass must project the tdigest_drift expr column into
    the flagged table so the check runs off the narrow projection."""
    checks = [
        {
            "id": "xlen_tdigest",
            "kind": "tdigest_drift",
            "column": "x2",
            "expr": "x * 2",
            "ks_fail": 0.2,
        }
    ]
    eng = _engine(checks)
    snap = eng.collect_snapshot(_df(spark, seed=5))
    res = eng.run_single_pass(
        _df(spark, seed=6), str(tmp_path / "out"), snapshot=snap
    )
    d = [v for v in res.drift if v["check_id"] == "xlen_tdigest"]
    assert d[0]["status"] == "pass"


def test_missing_column_values(spark):
    """All-null current column with a VALID baseline → missing_current."""
    eng = _engine(CHECKS)
    snap = eng.collect_snapshot(_df(spark, seed=5))
    df = spark.createDataFrame([(1, None), (2, None)], "id long, x double")
    res = eng.run(df, snapshot=snap)
    d = [v for v in res.drift if v["check_id"] == "x_tdigest"]
    assert d[0]["status"] == "missing_current"


def test_absent_snapshot_entry_is_not_a_pass(spark):
    """No baseline entry (typo'd id / empty snapshot) must surface as
    missing_snapshot, never a silent KS=0 self-compare pass (round-3
    ADVICE)."""
    eng = _engine(CHECKS)
    for snapshot in ({}, None, {"wrong_id": {"n": 5}}):
        res = eng.run(_df(spark, n=2_000), snapshot=snapshot)
        d = [v for v in res.drift if v["check_id"] == "x_tdigest"]
        assert d[0]["status"] == "missing_snapshot"
        assert d[0]["ks"] is None


#: the t-digest snapshot entry older releases wrote
OLD_DIGEST = {"means": [1.0, 2.0], "weights": [1.0, 1.0], "n": 2, "lo": 1.0, "hi": 2.0}


@pytest.mark.parametrize("entry", ["run", "run_single_pass", "stream_tdigest_drift"])
def test_old_snapshot_format_raises(spark, tmp_path, entry):
    """A baseline entry without the grid format tag (the t-digest shape
    included) must fail loudly, naming the check — never read as
    missing_snapshot or compare into a KS=0 pass."""
    snapshot = {"x_tdigest": OLD_DIGEST}
    with pytest.raises(SpecError, match="x_tdigest"):
        if entry == "stream_tdigest_drift":
            from snowy_json_spark.streaming.stateful import stream_tdigest_drift

            stream = spark.readStream.format("rate").load().selectExpr(
                "'x_tdigest' AS k", "CAST(value AS DOUBLE) AS x"
            )
            stream_tdigest_drift(stream, "x", "k", snapshot)
        elif entry == "run":
            _engine(CHECKS).run(_df(spark, n=2_000), snapshot=snapshot)
        else:
            _engine(CHECKS).run_single_pass(
                _df(spark, n=2_000), str(tmp_path / "out"), snapshot=snapshot
            )


def test_single_pass_metrics_byte_stable(spark, tmp_path):
    """Two back-to-back run_single_pass + write_results calls on the same
    input write byte-identical metrics.json, tdigest_drift KS included."""
    eng = _engine(CHECKS)
    snap = eng.collect_snapshot(_df(spark, seed=5))
    written = []
    for rep in ("a", "b"):
        out = str(tmp_path / rep)
        res = eng.run_single_pass(_df(spark, seed=6), out + "/work", snapshot=snap)
        assert [v["status"] for v in res.drift] == ["pass"]
        eng.write_results(res, out)
        written.append((tmp_path / rep / "metrics.json").read_bytes())
    assert written[0] == written[1]
