"""tdigest_drift quantile grid (``percentile_approx`` at 0, 0.001, ..., 1):
accuracy vs exact quantiles, agreement across partition layouts, exact
endpoints, and the grid KS drift statistic."""

from __future__ import annotations

import numpy as np
import pytest

from snowy_json_spark.operators.drift import (
    GRID_FORMAT,
    GRID_PROBS,
    grid_ks,
    grid_snapshot,
    quantiles,
)

PROBS = [0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99, 0.999]


def _lognormal(n: int, seed: int = 7) -> np.ndarray:
    return np.random.default_rng(seed).lognormal(mean=0.0, sigma=1.5, size=n)


def _rank_error(values: np.ndarray, estimate: float, q: float) -> float:
    """|empirical CDF at the estimate − q| — the sketch guarantee is on
    rank, not value."""
    return abs(np.searchsorted(np.sort(values), estimate) / len(values) - q)


def _grid(df, column: str = "x") -> dict:
    return grid_snapshot(quantiles(df, column, GRID_PROBS).first())


def _at(grid: list[float], q: float) -> float:
    return grid[round(q * (len(grid) - 1))]


@pytest.fixture(scope="module")
def skewed_df(spark):
    vals = _lognormal(50_000)
    df = spark.createDataFrame(
        [(float(v),) for v in vals], "x double"
    ).repartition(8)
    return df, vals


def test_quantile_rank_accuracy(skewed_df):
    df, vals = skewed_df
    snap = _grid(df)
    assert snap["format"] == GRID_FORMAT and len(snap["grid"]) == len(GRID_PROBS)
    for q in PROBS:
        e = _at(snap["grid"], q)
        # relative rank error: tight at the tails, loose mid-stream
        tol = max(0.005, 0.02 * min(q, 1 - q) / 0.25)
        assert _rank_error(vals, e, q) <= tol, (q, e)


def test_same_result_across_partitionings(skewed_df):
    df, vals = skewed_df
    one, eight = _grid(df.repartition(1)), _grid(df.repartition(8))
    assert one["n"] == eight["n"] == len(vals)
    # the merge order differs, so interior values may move within the
    # sketch's rank error — never further, and never at the endpoints
    assert (one["grid"][0], one["grid"][-1]) == (eight["grid"][0], eight["grid"][-1])
    assert grid_ks(one["grid"], eight["grid"]) <= 0.002
    for q in PROBS:
        assert _rank_error(vals, _at(one["grid"], q), q) <= 0.01
        assert _rank_error(vals, _at(eight["grid"], q), q) <= 0.01


def test_endpoints_exact(skewed_df):
    df, vals = skewed_df
    grid = _grid(df)["grid"]
    assert grid[0] == pytest.approx(vals.min())
    assert grid[-1] == pytest.approx(vals.max())


def test_nulls_skipped(spark):
    df = spark.createDataFrame(
        [(1.0,), (None,), (2.0,), (None,), (3.0,)], "x double"
    )
    snap = _grid(df)
    assert snap["n"] == 3
    assert snap["grid"][0] == 1.0 and snap["grid"][-1] == 3.0


def test_ks_drift_statistic(spark):
    a_vals = _lognormal(30_000, seed=1)
    b_same = _lognormal(30_000, seed=2)
    # theoretical KS for a ×c scale on lognormal(σ) is 2Φ(ln c / 2σ) − 1:
    # ×3 with σ=1.5 gives ≈0.29, comfortably past ks_fail=0.2
    b_shift = a_vals * 3.0

    def mk(v):
        return _grid(spark.createDataFrame([(float(x),) for x in v], "x double"))["grid"]

    a = mk(a_vals)
    same = grid_ks(a, mk(b_same))
    shift = grid_ks(a, mk(b_shift))
    assert same < 0.02  # same distribution → tiny sup-gap
    assert shift > 0.2  # tripled scale → large, fails DriftThresholds.ks_fail


def test_quantiles_empty_column_raises(spark):
    df = spark.createDataFrame([(None,), (None,)], "x double")
    snap = _grid(df)
    assert snap["n"] == 0 and snap["grid"] == []
    with pytest.raises(ValueError, match="no non-null values"):
        grid_ks(snap["grid"], [0.0, 1.0])
