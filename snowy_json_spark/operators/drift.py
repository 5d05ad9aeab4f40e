"""Distribution-drift detection (table scope, north rule).

No Snow analog (SURVEY.md §2.9) — new capability: compare the current
table's distributions against a reference snapshot with PSI / KS
thresholds.

Scale design:
- Histograms are fixed-bucket (``floor((x - lo) / width)``) so they
  aggregate with one partial-agg shuffle of at most ``n_buckets`` rows
  per group — mergeable across partitions and across resumable runs.
  (Deliberately floor-arithmetic, not ``width_bucket``, so the DuckDB
  oracle can evaluate the identical expression.)
- Quantiles via ``percentile_approx`` (single-pass, mergeable GK
  sketch) — the one quantile mechanism.  ``quantile_drift`` compares
  values at a few probabilities; ``tdigest_drift`` (and its streaming
  twins in streaming/stateful.py) stores the full grid at 0, 0.001, ...,
  1 and compares two grids by KS (``grid_ks``).  The grid is exact at
  the min and max and deterministic run to run, so ``metrics.json``
  stays byte-stable.
- PSI/KS are computed **driver-side with numpy on the tiny aggregated
  histograms** — never on raw rows.  The reference snapshot is a few
  KB and rides along as a broadcast/local dict.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.compiler import SpecError

#: ``tdigest_drift`` snapshots: ``percentile_approx`` at 0, 0.001, ..., 1
GRID_PROBS = [i / 1000 for i in range(1001)]
GRID_FORMAT = "quantile-grid-v1"


@dataclass
class HistogramSpec:
    column: str
    lo: float
    hi: float
    n_buckets: int = 20

    @property
    def width(self) -> float:
        return (self.hi - self.lo) / self.n_buckets


def bucket_expr(spec: HistogramSpec, col: Column | None = None) -> Column:
    """Clamped bucket index 0..n_buckets-1 (floor arithmetic — DuckDB-
    oracle-expressible as the same formula)."""
    c = col if col is not None else F.col(spec.column)
    raw = F.floor((c - F.lit(spec.lo)) / F.lit(spec.width))
    return F.least(F.greatest(raw, F.lit(0)), F.lit(spec.n_buckets - 1))


def histogram(
    df: DataFrame, spec: HistogramSpec, group_by: list[str] | None = None
) -> DataFrame:
    """(group..., bucket, bucket_count) — one partial-agg shuffle."""
    keys = (group_by or []) + ["bucket"]
    return (
        df.filter(F.col(spec.column).isNotNull())
        .select(*(group_by or []), bucket_expr(spec).alias("bucket"))
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("bucket_count"))
    )


def quantiles(
    df: DataFrame, column: str, probs: list[float], accuracy: int = 10000
) -> DataFrame:
    """One row: the non-null count ``n`` and ``percentile_approx`` at
    ``probs`` (null on an empty column)."""
    return df.agg(
        F.count(F.col(column)).alias("n"),
        F.percentile_approx(F.col(column), probs, accuracy).alias("quantiles"),
    )


# ---------------------------------------------------------------------------
# Driver-side statistics on aggregated histograms (numpy, tiny inputs)
# ---------------------------------------------------------------------------


def psi(expected: list[float], actual: list[float], eps: float = 1e-6) -> float:
    """Population Stability Index between two bucket-count vectors."""
    te, ta = sum(expected), sum(actual)
    if te <= 0 or ta <= 0:
        return 0.0
    out = 0.0
    for e, a in zip(expected, actual):
        pe = max(e / te, eps)
        pa = max(a / ta, eps)
        out += (pa - pe) * math.log(pa / pe)
    return out


def ks_statistic(expected: list[float], actual: list[float]) -> float:
    """Two-sample KS statistic on binned data (max CDF gap)."""
    te, ta = sum(expected), sum(actual)
    if te <= 0 or ta <= 0:
        return 0.0
    ce = ca = 0.0
    best = 0.0
    for e, a in zip(expected, actual):
        ce += e / te
        ca += a / ta
        best = max(best, abs(ce - ca))
    return best


def grid_ks(a: list[float], b: list[float]) -> float:
    """Two-sample KS statistic between two quantile grids (values at
    evenly spaced probabilities 0..1, as in a ``tdigest_drift``
    snapshot).  Each grid is read as the step CDF F(x) = max{p : q_p <= x},
    which is within one grid step of the true CDF, ties included; the sup
    gap is taken over every grid value, where the steps change."""
    if not len(a) or not len(b):
        raise ValueError("grid_ks: no non-null values")
    xs = np.union1d(a, b)

    def cdf(q: list[float]) -> np.ndarray:
        below = np.searchsorted(np.asarray(q, dtype="float64"), xs, side="right")
        return np.maximum(below - 1, 0) / (len(q) - 1)

    return float(np.max(np.abs(cdf(a) - cdf(b))))


@dataclass
class DriftThresholds:
    psi_warn: float = 0.1
    psi_fail: float = 0.25
    ks_fail: float = 0.2


def drift_verdicts(
    current_hist: dict[str, list[float]],
    snapshot_hist: dict[str, list[float]],
    thresholds: DriftThresholds | None = None,
) -> list[dict]:
    """Compare per-group histograms (dict: group-key → bucket counts).

    Returns one verdict dict per group present in either side."""
    t = thresholds or DriftThresholds()
    out = []
    for key in sorted(set(current_hist) | set(snapshot_hist)):
        cur = current_hist.get(key)
        snap = snapshot_hist.get(key)
        if cur is None or snap is None:
            out.append(
                {
                    "group": key,
                    "psi": None,
                    "ks": None,
                    "status": "missing_current" if cur is None else "missing_snapshot",
                }
            )
            continue
        p = psi(snap, cur)
        k = ks_statistic(snap, cur)
        status = "pass"
        if p >= t.psi_fail or k >= t.ks_fail:
            status = "fail"
        elif p >= t.psi_warn:
            status = "warn"
        out.append({"group": key, "psi": p, "ks": k, "status": status})
    return out


def quantile_drift_verdict(
    current: dict[str, float],
    snapshot: dict[str, float],
    rel_tolerance: float = 0.1,
) -> dict:
    """Compare per-probability quantile values with a relative tolerance.

    Quantile sketches (GK via ``percentile_approx``) are the compact,
    mergeable snapshot form for heavy-tailed columns where fixed-bucket
    histograms lose the tail."""
    worst = 0.0
    worst_p = None
    for p, snap_v in snapshot.items():
        cur_v = current.get(p)
        if cur_v is None:
            continue
        denom = max(abs(snap_v), 1e-12)
        rel = abs(cur_v - snap_v) / denom
        if rel > worst:
            worst, worst_p = rel, p
    return {
        "max_rel_diff": worst,
        "at_quantile": worst_p,
        "status": "fail" if worst > rel_tolerance else "pass",
    }


def collect_quantiles(
    df: DataFrame, column: str, probs: list[float], accuracy: int = 10000
) -> dict[str, float]:
    row = quantiles(df.filter(F.col(column).isNotNull()), column, probs, accuracy).collect()[0]
    vals = row["quantiles"] or []
    return {str(p): float(v) for p, v in zip(probs, vals)}


def grid_snapshot(row) -> dict:
    """``tdigest_drift`` snapshot entry from a collected ``quantiles``
    row over ``GRID_PROBS``: JSON-serializable and tagged with
    ``GRID_FORMAT``."""
    return {
        "format": GRID_FORMAT,
        "n": int(row["n"]),
        "grid": [float(v) for v in row["quantiles"] or []],
    }


def checked_grid(entry, name: str) -> dict:
    """``entry`` if it is a ``GRID_FORMAT`` snapshot; any other shape (a
    t-digest ``{means, weights, n, lo, hi}`` from older releases, say)
    raises ``SpecError`` naming the entry, so a stale baseline can never
    read as missing or as a KS=0 pass."""
    if not isinstance(entry, dict) or entry.get("format") != GRID_FORMAT:
        raise SpecError(
            f"snapshot entry {name!r} is not a {GRID_FORMAT} quantile grid; "
            "collect the snapshot again"
        )
    return entry


def collect_histogram(
    df: DataFrame, spec: HistogramSpec, group_col: str | None = None
) -> dict[str, list[float]]:
    """Materialize a (tiny) histogram DataFrame into the driver-side
    dict shape drift_verdicts expects."""
    group_by = [group_col] if group_col else []
    rows = histogram(df, spec, group_by).collect()
    out: dict[str, list[float]] = {}
    for r in rows:
        key = str(r[group_col]) if group_col else "_all"
        buckets = out.setdefault(key, [0.0] * spec.n_buckets)
        buckets[int(r["bucket"])] = float(r["bucket_count"])
    return out
