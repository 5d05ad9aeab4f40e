"""Custom stateful streaming operator via ``applyInPandasWithState``.

Pattern for operators Spark's built-in streaming aggregations can't
express: arbitrary per-key state updated in Arrow batches.  The
shipped example keeps a **running validation profile per key** (total
rows, failed rows, violation rate since stream start) — unlike a
windowed aggregate, the state never resets, and unlike
``outputMode('complete')`` aggregation, state size is one tuple per
key, not per (key, window).

The running-quantile operators (``running_tdigest``,
``stream_tdigest_drift``) need no custom state: they are plain streaming
``groupBy(key)`` aggregations over ``percentile_approx``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.drift import GRID_PROBS, checked_grid, grid_ks
from ..plans.compiler import Options, compile_spec

OUTPUT_SCHEMA = "key string, total long, failed long, violation_rate double"
STATE_SCHEMA = "total long, failed long"


def running_violation_stats(
    stream_df: DataFrame,
    spec: dict,
    key_col: str,
    options: Options | None = None,
) -> DataFrame:
    """Per-key running (total, failed, violation_rate) over the whole
    stream lifetime.  Row checks compile to the same Column plan as
    batch (verdict-only mode); only the tiny per-key counters live in
    the state store."""
    plan = compile_spec(spec, stream_df.schema, options, collect=False)
    flagged = stream_df.select(
        F.col(key_col).cast("string").alias("key"),
        F.coalesce(plan.valid, F.lit(False)).alias("_passed"),
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        total, failed = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            total += len(pdf)
            failed += int((~pdf["_passed"]).sum())
        state.update((total, failed))
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "total": [total],
                "failed": [failed],
                "violation_rate": [failed / total if total else 0.0],
            }
        )

    return flagged.groupBy("key").applyInPandasWithState(
        update,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def _keyed_values(stream_df: DataFrame, value_col: str, key_col: str) -> DataFrame:
    return stream_df.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(F.col("_v").isNotNull())


def running_tdigest(stream_df: DataFrame, value_col: str, key_col: str) -> DataFrame:
    """Per-key running quantiles over the whole stream lifetime:
    emits (key, n, lo, hi, p50, p99) for every key a batch updates.

    The windowless analog of percentile monitoring: a plain streaming
    ``groupBy(key)`` aggregation (run it in ``update`` mode) whose state
    per key is the ``percentile_approx`` sketch — never the values — so
    a key that has seen 10^9 rows costs about the same state as one that
    has seen 10^3.  Keys with no non-null values emit nothing."""
    return (
        _keyed_values(stream_df, value_col, key_col)
        .groupBy("key")
        .agg(
            F.count("_v").alias("n"),
            F.min("_v").alias("lo"),
            F.max("_v").alias("hi"),
            F.percentile_approx("_v", [0.5, 0.99], 10000).alias("_q"),
        )
        .select(
            "key", "n", "lo", "hi",
            F.col("_q")[0].alias("p50"), F.col("_q")[1].alias("p99"),
        )
    )


def stream_tdigest_drift(
    stream_df: DataFrame,
    value_col: str,
    key_col: str,
    snapshot: dict,
    ks_fail: float = 0.2,
) -> DataFrame:
    """Streaming drift verdicts: a per-key running quantile grid compared
    against a reference snapshot grid after every batch —
    (key, n, ks, status) with status pass / fail / missing_snapshot.

    The streaming closure of the batch ``tdigest_drift`` table check:
    ``snapshot`` maps each key to a ``collect_snapshot``-format grid
    entry (a stale entry of any other format raises ``SpecError`` here,
    before the stream starts), broadcast by closure capture.  The grid
    is a streaming ``groupBy(key)`` aggregation (``update`` mode); the
    KS against the key's reference is the batch check's ``grid_ks``."""
    entries = {k: checked_grid(v, k) for k, v in snapshot.items()}
    refs = {k: e["grid"] for k, e in entries.items() if e["n"]}

    @F.udf("double")
    def ks(key, grid):
        ref = refs.get(key)
        return None if ref is None else grid_ks(grid, ref)

    grids = (
        _keyed_values(stream_df, value_col, key_col)
        .groupBy("key")
        .agg(
            F.count("_v").alias("n"),
            F.percentile_approx("_v", GRID_PROBS, 10000).alias("_grid"),
        )
        .select("key", "n", ks("key", "_grid").alias("ks"))
    )
    return grids.select(
        "key",
        "n",
        "ks",
        F.when(F.col("ks").isNull(), "missing_snapshot")
        .when(F.col("ks") >= ks_fail, "fail")
        .otherwise("pass")
        .alias("status"),
    )
