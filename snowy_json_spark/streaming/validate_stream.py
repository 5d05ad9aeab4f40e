"""Structured Streaming validation.

Snow is strictly batch (one document per ``validate()`` call); the
engine's compiled row plan is a pure Column expression, so it applies
to a **streaming** DataFrame unchanged — micro-batches evaluate the
same whole-stage-codegen checks.  This module wires that up:

- :func:`stream_verdicts` / :func:`stream_violations`: transform a
  streaming DF into a verdict / violation stream.
- :func:`stream_partition_verdicts`: windowed per-(event-time window,
  partition) verdicts with a watermark for late data — the streaming
  analog of per-partition verdicts.

Table-scope checks that need global state (uniqueness, drift) stay in
the batch layer (checkpoint-manifest resume covers incremental runs) —
the honest cut for 10^12-row tables, where streaming global dedup would
need unbounded state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.compiler import Options, compile_spec
from ..plans.report import verdict_aggs, violations, with_verdict


def stream_verdicts(stream_df: DataFrame, spec: dict, options: Options | None = None) -> DataFrame:
    plan = compile_spec(spec, stream_df.schema, options)
    return with_verdict(stream_df, plan)


def stream_violations(
    stream_df: DataFrame, spec: dict, id_cols: list[str], options: Options | None = None
) -> DataFrame:
    return violations(stream_df, compile_spec(spec, stream_df.schema, options), id_cols)


def stream_partition_verdicts(
    stream_df: DataFrame,
    spec: dict,
    ts_col: str,
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
    partition_cols: list[str] | None = None,
    options: Options | None = None,
) -> DataFrame:
    """Per-(event-time window, partition) verdict with late-data bound.

    Watermark + windowed agg = bounded state; counts and pass/fail per
    window are emitted once the watermark passes."""
    plan = compile_spec(spec, stream_df.schema, options)
    valid = F.coalesce(plan.valid, F.lit(False))
    keys = [F.window(F.col(ts_col), window_duration).alias("window")] + [
        F.col(c) for c in (partition_cols or [])
    ]
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(*keys)
        .agg(*verdict_aggs(valid))
    )
