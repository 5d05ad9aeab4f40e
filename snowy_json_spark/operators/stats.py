"""Per-column statistics checks (table scope).

Snow's row-scope presence/bounds/distinctness keywords
(`keywords/Required.java`, `Maximum.java`, `UniqueItems.java`) lifted to
column scope per the north rule: null rate, min/max, distinct count,
length stats — all in **one single-pass aggregation** (map-side partial
agg + one reduce of a single row; no shuffle of data rows).

Distinct counts use HyperLogLog sketches (``hll_sketch_agg`` /
``approx_count_distinct``) — mergeable per partition, constant memory,
the only strategy that survives 10^12 rows.  Exact mode exists for
oracle tests at small scale.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType, StringType


@dataclass
class ColumnStatsSpec:
    """Which stats to compute per column, with optional thresholds."""

    column: str
    max_null_rate: float | None = None
    min_value: float | str | None = None
    max_value: float | str | None = None
    min_distinct: int | None = None
    max_distinct: int | None = None
    exact_distinct: bool = False  # True only for small-scale oracle tests


def stats_exprs(df: DataFrame, spec: ColumnStatsSpec, prefix: str = "") -> list[Column]:
    """Global aggregates of ``spec.column``, named
    ``<prefix><column>__<stat>``."""
    c = F.col(spec.column)
    name = f"{prefix}{spec.column}__"
    out = [
        F.count(F.lit(1)).alias(f"{name}count"),
        F.avg(c.isNull().cast("double")).alias(f"{name}null_rate"),
        F.min(c).alias(f"{name}min"),
        F.max(c).alias(f"{name}max"),
    ]
    if spec.exact_distinct:
        out.append(F.count_distinct(c).alias(f"{name}distinct"))
    else:
        out.append(F.approx_count_distinct(c).alias(f"{name}distinct"))
    dt = df.schema[spec.column].dataType
    if isinstance(dt, StringType):
        out.append(F.avg(F.length(c)).alias(f"{name}avg_length"))
        out.append(F.max(F.length(c)).alias(f"{name}max_length"))
    elif isinstance(dt, NumericType):
        out.append(F.avg(c).alias(f"{name}avg"))
        out.append(F.stddev_samp(c).alias(f"{name}stddev"))
    return out


def column_stats(
    df: DataFrame, specs: list[ColumnStatsSpec], group_by: list[str] | None = None
) -> DataFrame:
    """One aggregation pass over every requested column.

    With ``group_by`` (e.g. partition columns) the same pass yields
    per-partition stats — partial aggregation means one shuffled row
    per group, not per input row."""
    exprs: list[Column] = []
    for s in specs:
        exprs.extend(stats_exprs(df, s))
    if group_by:
        return df.groupBy(*group_by).agg(*exprs)
    return df.agg(*exprs)


def stats_violations(
    stats_row: dict, specs: list[ColumnStatsSpec], check_id: str
) -> list[dict]:
    """Driver-side threshold evaluation on the (tiny) aggregated result.

    Returns violation dicts (constraint_id, instance_path,
    observed_value) matching the row-scope violation shape; the
    constraint id is ``#/x-table-checks/<check_id>/<stat>``, the shape
    schema contracts use, so two checks on one column stay apart."""
    out = []
    for s in specs:
        def _emit(kind: str, observed):
            out.append(
                {
                    "constraint_id": f"#/x-table-checks/{check_id}/{kind}",
                    "instance_path": f"/{s.column}",
                    "observed_value": str(observed),
                }
            )

        nr = stats_row.get(f"{s.column}__null_rate")
        if s.max_null_rate is not None and nr is not None and nr > s.max_null_rate:
            _emit("max_null_rate", nr)
        mn = stats_row.get(f"{s.column}__min")
        if s.min_value is not None and mn is not None and mn < s.min_value:
            _emit("min_value", mn)
        mx = stats_row.get(f"{s.column}__max")
        if s.max_value is not None and mx is not None and mx > s.max_value:
            _emit("max_value", mx)
        d = stats_row.get(f"{s.column}__distinct")
        if s.min_distinct is not None and d is not None and d < s.min_distinct:
            _emit("min_distinct", d)
        if s.max_distinct is not None and d is not None and d > s.max_distinct:
            _emit("max_distinct", d)
    return out


@dataclass
class HllSketches:
    """Mergeable HLL sketches per column — the re-aggregatable form.

    ``hll_sketch_agg`` (Spark ≥3.5) produces binary sketches that union
    with ``hll_union_agg``: per-partition sketches computed incrementally
    (e.g. per checkpoint-manifest batch) merge to table totals without
    rescanning — required for resumable runs at 10^12 rows."""

    columns: list[str] = field(default_factory=list)

    def per_group(self, df: DataFrame, group_by: list[str]) -> DataFrame:
        exprs = [
            F.hll_sketch_agg(F.col(c)).alias(f"{c}__hll") for c in self.columns
        ]
        return df.groupBy(*group_by).agg(*exprs)

    def merge(self, sketches: DataFrame) -> DataFrame:
        exprs = [
            F.hll_sketch_estimate(F.hll_union_agg(F.col(f"{c}__hll"))).alias(
                f"{c}__distinct"
            )
            for c in self.columns
        ]
        return sketches.agg(*exprs)


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Snapshot-to-snapshot corpus diff — what changed between crawl
    versions: one row per document id present in either snapshot with
    ``status`` ∈ added / removed / changed / unchanged plus both
    content hashes.  The crawl-ops primitive behind incremental
    reprocessing (only ``added``/``changed`` docs re-enter the
    pipeline) and behind drift triage (a spike in ``removed`` means
    the fetcher, not the data, changed).

    Plan: each side reduces to (id, md5) — text never crosses the
    join — then one full-outer hash join on the id.  Content equality
    is md5 over the utf-8 bytes; null text hashes to null and
    compares null-safely (null == null counts as unchanged)."""
    # membership, not hash nullness, decides added/removed: a document
    # with null text still EXISTS in its snapshot
    o = old.select(
        F.col(id_col),
        F.lit(True).alias("_in_old"),
        F.md5(F.encode(F.col(text_col), "UTF-8")).alias("old_md5"),
    )
    nw = new.select(
        F.col(id_col),
        F.lit(True).alias("_in_new"),
        F.md5(F.encode(F.col(text_col), "UTF-8")).alias("new_md5"),
    )
    joined = o.join(nw, id_col, "full_outer")
    return joined.select(
        id_col,
        F.when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("old_md5").eqNullSafe(F.col("new_md5")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
        "old_md5",
        "new_md5",
    )
