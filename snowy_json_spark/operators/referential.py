"""Referential-integrity checks (table scope).

Snow's `enum` (`keywords/Enum.java:40-49`) lifted to table scope: a
column's values must exist in a reference dimension (north rule:
"referential checks via broadcast/sort-merge anti-joins").

Scale design — the dim's size picks the join, by Spark's own rule
(``sources.tables.broadcastable``: a known size estimate within
``spark.sql.autoBroadcastJoinThreshold``):
- Small dims (language codes, host allowlists — KBs to the threshold)
  are **broadcast**: the anti-join becomes a map-side hash probe, zero
  shuffle of the fact table.
- Larger dims, and dims Spark cannot size, are reduced to their
  distinct keys and left unhinted: a shuffle anti-join whose dim side
  is one row per key, however many duplicates the dim holds; AQE's
  skew-join splitting handles hot foreign keys (e.g. lang='en' at 60%).
- ``LEFT ANTI`` returns violating fact rows directly — no count-then-
  filter double scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.tables import broadcastable


def anti_join_violations(
    fact: DataFrame,
    fact_key: str,
    dim: DataFrame,
    dim_key: str,
    ignore_nulls: bool = True,
) -> DataFrame:
    """Fact rows whose key is absent from the dimension.

    The broadcast path does NOT pre-distinct the dim: the broadcast
    hash-relation build dedups keys anyway, and the ``distinct`` was a
    full extra shuffle stage before the broadcast could be built —
    measured 1.64 s → 0.86 s on the 1.5M-key orders dim at sf1.0 (r06,
    guide §2.4 "remove shuffles outright").  The broadcast is bounded by
    the dim's own size, duplicates included, which the size rule keeps
    within the broadcast threshold.  The shuffle path keeps the
    distinct: there it bounds the dim-side shuffle to one row per key."""
    d = dim.select(F.col(dim_key).alias("__ref_key"))
    d = F.broadcast(d) if broadcastable(d) else d.distinct()
    out = fact.join(d, fact[fact_key] == d["__ref_key"], "left_anti")
    if ignore_nulls:
        # SQL semantics: NULL FK is a presence question (required), not a
        # referential one; also anti-join would always emit NULL keys
        out = out.filter(F.col(fact_key).isNotNull())
    return out


def referential_violations(
    fact: DataFrame,
    fact_key: str,
    dim: DataFrame,
    dim_key: str,
    constraint_id: str,
    id_cols: list[str],
) -> DataFrame:
    """Violation rows in the engine's standard shape."""
    bad = anti_join_violations(fact, fact_key, dim, dim_key)
    return bad.select(
        *id_cols,
        F.lit(constraint_id).alias("constraint_id"),
        F.lit(f"/{fact_key}").alias("instance_path"),
        F.col(fact_key).cast("string").alias("observed_value"),
    )


def membership_check_broadcast_set(
    df: DataFrame, column: str, allowed: list[str], constraint_id: str, id_cols: list[str]
) -> DataFrame:
    """Tiny reference sets (≲ a few thousand literals) skip the join
    entirely: `isin` compiles to an in-filter inside codegen."""
    bad = df.filter(F.col(column).isNotNull() & ~F.col(column).isin(allowed))
    return bad.select(
        *id_cols,
        F.lit(constraint_id).alias("constraint_id"),
        F.lit(f"/{column}").alias("instance_path"),
        F.col(column).cast("string").alias("observed_value"),
    )
