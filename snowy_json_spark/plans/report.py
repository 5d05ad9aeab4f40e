"""Verdict / violation / metrics DataFrame builders.

Snow's output is ``{valid, errors:[{schemaLocation, instanceLocation,
error}]}`` (`Main.java:165-190`, error store `ValidatorContext.java:851-865`).
Here the same information is produced *columnar*:

- ``with_verdict``: one boolean ``passed`` column — the AND of every
  compiled check (`ValidatorContext.java:1254-1273` analog), evaluated
  in a single whole-stage-codegen ``select``.
- ``violations``: one row per failed (instance, constraint) —
  build an array of (constraint_id, instance_path, observed) structs,
  ``filter`` it to the failed ones, ``explode``.  Rows with no failures
  produce no output (posexplode of empty array), so the explode is
  output-proportional, not constraint-proportional.
- ``partition_verdicts``: per-partition pass/fail + counts (north_rule:
  "each partition emits a pass/fail verdict").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .compiler import Compiled

VIOLATION_COLUMNS = ["constraint_id", "instance_path", "observed_value"]


_VIOLATION_STRUCT = "array<struct<constraint_id:string,instance_path:string,observed_value:string>>"


def checks_array(plan: Compiled) -> Column:
    """Array of violation structs for the failed leaves only.

    Built as a concat of per-leaf conditional 0/1-element arrays: the
    struct (and its observed-value string) is only *constructed* when
    that leaf failed — on the common all-pass row this allocates
    nothing, which keeps GC flat on wide specs over large tables."""
    if not plan.leaves:
        return F.array().cast(_VIOLATION_STRUCT)
    parts = [
        F.when(
            F.coalesce(leaf.failed, F.lit(False)),
            F.array(
                F.struct(
                    F.lit(leaf.constraint_id).alias("constraint_id"),
                    F.lit(leaf.instance_path).alias("instance_path"),
                    F.coalesce(leaf.observed, F.lit("null")).alias("observed_value"),
                )
            ),
        ).otherwise(F.array().cast(_VIOLATION_STRUCT))
        for leaf in plan.leaves
    ]
    return F.concat(*parts) if len(parts) > 1 else parts[0]


def with_verdict(df: DataFrame, plan: Compiled, name: str = "passed") -> DataFrame:
    return df.withColumn(name, F.coalesce(plan.valid, F.lit(False)))


def violations(df: DataFrame, plan: Compiled, id_cols: list[str]) -> DataFrame:
    """One row per (row, failed constraint): (ids..., constraint_id,
    instance_path, observed_value)."""
    return explode_violations(df, checks_array(plan), id_cols)


def explode_violations(df: DataFrame, arr: Column, id_cols: list[str]) -> DataFrame:
    """The one violation explode: a row per element of ``arr``, a
    :func:`checks_array` Column or a column holding one."""
    return df.select(*id_cols, F.explode(arr).alias("_v")).select(
        *id_cols, *[F.col(f"_v.{c}").alias(c) for c in VIOLATION_COLUMNS]
    )


ANNOTATION_COLUMNS = ["instance_path", "name", "constraint_id", "value_json"]

_ANNOTATION_STRUCT = (
    "array<struct<instance_path:string,name:string,"
    "constraint_id:string,value_json:string>>"
)


def annotations_array(plan: Compiled) -> Column:
    """Array of applied-annotation structs for one row (Snow's
    processAnnotations input, `Validator.java:485-494`); same
    allocate-only-when-applied shape as :func:`checks_array`."""
    if not plan.annotations:
        return F.array().cast(_ANNOTATION_STRUCT)
    parts = [
        F.when(
            F.coalesce(a.applied, F.lit(False)),
            F.array(
                F.struct(
                    F.lit(a.instance_path).alias("instance_path"),
                    F.lit(a.name).alias("name"),
                    F.lit(a.constraint_id).alias("constraint_id"),
                    F.lit(a.value_json).alias("value_json"),
                )
            ),
        ).otherwise(F.array().cast(_ANNOTATION_STRUCT))
        for a in plan.annotations
    ]
    return F.concat(*parts) if len(parts) > 1 else parts[0]


def annotations(df: DataFrame, plan: Compiled, id_cols: list[str]) -> DataFrame:
    """One row per (row, applied annotation): the engine's
    processAnnotations analog (`Results.java:107-123`, printed
    `Main.java:198-245`).  Sort with
    ``orderBy(*id_cols, *ANNOTATION_COLUMNS)`` for Snow's output order
    (instance location, then name, then schema location)."""
    arr = annotations_array(plan)
    return df.select(*id_cols, F.explode(arr).alias("_a")).select(
        *id_cols, *[F.col(f"_a.{c}").alias(c) for c in ANNOTATION_COLUMNS]
    )


def annotation_catalog(plan: Compiled) -> list[dict]:
    """Compile-time annotation inventory (no data pass): every
    annotation keyword in the spec with its schema location and value,
    sorted like `Results.java:107-123`."""
    rows = [
        {
            "instance_path": a.instance_path,
            "name": a.name,
            "constraint_id": a.constraint_id,
            "value_json": a.value_json,
        }
        for a in plan.annotations
    ]
    return sorted(
        rows, key=lambda r: (r["instance_path"], r["name"], r["constraint_id"])
    )


def applications(df: DataFrame, plan: Compiled, id_cols: list[str]) -> DataFrame:
    """Snow's pass-result recording analog: an output row for EVERY
    keyword application, pass and fail (`ValidatorContext.java:851-865`
    stores an ``Error`` per application; Main prints both).  One row per
    (row, compiled leaf): (ids..., constraint_id, instance_path,
    passed).

    Output is rows × leaves BY DESIGN (Snow pays the same); use
    :func:`violations` for the sparse failed-only view on large tables.
    Documented approximation: applications pruned by a guard (branch
    not taken, property absent) report ``passed=true`` with the guard
    folded into the leaf condition, where Snow would flag them pruned —
    the compiled plan keeps no separate per-leaf guard column."""
    if not plan.leaves:
        return df.select(
            *id_cols,
            F.lit(None).cast("string").alias("constraint_id"),
            F.lit(None).cast("string").alias("instance_path"),
            F.lit(None).cast("boolean").alias("passed"),
        ).limit(0)
    arr = F.array(
        *[
            F.struct(
                F.lit(leaf.constraint_id).alias("constraint_id"),
                F.lit(leaf.instance_path).alias("instance_path"),
                (~F.coalesce(leaf.failed, F.lit(False))).alias("passed"),
            )
            for leaf in plan.leaves
        ]
    )
    return df.select(*id_cols, F.explode(arr).alias("_a")).select(
        *id_cols,
        F.col("_a.constraint_id").alias("constraint_id"),
        F.col("_a.instance_path").alias("instance_path"),
        F.col("_a.passed").alias("passed"),
    )


def partition_verdicts(
    df: DataFrame, plan: Compiled, partition_cols: list[str]
) -> DataFrame:
    """Per-partition verdict: passed iff every row passed, plus counts.

    Map-side partial aggregation makes this a single cheap shuffle of
    one row per (partition, grain)."""
    valid = F.coalesce(plan.valid, F.lit(False))
    return df.groupBy(*partition_cols).agg(*verdict_aggs(valid))


def verdict_aggs(passed: Column) -> list[Column]:
    """The verdict aggregates over a non-null per-row ``passed``:
    ``row_count``, ``failed_rows`` and ``passed`` (every row passed)."""
    return [
        F.count(F.lit(1)).alias("row_count"),
        F.sum((~passed).cast("long")).alias("failed_rows"),
        F.min(passed).alias("passed"),
    ]


def with_abs_locations(v: DataFrame, plan: Compiled) -> DataFrame:
    """Add Snow's absoluteKeywordLocation (`Main.java:165-190`) next to
    the dynamic constraint_id: the canonical '{uri}#{pointer}' of the
    keyword inside its schema resource, rewriting through $ref /
    $recursiveRef prefixes recorded at compile time.  For ref-free
    specs the two columns are identical."""
    mapping = plan.abs_locations()
    pairs = [x for kv in mapping.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
    if not pairs:
        return v.withColumn("abs_constraint_id", F.col("constraint_id"))
    m = F.create_map(*pairs)
    return v.withColumn(
        "abs_constraint_id",
        F.coalesce(F.element_at(m, F.col("constraint_id")), F.col("constraint_id")),
    )
