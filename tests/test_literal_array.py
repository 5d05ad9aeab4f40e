"""``literal_array``: a long driver-side literal array as one SQL fragment.

It must read back exactly what the per-element ``F.lit`` array reads:
strings with quotes, backslashes, ``${...}`` (which ``F.expr`` would
otherwise substitute), emoji, control characters and SQL comment
markers, and doubles bit for bit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from snowy_json_spark.operators.drift import GRID_PROBS, quantiles
from snowy_json_spark.sources.tables import literal_array

STRINGS = [
    "it's",
    "back\\slash",
    "\\'",
    "${spark.app.name}",
    "$${x}",
    "\\u0024",
    "😀 emoji",
    "",
    "tab\there\nnewline",
    "-- c",
    "/* c */",
]


def test_strings_round_trip(spark):
    want = spark.range(1).select(F.array(*[F.lit(s) for s in STRINGS]).alias("a"))
    got = spark.range(1).select(literal_array(STRINGS).alias("a"))
    assert got.schema == want.schema
    assert got.first()["a"] == want.first()["a"] == STRINGS


def test_doubles_round_trip(spark):
    values = GRID_PROBS + [1e-05, -2.5, 3, 1.7976931348623157e308]
    want = spark.range(1).select(F.lit([float(v) for v in values]).alias("a"))
    got = spark.range(1).select(literal_array(values).alias("a"))
    assert got.schema == want.schema
    assert got.first()["a"] == want.first()["a"] == [float(v) for v in values]


def test_empty_array(spark):
    assert spark.range(1).select(literal_array([]).alias("a")).first()["a"] == []


def test_quantile_grid_matches_list_literal(spark):
    df = spark.range(5000).select((F.col("id") * 7 % 1013).cast("double").alias("x"))
    want = df.agg(F.percentile_approx("x", GRID_PROBS, 10000).alias("q")).first()["q"]
    assert quantiles(df, "x", GRID_PROBS).first()["quantiles"] == want
