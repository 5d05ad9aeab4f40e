"""``local_frame``: driver rows become a DataFrame on the JVM, unchanged.

The manifest, the re-wrapped verdicts and the table-scope violation
frames are all built from a few driver-side rows.  These tests pin that
the Arrow route keeps what the pickled ``createDataFrame(<list>)`` route
kept — declared schema and nullability, null cells, empty frames,
non-ASCII strings, timestamp instants — and that it runs no Python
worker.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql.types import (
    BooleanType,
    DateType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from snowy_json_spark.sources.tables import local_frame
from snowy_json_spark.streaming.manifest import MANIFEST_SCHEMA, Manifest

STRUCT = StructType(
    [
        StructField("key", StringType(), False),
        StructField("n", LongType(), True),
        StructField("x", DoubleType(), True),
        StructField("ok", BooleanType(), True),
        StructField("day", DateType(), True),
        StructField("ts", TimestampType(), True),
    ]
)
ROWS = [
    ("∅", None, None, None, None, None),
    ("en|3", 7, 1e20, True, dt.date(2026, 7, 1), dt.datetime(2026, 7, 1, 0, 0, 0, 500000)),
    ("日本語", -1, 0.1, False, dt.date(1970, 1, 1), dt.datetime(1999, 12, 31, 23, 59, 59)),
]


def _rdd_lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def test_keeps_schema_nulls_and_values(spark):
    df = local_frame(spark, ROWS, STRUCT)
    assert df.schema == STRUCT  # nullability included
    assert [tuple(r) for r in df.collect()] == ROWS


def test_ddl_schema_and_zero_rows(spark):
    df = local_frame(spark, [], MANIFEST_SCHEMA)
    assert df.schema == StructType.fromDDL(MANIFEST_SCHEMA)
    assert df.count() == 0
    assert df.collect() == []


def test_rejects_null_in_non_nullable_column(spark):
    with pytest.raises(ValueError, match="'key'"):
        local_frame(spark, [(None, 1, None, None, None, None)], STRUCT)


def test_runs_no_python_worker(spark):
    """The pickled route maps rows through a PythonRDD; this one does not."""
    assert "PythonRDD" in _rdd_lineage(spark.createDataFrame(ROWS, STRUCT))
    assert "PythonRDD" not in _rdd_lineage(local_frame(spark, ROWS, STRUCT))


def test_manifest_finished_at_is_the_append_instant(spark, tmp_path):
    man = Manifest(str(tmp_path / "manifest"))
    before = dt.datetime.now(dt.timezone.utc)
    man.append(spark, [{"partition_key": "∅", "lineage_hash": "h", "row_count": None}])
    (row,) = man.read(spark).collect()
    assert (row["partition_key"], row["row_count"], row["passed"]) == ("∅", None, None)
    # collect() returns naive local time; as an instant it is the append's
    finished = row["finished_at"].astimezone(dt.timezone.utc)
    assert abs((finished - before).total_seconds()) < 5
