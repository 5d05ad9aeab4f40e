"""Table IO behind one seam (SURVEY.md §7 hard part e).

Locally everything is parquet; on a real deployment the same calls hit
Iceberg (`format('iceberg')` + catalog identifiers) — the engine never
reads storage directly, only through these functions, so the swap is a
config change, not a code change.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence
from datetime import timezone
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, TimestampType

TABLE_FORMAT = os.environ.get("SNOWY_TABLE_FORMAT", "parquet")


def read_table(spark: SparkSession, location: str, fmt: str | None = None) -> DataFrame:
    """Read a table by path (parquet/local) or identifier (iceberg)."""
    fmt = fmt or TABLE_FORMAT
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(location)
    return spark.read.parquet(location)


def write_table(
    df: DataFrame,
    location: str,
    fmt: str | None = None,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    fmt = fmt or TABLE_FORMAT
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "iceberg":
        writer.format("iceberg").save(location)
    else:
        writer.parquet(location)


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: str | StructType
) -> DataFrame:
    """DataFrame from a handful of driver-side rows, built on the JVM.

    ``spark.createDataFrame(<list>)`` parallelizes pickled rows and maps
    them through a Python worker: a Spark job and a worker start for a
    few bookkeeping rows.  An Arrow table goes to the JVM through
    ``PythonSQLUtils.toDataFrame`` as one partition, with no Python
    worker.  ``rows`` are tuples (or ``Row``s) in ``schema``'s field
    order; ``schema`` is a DDL string or a ``StructType``, kept as given,
    nullability included.  Naive ``timestamp`` values are local time, as
    ``collect()`` returns them."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    columns = []
    for i, (f, typ) in enumerate(zip(struct.fields, arrow.types)):
        values = [r[i] for r in rows]
        if not f.nullable and any(v is None for v in values):
            raise ValueError(f"null in non-nullable column {f.name!r}")
        if isinstance(f.dataType, TimestampType):
            values = [v if v is None else v.astimezone(timezone.utc) for v in values]
        columns.append(pa.array(values, type=typ))
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow), struct)


def broadcastable(df: DataFrame) -> bool:
    """Spark's own ``canBroadcastBySize`` rule: ``df``'s estimated size is
    known (≥ 0) and within the session's
    ``spark.sql.autoBroadcastJoinThreshold``; a threshold of -1 never
    broadcasts.  The estimate comes from the optimized plan's statistics,
    so no job runs.  A frame Spark cannot size (one parallelized from a
    Python list, say) estimates as ``Long.MAX`` and is not broadcastable."""
    jdf = df._jdf
    size = int(jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return 0 <= size <= jdf.sparkSession().sessionState().conf().autoBroadcastJoinThreshold()


def literal_array(values: Sequence[float | str]) -> Column:
    """``array(v0, v1, ...)`` of driver-side literals as one SQL fragment:
    one py4j call, where ``F.array(*[F.lit(v) ...])`` makes one per
    element (0.4 s for the 1001-point quantile grid).  Strings are
    quoted with ``\\``, ``'`` and ``$`` escaped (``$`` as ``\\u0024``:
    ``F.expr`` applies ``${var}`` substitution); anything else is
    written as a double."""

    def sql(v) -> str:
        if isinstance(v, str):
            v = v.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024")
            return f"'{v}'"
        return repr(float(v)) + "D"

    return F.expr(f"array({', '.join(map(sql, values))})")


def load_spec(path: str) -> dict[str, Any]:
    """Constraint spec from a JSON (or YAML, if available) file."""
    with open(path) as f:
        text = f.read()
    if path.endswith((".yaml", ".yml")):
        try:
            import yaml  # type: ignore

            return yaml.safe_load(text)
        except ImportError as e:
            raise ValueError("YAML specs need the optional pyyaml dependency") from e
    return json.loads(text)
