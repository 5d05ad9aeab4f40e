"""Checkpoint manifest: resumable per-partition validation runs.

North rule: "resumable from a checkpoint manifest recording
per-partition lineage and metrics so re-submission skips validated
partitions".

Snow has no streaming/restart story (one instance per ``validate()``
call, `Validator.java:505-513`); this is the engine-level replacement:

- The manifest is itself a small parquet table of
  ``(partition_key, lineage_hash, status, row_count, failed_rows,
  passed, finished_at)`` — one row per completed (partition, lineage).
- **Lineage** = hash of (spec JSON, partition identity).  On Iceberg
  the partition identity is the snapshot id + partition tuple; the
  local parquet stand-in hashes the partition values.  A spec change
  invalidates every prior entry automatically because the hash moves.
- **Resume = partition pruning**: pending partitions are turned into a
  filter on the partition columns, so the re-run's scan never touches
  validated data (Iceberg/parquet partition pruning, visible in the
  plan's ``PartitionFilters``).
- Writes are atomic-per-run: the manifest is append-only; readers take
  the latest entry per (partition_key) and trust only matching lineage.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import local_frame

MANIFEST_SCHEMA = (
    "partition_key string, lineage_hash string, status string, "
    "row_count long, failed_rows long, passed boolean, finished_at timestamp"
)


def spec_hash(spec: dict) -> str:
    return hashlib.sha256(
        json.dumps(spec, sort_keys=True, separators=(",", ":")).encode()
    ).hexdigest()[:16]


def lineage_hash(spec: dict, partition_key: str) -> str:
    return hashlib.sha256(f"{spec_hash(spec)}|{partition_key}".encode()).hexdigest()[
        :16
    ]


def partition_key_expr(partition_cols: list[str]) -> F.Column:
    return F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("∅")) for c in partition_cols]
    )


@dataclass
class Manifest:
    path: str

    def read(self, spark: SparkSession) -> DataFrame:
        if not os.path.exists(self.path):
            return local_frame(spark, [], MANIFEST_SCHEMA)
        return spark.read.schema(MANIFEST_SCHEMA).parquet(self.path)

    def validated_keys(self, spark: SparkSession, spec: dict) -> set[str]:
        """Partition keys already validated under the current spec."""
        df = self.read(spark)
        rows = (
            df.filter(F.col("status") == "validated")
            .select("partition_key", "lineage_hash")
            .collect()
        )
        return {
            r["partition_key"]
            for r in rows
            if r["lineage_hash"] == lineage_hash(spec, r["partition_key"])
        }

    def append(self, spark: SparkSession, rows: list[dict]) -> None:
        if not rows:
            return
        now = datetime.datetime.now(datetime.timezone.utc)
        data = [
            (
                r["partition_key"],
                r["lineage_hash"],
                r.get("status", "validated"),
                r.get("row_count"),
                r.get("failed_rows"),
                r.get("passed"),
                now,
            )
            for r in rows
        ]
        local_frame(spark, data, MANIFEST_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(self.path)
