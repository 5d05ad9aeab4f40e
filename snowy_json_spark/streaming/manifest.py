"""Checkpoint manifest: resumable per-partition validation runs.

North rule: "resumable from a checkpoint manifest recording
per-partition lineage and metrics so re-submission skips validated
partitions".

Snow has no streaming/restart story (one instance per ``validate()``
call, `Validator.java:505-513`); this is the engine-level replacement:

- The manifest is itself a small parquet table of
  ``(partition_key, lineage_hash, status, row_count, failed_rows,
  passed, finished_at)`` — one row per completed (partition, lineage) —
  in a directory at a local path (or ``file://`` URI), read and appended
  by the driver with pyarrow: bookkeeping starts no Spark job.
  ``Manifest.read`` is the Spark view of the same files.
- **Lineage** = hash of (spec JSON, partition identity).  On Iceberg
  the partition identity is the snapshot id + partition tuple; the
  local parquet stand-in hashes the partition values.  A spec change
  invalidates every prior entry automatically because the hash moves.
- **Resume = partition pruning**: pending partitions are turned into a
  filter on the partition columns, so the re-run's scan never touches
  validated data (Iceberg/parquet partition pruning, visible in the
  plan's ``PartitionFilters``).
- Writes are atomic-per-run: the manifest is append-only, one file per
  append, written under a dot-prefixed name and renamed into place, and
  readers skip ``_``/``.`` files (``_SUCCESS``, ``.crc``, an unfinished
  append), so appends written by Spark in earlier releases still read.
  Readers trust only entries whose lineage matches the current spec.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import uuid
from dataclasses import dataclass
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
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


#: ``MANIFEST_SCHEMA`` as the driver writes and reads it
MANIFEST_ARROW_SCHEMA = pa.schema(
    [
        ("partition_key", pa.string()),
        ("lineage_hash", pa.string()),
        ("status", pa.string()),
        ("row_count", pa.int64()),
        ("failed_rows", pa.int64()),
        ("passed", pa.bool_()),
        ("finished_at", pa.timestamp("us", tz="UTC")),
    ]
)


@dataclass
class Manifest:
    """The manifest directory at ``path``: a local path or a ``file://``
    URI, since the driver reads and appends it itself.  Any other scheme
    (``s3a://``, ``hdfs://``, …) raises ``ValueError``: no local file
    system call could see such a manifest, so every run would re-validate
    everything."""

    path: str

    def __post_init__(self):
        url = urlparse(self.path)
        if url.scheme == "file" and not url.netloc:
            self._local = url.path
        elif not url.scheme:
            self._local = self.path
        else:
            raise ValueError(
                f"manifest path {self.path!r}: only local paths and file:// URIs "
                "are supported"
            )

    def read(self, spark: SparkSession) -> DataFrame:
        """Every manifest record as a Spark frame under ``MANIFEST_SCHEMA``."""
        if not os.path.exists(self._local):
            return local_frame(spark, [], MANIFEST_SCHEMA)
        return spark.read.schema(MANIFEST_SCHEMA).parquet(self.path)

    def validated_keys(self, spark: SparkSession, spec: dict) -> set[str]:
        """Partition keys already validated under the current spec, read
        on the driver (no Spark job; ``spark`` is unused).  Files whose
        names start with ``_`` or ``.`` (``_SUCCESS``, ``.crc``, an
        unfinished append) are not read."""
        if not os.path.exists(self._local):
            return set()
        rows = (
            ds.dataset(self._local, schema=MANIFEST_ARROW_SCHEMA, format="parquet")
            .to_table(
                columns=["partition_key", "lineage_hash"],
                filter=ds.field("status") == "validated",
            )
            .to_pylist()
        )
        return {
            r["partition_key"]
            for r in rows
            if r["lineage_hash"] == lineage_hash(spec, r["partition_key"])
        }

    def append(self, spark: SparkSession, rows: list[dict]) -> None:
        """Append ``rows`` as one parquet file written on the driver (no
        Spark job; ``spark`` is unused): written under a dot-prefixed
        name that readers skip, then renamed into place."""
        if not rows:
            return
        now = datetime.datetime.now(datetime.timezone.utc)
        table = pa.Table.from_pylist(
            [
                {
                    "partition_key": r["partition_key"],
                    "lineage_hash": r["lineage_hash"],
                    "status": r.get("status", "validated"),
                    "row_count": r.get("row_count"),
                    "failed_rows": r.get("failed_rows"),
                    "passed": r.get("passed"),
                    "finished_at": now,
                }
                for r in rows
            ],
            schema=MANIFEST_ARROW_SCHEMA,
        )
        os.makedirs(self._local, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self._local, f".{name}.tmp")
        # no ARROW:schema footer: the parquet types carry the schema
        pq.write_table(table, tmp, store_schema=False)
        os.replace(tmp, os.path.join(self._local, name))
