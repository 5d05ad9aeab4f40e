"""The checkpoint manifest is read and appended on the driver.

``Manifest.validated_keys`` and ``Manifest.append`` start no Spark job;
a directory mixing an append written by Spark (``_SUCCESS``, ``.crc``
files, Spark's timestamp encoding) with driver-written appends reads the
same through ``validated_keys`` and through ``Manifest.read``; a path on
a remote file system is refused instead of reading as an empty manifest.
"""

from __future__ import annotations

import datetime
import os
import re

import pytest

from snowy_json_spark.sources.tables import local_frame
from snowy_json_spark.streaming.manifest import (
    MANIFEST_SCHEMA,
    Manifest,
    lineage_hash,
)

SPEC = {"required": ["url"]}
OTHER_SPEC = {"required": ["lang"]}


def _record(key: str, spec: dict = SPEC, status: str = "validated") -> dict:
    return {"partition_key": key, "lineage_hash": lineage_hash(spec, key),
            "status": status, "row_count": 10, "failed_rows": 1, "passed": False}


def _spark_append(spark, path: str, records: list[dict]) -> None:
    """An append as a Spark write makes it: one part file with its
    ``.crc``, a ``_SUCCESS`` marker."""
    written = datetime.datetime(2001, 2, 3, 12, 30)
    rows = [(*r.values(), written) for r in records]
    local_frame(spark, rows, MANIFEST_SCHEMA).coalesce(1).write.mode("append").parquet(path)


def test_spark_and_driver_appends_read_together(spark, tmp_path):
    path = str(tmp_path / "manifest")
    _spark_append(spark, path, [
        _record("en|0"),
        _record("de|0", spec=OTHER_SPEC),  # another spec's lineage
        _record("fr|0", status="failed"),
    ])
    names = os.listdir(path)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)

    m = Manifest(path)
    m.append(spark, [_record("es|1"), _record("fr|1", status="failed")])
    m.append(spark, [_record("it|1")])
    assert not [n for n in os.listdir(path) if n.endswith(".tmp")]

    assert m.validated_keys(spark, SPEC) == {"en|0", "es|1", "it|1"}
    assert m.validated_keys(spark, OTHER_SPEC) == {"de|0"}

    df = m.read(spark)
    assert df.schema == local_frame(spark, [], MANIFEST_SCHEMA).schema
    rows = df.collect()
    assert sorted(r["partition_key"] for r in rows) == [
        "de|0", "en|0", "es|1", "fr|0", "fr|1", "it|1"
    ]
    assert all(r["row_count"] == 10 and r["passed"] is False for r in rows)
    by_spark = {r["partition_key"] for r in rows if r["finished_at"].year == 2001}
    assert by_spark == {"en|0", "de|0", "fr|0"}


def test_manifest_io_starts_no_job(spark, tmp_path, jobs_started):
    m = Manifest(str(tmp_path / "manifest"))
    keys: set = set()
    assert jobs_started(lambda: keys.update(m.validated_keys(spark, SPEC))) == []
    assert keys == set()
    assert jobs_started(lambda: m.append(spark, [_record("en|0"), _record("de|0")])) == []
    assert jobs_started(lambda: keys.update(m.validated_keys(spark, SPEC))) == []
    assert keys == {"en|0", "de|0"}


def test_file_uri_is_a_local_manifest(spark, tmp_path):
    m = Manifest(f"file://{tmp_path}/manifest")
    m.append(spark, [_record("en|0")])
    assert os.listdir(tmp_path / "manifest")
    assert m.validated_keys(spark, SPEC) == {"en|0"}
    assert [r["partition_key"] for r in m.read(spark).collect()] == ["en|0"]


@pytest.mark.parametrize(
    "path", ["s3a://bucket/runs/manifest", "hdfs://namenode:8020/manifest", "file://host/manifest"]
)
def test_remote_manifest_path_raises(path):
    with pytest.raises(ValueError, match=re.escape(repr(path))):
        Manifest(path)
