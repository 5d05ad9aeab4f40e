"""applyInPandasWithState: running per-key validation stats."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from snowy_json_spark.streaming.stateful import running_violation_stats

SPEC = {"properties": {"lang": {"pattern": "^[a-z]{2}$"}}, "required": ["lang"]}


def test_running_violation_stats(spark):
    # every 5th row has an invalid lang; two keys (groups) by parity
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 300)
        .load()
        .select(
            F.when(F.col("value") % 2 == 0, F.lit("even")).otherwise(F.lit("odd")).alias("grp"),
            F.when(F.col("value") % 5 == 0, F.lit("ZZ")).otherwise(F.lit("en")).alias("lang"),
        )
    )
    stats = running_violation_stats(stream, SPEC, "grp")
    q = (
        stats.writeStream.format("memory")
        .queryName("state_stream")
        .outputMode("update")
        .start()
    )
    try:
        deadline = time.monotonic() + 90
        snap1, snap2 = {}, {}
        while time.monotonic() < deadline:
            q.processAllAvailable()
            rows = spark.sql(
                "SELECT key, max(total) total, max(failed) failed FROM state_stream GROUP BY key"
            ).collect()
            cur = {r["key"]: (r["total"], r["failed"]) for r in rows}
            if len(cur) == 2 and all(t > 50 for t, _ in cur.values()):
                if not snap1:
                    snap1 = cur
                    time.sleep(2)
                    continue
                snap2 = cur
                break
            time.sleep(1)
    finally:
        q.stop()
    assert snap1 and snap2, "stateful stream never produced both keys"
    # state accumulates across batches: totals grow monotonically
    for k in snap1:
        assert snap2[k][0] >= snap1[k][0]
    # planted violation rate ≈ 1/5 (value%5==0), both parities affected
    for k, (total, failed) in snap2.items():
        assert 0.05 < failed / total < 0.4, (k, total, failed)


def test_running_tdigest_stream(spark):
    from snowy_json_spark.streaming.stateful import running_tdigest

    # two keys; values uniform 0..999 via value%1000 → p50≈500, p99≈990
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 500)
        .load()
        .select(
            F.when(F.col("value") % 2 == 0, F.lit("a")).otherwise(F.lit("b")).alias("k"),
            (F.col("value") % 1000).cast("double").alias("x"),
        )
    )
    digests = running_tdigest(stream, "x", "k")
    assert digests.schema.simpleString() == (
        "struct<key:string,n:bigint,lo:double,hi:double,p50:double,p99:double>"
    )
    q = (
        digests.writeStream.format("memory")
        .queryName("tdigest_stream")
        .outputMode("update")
        .start()
    )
    try:
        deadline = time.monotonic() + 60
        latest = {}
        while time.monotonic() < deadline:
            q.processAllAvailable()
            # memory sink in update mode appends updated rows; take the
            # last (largest-n) row per key = the running digest
            for r in spark.sql(
                "SELECT * FROM tdigest_stream ORDER BY n"
            ).collect():
                latest[r["key"]] = r
            if all(latest.get(k) and latest[k]["n"] >= 2000 for k in ("a", "b")):
                break
            time.sleep(1)
    finally:
        q.stop()
    assert set(latest) == {"a", "b"}
    for r in latest.values():
        assert r["n"] >= 2000  # state accumulated across batches
        assert r["lo"] >= 0.0 and r["hi"] <= 999.0
        assert 350 <= r["p50"] <= 650  # uniform 0..999 → p50 near 500
        assert r["p99"] >= 900


def test_stream_tdigest_drift(spark):
    import numpy as np

    from snowy_json_spark.engine import ValidationEngine
    from snowy_json_spark.streaming.stateful import stream_tdigest_drift

    # reference snapshots: key 'a' matches the stream (uniform 0..999),
    # key 'b' is shifted 3x; key 'c' absent from the snapshot.  Each is
    # the batch tdigest_drift check's own collect_snapshot entry.
    def digest_of(vals):
        eng = ValidationEngine(
            {"x-table-checks": [{"id": "ref", "kind": "tdigest_drift", "column": "x"}]}
        )
        df = spark.createDataFrame([(float(v),) for v in vals], "x double")
        return eng.collect_snapshot(df)["ref"]

    u = np.arange(20_000, dtype="float64") % 1000
    snapshot = {"a": digest_of(u), "b": digest_of(u * 3.0)}
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 600)
        .load()
        .select(
            F.element_at(
                F.array(F.lit("a"), F.lit("b"), F.lit("c")),
                (F.col("value") % 3 + 1).cast("int"),
            ).alias("k"),
            (F.col("value") % 1000).cast("double").alias("x"),
        )
    )
    drift = stream_tdigest_drift(stream, "x", "k", snapshot, ks_fail=0.2)
    assert drift.schema.simpleString() == (
        "struct<key:string,n:bigint,ks:double,status:string>"
    )
    q = (
        drift.writeStream.format("memory")
        .queryName("drift_stream")
        .outputMode("update")
        .start()
    )
    try:
        deadline = time.monotonic() + 60
        latest = {}
        while time.monotonic() < deadline:
            q.processAllAvailable()
            for r in spark.sql("SELECT * FROM drift_stream ORDER BY n").collect():
                latest[r["key"]] = r
            if all(latest.get(k) and latest[k]["n"] >= 2000 for k in "abc"):
                break
            time.sleep(1)
    finally:
        q.stop()
    assert latest["a"]["status"] == "pass" and latest["a"]["ks"] < 0.05
    assert latest["b"]["status"] == "fail" and latest["b"]["ks"] > 0.2
    assert latest["c"]["status"] == "missing_snapshot"
