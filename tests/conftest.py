from __future__ import annotations

import contextlib
import time
import uuid

import pytest

from snowy_json_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("snowy-json-spark-tests", cores=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def jobs_started(spark):
    """``jobs_started(build)``: the ids of the Spark jobs started while
    ``build()`` ran, read once the listener bus has caught up (a
    sentinel job started after it must be visible first)."""

    def started(build) -> list[int]:
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        group, sentinel = f"plan-{uuid.uuid4()}", f"sentinel-{uuid.uuid4()}"
        try:
            sc.setJobGroup(group, "jobs under test")
            build()
            sc.setJobGroup(sentinel, "listener-bus barrier")
            spark.range(1).count()
            deadline = time.monotonic() + 30
            while not tracker.getJobIdsForGroup(sentinel):
                assert time.monotonic() < deadline, "sentinel job never reported"
                time.sleep(0.05)
            return list(tracker.getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    return started


@pytest.fixture(scope="session")
def broadcast_threshold(spark):
    """``with broadcast_threshold(value):`` runs its block under another
    ``spark.sql.autoBroadcastJoinThreshold`` (bytes; -1 never broadcasts),
    so a join picked by size takes the path that threshold gives it."""

    @contextlib.contextmanager
    def at(value: int):
        key = "spark.sql.autoBroadcastJoinThreshold"
        default = spark.conf.get(key)
        spark.conf.set(key, str(value))
        try:
            yield
        finally:
            spark.conf.set(key, default)

    return at
