from __future__ import annotations

import os
import sys
import time
import uuid
from collections import Counter

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from collimate_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_session("collimate_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def jobs_started_by(spark):
    """``jobs_started_by(fn)``: the Spark jobs ``fn`` starts on this
    thread, read from the status tracker. A sentinel job run afterwards in
    its own group is waited for first: the listener handles job starts in
    order, so once the sentinel shows, every job ``fn`` started shows
    too."""
    sc = spark.sparkContext

    def count(fn) -> int:
        group, sentinel = f"jobs-{uuid.uuid4()}", f"sentinel-{uuid.uuid4()}"
        try:
            sc.setJobGroup(group, group)
            fn()
            sc.setJobGroup(sentinel, sentinel)
            sc.parallelize([1], 1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        tracker = sc.statusTracker()
        deadline = time.time() + 30
        while not tracker.getJobIdsForGroup(sentinel):
            assert time.time() < deadline, "sentinel job never reached the status tracker"
            time.sleep(0.05)
        return len(tracker.getJobIdsForGroup(group))

    return count


@pytest.fixture
def processes_started_by(spark, tmp_path):
    """``processes_started_by(fn)``: a Counter, keyed by command name, of
    the OS processes the driver JVM (local mode: every task too) starts
    while ``fn`` runs, from an in-JVM JFR recording of
    ``jdk.ProcessStart`` events."""
    jvm = spark._jvm

    def count(fn) -> Counter:
        rec = jvm.jdk.jfr.Recording()
        try:
            rec.enable("jdk.ProcessStart")
            rec.start()
            fn()
            rec.stop()
            dump = jvm.java.io.File(str(tmp_path / f"{uuid.uuid4()}.jfr")).toPath()
            rec.dump(dump)
        finally:
            rec.close()
        events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
        return Counter(
            os.path.basename(e.getString("command").split()[0]) for e in events
        )

    return count
