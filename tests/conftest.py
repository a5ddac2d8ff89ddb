import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from typhoon_ocr_spark.sources.fixtures import tier_dir_for_sf  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    from typhoon_ocr_spark.plans.session import build_session

    session = build_session(
        app_name="typhoon-ocr-spark-tests",
        master="local[4]",
        shuffle_partitions=8,
        # JDK 17's default sharing, set by the caller: the suite writes no
        # class-data archive into the user's cache (test_session_cds.py
        # runs the archive in a cache of its own)
        extra_conf={"spark.driver.extraJavaOptions": "-Xshare:auto"},
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


@pytest.fixture
def warm_build_calls(monkeypatch):
    """``count(build)``: the py4j round trips
    (ClientServerConnection.send_command calls) of the second of two
    ``build()`` calls."""
    import gc

    import py4j.clientserver as cs

    def count(build) -> int:
        from pyspark import SparkContext

        build()
        gc.collect()
        # py4j frees dropped JVM objects from a worker thread that wakes
        # about once a second; wait for it to send the first build's
        # frees, so that none of them is counted with the second build
        pending = SparkContext._gateway._gateway_client.finalizer_deque
        deadline = time.monotonic() + 10
        while pending and time.monotonic() < deadline:
            time.sleep(0.01)
        time.sleep(0.02)
        calls = [0]
        send = cs.ClientServerConnection.send_command

        def counted(self, *args, **kwargs):
            calls[0] += 1
            return send(self, *args, **kwargs)

        with monkeypatch.context() as m:
            m.setattr(cs.ClientServerConnection, "send_command", counted)
            build()
        return calls[0]

    return count


@pytest.fixture
def job_count(spark):
    """``count(fn)``: the Spark jobs ``fn()`` runs, counted by a job
    group."""
    import uuid

    def count(fn) -> int:
        sc = spark.sparkContext
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "count jobs")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def fixture_dir() -> str:
    """Smoke-tier fixture corpus (generated on first use)."""
    return tier_dir_for_sf("/root/testdata/sf0.001")
