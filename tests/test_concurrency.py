"""The shared driver-thread concurrency helper and the session's JVM
options merge."""

from __future__ import annotations

import threading
import time

import pytest

from metadata_ingestion_poc_spark import concurrency
from metadata_ingestion_poc_spark.concurrency import is_connect, run_concurrent
from metadata_ingestion_poc_spark.session import with_code_cache


def test_results_in_submission_order(spark):
    def after(delay, value):
        def thunk():
            time.sleep(delay)
            return value

        return thunk

    got = run_concurrent(spark, after(0.3, "a"), after(0.0, "b"), after(0.1, "c"))
    assert got == ["a", "b", "c"]


def test_thunks_overlap_in_threads_with_caller_properties(spark):
    sc = spark.sparkContext
    barrier = threading.Barrier(2, timeout=30)
    caller = threading.get_ident()

    def thunk():
        barrier.wait()  # both thunks are running at once
        return threading.get_ident(), sc.getLocalProperty("spark.jobGroup.id")

    sc.setJobGroup("overlap-test", "run_concurrent", False)
    try:
        (t1, g1), (t2, g2) = run_concurrent(spark, thunk, thunk)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len({caller, t1, t2}) == 3
    assert g1 == g2 == "overlap-test"


def test_first_error_raised_after_every_thunk_finished(spark):
    finished = []

    def fails(delay, error):
        def thunk():
            time.sleep(delay)
            finished.append(str(error))
            raise error

        return thunk

    def slow():
        time.sleep(0.5)
        finished.append("slow")
        return 1

    with pytest.raises(ValueError, match="first"):
        run_concurrent(
            spark, fails(0.2, ValueError("first")), slow,
            fails(0.0, RuntimeError("second")),
        )
    assert sorted(finished) == ["first", "second", "slow"]


def test_connect_session_runs_thunks_in_calling_thread(spark, monkeypatch):
    monkeypatch.setattr(concurrency, "is_connect", lambda s: True)
    order = []

    def record(i):
        def thunk():
            order.append((i, threading.get_ident()))
            if i == 0:
                raise KeyError("first")
            return i

        return thunk

    caller = threading.get_ident()
    assert run_concurrent(spark, record(1), record(2)) == [1, 2]
    with pytest.raises(KeyError):
        run_concurrent(spark, record(0), record(3))
    assert order == [(1, caller), (2, caller), (0, caller), (3, caller)]


def test_classic_session_is_not_connect(spark):
    assert is_connect(spark) is False


def test_code_cache_appended_to_caller_java_options():
    extra = {
        "spark.driver.extraJavaOptions": "-Dfoo=1 -Xss4m",
        "spark.sql.shuffle.partitions": "8",
    }
    conf = with_code_cache(extra, "512m")
    assert conf == {
        "spark.driver.extraJavaOptions":
            "-Dfoo=1 -Xss4m -XX:ReservedCodeCacheSize=512m",
        "spark.executor.extraJavaOptions": "-XX:ReservedCodeCacheSize=512m",
        "spark.sql.shuffle.partitions": "8",
    }
    assert "spark.executor.extraJavaOptions" not in extra  # not mutated


def test_code_cache_keeps_caller_sizing():
    own = "-XX:ReservedCodeCacheSize=1g"
    conf = with_code_cache({"spark.executor.extraJavaOptions": own}, "512m")
    assert conf["spark.executor.extraJavaOptions"] == own
    assert conf["spark.driver.extraJavaOptions"] == (
        "-XX:ReservedCodeCacheSize=512m"
    )
    assert with_code_cache(None, "256m") == {
        "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=256m",
        "spark.executor.extraJavaOptions": "-XX:ReservedCodeCacheSize=256m",
    }
