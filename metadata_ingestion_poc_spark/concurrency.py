"""Overlapping independent Spark actions from driver threads.

The one driver-thread concurrency mechanism of the package: the
ingestion run's zone writes (``framework.run_source``) and the sketch
operators' independent scans (``operators.sketches``) both go through
:func:`run_concurrent`. Jobs submitted from several driver threads
share the executors under FIFO scheduling, so a short job back-fills
the slots a long job's tail leaves idle and the caller waits about
the longest action instead of their sum.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable

from pyspark.sql import SparkSession


def is_connect(spark: SparkSession) -> bool:
    """True when ``spark`` is a Spark Connect session."""
    return type(spark).__module__.startswith("pyspark.sql.connect")


def run_concurrent(spark: SparkSession, *thunks: Callable[[], Any]) -> list:
    """Run independent actions at once; return their results in
    submission order.

    Each thunk runs in its own driver thread carrying the caller's
    local properties (job group, scheduler pool) and tags. Every thunk
    runs to completion before this returns; if any raised, the first
    exception in submission order is re-raised then, so a caller's
    cleanup never runs while a sibling job still reads its inputs.

    Under Spark Connect, and for a single thunk, the thunks run one
    after another in the calling thread with the same contract: the
    overlap is a latency optimization, never a semantic one.
    """
    if len(thunks) < 2 or is_connect(spark):
        outcomes = [_outcome(t) for t in thunks]
    else:
        from pyspark import inheritable_thread_target

        # one wrapper per thunk: each captures its own copy of the local
        # properties, so a job group set in one thread stays in that one
        wrapped = [inheritable_thread_target(spark)(t) for t in thunks]
        with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
            outcomes = list(pool.map(_outcome, wrapped))
    for _, error in outcomes:
        if error is not None:
            raise error
    return [result for result, _ in outcomes]


def _outcome(thunk: Callable[[], Any]) -> tuple[Any, Exception | None]:
    try:
        return thunk(), None
    except Exception as e:
        return None, e
