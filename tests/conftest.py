from __future__ import annotations

import contextlib
import signal

import pytest


@pytest.fixture(scope="session")
def spark():
    from findtextcenternet_spark.sources.session import get_spark

    s = get_spark(app="fts-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def deadline():
    """``with deadline(seconds):`` raises TimeoutError once ``seconds``
    pass, so a read that waits for a task which never runs fails its
    test instead of hanging the suite."""
    @contextlib.contextmanager
    def within(seconds: int):
        def expired(signum, frame):
            raise TimeoutError(f"still running after {seconds} s")

        prev = signal.signal(signal.SIGALRM, expired)
        signal.alarm(seconds)
        try:
            yield
        finally:
            signal.alarm(0)
            signal.signal(signal.SIGALRM, prev)

    return within


@pytest.fixture(scope="session")
def query_ids():
    """``query_ids(spark)``: ids of the SQL queries (DataFrame actions,
    writes, checkpoints) the session's status store holds, once its
    listener has seen every event so far. The store drops the oldest
    queries beyond its retention limit, never the newest."""
    def ids(spark) -> set[int]:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        qs = (spark._jsparkSession.sharedState().statusStore()
              .executionsList())
        return {qs.apply(i).executionId() for i in range(qs.length())}

    return ids
