"""supervise() keeps the cause of every failure: each one is logged
with its exception, and the final RuntimeError chains the last. A
query that read input rows before it failed resets the attempt budget;
progress events that read nothing do not. A set stop flag ends it
without a restart."""

from __future__ import annotations

import logging
import threading

import pytest

from dump1090_stream_parser_spark.streaming.monitor import supervise


class _FailingQuery:
    def __init__(self, exc: Exception | None, rows: tuple[int, ...] = ()):
        self.exc = exc
        # one progress event per trigger, with its input row count
        self.recentProgress = [{"numInputRows": n} for n in rows]

    def awaitTermination(self):
        if self.exc is not None:
            raise self.exc


def test_supervise_chains_last_failure(caplog):
    failures = [ValueError(f"feed down {i}") for i in range(3)]
    queries = iter(failures)

    with caplog.at_level(logging.WARNING):
        with pytest.raises(RuntimeError, match="failed 3 times") as info:
            supervise(lambda: _FailingQuery(next(queries)), attempt_limit=3,
                      delay=0)
    assert info.value.__cause__ is failures[-1]
    logged = [r.exc_info[1] for r in caplog.records if r.exc_info]
    assert logged == failures


def test_supervise_returns_on_clean_stop_after_failure():
    queries = iter([_FailingQuery(ValueError("feed down")), _FailingQuery(None)])
    supervise(lambda: next(queries), attempt_limit=3, delay=0)
    assert next(queries, None) is None


def test_supervise_resets_budget_after_input():
    # four failures, the third after reading rows: it starts a new
    # count, so no three failures in a row are without input
    rows = [(), (0,), (0, 7), (0,)]
    queries = iter(
        [_FailingQuery(ValueError(f"feed down {i}"), r) for i, r in enumerate(rows)]
        + [_FailingQuery(None)]
    )
    supervise(lambda: next(queries), attempt_limit=3, delay=0)
    assert next(queries, None) is None


def test_supervise_gives_up_despite_no_data_progress():
    # each restart reports a trigger that read nothing before it fails,
    # as against a dead feed: the third failure in a row gives up
    queries = iter([_FailingQuery(ValueError(f"feed down {i}"), (0,)) for i in range(4)])
    with pytest.raises(RuntimeError, match="failed 3 times"):
        supervise(lambda: next(queries), attempt_limit=3, delay=0)
    assert next(queries, None) is not None


def test_supervise_stop_is_not_a_failure():
    # SIGINT while the query runs: the handler sets the flag and stops
    # the query, and its py4j awaitTermination raises -- no restart
    stop = threading.Event()

    class _Interrupted(_FailingQuery):
        def awaitTermination(self):
            stop.set()
            super().awaitTermination()

    queries = iter([_Interrupted(ValueError("stopped")), _FailingQuery(None)])
    supervise(lambda: next(queries), attempt_limit=3, delay=0, stop=stop)
    assert next(queries, None) is not None
