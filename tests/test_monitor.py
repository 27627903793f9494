"""supervise() keeps the cause of every failure: each one is logged
with its exception, and the final RuntimeError chains the last."""

from __future__ import annotations

import logging

import pytest

from dump1090_stream_parser_spark.streaming.monitor import supervise


class _FailingQuery:
    def __init__(self, exc: Exception | None):
        self.exc = exc

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
