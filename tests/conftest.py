from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dump1090_stream_parser_spark.session import get_spark
from dump1090_stream_parser_spark.sources.sbs1_jvm import jvm_source_conf

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        master="local[4]",
        app_name="tests",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.autoBroadcastJoinThreshold": "1MB",
            # the sbs1-jvm source class must be on the classpath at JVM
            # launch (DataSource V2 lookup; addJar cannot extend it);
            # resolved relative to the package so non-/root checkouts
            # work, rebuilt from source if the jar is missing
            **jvm_source_conf(),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(autouse=True)
def _no_leaked_streams(request):
    """A streaming query that outlives its test (awaitTermination
    timing out under a slow-box epoch, a stop() skipped on an assert
    path) keeps completing micro-batch stages CONCURRENTLY with later
    tests -- which polluted an executed-stage pin and starved a
    thread-stress test in the round-12 full-suite run. Stop stragglers
    at test teardown and say which test leaked them."""
    yield
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is None:
        return
    for sq in session.streams.active:
        print(
            f"WARNING: {request.node.nodeid} leaked streaming query"
            f" {sq.name or sq.id}; stopping it"
        )
        try:
            sq.stop()
        except Exception:
            pass


@pytest.fixture(scope="session")
def oracle():
    from dump1090_stream_parser_spark.testing import duckdb_oracle

    con = duckdb_oracle(SF_DIR)
    yield con
    con.close()


# -- slow-marker policy (VERDICT r13 #2: default run must fit the ----------
# -- driver's ~10 min verify window; full suite runs once per round) -------

import re as _re

#: Whole files whose tests are heavyweight end-to-end by design:
#: subprocess bench runs, socket-server kill/recovery streaming, the
#: recall-vs-brute-force quality sweeps, snapshot-store concurrency
#: e2e. Run alone with -m "slow or not slow" on a 4-core VM
#: (SPARK_GRAFT_CPUS=4) they took 635 s; per file below.
#: test_sbs1_jvm.py and test_near_dup_stream.py are NOT listed: their
#: restart/kill/TTL tests are slow by name (_SLOW_NAME), and the rest
#: keep a socket-source ingest check and near_dup's stream == batch
#: check in the default run.
_SLOW_FILES = {
    "test_bench_contract.py",   # subprocess bench e2e (~154 s)
    "test_streaming.py",        # checkpoint resume + supervised restart
                                # (~34 s); fast cases in test_ingest.py
    "test_streaming_gold.py",   # stream-stream join e2e (~39 s)
    "test_approx.py",           # recall vs brute force sweeps (~110 s)
    "test_snapshots.py",        # snapshot-store e2e + concurrency (~102 s)
    "test_capstone_parity.py",  # cross-store hash equality e2e (~39 s)
}

#: Name classes that are slow wherever they appear: checkpoint-restart
#: cycles, rocksdb state-store swaps, server kills, TTL waits, the
#: all-registry cartesian lint (a full plan build per query),
#: hypothesis-style property sweeps, and the z-order file-layout e2e
#: writes.
_SLOW_NAME = _re.compile(
    r"restart|survives|rocksdb|kill|ttl|cartesian"
    r"|property|random_histories|zorder"
)

#: Parity canaries, all derived from the oracle-window ledger
#: (operators/green.json): every query whose source block changed since
#: its last green driver row (the drifted set), the head of the derived
#: window, and the queries the newest driver round certified -- so a
#: query keeps its per-commit cross-engine gate for one more round after
#: the driver re-certifies it. The FULL 161-query sweep is slow-marked;
#: it runs in the once-per-round full suite and in tools/parity.py sweeps.
_PARITY_CANARY_N = 16


def parity_canaries(window, drifted, ledger: dict[str, dict]) -> set[str]:
    newest = max(v["round"] for v in ledger.values())
    return (
        set(drifted)
        | set(window[:_PARITY_CANARY_N])
        | {q for q, v in ledger.items() if v["round"] == newest}
    )


def _parity_canaries() -> set[str]:
    import dump1090_stream_parser_spark.operators  # noqa: F401 -- registers
    from dump1090_stream_parser_spark.operators.registry import (
        derived_order,
        load_ledger,
    )

    return parity_canaries(*derived_order(), load_ledger())


def pytest_collection_modifyitems(config, items):
    canaries = None
    for item in items:
        base = item.fspath.basename
        if base in _SLOW_FILES or _SLOW_NAME.search(item.name):
            item.add_marker(pytest.mark.slow)
            continue
        # The executed-shuffle-record pins EXECUTE every pinned query
        # at sf0.001 (~80 s for the full set) -- they are the
        # per-round bench-wobble adjudication instrument, re-verified
        # in the full run; the static plan-SHAPE signatures (cheap,
        # explain-only) stay in the default run as the per-commit
        # drift gate.
        if base == "test_plan_snapshot.py" and item.name.startswith(
            "test_executed_shuffle_records_unchanged["
        ):
            item.add_marker(pytest.mark.slow)
            continue
        if base == "test_parity.py" and item.name.startswith(
            "test_query_parity["
        ):
            if canaries is None:
                canaries = _parity_canaries()
            qname = item.name.split("[", 1)[1].rstrip("]")
            if qname not in canaries:
                item.add_marker(pytest.mark.slow)
