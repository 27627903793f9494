"""Streaming CDC apply: standing per-key MERGE state -- the streaming
twin of ``operators.cdc.q_cdc_apply``.

Unlike the EMA twin (an ordered fold), CDC state is a LATTICE: counts
are additive and the last-writer fields are an argmax over the total
(ts, event_id) order carried BY THE DATA, so merging is commutative
and associative. The twin therefore needs NO ordered-arrival
contract: micro-batches may split, reorder, or interleave a key's
rows arbitrarily and the state converges to the batch answer
(tests/test_cdc_stream.py replays the log in REVERSE time order and
still matches the batch live view row-for-row, plus a checkpoint
restart). This is the same argmax-by-timestamp CRDT shape lakehouse
MERGE engines rely on for out-of-order change streams.

State is O(1) per key: two counters, the last op, its payload, and
the (ts, event_id) watermark of the writer that owns them. Output is
append-mode rows stamped with a monotonically-increasing ``ver``; the
current LIVE table is the max-``ver`` row per key with tombstones
dropped (:func:`latest_cdc`), shaped exactly like q_cdc_apply.

Payload contract: like the batch query, the value double is carried
verbatim (no arithmetic); callers with NULLable payloads pre-coalesce
them (the streaming KMV precedent for caller-side NULL policy).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fold import latest, versioned_stream

_STATE_SCHEMA = (
    "n_ops long, n_deletes long, last_op string, val double,"
    " ts_us long, event_id long"
)

CDC_OUTPUT_SCHEMA = (
    "user_id long, n_ops long, n_deletes long, last_op string,"
    " current_value double, last_ts timestamp"
)

_LIVE_COLS = [
    "user_id", "n_ops", "n_deletes", "last_op", "current_value", "last_ts"
]


def _fold(key: tuple, rows: pd.DataFrame, acc: tuple | None) -> tuple:
    if acc is None:
        n_ops = n_deletes = 0
        last_op, val, ts_us, event_id = None, float("nan"), -1, -1
    else:
        n_ops, n_deletes, last_op, val, ts_us, event_id = acc
    n_ops = int(n_ops) + len(rows)
    n_deletes = int(n_deletes) + int((rows["op"] == "D").sum())
    # argmax over the data-carried total order -- arrival order is
    # irrelevant, which is what makes the state a mergeable lattice
    us = rows["ts"].astype("int64") // 1000
    best = rows.assign(_us=us).sort_values(["_us", "event_id"]).iloc[-1]
    if (int(best["_us"]), int(best["event_id"])) > (int(ts_us), int(event_id)):
        last_op = str(best["op"])
        val = float(best["value"])
        ts_us = int(best["_us"])
        event_id = int(best["event_id"])
    return n_ops, n_deletes, last_op, val, ts_us, event_id


def _emit(key: tuple, acc: tuple) -> pd.DataFrame:
    n_ops, n_deletes, last_op, val, ts_us, _ = acc
    return pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_ops": [n_ops],
            "n_deletes": [n_deletes],
            "last_op": [last_op],
            "current_value": [val],
            "last_ts": [pd.Timestamp(int(ts_us) * 1000)],
        }
    )


def cdc_stream(log_stream: DataFrame) -> DataFrame:
    """Standing MERGE state over a stream of (user_id, ts, event_id,
    op, value) changelog rows. Emits one row per (key, micro-batch
    that touched it); the current live table is :func:`latest_cdc`
    over the sink."""
    return versioned_stream(
        log_stream.select("user_id", "ts", "event_id", "op", "value"),
        ["user_id"],
        _fold,
        _emit,
        _STATE_SCHEMA,
        CDC_OUTPUT_SCHEMA,
    )


def cdc_snapshot_sink(table_dir: str, app_id: str, n_buckets: int = 8):
    """foreachBatch sink landing the CDC twin's emissions in a SNAPSHOT
    table (VERDICT r11 ask #6): the stateful stream's per-key state
    rows upsert into the same transactional lineage the batch ops
    certify -- exactly-once via the manifest txn ledger (a re-delivered
    micro-batch's non-advancing batch_id is a no-op), snapshot
    isolation for concurrent readers, compaction and time travel on
    the streamed table itself (pinned in tests/test_cdc_stream.py).

    The partition column is a hash bucket of the key (``user_id %
    n_buckets``) -- a pure function of the key, satisfying the
    snapshot protocol's partition-stable-keys contract by
    construction. ``cdc_stream`` emits at most one row per key per
    micro-batch, satisfying the upsert's one-row-per-key rule the same
    way."""
    from ..plans.snapshots import snapshot_upsert_sink

    inner = snapshot_upsert_sink(
        table_dir, "user_id", app_id=app_id, part_col="bucket"
    )

    def write(batch_df: DataFrame, batch_id: int) -> None:
        inner(
            batch_df.withColumn(
                "bucket",
                F.pmod(F.col("user_id"), F.lit(n_buckets)).cast("int"),
            ),
            batch_id,
        )

    return write


def live_cdc_snapshot(spark, table_dir: str, version: int | None = None):
    """The live table over a :func:`cdc_snapshot_sink` snapshot table:
    the snapshot already holds exactly one (latest) row per key, so the
    live view is just the tombstone filter -- no max-``ver`` collapse
    needed (that is what the upsert bought). ``version`` time-travels
    to any retained snapshot of the STREAMED table."""
    from ..plans.snapshots import read_snapshot

    return (
        read_snapshot(spark, table_dir, version=version)
        .filter(F.col("last_op") != "D")
        .select(*_LIVE_COLS)
    )


def latest_cdc(rows: DataFrame) -> DataFrame:
    """Batch helper over an emitted-rows sink: each key's max-``ver``
    emission with tombstones dropped, shaped like q_cdc_apply."""
    return (
        latest(rows, ["user_id"])
        .filter(F.col("last_op") != "D")
        .select(*_LIVE_COLS)
    )
