"""Streaming EMA: a standing per-key exponentially weighted average --
the streaming twin of ``operators.timeseries.q_ema``.

State is O(1) per key BY CONSTRUCTION: the fold accumulator itself
(one double) plus the observation count. Unlike the sketch twins
(count-min, KMV) the EMA fold is NOT commutative, so the twin's
contract is ORDERED ARRIVAL: rows are folded in (ts, event_id) order
within each micro-batch, and micro-batch boundaries may split but
never reorder a key's sequence (file-replay and log sources that
preserve per-key order satisfy this; out-of-order sources need an
upstream watermark/reorder stage, the streaming as-of precedent).
Under that contract the stream fold executes the EXACT op sequence of
the batch sorted-array fold -- seed with the first value, then
``acc*0.75 + 0.25*x`` per row, all IEEE doubles -- so the emitted
values are bit-identical to the batch query's regardless of where
micro-batches cut (pinned in tests/test_ema_stream.py, including
across a checkpoint restart).

Output is append-mode rows stamped with a monotonically-increasing
``ver``; the current table is the max-``ver`` row per key
(:func:`latest_ema`). Rounding happens only at emission, with the
shortest-repr HALF_UP quantize that matches Spark's round() (the
weighted-sample discipline), so the latest row hash-compares with the
batch q_ema row for the same prefix.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
from pyspark.sql import DataFrame

from ..operators.timeseries import EMA_ALPHA
from .fold import latest, versioned_stream

_STATE_SCHEMA = "ema double, n long"

EMA_OUTPUT_SCHEMA = "user_id long, n_events long, ema_value double"


def _round6(x: float) -> float:
    return float(
        Decimal(repr(x)).quantize(
            Decimal("1e-6"), rounding=ROUND_HALF_UP
        )
    )


def _fold(key: tuple, rows: pd.DataFrame, acc: tuple | None):
    ema, n = (None, 0) if acc is None else (acc[0], int(acc[1]))
    rows = rows[rows["value"].notna()]
    if not len(rows):
        return None
    rows = rows.sort_values(["ts", "event_id"])
    one_minus = 1.0 - EMA_ALPHA
    for x in rows["value"]:
        x = float(x)
        # the batch fold's exact op sequence: NULL-seed, then one
        # multiply-add chain per row (no FMA on either engine)
        ema = x if ema is None else ema * one_minus + EMA_ALPHA * x
    return float(ema), n + len(rows)


def _emit(key: tuple, acc: tuple) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [acc[1]],
            "ema_value": [_round6(acc[0])],
        }
    )


def ema_stream(event_stream: DataFrame) -> DataFrame:
    """Running per-user EMA over a stream of (user_id, ts, event_id,
    value) rows. Emits one row per (key, micro-batch that touched it);
    the current table is :func:`latest_ema` over the sink."""
    return versioned_stream(
        event_stream.select("user_id", "ts", "event_id", "value"),
        ["user_id"],
        _fold,
        _emit,
        _STATE_SCHEMA,
        EMA_OUTPUT_SCHEMA,
    )


def latest_ema(rows: DataFrame) -> DataFrame:
    """Batch helper over an emitted-rows sink: each key's max-``ver``
    emission, shaped like q_ema's output."""
    return latest(rows, ["user_id"]).select(
        "user_id", "n_events", "ema_value"
    )
