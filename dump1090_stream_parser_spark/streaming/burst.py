"""Streaming burst detection: per-type trailing-baseline z-scores on a
zero-filled calendar, emitted as days CLOSE -- the streaming twin of
``operators.timeseries.q_burst``.

State is O(BURST_WINDOW) per key BY CONSTRUCTION: the currently-open
day's count plus the trailing window of closed-day counts (zero-filled
gap days included, so the calendar semantics match the batch spine
exactly). The twin's contract is the EMA twin's ordered arrival: a
key's rows arrive in non-decreasing day order, micro-batches may split
but never reorder (file-replay and log sources satisfy this). A day is
scored the moment a LATER day's first event closes it -- so for any
stream prefix, the emitted rows are bit-identical to the batch q_burst
rows over every CLOSED day (the still-open final day per type is the
only batch row the stream cannot yet emit; tests/test_burst_stream.py
pins exactly that equality, micro-batch splits and checkpoint restart
included).

Float discipline: the z closed form evaluates the same IEEE operation
sequence as the shared `_BURST_Z_EXPR` text (integer sums cast once,
7.0*ss - s*s guard before the division), and emission rounding is the
shortest-repr HALF_UP quantize that matches Spark round() (the EMA
twin's discipline), so stream rows hash-compare with batch rows.
"""

from __future__ import annotations

from datetime import date, timedelta
from decimal import ROUND_HALF_UP, Decimal
from math import sqrt

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.timeseries import BURST_WINDOW, BURST_Z
from .fold import fold_stream

_STATE_SCHEMA = "open_day long, open_cnt long, hist array<long>"

BURST_OUTPUT_SCHEMA = (
    "event_type string, day timestamp, n_events long,"
    " base_mean double, z double, is_burst boolean"
)

_EPOCH = date(1970, 1, 1)


def _round6(x: float) -> float:
    return float(
        Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)
    )


def _score(c: int, hist: list[int]) -> tuple[float, float | None, bool]:
    """(base_mean, z, is_burst) for a closing day with count ``c``
    against the trailing BURST_WINDOW closed-day counts -- the exact
    IEEE sequence of the shared _BURST_Z_EXPR text."""
    trail = hist[-BURST_WINDOW:]
    s = sum(trail)
    ss = sum(v * v for v in trail)
    mean = float(s) / 7.0
    num = 7.0 * float(ss) - float(s) * float(s)
    if num > 0:
        z = (float(c) - float(s) / 7.0) / sqrt(num / 49.0)
        return mean, z, z > BURST_Z
    return mean, None, False


def _step(key: tuple, rows: pd.DataFrame, state: tuple | None):
    if state is None:
        open_day, open_cnt, hist = None, 0, []
    else:
        open_day, open_cnt = int(state[0]), int(state[1])
        hist = [int(v) for v in state[2]]
    days = (
        rows["ts"].dt.normalize().map(lambda t: (t.date() - _EPOCH).days)
    )
    per_day = days.value_counts().sort_index()

    out: dict[str, list] = {
        "event_type": [],
        "day": [],
        "n_events": [],
        "base_mean": [],
        "z": [],
        "is_burst": [],
    }
    for day_int, cnt in per_day.items():
        day_int, cnt = int(day_int), int(cnt)
        if open_day is None:
            open_day, open_cnt = day_int, cnt
            continue
        if day_int == open_day:
            open_cnt += cnt
            continue
        # close the open day, then every zero-filled gap day before
        # the new arrival -- the batch spine's calendar semantics
        for d in range(open_day, day_int):
            c = open_cnt if d == open_day else 0
            if len(hist) >= BURST_WINDOW:
                mean, z, flag = _score(c, hist)
                out["event_type"].append(key[0])
                out["day"].append(
                    pd.Timestamp(_EPOCH + timedelta(days=d))
                )
                out["n_events"].append(c)
                out["base_mean"].append(_round6(mean))
                out["z"].append(
                    _round6(z) if z is not None else None
                )
                out["is_burst"].append(bool(flag))
            hist.append(c)
            if len(hist) > BURST_WINDOW:
                hist = hist[-BURST_WINDOW:]
        open_day, open_cnt = day_int, cnt

    return (open_day, open_cnt, hist), pd.DataFrame(out)


def burst_stream(event_stream: DataFrame) -> DataFrame:
    """Per-type burst alerts over a stream of (event_type, ts) rows:
    one scored row per CLOSED calendar day with a full trailing
    baseline, emitted the moment a later day opens."""
    return fold_stream(
        event_stream.select("event_type", "ts"),
        ["event_type"],
        _step,
        _STATE_SCHEMA,
        BURST_OUTPUT_SCHEMA,
    )


def closed_day_rows(batch_rows: DataFrame) -> DataFrame:
    """Batch helper: q_burst's output restricted to each type's CLOSED
    days -- everything strictly before the type's last active day
    (the batch spine ends AT the last active day, so the output's own
    per-type max day identifies it). This is exactly the subset a
    fully-drained stream has emitted."""
    last = batch_rows.groupBy("event_type").agg(
        F.max("day").alias("last_day")
    )
    return (
        batch_rows.join(F.broadcast(last), "event_type")
        .filter(F.col("day") < F.col("last_day"))
        .drop("last_day")
    )
