"""Custom stateful streaming operator: per-aircraft track state.

The reference's only state is its reconnect counter (SURVEY.md §2.2
"Streaming: stateful custom" -- absent upstream; mandated by the north
star as custom stateful processing). This module keeps a per-aircraft
running track: last known position/altitude, an exponentially-smoothed
altitude, and a monotonically-increasing message count, updated per
micro-batch and evicted after an idle TTL.

Why a per-key fold (``streaming/fold.py``) and not a windowed agg: the
smoothing is order-dependent (EWMA over event-time-sorted updates) and
the state must survive across micro-batches indefinitely until the TTL
fires -- neither is expressible as a watermark-bounded window
aggregate. The kernel hands the step one aircraft's whole micro-batch
as one frame, so the event-time sort spans every Arrow chunk of it.

Scale posture: state is partitioned by ``hex_ident`` (the shuffle key),
a few dozen bytes per aircraft; the world fleet is ~half a million
airframes, so total state is MBs per store even at global scale. The
processing-time TTL bounds leakage from never-seen-again aircraft.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from .fold import fold_stream

#: EWMA weight for the newest altitude observation.
ALPHA = 0.3

#: Idle eviction: state for an aircraft unseen this long is dropped.
IDLE_TTL_MS = 30 * 60 * 1000

TRACK_STATE_SCHEMA = (
    "n_msgs long, last_alt long, smooth_alt double, "
    "last_lat double, last_lon double, last_seen timestamp"
)

TRACK_OUTPUT_SCHEMA = "hex_ident string, " + TRACK_STATE_SCHEMA

_OUT_COLS = [c.split()[0] for c in TRACK_OUTPUT_SCHEMA.split(", ")]


def _step(key: tuple, rows: pd.DataFrame, state: tuple | None):
    """One aircraft's state update for one micro-batch: sort its rows by
    event time so the EWMA is deterministic, fold them into the carried
    state, and emit exactly one row: the aircraft's post-batch track."""
    if state is None:
        n_msgs, last_alt, smooth_alt = 0, None, None
        last_lat = last_lon = last_seen = None
    else:
        n_msgs, last_alt, smooth_alt, last_lat, last_lon, last_seen = state

    rows = rows.sort_values("parsed_time", kind="stable")
    n_msgs += len(rows)
    for alt in rows["altitude"].dropna():
        last_alt = int(alt)
        smooth_alt = (
            float(alt)
            if smooth_alt is None
            else ALPHA * float(alt) + (1 - ALPHA) * smooth_alt
        )
    pos = rows.dropna(subset=["lat", "lon"])
    if len(pos):
        last_lat = float(pos["lat"].iloc[-1])
        last_lon = float(pos["lon"].iloc[-1])
    ts = rows["parsed_time"].dropna()
    if len(ts):
        last_seen = ts.iloc[-1]

    new = (n_msgs, last_alt, smooth_alt, last_lat, last_lon, last_seen)
    return new, pd.DataFrame([(key[0], *new)], columns=_OUT_COLS)


def track_state(silver_df: DataFrame) -> DataFrame:
    """Per-aircraft track state (append output mode).

    Input: the Silver squitters stream. Output: one row per aircraft per
    micro-batch in which it appeared, carrying its cumulative track. A
    static Silver frame gives the batch twin: one row per aircraft."""
    return fold_stream(
        silver_df.select(
            "hex_ident", "altitude", "lat", "lon", "parsed_time"
        ).filter(silver_df.hex_ident.isNotNull()),
        ["hex_ident"],
        _step,
        TRACK_STATE_SCHEMA,
        TRACK_OUTPUT_SCHEMA,
        ttl_ms=IDLE_TTL_MS,
    )
