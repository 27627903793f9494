"""Streaming Theil-Sen: a standing robust daily-volume trend per event
type -- the streaming twin of ``operators.statistics.q_theil_sen`` and
the drift companion to streaming/burst.py: burst flags TODAY's
anomaly, this tracks the robust multi-week TREND the anomaly is judged
against.

The median-of-pairwise-slopes needs only the (type, day, count)
collapse, and daily counts are incremental integers, so state is one
count per (type, day) key -- the stateful stage shards across the
day grid (horizon-bounded forever: a year is 365 state rows per
type). The trend itself is NOT recomputed in Python:
``theil_sen_from_state`` hands the max-ver day snapshots to the batch
operator's ``theil_sen_from_daily`` -- the IDENTICAL Spark pair/rank
expressions -- so stream output bit-equals batch output on the same
rows BY CONSTRUCTION (the streaming/subsample.py discipline).
``tests/test_theil_sen_stream.py`` pins that equality across a 2-file
split and state carry across a checkpoint restart.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.statistics import theil_sen_from_daily
from .fold import latest, versioned_stream

_STATE_SCHEMA = "y long"

TS_OUTPUT_SCHEMA = "event_type string, x long, y long"


def _fold(key: tuple, rows: pd.DataFrame, acc: tuple | None) -> tuple:
    return ((0 if acc is None else acc[0]) + len(rows),)


def _emit(key: tuple, acc: tuple) -> pd.DataFrame:
    return pd.DataFrame({"event_type": [key[0]], "x": [key[1]], "y": [acc[0]]})


def theil_sen_stream(stream: DataFrame) -> DataFrame:
    """Standing (type, day, count) collapse over an events-shaped
    stream: one state row per (type, day)."""
    keyed = stream.select(
        "event_type",
        F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01")))
        .cast("long")
        .alias("x"),
    )
    return versioned_stream(
        keyed, ["event_type", "x"], _fold, _emit, _STATE_SCHEMA,
        TS_OUTPUT_SCHEMA,
    )


def theil_sen_from_state(raw: DataFrame) -> DataFrame:
    """Current trend table: max-ver day counts through the batch
    operator's theil_sen_from_daily."""
    return theil_sen_from_daily(latest(raw, ["event_type", "x"]))
