"""Streaming subsampling CI: a standing per-cohort confidence interval
over an unbounded order stream -- the streaming twin of
``operators.statistics.q_subsample_ci`` and the online-experiment
monitor: "what is the mean-spend CI per cohort RIGHT NOW", updated per
micro-batch, with no RNG state anywhere.

Hash-bit replica membership is a pure row function, so the stream
needs exactly the batch operator's sufficient statistics as state: one
(n, s, sb[B], cb[B]) row per cohort -- 2B+2 longs, bytes forever. The
stateful stage folds each micro-batch's (cents, hash) pairs into those
integers (vectorized numpy masks per bit; sums in Python ints -- exact
at any volume) and emits the state snapshot stamped with a
monotonically-increasing ``ver``.

The CI itself is NOT recomputed in Python: ``ci_from_state`` hands the
max-ver snapshots to the batch operator's ``subsample_ci_tail`` -- the
IDENTICAL Spark expressions (replica-mean division, sort_array order
statistics, the literal-sqrt(1/2) closed form) -- so stream output is
bit-equal to batch output on the same rows BY CONSTRUCTION, not by
tolerance (the streaming/drift.py discipline).
``tests/test_subsample_stream.py`` pins that equality across a 2-file
split and a checkpoint restart.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64
from ..operators.statistics import SS_REPLICAS, subsample_ci_tail
from .fold import latest, versioned_stream

_STATE_SCHEMA = "n long, s long, sb array<long>, cb array<long>"

SUBSAMPLE_OUTPUT_SCHEMA = (
    "grp string, n long, s long, sb array<long>, cb array<long>"
)


def _fold(key: tuple, rows: pd.DataFrame, acc: tuple | None) -> tuple:
    if acc is None:
        n, s, sb, cb = 0, 0, [0] * SS_REPLICAS, [0] * SS_REPLICAS
    else:
        n, s, sb, cb = acc[0], acc[1], list(acc[2]), list(acc[3])
    cents = rows["cents"].to_numpy()
    hs = rows["h"].to_numpy()
    for b in range(SS_REPLICAS):
        mask = (hs >> b) & 1 == 1
        cb[b] += int(mask.sum())
        sb[b] += sum(int(v) for v in cents[mask])
    return n + len(cents), s + sum(int(v) for v in cents), sb, cb


def _emit(key: tuple, acc: tuple) -> pd.DataFrame:
    n, s, sb, cb = acc
    return pd.DataFrame(
        {"grp": [key[0]], "n": [n], "s": [s], "sb": [sb], "cb": [cb]}
    )


def subsample_stream(stream: DataFrame) -> DataFrame:
    """Standing sufficient statistics over an orders-shaped stream:
    one output row per (cohort, micro-batch-version)."""
    keyed = stream.select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias("cents"),
        portable_hash64(F.col("o_orderkey")).alias("h"),
    )
    return versioned_stream(
        keyed, ["grp"], _fold, _emit, _STATE_SCHEMA, SUBSAMPLE_OUTPUT_SCHEMA
    )


def ci_from_state(raw: DataFrame) -> DataFrame:
    """Current CI table: max-ver state snapshot per cohort, closed
    forms evaluated by the batch operator's subsample_ci_tail over the
    exact same Spark expressions."""
    return subsample_ci_tail(
        latest(raw, ["grp"]).select(
            "grp",
            "n",
            "s",
            *[F.col("sb")[b].alias(f"s{b}") for b in range(SS_REPLICAS)],
            *[F.col("cb")[b].alias(f"c{b}") for b in range(SS_REPLICAS)],
        )
    )
