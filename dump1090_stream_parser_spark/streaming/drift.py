"""Streaming distribution-drift monitor: per-cohort value histograms
maintained as state, with pairwise Kolmogorov-Smirnov computed from
the latest snapshots -- the streaming twin of
``operators.statistics.q_ks_test`` ("did cohort B's spend distribution
drift away from cohort A's, judged on everything seen so far").

State is the EXACT (value -> count) histogram per cohort -- the same
value collapse the batch query's first stage produces, so it is
bounded by the cohort's DISTINCT value domain, not its row count (the
q_weighted_median argument; a continuous domain takes the documented
fixed-width quantization swap). Counts are order-insensitive
integers, so unlike the fold twins this one needs NO arrival-order
contract: any interleaving of micro-batches yields the same state.

Each micro-batch emits one versioned snapshot per UPDATED cohort
(value/count arrays, value-sorted). The cross-cohort combine cannot
live inside the per-key stateful stage, so it runs as the batch
finisher :func:`ks_from_snapshots` over the sink's latest snapshots --
and it reuses ``ks_pairs_from_counts``, the SAME pair stage the batch
query executes, so for a fully-drained stream the monitor's matrix is
bit-identical to q_ks_test on the same rows
(tests/test_drift_stream.py pins equality across micro-batch splits
and a checkpoint restart).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.statistics import ks_pairs_from_counts
from .fold import latest, versioned_stream

_STATE_SCHEMA = "vals array<long>, cnts array<long>"

DRIFT_OUTPUT_SCHEMA = "grp string, n long, vals array<long>, cnts array<long>"


def _fold(key: tuple, rows: pd.DataFrame, acc: tuple | None) -> tuple:
    hist = {} if acc is None else dict(zip(map(int, acc[0]), map(int, acc[1])))
    for v, c in rows["v"].value_counts().items():
        hist[int(v)] = hist.get(int(v), 0) + int(c)
    ordered = sorted(hist)
    return ordered, [hist[v] for v in ordered]


def _emit(key: tuple, acc: tuple) -> pd.DataFrame:
    vals, cnts = acc
    return pd.DataFrame(
        {"grp": [key[0]], "n": [sum(cnts)], "vals": [vals], "cnts": [cnts]}
    )


def drift_stream(value_stream: DataFrame) -> DataFrame:
    """Versioned per-cohort histogram snapshots over a stream of
    (grp, v) rows -- v an exact integer (cent-scale money upstream).
    Feed the sink's latest snapshots to :func:`ks_from_snapshots`."""
    return versioned_stream(
        value_stream.select("grp", "v"),
        ["grp"],
        _fold,
        _emit,
        _STATE_SCHEMA,
        DRIFT_OUTPUT_SCHEMA,
    )


def ks_from_snapshots(rows: DataFrame) -> DataFrame:
    """Pairwise KS matrix from the max-``ver`` snapshot per cohort:
    explode the histograms back to the (grp, v, cnt) collapse and run
    ks_pairs_from_counts -- the batch query's OWN pair stage, so the
    result is bit-identical to q_ks_test over the same data."""
    c = (
        latest(rows, ["grp"])
        .select(
            "grp",
            F.explode(F.arrays_zip("vals", "cnts")).alias("e"),
        )
        .select(
            "grp",
            F.col("e.vals").alias("v"),
            F.col("e.cnts").alias("cnt"),
        )
    )
    return ks_pairs_from_counts(c)
