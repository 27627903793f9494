"""Streaming compaction planner: a standing small-file bin-packing
plan over a growing table -- the streaming twin of
``operators.pipeline_ops.q_compaction_plan``. An ingest pipeline's
fragment inventory changes with every micro-batch; re-planning from
scratch is a full metadata scan, but fragment SIZES are incremental
integers, so a standing stream keeps per-fragment counts as state
(one long per (partition, fragment) key -- metadata-sized forever)
and the current plan is the batch packing stages evaluated over the
state snapshot.

The plan itself is NOT recomputed in Python: ``plan_from_state``
hands max-ver fragment sizes to the batch operator's
``compaction_plan_from_inventory`` -- the IDENTICAL window
expressions -- so the streaming plan bit-equals the batch plan on
the same rows BY CONSTRUCTION. ``tests/test_compaction_stream.py``
pins that equality across a 2-file split and state carry across a
checkpoint restart.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.pipeline_ops import compaction_plan_from_inventory
from .fold import latest, versioned_stream

_STATE_SCHEMA = "size_rows long"

COMPACT_OUTPUT_SCHEMA = "d timestamp, hr int, size_rows long"


def _fold(key: tuple, rows: pd.DataFrame, acc: tuple | None) -> tuple:
    return ((0 if acc is None else acc[0]) + len(rows),)


def _emit(key: tuple, acc: tuple) -> pd.DataFrame:
    return pd.DataFrame({"d": [key[0]], "hr": [key[1]], "size_rows": [acc[0]]})


def compaction_stream(stream: DataFrame) -> DataFrame:
    """Standing fragment inventory over an events-shaped stream: one
    state row per (day, hour) fragment."""
    keyed = stream.select(
        F.date_trunc("day", "ts").alias("d"),
        F.hour("ts").alias("hr"),
    )
    return versioned_stream(
        keyed, ["d", "hr"], _fold, _emit, _STATE_SCHEMA, COMPACT_OUTPUT_SCHEMA
    )


def plan_from_state(raw: DataFrame) -> DataFrame:
    """Current compaction plan: max-ver fragment sizes through the
    batch operator's packing stages."""
    return compaction_plan_from_inventory(latest(raw, ["d", "hr"]))
