"""Streaming Markov transitions: standing per-user transition counts
-- the streaming twin of ``operators.sequence.q_transitions``.

State per key is (last event type, last (ts, event_id) watermark) plus
nothing else: transition COUNTS are emitted as mergeable deltas per
micro-batch and aggregated at read time (:func:`transition_matrix`),
so the stateful stage never accumulates the |types|^2 matrix -- the
sink does, additively. Like the EMA twin (and unlike the CDC lattice)
the pairing is an ORDERED fold: rows fold in (ts, event_id) order
within each micro-batch and micro-batch boundaries may split but never
reorder a key's sequence (file-replay / per-key-ordered log sources).
Under that contract the emitted deltas partition the batch pairing
exactly, so the summed matrix equals q_transitions' counts
row-for-row (tests/test_transitions_stream.py, including across a
checkpoint restart).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fold import fold_stream

_STATE_SCHEMA = "last_type string, ts_us long, event_id long"

TRANSITIONS_OUTPUT_SCHEMA = (
    "user_id long, prev_type string, next_type string, n long"
)


def _step(key: tuple, rows: pd.DataFrame, state: tuple | None):
    rows = rows.assign(_us=rows["ts"].astype("int64") // 1000)
    rows = rows.sort_values(["_us", "event_id"])
    last_type = None if state is None else state[0]
    deltas: dict[tuple, int] = {}
    for etype in rows["event_type"]:
        if last_type is not None:
            k = (last_type, etype)
            deltas[k] = deltas.get(k, 0) + 1
        last_type = str(etype)
    tail = rows.iloc[-1]
    out = pd.DataFrame(
        {
            "user_id": [key[0]] * len(deltas),
            "prev_type": [k[0] for k in deltas],
            "next_type": [k[1] for k in deltas],
            "n": list(deltas.values()),
        }
    )
    return (last_type, int(tail["_us"]), int(tail["event_id"])), out


def transitions_stream(event_stream: DataFrame) -> DataFrame:
    """Per-micro-batch transition-count deltas over a stream of
    (user_id, ts, event_id, event_type) rows. Deltas are mergeable:
    sum them (:func:`transition_matrix`) for the current matrix."""
    return fold_stream(
        event_stream.select("user_id", "ts", "event_id", "event_type"),
        ["user_id"],
        _step,
        _STATE_SCHEMA,
        TRANSITIONS_OUTPUT_SCHEMA,
    )


def transition_matrix(rows: DataFrame) -> DataFrame:
    """Batch helper over an emitted-deltas sink: the aggregated
    transition matrix with row-normalized probabilities, shaped like
    q_transitions."""
    c = rows.groupBy("prev_type", "next_type").agg(
        F.sum("n").alias("n_trans")
    )
    r = c.groupBy("prev_type").agg(F.sum("n_trans").alias("row_total"))
    return c.join(F.broadcast(r), "prev_type").select(
        "prev_type",
        "next_type",
        "n_trans",
        "row_total",
        F.round(
            F.col("n_trans").cast("double")
            / F.col("row_total").cast("double"),
            6,
        ).alias("p"),
    )
