"""Streaming as-of enrichment: tag each event with the latest known
reference value for its key -- the streaming twin of the batch as-of
join (``operators.joins.q_asof_lastval``), and the "enrich trades with
the prevailing quote" pattern generalized.

Structured Streaming has no native as-of join (stream-stream joins are
interval-bounded equi/theta joins); the as-of semantics -- "for this
left row, the newest right row with ``ts`` at-or-before it" -- are
STATE: remember, per key, the most recent reference observation, and
look it up when an event arrives. That is exactly
``applyInPandasWithState``:

- both inputs union into one keyed stream with a ``_side`` tag
  (reference rows carry the value, event rows ask for it), so ONE
  stateful stage sees them in a single per-key ordering -- no
  stream-stream join state, no watermark coupling;
- within a micro-batch the group's rows sort by (ts, tiebreak), and a
  running scan emits each event with the latest reference value at or
  before it; state persists (last_ts, last_value) across batches
  (``streaming/fold.py`` owns the state protocol);
- state is TWO scalars per key -- bounded regardless of stream length
  (the interval-join alternative buffers a watermark-wide window of
  BOTH sides).

Ordering contract (documented, test-pinned): within a micro-batch,
as-of is exact in event time. Across batches it is exact iff reference
rows are not delivered in a LATER batch than an event they should have
enriched (the usual monotonic-ingest assumption); a late reference
updates state for subsequent events but never rewrites emitted rows --
the same append-mode semantics every streaming enrichment has.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fold import fold_stream

_STATE_SCHEMA = "last_ts double, last_value double"

ASOF_OUTPUT_SCHEMA = (
    "key long, event_id long, ts timestamp, asof_value double"
)


def _step(key: tuple, batch: pd.DataFrame, state: tuple | None):
    last_ts, last_value = (None, None) if state is None else state
    # One per-key ordering for the whole micro-batch: event time, then
    # ID (matching the batch as-of join's tie rule -- a same-timestamp
    # reference counts only if its id <= the event's id; ids are unique
    # so the _side key never actually decides).
    batch = batch.sort_values(
        ["ts", "event_id", "_side"], kind="mergesort"
    )

    out_id, out_ts, out_val = [], [], []
    for _side, event_id, ts, value in zip(
        batch["_side"], batch["event_id"], batch["ts"], batch["value"]
    ):
        if _side == 0:
            # Reference observation. Two guards, both mirroring the
            # batch formulation:
            # - NULL values are skipped (last(..., ignorenulls) carries
            #   the prior value; overwriting with NaN would lose it);
            # - state only advances FORWARD in event time, so a
            #   reference arriving in a later batch with an older
            #   timestamp (allowed by the delivery contract when it
            #   would have enriched nothing) cannot regress state.
            if pd.isna(value):
                continue
            t = ts.timestamp()
            if last_ts is None or t >= last_ts:
                last_ts, last_value = t, float(value)
        else:  # event: emit with the prevailing reference value
            out_id.append(int(event_id))
            out_ts.append(ts)
            out_val.append(last_value)

    return (last_ts, last_value), pd.DataFrame(
        {
            "key": [int(key[0])] * len(out_id),
            "event_id": out_id,
            "ts": out_ts,
            "asof_value": pd.array(out_val, dtype="float64"),
        }
    )


def asof_enrich(
    events: DataFrame,
    refs: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    value_col: str,
) -> DataFrame:
    """Enrich streaming ``events`` with the as-of-latest ``value_col``
    from streaming ``refs``, per ``key_col``. Both frames need
    (key, ts, id) columns; refs additionally ``value_col``. Returns an
    append-mode stream of (key, event_id, ts, asof_value); asof_value
    is NULL until the key's first reference arrives."""
    r = refs.select(
        F.col(key_col).cast("long").alias("key"),
        F.lit(0).alias("_side"),
        F.col(id_col).cast("long").alias("event_id"),
        F.col(ts_col).alias("ts"),
        F.col(value_col).cast("double").alias("value"),
    )
    e = events.select(
        F.col(key_col).cast("long").alias("key"),
        F.lit(1).alias("_side"),
        F.col(id_col).cast("long").alias("event_id"),
        F.col(ts_col).alias("ts"),
        F.lit(None).cast("double").alias("value"),
    )
    return fold_stream(
        r.unionByName(e), ["key"], _step, _STATE_SCHEMA, ASOF_OUTPUT_SCHEMA
    )
