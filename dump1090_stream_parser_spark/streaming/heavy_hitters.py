"""Streaming heavy hitters: a standing "top talkers" query over an
unbounded key stream -- the streaming twin of the batch
``operators.pipeline_ops.heavy_hitters`` Misra-Gries sketch.

A monitoring pipeline wants the current most-frequent keys (chatty
aircraft, hot users, dominant URLs) AS EVENTS ARRIVE; re-counting the
whole history per micro-batch is the O(stream) anti-pattern, and exact
per-key streaming counts hold one state row per DISTINCT key -- unbounded.
This operator keeps a Misra-Gries summary as the state instead:

- keys are hash-partitioned into ``N_HH_BUCKETS`` groups (a key maps to
  exactly ONE bucket, so per-bucket partial counts are disjoint and the
  union of summaries is the global answer);
- ``applyInPandasWithState`` keyed by bucket merges each micro-batch's
  vectorized ``value_counts`` into the bucket summary and applies the
  batched Misra-Gries decrement whenever it exceeds ``cap`` keys --
  state is O(cap) per bucket REGARDLESS of stream length or key
  cardinality (the whole point);
- after each batch that touches a bucket, the bucket emits its full
  current summary stamped with a monotonically-increasing ``ver`` --
  append-mode friendly (works against parquet sinks and checkpoint
  restarts): a consumer reads the max-``ver`` rows per bucket and
  unions buckets.

Guarantees (the batch operator's, carried per bucket): with ``dec`` the
bucket's total decrement, every reported ``cnt`` satisfies
``cnt <= true <= cnt + dec``, and any key whose true count in the
bucket exceeds ``dec`` is present in the summary. With ``cap`` above
the bucket's distinct-key count the summary is EXACT
(tests/test_hh_stream.py pins both regimes plus a query restart).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64
from ..functions.sketches import mg_merge
from .fold import latest, versioned_stream

#: Key-space parallelism: buckets are the stateful-stage partitioning
#: unit, so throughput scales to min(N_HH_BUCKETS, cores).
N_HH_BUCKETS = 16

#: Default per-bucket Misra-Gries capacity (top-talkers tier: emission
#: volume per batch is <= active_buckets * cap rows).
HH_STREAM_CAP = 64

_STATE_SCHEMA = "keys array<long>, cnts array<long>, dec long"

HH_OUTPUT_SCHEMA = "bucket int, key long, cnt long, dec long"


def _make_fold(cap: int):
    """Bind ``cap`` at plan time (the fold gets no side channel)."""

    def fold(key: tuple, rows: pd.DataFrame, acc: tuple | None) -> tuple:
        keys, cnts, dec = ([], [], 0) if acc is None else acc
        summary = pd.Series(list(cnts), index=list(keys), dtype="int64")
        summary, d = mg_merge(summary, rows["key"].value_counts(), cap)
        return (
            [int(k) for k in summary.index],
            [int(c) for c in summary.values],
            int(dec) + d,
        )

    return fold


def _emit(key: tuple, acc: tuple) -> pd.DataFrame:
    keys, cnts, dec = acc
    # ALWAYS emit on a processed batch -- a decrement can empty the
    # summary entirely (cap+1 equal counts), and suppressing that
    # emission would leave max-ver consumers holding a stale summary
    # whose dec no longer covers the dropped keys. An empty summary
    # emits one NULL-key ledger row carrying (dec, ver).
    out_keys = keys if keys else [None]
    return pd.DataFrame(
        {
            "bucket": [key[0]] * len(out_keys),
            "key": pd.array(out_keys, dtype="Int64"),
            "cnt": cnts if keys else [0],
            "dec": [dec] * len(out_keys),
        }
    )


def heavy_hitters_stream(
    key_stream: DataFrame,
    key_col: str,
    cap: int = HH_STREAM_CAP,
    n_buckets: int = N_HH_BUCKETS,
) -> DataFrame:
    """Running Misra-Gries summaries over ``key_stream[key_col]``
    (a long column; NULLs are dropped before the stateful stage).

    Returns an append-mode stream of (bucket, key, cnt, dec, ver) rows;
    the current global sketch = max-``ver`` rows per bucket, unioned.
    Top-k consumers sort that union by cnt desc."""
    keyed = (
        key_stream.filter(F.col(key_col).isNotNull())
        .select(
            F.pmod(portable_hash64(F.col(key_col)), F.lit(n_buckets))
            .cast("int")
            .alias("bucket"),
            F.col(key_col).cast("long").alias("key"),
        )
    )
    # NoTimeout is deliberate and safe HERE (contrast near_dup.py, whose
    # band-key space is unbounded and therefore TTL-evicts): the key
    # space is the fixed n_buckets hash partitions and Misra-Gries holds
    # at most `cap` counters per bucket BY CONSTRUCTION, so total state
    # is a small constant -- O(n_buckets * cap) -- independent of stream
    # length and of the number of distinct keys. Evicting a bucket would
    # silently reset its decrement ledger and void the sketch's
    # (count - dec*) error bound.
    return versioned_stream(
        keyed, ["bucket"], _make_fold(cap), _emit, _STATE_SCHEMA,
        HH_OUTPUT_SCHEMA,
    )


def latest_summary(rows: DataFrame) -> DataFrame:
    """Batch helper over an emitted-rows sink: reduce to each bucket's
    max-``ver`` summary (the current global sketch). NULL-key rows are
    empty-summary ledger markers (dec/ver only) and are dropped -- the
    dec they carry applies to a summary with no reportable keys."""
    return latest(rows, ["bucket"]).filter(F.col("key").isNotNull())
