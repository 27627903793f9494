"""Streaming KMV distinct sketch: a standing per-source bottom-k of
portable hashes over an unbounded key stream -- the streaming twin of
the batch ``operators.pipeline_ops.q_set_overlap_kmv`` sketches, and
the third streaming sketch alongside ``heavy_hitters.py`` (Misra-Gries)
and ``countmin.py`` (frequency grid).

An overlap dashboard wants "how much do sources A and B share" as
events arrive; exact streaming distinct state is one row per distinct
key per source (unbounded). KMV keeps the K smallest 60-bit hashes per
source instead: state is K longs per source BY CONSTRUCTION, the
bottom-k is duplicate-insensitive (re-observing a key cannot change a
min) and order-insensitive (min-k over any micro-batch split equals
min-k over the whole stream), so the streamed sketch equals the batch
sketch BIT-FOR-BIT, and any source pair's union / Jaccard / overlap
estimates come straight off the stored sketches without touching the
stream again.

Layout:

- the pre-stage maps each event to its source plus the SAME
  ``kmv_key`` -> ``portable_hash64`` hash the batch query uses;
- ``applyInPandasWithState`` keyed by source merges each micro-batch's
  distinct hashes into the state array and trims to K (one vectorized
  union + sort per batch);
- after each batch that touches a source, the source emits its full
  current sketch stamped with a monotonically-increasing ``ver`` --
  append-mode friendly: the current sketch is the max-``ver`` rows per
  source (:func:`latest_sketch`), <= K rows per source per emission.

NoTimeout is safe for the same structural reason as the other sketch
twins: the key space is the fixed source inventory and each state row
is <= K longs, so total state is sources x K regardless of stream
length or key cardinality. tests/test_kmv_stream.py pins stream==batch
sketch equality across micro-batch splits and a checkpoint restart.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64
from ..operators.pipeline_ops import K_KMV
from .fold import latest, versioned_stream

_STATE_SCHEMA = "mins array<long>"

KMV_OUTPUT_SCHEMA = "source string, h long"


def _make_fold(k: int):
    """Bind ``k`` at plan time (the fold gets no side channel)."""

    def fold(key: tuple, rows: pd.DataFrame, acc: tuple | None) -> tuple:
        mins = np.asarray([] if acc is None else acc[0], dtype=np.int64)
        h = np.unique(np.concatenate([mins, rows["h"].to_numpy(np.int64)]))
        return ([int(v) for v in h[:k]],)

    return fold


def _emit(key: tuple, acc: tuple) -> pd.DataFrame:
    return pd.DataFrame(
        {"source": [key[0]] * len(acc[0]), "h": np.asarray(acc[0], np.int64)}
    )


def kmv_stream(
    event_stream: DataFrame,
    source_col: str,
    key_col: Column,
    k: int = K_KMV,
) -> DataFrame:
    """Running per-source KMV sketches over ``key_col`` (a string-able
    Column expression, e.g. ``kmv_key(F.col("user_id"), F.col("ts"))``;
    NULL keys are dropped -- no distinct-membership question).

    CALLER CONTRACT: the internal isNotNull/non-empty guard sees only
    the COMPOSED key, so it cannot reproduce the batch query's
    per-column NULL filters -- concat_ws-built keys swallow a NULL
    component into a shorter non-null key (e.g. a NULL user_id leaves
    a date-only key that still passes the guard). Pre-apply the batch
    query's column filters (``user_id IS NOT NULL`` etc.) to
    ``event_stream`` before calling, or pass a key column that is NULL
    whenever any component is NULL (``concat``, not ``concat_ws``);
    otherwise the streamed sketch diverges from the batch sketch on
    rows the batch query excludes.

    Returns an append-mode stream of (source, h, ver) sketch rows; the
    current sketch is the max-``ver`` rows per source
    (:func:`latest_sketch`). Overlap estimates for any source pair
    follow the batch query's estimator over the two stored sketches."""
    keyed = (
        event_stream.select(
            F.col(source_col).alias("source"), key_col.alias("k")
        )
        .filter(F.col("k").isNotNull() & (F.col("k") != ""))
        .select("source", portable_hash64(F.col("k")).alias("h"))
    )
    return versioned_stream(
        keyed, ["source"], _make_fold(k), _emit, _STATE_SCHEMA,
        KMV_OUTPUT_SCHEMA,
    )


def latest_sketch(rows: DataFrame) -> DataFrame:
    """Batch helper over an emitted-rows sink: reduce to each source's
    max-``ver`` emission (the current sketch), shaped like the batch
    query's ``ks`` stage -- (source, h) bottom-k rows."""
    return latest(rows, ["source"]).select("source", "h")
