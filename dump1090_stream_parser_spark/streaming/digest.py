"""Streaming table digest: incrementally-maintained per-bucket content
digests -- the streaming twin of ``operators.pipeline_ops``'s
``q_table_digest``. A replication pipeline appends rows continuously;
re-digesting the whole table per verification is a full scan, but the
digest ALGEBRA (count add, xor fold, modular sum) is incremental, so a
standing stream keeps every bucket's digest current at micro-batch
grain and a replica check diffs two digest tables whenever it likes.

Layout (the streaming/countmin.py discipline):

- the pre-stage hashes rows with the batch operator's EXACT
  ``digest_row_hash`` expression and keys by ``bucket`` -- parallelism
  is DIGEST_BUCKETS state groups, each holding one (n, xor, sum) row
  of state (bytes, forever);
- ``applyInPandasWithState`` folds each micro-batch's hashes into the
  bucket state -- xor via a vectorized reduce, the modular sum in
  exact Python ints (a numpy int64 sum would silently WRAP past ~8e3
  rows of 2^60 hashes per batch; arbitrary-precision then one final
  mod keeps it exact) -- and emits the bucket's digest stamped with a
  monotonically-increasing ``ver``;
- the current digest table is the max-``ver`` row per bucket
  (``latest_digest``), append-mode friendly.

Counter addition, xor and modular addition are all commutative and
associative, so micro-batch boundaries cannot change any digest:
``tests/test_digest_stream.py`` pins stream == batch bit-equality
across a 2-file split AND across a checkpoint restart that appends a
third file.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..operators.pipeline_ops import (
    DIGEST_BUCKETS,
    DIGEST_SUM_MOD,
    digest_row_hash,
)
from .fold import latest, versioned_stream

_STATE_SCHEMA = "n long, x long, s long"

DIGEST_OUTPUT_SCHEMA = (
    "bucket long, n_rows long, xor_digest long, sum_digest long"
)


def _fold(key: tuple, rows: pd.DataFrame, acc: tuple | None) -> tuple:
    n, x, s = (0, 0, 0) if acc is None else acc
    hs = rows["h"].to_numpy()
    # XOR is overflow-free in int64 -- vectorized reduce; the SUM is
    # not (60-bit hashes wrap past ~8e3 rows), so it folds in
    # arbitrary-precision Python ints
    x ^= int(np.bitwise_xor.reduce(hs))
    s = (s + sum(int(v) for v in hs)) % DIGEST_SUM_MOD
    return n + len(hs), x, s


def _emit(key: tuple, acc: tuple) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "bucket": [key[0]],
            "n_rows": [acc[0]],
            "xor_digest": [acc[1]],
            "sum_digest": [acc[2]],
        }
    )


def digest_stream(stream: DataFrame) -> DataFrame:
    """Standing digest over a lineitem-shaped stream: one output row
    per (bucket, micro-batch-version), latest ver = current digest."""
    h = digest_row_hash()
    keyed = stream.select(
        (h % DIGEST_BUCKETS).alias("bucket"), h.alias("h")
    )
    return versioned_stream(
        keyed, ["bucket"], _fold, _emit, _STATE_SCHEMA, DIGEST_OUTPUT_SCHEMA
    )


def latest_digest(raw: DataFrame) -> DataFrame:
    """Current digest table from the append-mode output: max-ver row
    per bucket."""
    return latest(raw, ["bucket"])
