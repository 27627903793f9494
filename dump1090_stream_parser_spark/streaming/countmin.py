"""Streaming count-min sketch: a standing point-frequency summary over
an unbounded key stream -- the streaming twin of the batch
``operators.pipeline_ops.countmin_cells`` grid, and the over-estimating
dual of ``streaming/heavy_hitters.py``'s Misra-Gries state.

A monitoring pipeline wants "how often has THIS key appeared so far"
as events arrive; exact streaming counts hold one state row per
DISTINCT key (unbounded), and Misra-Gries answers only "which keys are
frequent" -- a key it evicted has no estimate at all. Count-min keeps
a KEYLESS ``CMS_DEPTH x CMS_WIDTH`` counter grid instead: state is a
fixed few KiB by construction, every key (seen or evicted-elsewhere)
gets an estimate, and the estimate over-counts with bounded excess.

Layout:

- the grid's width axis is split into blocks of ``CMS_BLOCK_W``
  counters; the stateful stage is keyed by ``(j, block)``, so
  parallelism is ``depth * width / block_w`` state groups (32 at the
  defaults) rather than ``depth`` monoliths, and each state row is one
  bounded long array;
- the pre-stage maps each key to its depth-``j`` buckets with the SAME
  ``cms_bucket`` hash expression the batch grid uses, so stream and
  batch cells agree bit-for-bit (counter addition is commutative --
  micro-batch boundaries cannot change any cell);
- ``applyInPandasWithState`` adds each micro-batch's vectorized
  bucket ``value_counts`` into the block's counter slice and emits the
  block's NONZERO cells stamped with a monotonically-increasing
  ``ver`` -- append-mode friendly: the current global grid is the
  max-``ver`` rows per ``(j, block)``, unioned (counters only grow, so
  a cell once nonzero appears in every later emission of its block).

Guarantees (the batch grid's, carried exactly): for any key,
``est = min_j grid[j][bucket_j(key)]`` satisfies ``true <= est``, and
``est - true <= 2N/width`` per depth row with prob >= 1/2 (so the min
over depth independent rows violates it with prob <= 2^-depth).
``tests/test_countmin_stream.py`` pins stream==batch cell equality,
the over-count guarantee, and state survival across a query restart.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.pipeline_ops import CMS_DEPTH, CMS_WIDTH, cms_bucket
from .fold import latest, versioned_stream

#: Counters per state row. depth * width / block_w state groups total
#: (32 at the defaults) -- the stateful stage's parallelism unit.
CMS_BLOCK_W = 64

_STATE_SCHEMA = "cnts array<long>"

CMS_OUTPUT_SCHEMA = "j int, block int, bucket long, c long"


def _make_fold(block_w: int):
    """Bind ``block_w`` at plan time (the fold gets no side channel)."""

    def fold(key: tuple, rows: pd.DataFrame, acc: tuple | None) -> tuple:
        cnts = np.zeros(block_w, np.int64)
        if acc is not None:
            cnts += np.asarray(acc[0], np.int64)
        vc = rows["slot"].value_counts()
        cnts[vc.index.to_numpy()] += vc.to_numpy()
        return ([int(c) for c in cnts],)

    def emit(key: tuple, acc: tuple) -> pd.DataFrame:
        j, block = key
        cnts = np.asarray(acc[0], np.int64)
        nz = np.flatnonzero(cnts)
        return pd.DataFrame(
            {
                "j": np.full(len(nz), j, dtype=np.int32),
                "block": np.full(len(nz), block, dtype=np.int32),
                "bucket": block * block_w + nz,
                "c": cnts[nz],
            }
        )

    return fold, emit


def countmin_stream(
    key_stream: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    block_w: int = CMS_BLOCK_W,
) -> DataFrame:
    """Running count-min grid over ``key_stream[key_col]`` (NULLs are
    dropped before the stateful stage -- no frequency question).

    Returns an append-mode stream of (j, block, bucket, c, ver) cell
    rows; the current global grid is the max-``ver`` rows per
    ``(j, block)`` (:func:`latest_cells`). Point estimates take the
    min cell over the key's ``depth`` buckets."""
    if width % block_w:
        raise ValueError(f"width {width} must be a multiple of {block_w}")
    depths = F.array(*[F.lit(j) for j in range(depth)])
    keyed = (
        key_stream.filter(F.col(key_col).isNotNull())
        .select(F.col(key_col), F.explode(depths).alias("j"))
        .select(
            F.col("j").cast("int").alias("j"),
            cms_bucket(F.col(key_col), F.col("j"), width).alias("bucket"),
        )
        .select(
            "j",
            (F.col("bucket") / block_w).cast("int").alias("block"),
            (F.col("bucket") % block_w).cast("int").alias("slot"),
        )
    )
    # NoTimeout is deliberate and safe HERE (same argument as
    # heavy_hitters.py, even stronger): the state key space is the
    # fixed (depth, width/block_w) grid partition and each state row is
    # exactly block_w longs BY CONSTRUCTION -- total state is
    # depth * width counters (a few KiB) independent of stream length
    # AND of key cardinality. Evicting a block would silently zero its
    # counters and void the over-count guarantee.
    return versioned_stream(
        keyed, ["j", "block"], *_make_fold(block_w), _STATE_SCHEMA,
        CMS_OUTPUT_SCHEMA,
    )


def latest_cells(rows: DataFrame) -> DataFrame:
    """Batch helper over an emitted-rows sink: reduce to each block's
    max-``ver`` emission (the current global grid), shaped like the
    batch ``countmin_cells`` output -- (j, bucket, c) nonzero cells."""
    return latest(rows, ["j", "block"]).select("j", "bucket", "c")
