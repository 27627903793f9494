"""Streaming near-duplicate detection: MinHash LSH over a document
stream (the training-data twin of the batch q_near_dedup_minhash).

A pretraining ingest pipeline wants to know, AS DOCUMENTS ARRIVE,
whether each new document near-duplicates anything already ingested --
batch re-clustering of the whole corpus per delivery is the O(corpus)
anti-pattern. This operator keeps LSH bucket membership as streaming
state: the narrow banding map (shared verbatim with the batch operator
via ``operators.dedup.minhash_bands``) turns each document into
N_BANDS (band_idx, band_key) rows, and a per-bucket fold
(``streaming/fold.py``) emits a candidate pair whenever a document
lands in a bucket that already holds earlier documents.

Emitted pairs are LSH *candidates* -- same contract as the batch
banding stage; the exact-Jaccard verify runs downstream on candidates
only (foreachBatch join against the document store), exactly like the
batch pipeline's verify-on-survivors step.

Scale posture: state is per-bucket doc-id lists. LSH banding keeps
buckets small by construction (a bucket requires an exact 3-minhash
collision); state per bucket is capped at MAX_BUCKET_DOCS -- a bucket
that overflows the cap is a degenerate-banding signal (emitted pairs
stay correct for the first MAX_BUCKET_DOCS members, and the overflow
count is observable in the `n_dropped` column of overflow rows).
Idle buckets evict after a processing-time TTL, bounding total state
at (active buckets x bytes per id list).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from ..operators.dedup import minhash_bands, minhash_shingles
from .fold import fold_stream

#: Per-bucket membership cap (overflow = degenerate banding signal).
MAX_BUCKET_DOCS = 64

#: Idle eviction for buckets unseen this long (processing time).
BUCKET_TTL_MS = 60 * 60 * 1000

_STATE_SCHEMA = "seen array<long>, n_dropped long"

PAIR_OUTPUT_SCHEMA = (
    "band_idx int, band_key string, doc_id_1 long, doc_id_2 long, "
    "n_dropped long"
)


def _step(key: tuple, rows: pd.DataFrame, state: tuple | None):
    """One LSH bucket's update for one micro-batch: every new doc
    pairs with every doc already in the bucket (carried state +
    earlier rows of this batch), in deterministic doc_id order.

    A bucket idle for the TTL is evicted by the kernel. Cold eviction
    is SAFE for candidate generation in the archival sense -- pairs
    among already-seen members were emitted when they formed; what is
    lost is only future pairing against evicted members, the explicit
    recency trade that keeps total state bounded by (buckets active
    within one TTL) x (id list) instead of growing with the stream's
    whole distinct-band-key history."""
    seen, n_dropped = ([], 0) if state is None else state
    seen = [int(d) for d in seen]

    band_idx, band_key = key
    out_1, out_2 = [], []
    known = set(seen)
    for d in sorted(int(d) for d in rows["doc_id"]):
        if d in known:  # replayed/duplicate delivery of the same doc
            continue
        if len(seen) >= MAX_BUCKET_DOCS:
            n_dropped += 1
            continue
        for old in seen:
            lo, hi = (old, d) if old < d else (d, old)
            out_1.append(lo)
            out_2.append(hi)
        seen.append(d)
        known.add(d)

    out = None
    if out_1 or n_dropped:
        out = pd.DataFrame(
            {
                "band_idx": [band_idx] * len(out_1) or [band_idx],
                "band_key": [band_key] * len(out_1) or [band_key],
                "doc_id_1": out_1 or [None],
                "doc_id_2": out_2 or [None],
                "n_dropped": [n_dropped] * max(len(out_1), 1),
            }
        )
    return (seen, n_dropped), out


def near_dup_candidates_stream(
    doc_stream: DataFrame, bucket_ttl_ms: int = BUCKET_TTL_MS
) -> DataFrame:
    """LSH candidate-pair stream from a (doc_id, text) document stream.

    The banding map is the batch operator's own (same shingles, same
    hash family, same band keys), so a pair is emitted here iff the
    batch q_near_dedup_minhash banding stage would produce it --
    asserted by tests/test_near_dup_stream.py across micro-batch
    boundaries.

    Unlike the fixed-key-space similarity/heavy-hitter detectors, the band-key
    space here is UNBOUNDED (it grows with the corpus's distinct
    shingle content), so per-bucket state must age out: buckets idle
    for ``bucket_ttl_ms`` of processing time are evicted
    (ProcessingTimeTimeout), bounding state by the TTL-active working
    set. Eviction + clean re-seeding is exercised by
    tests/test_near_dup_stream.py::test_idle_bucket_evicts_after_ttl."""
    return fold_stream(
        minhash_bands(minhash_shingles(doc_stream)),
        ["band_idx", "band_key"],
        _step,
        _STATE_SCHEMA,
        PAIR_OUTPUT_SCHEMA,
        ttl_ms=bucket_ttl_ms,
    )
