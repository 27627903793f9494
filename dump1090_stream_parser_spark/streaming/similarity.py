"""Streaming similarity search: stateful per-bucket top-k over an
embedding stream (the streaming twin of the batch q_ann_lsh /
q_knn_cosine operators).

A retrieval/serving pipeline wants the current best-k matches for a
standing query AS VECTORS ARRIVE -- re-running a batch kNN over the
whole corpus per delivery is the O(corpus) anti-pattern. This operator
keeps each LSH bucket's top-k as streaming state:

- the cosine score against the standing query vector is computed
  JVM-side BEFORE the stateful stage (``functions.vector.
  cosine_similarity`` with the query inlined as literals -- the exact
  expression the batch kNN uses), so Python only ever sees
  (bucket, vec_id, score) triples, never embeddings;
- bucketing is the batch operator's own ``_bucket_col`` (same
  hyperplanes, same signs), so a vector lands in the same bucket here
  as in q_ann_lsh's at-rest layout;
- ``applyInPandasWithState`` keyed by bucket admits a vector iff it
  beats the bucket's current k-th best (or the bucket holds fewer than
  k), emits admitted rows, and keeps the top-k as state.

Emission contract (append mode): a row is emitted when it ENTERS its
bucket's running top-k. The admission threshold only ever rises, so
every member of the bucket's FINAL top-k is emitted at its arrival --
the emitted set is a superset of the final top-k, and re-ranking the
emitted rows reproduces the batch per-bucket top-k exactly
(tests/test_similarity_stream.py asserts this across micro-batch
boundaries and a query restart).

Scale posture: state is k (id, score) pairs per bucket -- fixed bytes
per bucket, 256 buckets at N_PLANES=8, so total state is O(k * 256)
REGARDLESS of stream length; embeddings never enter state. Replayed
deliveries of an already-admitted vec_id are idempotent (no re-emit).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vector import cosine_similarity
from ..operators.similarity import _bucket_col
from .fold import fold_stream

#: Default per-bucket retention (matches the batch KNN_K tier).
TOPK_K = 10

_STATE_SCHEMA = "ids array<long>, sims array<double>"

TOPK_OUTPUT_SCHEMA = "bucket int, vec_id long, cos_sim double"


def _make_step(k: int):
    """Build the per-bucket fold step with ``k`` bound at plan time
    (the step gets no side channel)."""

    def step(key: tuple, pdf: pd.DataFrame, state: tuple | None):
        ids, sims = ([], []) if state is None else map(list, state)
        rows = [
            (float(s), int(v)) for s, v in zip(pdf["cos_sim"], pdf["vec_id"])
        ]
        # Deterministic admission regardless of delivery order inside
        # the batch: best-first, ties to the lower vec_id.
        rows.sort(key=lambda t: (-t[0], t[1]))

        held = set(ids)
        out_v: list[int] = []
        out_s: list[float] = []
        for score, vid in rows:
            if vid in held:  # replayed delivery -- idempotent
                continue
            if len(ids) < k:
                admitted = True
            else:
                # strict ties go to the incumbent (lower vec_id already
                # held, and kth only rises) -- deterministic
                kth = min(range(len(ids)), key=lambda i: (sims[i], -ids[i]))
                admitted = score > sims[kth] or (
                    score == sims[kth] and vid < ids[kth]
                )
                if admitted:
                    del ids[kth], sims[kth]
            if admitted:
                ids.append(vid)
                sims.append(score)
                held.add(vid)
                out_v.append(vid)
                out_s.append(score)

        return (ids, sims), pd.DataFrame(
            {"bucket": key[0], "vec_id": out_v, "cos_sim": out_s}
        )

    return step


def _query_lit(query_vec: list[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in query_vec])


def topk_stream(
    emb_stream: DataFrame, query_vec: list[float], k: int = TOPK_K
) -> DataFrame:
    """Running per-bucket top-k candidate stream for a standing query.

    ``emb_stream`` needs (vec_id long, embedding array<float>). The
    global top-k at any time = re-rank of the emitted rows (or of the
    per-bucket states); a consumer that only probes the query's
    hamming-neighborhood buckets gets exactly q_ann_lsh's candidate
    semantics, incrementally maintained."""
    dim = len(query_vec)
    scored = emb_stream.select(
        _bucket_col(F.col("embedding"), dim).alias("bucket"),
        "vec_id",
        F.round(
            cosine_similarity(F.col("embedding"), _query_lit(query_vec)), 6
        ).alias("cos_sim"),
    )
    # NoTimeout is deliberate and safe HERE (contrast near_dup.py, whose
    # band-key space is unbounded and therefore TTL-evicts): the key
    # space is the fixed 2^N_PLANES = 256 LSH buckets and each bucket's
    # state is exactly k (id, score) pairs, so total state is a small
    # CONSTANT -- O(256 * k) -- independent of stream length. Evicting
    # would discard the standing query's running top-k (a correctness
    # loss), and buys back no memory worth having.
    return fold_stream(
        scored, ["bucket"], _make_step(k), _STATE_SCHEMA, TOPK_OUTPUT_SCHEMA
    )
