"""Streaming semantic dedup: the arrival-time twin of the batch
``q_semantic_dedup`` manifest (operators/similarity.py).

A pretraining ingest pipeline wants each arriving embedding judged
AGAINST THE CORPUS SO FAR -- re-running the batch within-cell prune per
delivery is the O(corpus) anti-pattern. This operator keeps per-cell
membership as streaming state: vectors are coarse-quantized to their
nearest centroid with the batch operator's own assignment expression
(``_nearest_cell_expr`` -- same ``round(cos, 6)`` ordering, same
lowest-cell-id tie break), and a per-cell fold (``streaming/fold.py``)
scores each new vector against the cell's stored members.

Decision semantics are the batch policy, verbatim: a vector is DROPPED
iff some lower-id member of its cell is tau-similar, attributed to the
highest-cosine such member (ties toward the lowest keeper id). The
cosines themselves are BIT-IDENTICAL to the batch operator's: state
carries raw float64 vectors plus norms folded in the same sequential
order as the JVM/oracle expressions, scoring runs the same
dim-sequential vectorized passes as _score_cell_pairs (never np.dot,
whose BLAS pairwise summation rounds differently), and rounding is
decimal HALF_UP (Spark's/DuckDB's ROUND; Python's round() is
half-even). So a stream delivered in any micro-batch slicing
reproduces the batch manifest EXACTLY -- values included -- while
every earlier cell member is still in state; asserted by
tests/test_semantic_dedup_stream.py, including pairs that straddle
micro-batch boundaries.

Scale posture: the quantizer bounds the key space (N_CELLS keys -- no
unbounded band-key growth, unlike the minhash detector), but per-cell
state must still be bounded: membership is capped at MAX_CELL_DOCS
(overflow vectors are still JUDGED against the stored members and
reported via ``n_overflow``, they just stop evicting future arrivals),
and cells idle past a processing-time TTL (``CELL_TTL_MS``) evict
entirely: verdicts already emitted are never retracted, only future
pairing against evicted members is lost. State per cell is (ids, raw
vectors, norms): MAX_CELL_DOCS * dim doubles.

At-least-once caveat: the replay guard covers STORED members only.
While a cell is under its cap every arrival gets exactly one verdict
row even under redelivery; past the cap, a redelivered unstored
vector is re-judged (remembering unstored ids would unbound the state
the cap exists to bound) -- a duplicate verdict row with the same
vec_id, which idempotent consumers key away, and n_overflow counts
deliveries, not distinct vectors, once overflowing.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..operators.similarity import SEMANTIC_DEDUP_TAU, _nearest_cell_expr
from .fold import fold_stream

#: Per-cell membership cap: arrivals past the cap are judged but not
#: stored (a cell this hot means the quantizer needs re-training).
MAX_CELL_DOCS = 4096

#: Idle eviction for cells unseen this long (processing time).
CELL_TTL_MS = 60 * 60 * 1000

_STATE_SCHEMA = (
    "ids array<long>, vecs array<array<double>>, norms array<double>,"
    " n_overflow long"
)

OUTPUT_SCHEMA = (
    "vec_id long, cell_id int, dropped boolean, kept_by long, "
    "cos_sim double, n_overflow long"
)


def _fold_norm(v: np.ndarray) -> float:
    # Same sequential fold as the batch/oracle norm expression.
    nacc = 0.0
    for d in range(v.shape[0]):
        nacc = nacc + v[d] * v[d]
    return float(np.sqrt(nacc))


def _make_step(max_docs: int):
    """Per-cell step with the membership cap closed over (tests shrink
    it to exercise the overflow path)."""

    def step(key: tuple, rows: pd.DataFrame, state: tuple | None):
        if state is None:
            ids, vecs, norms, n_overflow = [], [], [], 0
        else:
            ids, vecs, norms, n_overflow = state
            ids, norms = list(ids), list(norms)
            vecs = [np.asarray(v) for v in vecs]

        (cell_id,) = key
        # Deterministic order inside the micro-batch: the batch policy
        # is defined over ids, so judge in id order (across batches the
        # source's delivery order governs -- the stream==batch guarantee
        # assumes ids arrive non-decreasing, the natural ingest order).
        arrivals = sorted(
            (
                (int(vid), np.asarray(emb, dtype="float64"))
                for vid, emb in zip(rows["vec_id"], rows["embedding"])
            ),
            key=lambda t: t[0],
        )

        known = set(ids)
        out: dict[str, list] = {
            "vec_id": [], "dropped": [], "kept_by": [], "cos_sim": []
        }
        for vid, raw in arrivals:
            if vid in known:  # replayed delivery of a stored vector
                continue
            nr = _fold_norm(raw)
            best_id, best_cos = None, None
            if ids:
                # BIT-EXACT CONTRACT (same as the batch operator's
                # _score_cell_pairs): dim sequential vectorized passes
                # over RAW vectors reproduce the JVM/oracle left fold;
                # np.dot's BLAS pairwise summation rounds differently
                # and WOULD drift from the batch manifest. Rounding is
                # decimal HALF_UP over the SHORTEST decimal repr
                # (Decimal(repr(x)), matching the JVM's
                # BigDecimal.valueOf(Double.toString) path that backs
                # Spark's round()); Decimal(x) would quantize the exact
                # binary expansion, which can cross a 1e-6 halfway
                # point the shortest repr does not. Python's round()
                # is half-even, so neither engine uses it.
                m = np.stack(vecs)
                acc = np.zeros(len(ids))
                for d in range(raw.shape[0]):
                    acc = acc + m[:, d] * raw[d]
                cos_raw = acc / (np.asarray(norms) * nr)
                for i, oid in enumerate(ids):
                    if oid >= vid or cos_raw[i] < SEMANTIC_DEDUP_TAU - 1e-6:
                        continue
                    c = float(
                        Decimal(repr(float(cos_raw[i]))).quantize(
                            Decimal("1e-6"), rounding=ROUND_HALF_UP
                        )
                    )
                    if c >= SEMANTIC_DEDUP_TAU and (
                        best_cos is None
                        or c > best_cos
                        or (c == best_cos and oid < best_id)
                    ):
                        best_id, best_cos = oid, c
            out["vec_id"].append(vid)
            out["dropped"].append(best_id is not None)
            out["kept_by"].append(best_id)
            out["cos_sim"].append(best_cos)
            if len(ids) < max_docs:
                ids.append(vid)
                vecs.append(raw)
                norms.append(nr)
            else:
                n_overflow += 1
            known.add(vid)

        new = (
            [int(i) for i in ids],
            [v.tolist() for v in vecs],
            [float(x) for x in norms],
            int(n_overflow),
        )
        n = len(out["vec_id"])
        return new, pd.DataFrame(
            {
                "vec_id": out["vec_id"],
                "cell_id": [cell_id] * n,
                "dropped": out["dropped"],
                "kept_by": out["kept_by"],
                "cos_sim": out["cos_sim"],
                "n_overflow": [n_overflow] * n,
            }
        )

    return step


def semantic_dedup_stream(
    emb_stream: DataFrame,
    cent_rows: list,
    max_cell_docs: int = MAX_CELL_DOCS,
) -> DataFrame:
    """Per-arrival dedup verdicts from a (vec_id, embedding) stream.

    ``cent_rows`` is the trained quantizer (driver artifact -- the same
    rows ``_seed_centroid_rows`` / ``train_ivf_centroids`` produce for
    the batch operator); assignment runs through the batch operator's
    own expression, so a vector lands in the same cell in both forms.
    Every arriving vector gets one verdict row: kept
    (``dropped = false``) or dropped with its evicting keeper and
    cosine -- the streaming rendering of the batch manifest, which only
    lists the dropped. (Exactly one per vector while the cell is under
    its cap; see the module docstring's at-least-once caveat for the
    overflow path.)"""
    assigned = emb_stream.select(
        "vec_id",
        "embedding",
        _nearest_cell_expr(cent_rows).alias("cell_id"),
    )
    return fold_stream(
        assigned,
        ["cell_id"],
        _make_step(max_cell_docs),
        _STATE_SCHEMA,
        OUTPUT_SCHEMA,
        ttl_ms=CELL_TTL_MS,
    )
