"""Streaming weighted sampling: the arrival-time twin of the batch
``q_weighted_sample`` (operators/pipeline_ops.py).

Efraimidis-Spirakis priority sampling is a ONE-PASS algorithm by
construction -- the batch query ranks u^(1/w) keys it could just as
well have maintained online. This operator maintains exactly that:
``applyInPandasWithState`` keyed by ``source`` carries each source's
current top-K (ids + priorities) as bounded state, and every arriving
document is admitted, rejected, or admitted-with-displacement against
it. Because the priority is a pure function of the stable key (the
same salted portable-hash uniform and ln-length weight as the batch
operator, rounded decimal HALF_UP to 6), the final sample after any
micro-batch slicing equals the batch query's top-K per source --
E-S membership is arrival-order independent -- asserted by
tests/test_weighted_sample_stream.py against the batch rows,
priorities included.

Emission is a per-arrival LEDGER row (admitted / displaced-whom /
rejected) rather than a retraction stream: append-mode sinks can
reconstruct the current sample as admitted-minus-displaced, and the
decision history is itself the useful audit artifact.

Scale posture: the key space is the source inventory (pipeline
config, bounded) and state per source is exactly K (ids, priorities)
-- no TTL needed, nothing grows with the stream. At-least-once
caveat: a redelivered document still in state is skipped; one that
was previously rejected or displaced is re-evaluated and re-rejected
(state is monotone -- the bar only rises), emitting a duplicate
rejected row that idempotent consumers key away.
"""

from __future__ import annotations

import hashlib
import math
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
from pyspark.sql import DataFrame

from ..operators.pipeline_ops import _MERSENNE31, WEIGHTED_SAMPLE_K
from .fold import fold_stream

_STATE_SCHEMA = "ids array<long>, prios array<double>"

OUTPUT_SCHEMA = (
    "doc_id long, source string, n_chars long, priority double, "
    "admitted boolean, displaced long"
)


def es_priority(doc_id: int, n_chars: int) -> float:
    """The batch operator's priority, computed Python-side: u from the
    same salted md5 portable hash, w = ln(1+n_chars), key = u^(1/w)
    rounded decimal HALF_UP to 6 over the SHORTEST decimal repr
    (Decimal(repr(raw)), the JVM BigDecimal.valueOf path behind
    Spark's round(); quantizing the exact binary expansion can cross
    a 1e-6 halfway point the shortest repr does not. Python's round()
    is half-even, so neither engine uses it). pow/ln are ~1-ulp libm
    on every engine -- the same documented arithmetic class as the
    batch oracle -- and the stream==batch test asserts value equality
    on the corpus.

    Zero-length-doc contract (shared with the batch query): n_chars=0
    gives w=0, where the batch engines evaluate POWER(u, 1.0/0.0) =
    u^Infinity = 0.0 for u < 1 without raising; the Python path guards
    the division and returns that same limit instead of dividing by
    zero. A priority of 0.0 sorts below every real key, so zero-length
    docs are never sampled on either path."""
    h = int(
        hashlib.md5(f"w:{doc_id}".encode()).hexdigest()[:15], 16
    )
    u = (h % _MERSENNE31 + 1) / float(_MERSENNE31)
    w = math.log(1.0 + float(n_chars))
    if w <= 0.0:
        raw = 1.0 if u >= 1.0 else 0.0
    else:
        raw = math.pow(u, 1.0 / w)
    return float(
        Decimal(repr(raw)).quantize(
            Decimal("1e-6"), rounding=ROUND_HALF_UP
        )
    )


def _make_step(k: int):
    """Per-source fold step with the sample size closed over."""

    def step(key: tuple, pdf: pd.DataFrame, state: tuple | None):
        members = {} if state is None else {
            int(i): float(p) for i, p in zip(*state)
        }
        out: dict[str, list] = {
            "doc_id": [], "source": [], "n_chars": [], "priority": [],
            "admitted": [], "displaced": [],
        }
        for vid, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
            vid, n_chars = int(vid), int(n_chars)
            if vid in members:  # replayed delivery of a member
                continue
            prio = es_priority(vid, n_chars)
            # batch rank: priority DESC, doc_id ASC -- so "worst
            # member" minimizes (priority, -doc_id)
            admitted, displaced = True, None
            if len(members) >= k:
                worst = min(members, key=lambda i: (members[i], -i))
                if (prio, -vid) > (members[worst], -worst):
                    displaced = worst
                    del members[worst]
                else:
                    admitted = False
            if admitted:
                members[vid] = prio
            out["doc_id"].append(vid)
            out["source"].append(key[0])
            out["n_chars"].append(n_chars)
            out["priority"].append(prio)
            out["admitted"].append(admitted)
            out["displaced"].append(displaced)
        return (list(members), list(members.values())), pd.DataFrame(out)

    return step


def weighted_sample_stream(
    doc_stream: DataFrame, k: int = WEIGHTED_SAMPLE_K
) -> DataFrame:
    """Per-arrival E-S sampling ledger from a (doc_id, source,
    n_chars) document stream. NoTimeout: the source inventory is
    pipeline config and state per source is exactly K entries, so
    there is nothing to age out."""
    return fold_stream(
        doc_stream, ["source"], _make_step(k), _STATE_SCHEMA, OUTPUT_SCHEMA
    )
