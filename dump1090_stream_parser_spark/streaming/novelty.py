"""Streaming gram-novelty gate: per-arrival "how much of this document
is new text" -- the streaming twin of ``operators.dedup.q_novelty``
and the ingest-time form of dedup-before-storage (score a crawl
arrival against everything already admitted, without re-scanning the
corpus).

Sharding: the seen-gram SET is keyed by ``ghash % NOVELTY_BUCKETS``,
so each state group holds ~1/NOVELTY_BUCKETS of the distinct grams and
a document's grams fan out to all shards in one narrow map -- the
stateful stage never sees text, only (doc_id, ghash) pairs, the
span_grams discipline. Emissions are per (doc, shard) partials; the
per-document score is their sum (:func:`novelty_from_emissions`),
exactly because distinct grams partition cleanly across shards.

Exactness contract (the EMA twin's ordered-arrival discipline, at
document grain): documents arrive in non-decreasing doc_id order --
micro-batches may split but never reorder -- and within a micro-batch
each shard processes its documents in doc_id order, so "first
occurrence" means exactly what the batch query's MIN(doc_id) means.
Under that contract the summed emissions equal q_novelty's rows
BIT-FOR-BIT (integer counts; pinned in tests/test_novelty_stream.py
across micro-batch splits and a checkpoint restart).

State posture: the exact seen-set grows with DISTINCT corpus grams --
deliberate, like the semantic-dedup twin's cell membership (novelty
against all history is inherently corpus-stateful). The dials, in
preference order at scale: RocksDB state store -- wired since round
10: docs/SCALE.md's statesweep (historical, round 10, not re-measured)
showed flat ~35 KB executor heap with the seen-set in SST files vs the
default provider's corpus-linear heap, and tests/test_novelty_stream.py
pins bit-equal output on the RocksDB provider -- then a TTL for windowed novelty
("new in the last 90 days", the near-dup twin's eviction precedent),
or swapping the per-shard set for the contamination gate's Bloom
words when a one-sided ESTIMATE is acceptable (false "seen" verdicts
only -- novelty never overcounts).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64
from ..operators.dedup import SPAN_GRAM
from ..operators.text import tokens_col
from .fold import fold_stream

#: Seen-set shards. More shards = smaller per-group state and wider
#: parallelism; the per-doc score is shard-additive either way.
NOVELTY_BUCKETS = 64

_STATE_SCHEMA = "seen array<long>"

NOVELTY_OUTPUT_SCHEMA = (
    "doc_id long, bucket int, n_grams long, n_novel long"
)


def doc_gram_stream(doc_stream: DataFrame) -> DataFrame:
    """(doc_id, bucket, ghash) rows from a (doc_id, text) stream: the
    batch span_grams front end as a narrow streaming map (positional
    grams reduced to the portable 60-bit hash in-row, then DISTINCT
    per document ARRAY-side so the stateful stage receives each
    (doc, gram) once)."""
    staged = doc_stream.select(
        "doc_id", tokens_col().alias("t")
    ).filter(F.size("t") >= SPAN_GRAM)
    gram_strs = F.expr(
        "array_distinct(transform(sequence(0, size(t) - 5),"
        " i -> concat_ws(' ', slice(t, i + 1, 5))))"
    )
    return (
        staged.select("doc_id", F.explode(gram_strs).alias("gram"))
        .select(
            "doc_id", portable_hash64(F.col("gram")).alias("ghash")
        )
        .withColumn(
            "bucket",
            F.pmod(F.col("ghash"), F.lit(NOVELTY_BUCKETS)).cast("int"),
        )
    )


def _step(key: tuple, rows: pd.DataFrame, state: tuple | None):
    seen = set() if state is None else {int(v) for v in state[0]}
    out: dict[str, list] = {
        "doc_id": [],
        "bucket": [],
        "n_grams": [],
        "n_novel": [],
    }
    # doc_id order within the shard: "first occurrence" must mean the
    # batch MIN(doc_id), including ties inside one micro-batch
    for doc_id, grp in rows.sort_values("doc_id").groupby(
        "doc_id", sort=True
    ):
        grams = {int(g) for g in grp["ghash"]}
        novel = grams - seen
        seen |= novel
        out["doc_id"].append(int(doc_id))
        out["bucket"].append(int(key[0]))
        out["n_grams"].append(len(grams))
        out["n_novel"].append(len(novel))
    return (sorted(seen),), pd.DataFrame(out)


def novelty_stream(doc_stream: DataFrame) -> DataFrame:
    """Per-(doc, shard) novelty partials over a stream of
    (doc_id, text) rows; sum per doc for the q_novelty-shaped score
    (:func:`novelty_from_emissions`)."""
    return fold_stream(
        doc_gram_stream(doc_stream),
        ["bucket"],
        _step,
        _STATE_SCHEMA,
        NOVELTY_OUTPUT_SCHEMA,
    )


def novelty_from_emissions(rows: DataFrame) -> DataFrame:
    """Batch helper over an emitted-rows sink: per-document totals in
    q_novelty's shape (distinct grams partition across shards, so the
    partials sum exactly)."""
    return (
        rows.groupBy("doc_id")
        .agg(
            F.sum("n_grams").alias("n_grams"),
            F.sum("n_novel").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double")
                / F.col("n_grams").cast("double"),
                6,
            ).alias("novelty"),
        )
    )
