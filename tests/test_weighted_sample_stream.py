"""Streaming E-S weighted sampling (streaming/weighted_sample.py):
the ledger's admitted-minus-displaced set after any micro-batch
slicing must equal the batch q_weighted_sample top-K per source --
priorities included (the Python-side priority must reproduce the
JVM/DuckDB pow/ln value on this corpus)."""

from __future__ import annotations

from dump1090_stream_parser_spark.operators.pipeline_ops import (
    WEIGHTED_SAMPLE_K,
    q_weighted_sample,
)
from dump1090_stream_parser_spark.streaming.weighted_sample import (
    es_priority,
    weighted_sample_stream,
)
from dump1090_stream_parser_spark.tables import load_table

from .conftest import SF_DIR


def test_python_priority_matches_batch_values(spark):
    """es_priority must reproduce the batch operator's ROUND(pow, 6)
    for every kept row (libm-vs-JVM pow/ln agreement, pinned on the
    corpus)."""
    for r in q_weighted_sample(spark, SF_DIR).collect():
        assert es_priority(r.doc_id, r.n_chars) == r.priority, r


def _kept(ledger):
    """The current sample: admitted minus displaced, per source."""
    admitted = ledger[ledger["admitted"]]
    gone = set(ledger["displaced"].dropna().astype("int64"))
    return {
        (r.source, r.doc_id, r.priority)
        for r in admitted.itertuples()
        if r.doc_id not in gone
    }


def test_stream_sample_matches_batch_topk(spark):
    """weighted_sample_stream's own fold on the static documents (the
    kernel's batch branch): one ledger row per document, and the
    admitted-minus-displaced set equals q_weighted_sample's top-K."""
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "n_chars"
    )
    ledger = weighted_sample_stream(docs).toPandas()
    assert len(ledger) == docs.count()  # one ledger row per document
    batch = {
        (r.source, r.doc_id, r.priority)
        for r in q_weighted_sample(spark, SF_DIR).collect()
    }
    kept = _kept(ledger)
    assert kept == batch
    for source in {s for s, _, _ in kept}:
        assert sum(s == source for s, _, _ in kept) == WEIGHTED_SAMPLE_K


