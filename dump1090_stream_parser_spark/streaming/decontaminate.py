"""Streaming decontamination gate: Bloom-prefiltered n-gram screening
of a document stream against a static eval corpus.

Pipeline role (SURVEY.md §2.3 Tier C / training-data extensions): a
training-data ingest stream must quarantine documents that share
content with held-out eval sets BEFORE they land in training shards.
The gate reuses the batch audit's expressions verbatim
(``pipeline_ops.contam_grams_array`` + ``bloom_bitmap_from_grams`` +
``tokens_col``), so the stream's per-document decision agrees with the
batch prefilter bit-for-bit -- pinned by
``tests/test_decontaminate_stream.py``.

Semantics (why this is sound without the full eval set on the stream):

- The bitmap is the SAME <= BLOOM_WORDS-row ``(word, bit_or(mask))``
  aggregation over the distinct eval grams that
  ``contamination_bloom_from`` broadcasts -- MiB-class at any eval
  size under the documented geometry rule. Build and probe share the
  one ``BLOOM_WORDS`` geometry (``pipeline_ops._bloom_word_bit``), so
  a probe cannot miss a bit its bitmap set: no geometry mismatch can
  route a false negative to the FINAL clean sink.
- A Bloom filter has NO false negatives: a document whose grams all
  miss the bitmap certainly shares no word CONTAM_K-gram with the
  eval corpus. Those routes to ``clean/`` are FINAL.
- A document with >= 1 bit hit is ``suspect`` (a true overlap or an
  ~n/m false positive) and routes to ``suspect/`` for exact
  adjudication offline -- the batch verify join
  (``q_contamination``'s semantics) over the quarantine, which is tiny
  relative to the stream. The stream never joins against the full
  eval gram set.

Scale/state posture: the gate is STATELESS -- a per-micro-batch
classification (foreachBatch over shared batch expressions), so there
is no streaming-aggregation watermark to tune and nothing to grow with
stream length; restart safety is checkpoint + per-batch-id overwrite,
the same discipline as ``streaming/pipeline.py``'s Silver sink. The
per-batch work is one narrow gram explode, a broadcast join against
the bitmap, and a doc-keyed count -- shuffling (doc_id, hit-count)
pairs only, never text (the closing docs-to-hits join broadcasts the
n/m-class hit counts explicitly so no text-bearing exchange can ever
be planned).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.pipeline_ops import (
    _bloom_word_bit,
    bloom_bitmap_from_grams,
    contam_grams_array,
)
from ..operators.text import tokens_col


def _distinct_grams(docs: DataFrame) -> DataFrame:
    """The distinct 60-bit word-CONTAM_K-gram frame of a document
    frame -- one definition for the bitmap build and the exact
    adjudication, so they cannot drift."""
    return (
        docs.select(
            F.explode(contam_grams_array(tokens_col())).alias("gh")
        )
        .distinct()
    )


def eval_bloom_bitmap(eval_docs: DataFrame) -> DataFrame:
    """Build the gate's ``(w, word)`` bitmap over the eval corpus -- the
    identical ``bloom_bitmap_from_grams`` aggregation the batch audit
    broadcasts. ``.persist()`` the result before handing it to
    :func:`decontaminate_gate` (the gate joins it into EVERY
    micro-batch; without persistence Spark would re-derive it from the
    eval corpus each batch)."""
    return bloom_bitmap_from_grams(_distinct_grams(eval_docs))


def gate_docs(docs: DataFrame, bitmap: DataFrame) -> DataFrame:
    """Classify documents against the bitmap: input columns plus
    ``n_suspect_grams`` (bit-hit gram occurrences) and ``suspect``.
    Works identically on a batch frame and on a micro-batch inside
    foreachBatch -- that sharing IS the stream/batch parity argument."""
    staged = docs.withColumn("_t", tokens_col())
    grams = staged.select(
        "doc_id", F.explode(contam_grams_array(F.col("_t"))).alias("gh")
    )
    w, mask = _bloom_word_bit("gh")
    hits = (
        grams.select("doc_id", w.alias("w"), mask.alias("mask"))
        .join(F.broadcast(bitmap), "w")
        .filter(F.col("word").bitwiseAND(F.col("mask")) != 0)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_suspect_grams"))
    )
    n_hits = F.coalesce(F.col("n_suspect_grams"), F.lit(0))
    # hits is n/m-class (suspect doc counts) -- broadcast it so the
    # closing join can never plan a shuffle of the text-bearing batch
    return (
        staged.drop("_t")
        .join(F.broadcast(hits), "doc_id", "left")
        .withColumn("n_suspect_grams", n_hits)
        .withColumn("suspect", F.col("n_suspect_grams") > 0)
    )


def adjudicate_suspects(
    suspects: DataFrame, eval_docs: DataFrame
) -> DataFrame:
    """The exact offline verdict over the quarantine: input columns
    plus ``contaminated`` (true iff the doc exactly shares a word
    CONTAM_K-gram with the eval corpus). This is the batch audit's
    verify semantics applied to the suspect sink -- the quarantine is
    Bloom-fp-plus-true-hit sized, so the distinct-eval-gram join that
    was too expensive for the stream is cheap here. gate + adjudicate
    together equal the exact batch audit: the gate admits no false
    negatives and this join removes the false positives."""
    hits = (
        suspects.select(
            "doc_id", F.explode(contam_grams_array(tokens_col())).alias("gh")
        )
        .join(_distinct_grams(eval_docs), "gh", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return suspects.join(hits, "doc_id", "left").withColumn(
        "contaminated", F.coalesce(F.col("contaminated"), F.lit(False))
    )


def gate_batch_writer(out_dir: str, bitmap: DataFrame):
    """The foreachBatch function for :func:`decontaminate_gate`,
    exposed so tests can drive a batch replay directly. Routes each
    micro-batch to ``clean/`` and ``suspect/`` parquet under a
    ``batch_id=N`` directory that a re-delivered batch OVERWRITES
    (exactly-once on replay, as in ``silver_batch_writer``). BOTH
    routes write unconditionally: skipping an empty suspect write
    would leave a prior delivery's stale quarantine rows in place on
    replay (docs in both sinks at once), and would make the suspect
    directory unreadable on an all-clean stream."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        gated = gate_docs(batch, bitmap)
        # one pass, two routes; the gated frame is tiny per micro-batch
        # and persisting it avoids running the gate twice
        gated.persist()
        try:
            gated.filter(~F.col("suspect")).write.mode("overwrite").parquet(
                f"{out_dir}/clean/batch_id={batch_id}"
            )
            gated.filter(F.col("suspect")).write.mode("overwrite").parquet(
                f"{out_dir}/suspect/batch_id={batch_id}"
            )
        finally:
            gated.unpersist()

    return write_batch


def decontaminate_gate(
    docs_stream: DataFrame,
    bitmap: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
):
    """Start the gate on a document stream. ``bitmap`` comes from
    :func:`eval_bloom_bitmap` (persist it first); clean documents land
    in ``out_dir/clean``, quarantined suspects in ``out_dir/suspect``.
    """
    writer = docs_stream.writeStream.foreachBatch(
        gate_batch_writer(out_dir, bitmap)
    ).option("checkpointLocation", checkpoint_dir)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
