"""Streaming decontamination gate (streaming/decontaminate.py):

- the stream's routing equals the batch gate bit-for-bit across
  micro-batch boundaries (shared expressions ARE the parity argument);
- NO false negatives: every stream document that exactly shares a
  word CONTAM_K-gram with the eval corpus is routed suspect -- the
  Bloom guarantee the clean/ route's finality rests on;
- the false-positive quarantine stays small at the documented
  geometry (n/m-class);
- a re-delivered micro-batch overwrites BOTH of its routes (a skipped
  empty suspect write would leave stale quarantine rows on replay);
- gate + exact adjudication over the quarantine equals the exact
  audit.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dump1090_stream_parser_spark.operators.pipeline_ops import (
    contam_grams_array,
)
from dump1090_stream_parser_spark.operators.text import tokens_col
from dump1090_stream_parser_spark.streaming.decontaminate import (
    adjudicate_suspects,
    decontaminate_gate,
    eval_bloom_bitmap,
    gate_batch_writer,
    gate_docs,
)
from dump1090_stream_parser_spark.tables import load_table

from .conftest import SF_DIR

_DOC_SCHEMA = "doc_id long, source string, text string"


def _splits(spark):
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "text"
    )
    return (
        docs.filter(F.col("doc_id") % 10 == 0),  # 10% "eval" corpus
        docs.filter(F.col("doc_id") % 10 != 0),  # the ingest stream
    )


def _gram_set(df):
    return df.select(
        "doc_id", F.explode(contam_grams_array(tokens_col())).alias("gh")
    )


def _truly_contaminated(stream_docs, eval_docs):
    return {
        r["doc_id"]
        for r in _gram_set(stream_docs)
        .join(
            _gram_set(eval_docs).select("gh").distinct(), "gh", "left_semi"
        )
        .select("doc_id")
        .distinct()
        .collect()
    }


def test_gate_stream_matches_batch_and_has_no_false_negatives(
    spark, tmp_path
):
    eval_docs, stream_docs = _splits(spark)
    bitmap = eval_bloom_bitmap(eval_docs).persist()
    try:
        # file replay in two micro-batches
        src = tmp_path / "docs_in"
        half = 250
        stream_docs.filter(F.col("doc_id") < half).coalesce(
            1
        ).write.parquet(str(src / "a.parquet"))
        stream_docs.filter(F.col("doc_id") >= half).coalesce(
            1
        ).write.parquet(str(src / "b.parquet"))
        stream = (
            spark.readStream.schema(_DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )
        out = str(tmp_path / "gated")
        q = decontaminate_gate(
            stream, bitmap, out, str(tmp_path / "ckpt"),
            trigger={"availableNow": True},
        )
        assert q.awaitTermination(180), "gate stream timed out"

        clean = spark.read.parquet(f"{out}/clean")
        suspect = spark.read.parquet(f"{out}/suspect")
        routed = {
            r["doc_id"]: (r["suspect"], r["n_suspect_grams"])
            for r in clean.unionByName(suspect).collect()
        }
        batch = {
            r["doc_id"]: (r["suspect"], r["n_suspect_grams"])
            for r in gate_docs(stream_docs, bitmap).collect()
        }
        assert routed == batch  # stream == batch, every doc, bit-equal

        truly = _truly_contaminated(stream_docs, eval_docs)
        suspects = {r["doc_id"] for r in suspect.select("doc_id").collect()}
        cleans = {r["doc_id"] for r in clean.select("doc_id").collect()}
        assert truly, "testdata should contain real overlap"
        assert truly <= suspects  # NO false negatives
        assert not (truly & cleans)  # clean/ is final and correct
        # false-positive quarantine stays n/m-class at this geometry
        fp = suspects - truly
        assert len(fp) <= max(5, len(routed) // 20)
    finally:
        bitmap.unpersist()


def test_gate_batch_replay_overwrites_both_routes(spark, tmp_path):
    eval_docs, stream_docs = _splits(spark)
    bitmap = eval_bloom_bitmap(eval_docs).persist()
    try:
        out = str(tmp_path / "gated")
        writer = gate_batch_writer(out, bitmap)
        batch = stream_docs.limit(100)
        writer(batch, 7)
        first_clean = spark.read.parquet(f"{out}/clean").count()
        first_susp = spark.read.parquet(f"{out}/suspect").count()
        assert first_clean > 0
        writer(batch, 7)  # re-delivery of the SAME batch id
        assert spark.read.parquet(f"{out}/clean").count() == first_clean
        assert spark.read.parquet(f"{out}/suspect").count() == first_susp
        assert sorted(os.listdir(f"{out}/clean")) == ["batch_id=7"]
        # a replay whose suspects VANISH (e.g. corrected bitmap) must
        # not leave the prior delivery's quarantine rows behind --
        # rewrite batch 7 as its clean subset only
        all_clean = gate_docs(batch, bitmap).filter(~F.col("suspect")).drop(
            "n_suspect_grams", "suspect"
        )
        writer(all_clean, 7)
        assert spark.read.parquet(f"{out}/suspect").count() == 0
        # and the suspect dir stays readable on an all-clean stream
        writer(all_clean, 8)
        assert spark.read.parquet(f"{out}/suspect").count() == 0
    finally:
        bitmap.unpersist()


def test_gate_plus_adjudication_equals_exact_audit(spark, tmp_path):
    """gate (no false negatives) + adjudicate (removes false
    positives) must reproduce the exact audit's per-doc verdict: the
    adjudicated-contaminated set over the quarantine EQUALS the
    ground-truth gram-overlap set over the whole stream."""
    eval_docs, stream_docs = _splits(spark)
    bitmap = eval_bloom_bitmap(eval_docs).persist()
    try:
        gated = gate_docs(stream_docs, bitmap)
        verdicts = adjudicate_suspects(
            gated.filter(F.col("suspect")), eval_docs
        )
        contaminated = {
            r["doc_id"]
            for r in verdicts.filter(F.col("contaminated")).collect()
        }
        assert contaminated == _truly_contaminated(stream_docs, eval_docs)
    finally:
        bitmap.unpersist()
