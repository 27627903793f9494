"""Streaming AUC (streaming/auc.py): the current AUC (max-ver state
through the batch operator's auc_tail) must equal q_auc bit-for-bit
on the same documents regardless of micro-batch boundaries, and carry
state across a checkpoint restart."""

from __future__ import annotations

from pyspark.sql import functions as F

from dump1090_stream_parser_spark.operators.inference import q_auc
from dump1090_stream_parser_spark.streaming.auc import (
    auc_from_state,
    auc_stream,
)
from dump1090_stream_parser_spark.tables import load_table

from .conftest import SF_DIR

_COLS = ["doc_id", "text", "lang"]
_SCHEMA = "doc_id long, text string, lang string"


def _run(spark, src, out, ckpt):
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        auc_stream(stream)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def test_stream_auc_equals_batch(spark):
    """auc_stream's own projection, fold and emit on the static
    documents (the kernel's batch branch), through auc_from_state,
    equal q_auc."""
    docs = load_table(spark, SF_DIR, "documents").select(*_COLS)
    got = auc_from_state(auc_stream(docs)).collect()
    want = q_auc(spark, SF_DIR).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_stream_auc_equals_batch_and_survives_restart(spark, tmp_path):
    docs = load_table(spark, SF_DIR, "documents").select(*_COLS)
    med = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    src = tmp_path / "docs_in"
    docs.filter(F.col("doc_id") < med).coalesce(1).write.parquet(
        str(src / "a.parquet")
    )
    docs.filter(F.col("doc_id") >= med).coalesce(1).write.parquet(
        str(src / "b.parquet")
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run(spark, src, out, ckpt)

    got = auc_from_state(spark.read.parquet(out)).collect()
    want = q_auc(spark, SF_DIR).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    # restart with 40 fresh re-keyed docs appended: state carries
    extra = docs.limit(40).select(
        (F.col("doc_id") + F.lit(5_000_000)).alias("doc_id"),
        "text",
        "lang",
    )
    extra.coalesce(1).write.parquet(str(src / "c.parquet"))
    _run(spark, src, out, ckpt)
    after = auc_from_state(spark.read.parquet(out)).collect()[0]
    before = want[0]
    assert after["np"] + after["nn"] == before["np"] + before["nn"] + 40
    assert 0.0 <= after["auc"] <= 1.0


def test_score_grain_bounds_the_state_grid(spark):
    """ADVICE r10: auc_stream's score_grain must round scores BEFORE
    the stateful groupBy, so a continuous score domain maps onto a
    bounded state grid. Pin (a) the grained fold's distinct-score
    state rows <= the ungrained fold's, (b) every state key sits on the
    10^-grain lattice, (c) totals are preserved."""
    docs = load_table(spark, SF_DIR, "documents").select(*_COLS)
    exact = auc_stream(docs)
    grained = auc_stream(docs, score_grain=2)
    n_exact = exact.select("score").distinct().count()
    n_grained = grained.select("score").distinct().count()
    assert n_grained <= n_exact
    # every grained key is on the 0.01 lattice
    off = grained.filter(
        F.abs(F.col("score") * 100 - F.round(F.col("score") * 100, 0))
        > 1e-9
    ).count()
    assert off == 0
    # totals preserved: same document mass lands in both grids
    tot = lambda df: df.agg(  # noqa: E731
        F.sum("cp").alias("p"), F.sum("cn").alias("n")
    ).collect()[0]
    assert tuple(tot(exact)) == tuple(tot(grained))
