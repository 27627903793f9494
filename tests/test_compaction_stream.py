"""Streaming compaction planner (streaming/compaction.py): the
current plan (max-ver fragment sizes through the batch packing
stages) must equal q_compaction_plan bit-for-bit on the same events
regardless of micro-batch boundaries, and carry state across a
checkpoint restart."""

from __future__ import annotations

from pyspark.sql import functions as F

from dump1090_stream_parser_spark.operators.pipeline_ops import (
    q_compaction_plan,
)
from dump1090_stream_parser_spark.streaming.compaction import (
    compaction_stream,
    plan_from_state,
)
from dump1090_stream_parser_spark.tables import load_table

from .conftest import SF_DIR
from .fold_check import latest

_SCHEMA = "event_id long, ts timestamp"


def _run(spark, src, out, ckpt):
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        compaction_stream(stream)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def test_stream_plan_equals_batch(spark):
    """compaction_stream's own projection, fold and emit on the static
    events (the kernel's batch branch), through plan_from_state, equal
    q_compaction_plan."""
    ev = load_table(spark, SF_DIR, "events")
    got = plan_from_state(compaction_stream(ev)).collect()
    want = q_compaction_plan(spark, SF_DIR).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_stream_plan_equals_batch_and_survives_restart(spark, tmp_path):
    ev = load_table(spark, SF_DIR, "events").select("event_id", "ts")
    med = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    src = tmp_path / "ev_in"
    ev.filter(F.col("event_id") < med).coalesce(1).write.parquet(
        str(src / "a.parquet")
    )
    ev.filter(F.col("event_id") >= med).coalesce(1).write.parquet(
        str(src / "b.parquet")
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run(spark, src, out, ckpt)

    got = plan_from_state(spark.read.parquet(out)).collect()
    want = q_compaction_plan(spark, SF_DIR).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    # restart: 80 duplicated events grow existing fragments; the
    # re-planned bins still conserve every fragment exactly once
    extra = ev.limit(80).select(
        (F.col("event_id") + F.lit(7_000_000)).alias("event_id"), "ts"
    )
    extra.coalesce(1).write.parquet(str(src / "c.parquet"))
    _run(spark, src, out, ckpt)
    latest = plan_from_state(spark.read.parquet(out)).collect()
    assert sum(r["size_rows"] for r in latest) == ev.count() + 80
    frags_before = {(r["d"], r["hr"]) for r in want}
    frags_after = {(r["d"], r["hr"]) for r in latest}
    assert frags_after == frags_before  # same fragment grid
