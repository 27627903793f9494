"""Streaming Theil-Sen (streaming/theil_sen.py): the current trend
(max-ver day counts through the batch operator's own pair/rank
stages) must equal q_theil_sen bit-for-bit on the same events
regardless of micro-batch boundaries, and carry state across a
checkpoint restart."""

from __future__ import annotations

from pyspark.sql import functions as F

from dump1090_stream_parser_spark.operators.statistics import q_theil_sen
from dump1090_stream_parser_spark.streaming.theil_sen import (
    theil_sen_from_state,
    theil_sen_stream,
)
from dump1090_stream_parser_spark.tables import load_table

from .conftest import SF_DIR
from .fold_check import latest

_SCHEMA = "event_id long, ts timestamp, event_type string"


def _run(spark, src, out, ckpt):
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        theil_sen_stream(stream)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def test_stream_trend_equals_batch(spark):
    """theil_sen_stream's own projection, fold and emit on the static
    events (the kernel's batch branch), through theil_sen_from_state,
    equal q_theil_sen."""
    ev = load_table(spark, SF_DIR, "events")
    got = theil_sen_from_state(theil_sen_stream(ev)).collect()
    want = q_theil_sen(spark, SF_DIR).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_stream_trend_equals_batch_and_survives_restart(spark, tmp_path):
    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "event_type"
    )
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

    got = theil_sen_from_state(spark.read.parquet(out)).collect()
    want = q_theil_sen(spark, SF_DIR).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    # restart: 60 duplicated events land on existing (type, day) keys;
    # state carries (counts grow, day grid unchanged)
    extra = ev.limit(60).select(
        (F.col("event_id") + F.lit(9_000_000)).alias("event_id"),
        "ts",
        "event_type",
    )
    extra.coalesce(1).write.parquet(str(src / "c.parquet"))
    _run(spark, src, out, ckpt)
    latest = theil_sen_from_state(spark.read.parquet(out)).collect()
    nd_before = {r["event_type"]: r["n_days"] for r in want}
    nd_after = {r["event_type"]: r["n_days"] for r in latest}
    assert nd_after == nd_before  # same day grid
    # total mass grew by exactly 60 across the day grid
    raw = spark.read.parquet(out)
    from dump1090_stream_parser_spark.streaming.theil_sen import (
        theil_sen_from_state as _,
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type", "x").orderBy(F.desc("ver"))
    tot = (
        raw.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .agg(F.sum("y"))
        .collect()[0][0]
    )
    assert tot == ev.count() + 60
