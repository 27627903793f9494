"""Streaming as-of enrichment (streaming/asof.py): with time-ordered
deliveries, the stateful enrichment must reproduce the BATCH as-of join
exactly (q_asof_lastval semantics), including events whose prevailing
reference arrived in an earlier micro-batch, and state must survive a
query restart."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dump1090_stream_parser_spark.streaming.asof import asof_enrich
from dump1090_stream_parser_spark.tables import load_table

from .conftest import SF_DIR

_SCHEMA = "event_id long, ts timestamp, user_id long, value double"


def _batch_expected(spark):
    """q_asof_lastval's window formulation over the full event set."""
    ev = load_table(spark, SF_DIR, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    enriched = ev.withColumn(
        "asof",
        F.last(
            F.when(F.col("event_type") == "signup", F.col("value")),
            ignorenulls=True,
        ).over(w),
    )
    return {
        r["event_id"]: r["asof"]
        for r in enriched.filter(
            F.col("event_type") == "purchase"
        ).collect()
    }


def _write_time_split(spark, out_dir):
    """Two deliveries split ON TIME (the monotonic-ingest contract):
    every row of file a precedes every row of file b."""
    ev = load_table(spark, SF_DIR, "events")
    mid = ev.agg(F.expr("percentile(unix_micros(CAST(ts AS TIMESTAMP_LTZ)), 0.5)")).collect()[0][0]
    early = ev.filter(F.unix_micros(F.col("ts").cast("timestamp_ltz")) <= mid)
    late = ev.filter(F.unix_micros(F.col("ts").cast("timestamp_ltz")) > mid)
    for name, part in (("a", early), ("b", late)):
        part.select("event_id", "ts", "user_id", "value", "event_type")\
            .coalesce(1).write.parquet(str(out_dir / f"{name}.parquet"))
    return early.count(), late.count()


def _run(spark, src, out, ckpt):
    stream = (
        spark.readStream.schema(_SCHEMA + ", event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    refs = stream.filter(F.col("event_type") == "signup")
    purchases = stream.filter(F.col("event_type") == "purchase")
    q = (
        asof_enrich(purchases, refs, "user_id", "ts", "event_id", "value")
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def test_stream_asof_matches_batch_join(spark):
    """asof_enrich's own projection and scan on the static events (the
    kernel's batch branch) equal the batch as-of join."""
    ev = load_table(spark, SF_DIR, "events")
    refs = ev.filter(F.col("event_type") == "signup")
    purchases = ev.filter(F.col("event_type") == "purchase")
    got = {
        r["event_id"]: r["asof_value"]
        for r in asof_enrich(
            purchases, refs, "user_id", "ts", "event_id", "value"
        ).collect()
    }
    assert got == _batch_expected(spark)


def test_stream_asof_state_survives_restart(spark, tmp_path):
    stage = tmp_path / "stage"
    stage.mkdir()
    _write_time_split(spark, stage)
    src = tmp_path / "ev_restart"
    src.mkdir()
    shutil.copytree(stage / "a.parquet", src / "a.parquet")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    _run(spark, src, out, ckpt)
    shutil.copytree(stage / "b.parquet", src / "b.parquet")
    _run(spark, src, out, ckpt)

    got = {
        r["event_id"]: r["asof_value"]
        for r in spark.read.parquet(out).collect()
    }
    expected = _batch_expected(spark)
    assert got == expected
    # the restart proves something only if some purchase in delivery 2
    # depends on a signup from delivery 1 (carried solely by state)
    ev = load_table(spark, SF_DIR, "events")
    mid = ev.agg(F.expr("percentile(unix_micros(CAST(ts AS TIMESTAMP_LTZ)), 0.5)")).collect()[0][0]
    late_purchases = {
        r["event_id"]
        for r in ev.filter(
            (F.unix_micros(F.col("ts").cast("timestamp_ltz")) > mid)
            & (F.col("event_type") == "purchase")
        ).collect()
    }
    assert any(
        expected[e] is not None for e in late_purchases if e in expected
    )
