"""Streaming count-min (streaming/countmin.py): the current grid
(max-ver cells per block) must equal the batch grid bit-for-bit on the
same data regardless of micro-batch boundaries, keep the over-count
guarantee for point estimates, and carry its counters across a query
restart via the checkpoint."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from dump1090_stream_parser_spark.operators.pipeline_ops import (
    CMS_DEPTH,
    countmin_cells,
)
from dump1090_stream_parser_spark.streaming.countmin import (
    countmin_stream,
    latest_cells,
)
from dump1090_stream_parser_spark.tables import load_table

from .conftest import SF_DIR

_SCHEMA = "event_id long, user_id long"


def _split_two_files(spark, out_dir):
    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id")
    half_id = ev.agg(F.expr("percentile(event_id, 0.5)")).collect()[0][0]
    ev.filter(F.col("event_id") < half_id).coalesce(1).write.parquet(
        str(out_dir / "a.parquet")
    )
    ev.filter(F.col("event_id") >= half_id).coalesce(1).write.parquet(
        str(out_dir / "b.parquet")
    )


def _run(spark, src, out, ckpt, **kw):
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        countmin_stream(stream, "user_id", **kw)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def _batch_grid(spark):
    ev = load_table(spark, SF_DIR, "events")
    return {
        (r["j"], r["bucket"]): r["c"]
        for r in countmin_cells(ev, "user_id").collect()
    }


def test_stream_grid_equals_batch_grid(spark):
    """countmin_stream's own projection, fold and emit on the static
    events (the kernel's batch branch), through latest_cells, equal
    the batch grid bit-for-bit."""
    raw = countmin_stream(load_table(spark, SF_DIR, "events"), "user_id")
    got = {
        (r["j"], r["bucket"]): r["c"]
        for r in latest_cells(raw).collect()
    }
    assert got == _batch_grid(spark)
    # the parallelism claim: state spread over many (j, block) groups,
    # not one monolith per depth row
    groups = raw.select("j", "block").distinct().count()
    assert groups > CMS_DEPTH
    # every depth row sums to the same stream total
    per_j = {
        r["j"]: r["s"]
        for r in latest_cells(raw).groupBy("j").agg(F.sum("c").alias("s")).collect()
    }
    assert len(set(per_j.values())) == 1 and len(per_j) == CMS_DEPTH


def test_stream_point_estimates_overcount(spark):
    ev = load_table(spark, SF_DIR, "events")
    # narrow grid so collisions exist and the estimate is a real min
    # (events at this sf has ~15 distinct user_ids -> width 8 collides)
    raw = countmin_stream(ev, "user_id", width=8, block_w=4)
    grid = {
        (r["j"], r["bucket"]): r["c"]
        for r in latest_cells(raw).collect()
    }
    exact = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
        if r["user_id"] is not None
    }
    # recompute each key's buckets exactly as the operator does
    from dump1090_stream_parser_spark.operators.pipeline_ops import (
        cms_bucket,
    )

    keys = spark.createDataFrame([(k,) for k in exact], "user_id long")
    probe = keys.select(
        "user_id",
        F.explode(F.array(*[F.lit(j) for j in range(CMS_DEPTH)])).alias("j"),
    ).select(
        "user_id", "j", cms_bucket(F.col("user_id"), F.col("j"), 8).alias("b")
    )
    buckets = {}
    for r in probe.collect():
        buckets.setdefault(r["user_id"], {})[r["j"]] = r["b"]
    collided = 0
    for k, true in exact.items():
        est = min(grid[(j, buckets[k][j])] for j in range(CMS_DEPTH))
        assert est >= true, (k, est, true)
        collided += est > true
    assert collided > 0, "width must force collisions for this test"


def test_stream_state_survives_query_restart(spark, tmp_path):
    stage = tmp_path / "stage"
    _split_two_files(spark, stage)
    src = tmp_path / "ev_restart"
    src.mkdir()
    shutil.copytree(stage / "a.parquet", src / "a.parquet")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    _run(spark, src, out, ckpt)
    shutil.copytree(stage / "b.parquet", src / "b.parquet")
    _run(spark, src, out, ckpt)

    got = {
        (r["j"], r["bucket"]): r["c"]
        for r in latest_cells(spark.read.parquet(out)).collect()
    }
    # counts from the first run's file must still be in the grid --
    # only state carried across the restart can supply them
    assert got == _batch_grid(spark)
