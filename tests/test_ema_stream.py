"""Streaming EMA (streaming/ema.py): the latest emission per key must
equal the batch q_ema row bit-for-bit under ordered replay, including
across micro-batch splits and a checkpoint restart."""

from __future__ import annotations

from pyspark.sql import functions as F

from dump1090_stream_parser_spark.operators.timeseries import q_ema
from dump1090_stream_parser_spark.streaming.ema import (
    ema_stream,
    latest_ema,
)
from dump1090_stream_parser_spark.tables import load_table

from .conftest import SF_DIR

_SCHEMA = "user_id long, ts timestamp, event_id long, value double"


def _split_by_time(spark, out_dir, n_files=3):
    """Time-ordered file split: per-key order is preserved across
    files, the twin's ordered-arrival contract."""
    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    cuts = [
        r[0]
        for r in ev.agg(
            F.expr(
                "percentile(unix_micros(cast(ts as timestamp)),"
                f" array({','.join(str((i + 1) / n_files) for i in range(n_files - 1))}))"
            )
        ).collect()
    ][0]
    bounds = [None, *cuts, None]
    for i in range(n_files):
        part = ev.withColumn(
            "us", F.expr("unix_micros(cast(ts as timestamp))")
        )
        if bounds[i] is not None:
            part = part.filter(F.col("us") > bounds[i])
        if bounds[i + 1] is not None:
            part = part.filter(F.col("us") <= bounds[i + 1])
        part.drop("us").coalesce(1).write.parquet(
            str(out_dir / f"f{i}.parquet")
        )


def _run(spark, src, out, ckpt):
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        ema_stream(stream)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def _batch(spark):
    return {
        r["user_id"]: (r["n_events"], r["ema_value"])
        for r in q_ema(spark, SF_DIR).collect()
    }


def test_stream_equals_batch_across_microbatches(spark):
    """ema_stream's own projection, fold and emit on the static events
    table (the kernel's batch branch) equal q_ema; test_fold.py's split
    check carries that to any ordered micro-batch split."""
    ev = load_table(spark, SF_DIR, "events")
    got = {
        r["user_id"]: (r["n_events"], r["ema_value"])
        for r in latest_ema(ema_stream(ev)).collect()
    }
    assert got == _batch(spark)


def test_stream_restart_carries_state(spark, tmp_path):
    """Feed the first file, stop, add the rest, restart on the same
    checkpoint: the final table must still equal batch -- the EMA
    accumulator survives in the state store."""
    staged = tmp_path / "staged"
    _split_by_time(spark, staged)
    import shutil

    src = tmp_path / "ev_in"
    src.mkdir()
    files = sorted(staged.iterdir())
    shutil.copytree(files[0], src / files[0].name)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run(spark, src, out, ckpt)
    for f in files[1:]:
        shutil.copytree(f, src / f.name)
    _run(spark, src, out, ckpt)

    got = {
        r["user_id"]: (r["n_events"], r["ema_value"])
        for r in latest_ema(spark.read.parquet(out)).collect()
    }
    assert got == _batch(spark)
