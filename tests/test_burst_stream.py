"""Streaming burst detection (streaming/burst.py): the emitted rows
must equal the batch q_burst rows over every CLOSED day bit-for-bit
under ordered replay, across micro-batch splits and a checkpoint
restart."""

from __future__ import annotations

from pyspark.sql import functions as F

from dump1090_stream_parser_spark.operators.timeseries import q_burst
from dump1090_stream_parser_spark.streaming.burst import (
    burst_stream,
    closed_day_rows,
)
from dump1090_stream_parser_spark.tables import load_table

from .conftest import SF_DIR

_SCHEMA = "event_type string, ts timestamp"


def _split_by_time(spark, out_dir, n_files=3):
    """Time-ordered file split: per-key day order is preserved across
    files, the twin's ordered-arrival contract."""
    ev = load_table(spark, SF_DIR, "events").select("event_type", "ts")
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
        burst_stream(stream)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def _rows(df):
    return {
        (r["event_type"], r["day"]): (
            r["n_events"],
            r["base_mean"],
            r["z"],
            r["is_burst"],
        )
        for r in df.collect()
    }


def test_burst_stream_equals_batch_closed_days(spark):
    """burst_stream's own projection, fold and emit on the static
    events (the kernel's batch branch) equal q_burst over every closed
    day."""
    got = _rows(burst_stream(load_table(spark, SF_DIR, "events")))
    expect = _rows(closed_day_rows(q_burst(spark, SF_DIR)))
    assert got == expect
    assert got, "closed scored days expected"
    # the open final day per type is exactly what the stream withheld
    full = _rows(q_burst(spark, SF_DIR))
    types = {t for t, _ in full}
    assert len(full) - len(expect) == len(types)


def test_burst_stream_restart_carries_state(spark, tmp_path):
    """Feed the first file, stop, add the rest, restart on the same
    checkpoint: the final emissions must still equal batch closed
    days -- the open-day count and trailing window survive in the
    state store."""
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

    got = _rows(spark.read.parquet(out))
    expect = _rows(closed_day_rows(q_burst(spark, SF_DIR)))
    assert got == expect
