"""Streaming KMV (streaming/kmv.py): the current per-source sketch
(max-ver rows) must equal the batch bottom-k bit-for-bit on the same
data regardless of micro-batch boundaries (min-k is duplicate- and
order-insensitive), and carry across a query restart via the
checkpoint."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dump1090_stream_parser_spark.functions.hashing import portable_hash64
from dump1090_stream_parser_spark.operators.pipeline_ops import (
    K_KMV,
    kmv_key,
)
from dump1090_stream_parser_spark.streaming.kmv import (
    kmv_stream,
    latest_sketch,
)
from dump1090_stream_parser_spark.tables import load_table

from .conftest import SF_DIR

_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string"


def _split_two_files(spark, out_dir):
    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    half_id = ev.agg(F.expr("percentile(event_id, 0.5)")).collect()[0][0]
    ev.filter(F.col("event_id") < half_id).coalesce(1).write.parquet(
        str(out_dir / "a.parquet")
    )
    ev.filter(F.col("event_id") >= half_id).coalesce(1).write.parquet(
        str(out_dir / "b.parquet")
    )


def _run(spark, src, out, ckpt, k=K_KMV):
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    ).filter(F.col("user_id").isNotNull())
    q = (
        kmv_stream(
            stream,
            "event_type",
            kmv_key(F.col("user_id"), F.col("ts")),
            k=k,
        )
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def _batch_sketch(spark, k=K_KMV):
    """The batch query's ks stage, rebuilt from the same primitives."""
    du = (
        load_table(spark, SF_DIR, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            "event_type",
            kmv_key(F.col("user_id"), F.col("ts")).alias("k"),
        )
        .distinct()
    )
    dh = du.select(
        "event_type", portable_hash64(F.col("k")).alias("h")
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    rows = (
        dh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .collect()
    )
    out: dict[str, list[int]] = {}
    for r in rows:
        out.setdefault(r["event_type"], []).append(r["h"])
    return {s: sorted(hs) for s, hs in out.items()}


def test_stream_sketch_equals_batch_sketch(spark):
    """kmv_stream's own projection, fold and emit on the static events
    (the kernel's batch branch), through latest_sketch, equal the
    batch bottom-k."""
    ev = load_table(spark, SF_DIR, "events").filter(
        F.col("user_id").isNotNull()
    )
    rows = kmv_stream(ev, "event_type", kmv_key(F.col("user_id"), F.col("ts")))
    got: dict[str, list[int]] = {}
    for r in latest_sketch(rows).collect():
        got.setdefault(r["source"], []).append(r["h"])
    got = {s: sorted(hs) for s, hs in got.items()}
    assert got == _batch_sketch(spark)
    # the sketch is full (estimation regime, not the exact regime)
    assert all(len(hs) == K_KMV for hs in got.values()), {
        s: len(hs) for s, hs in got.items()
    }


def test_stream_sketch_survives_query_restart(spark, tmp_path):
    stage = tmp_path / "stage"
    _split_two_files(spark, stage)
    src = tmp_path / "ev_restart"
    src.mkdir()
    shutil.copytree(stage / "a.parquet", src / "a.parquet")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    _run(spark, src, out, ckpt)
    shutil.copytree(stage / "b.parquet", src / "b.parquet")
    _run(spark, src, out, ckpt)

    got: dict[str, list[int]] = {}
    for r in latest_sketch(spark.read.parquet(out)).collect():
        got.setdefault(r["source"], []).append(r["h"])
    # a sketch min supplied only by the first run's file must survive --
    # only state carried across the restart can supply it
    assert {s: sorted(hs) for s, hs in got.items()} == _batch_sketch(spark)
