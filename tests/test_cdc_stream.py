"""Streaming CDC (streaming/cdc.py): the live view must equal the
batch q_cdc_apply frame row-for-row -- including under REVERSE-order
replay (the state is a lattice, no ordered-arrival contract) and
across a checkpoint restart."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from dump1090_stream_parser_spark.operators.cdc import q_cdc_apply
from dump1090_stream_parser_spark.streaming import cdc
from dump1090_stream_parser_spark.streaming.cdc import (
    cdc_stream,
    latest_cdc,
)
from dump1090_stream_parser_spark.streaming.fold import versioned
from dump1090_stream_parser_spark.tables import load_table

from .conftest import SF_DIR
from .fold_check import canon, fold_batches, latest

_SCHEMA = (
    "user_id long, ts timestamp, event_id long, op string, value double"
)

_OP = (
    "CASE WHEN event_type = 'signup' THEN 'I'"
    " WHEN event_type = 'error' THEN 'D' ELSE 'U' END"
)


def _log(spark):
    return load_table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_id", F.expr(_OP).alias("op"), "value"
    )


def _write_files(spark, out_dir, order_cols, n_files=3):
    """Split the log into n time-sliced files written in the given
    global order -- ascending ts replays forward, descending replays
    the NEWEST slice first (adversarial arrival order)."""
    log = _log(spark).orderBy(*order_cols)
    rows = log.collect()
    chunk = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        part = rows[i * chunk:(i + 1) * chunk]
        spark.createDataFrame(part, schema=_SCHEMA).coalesce(1).write.parquet(
            str(out_dir / f"f{i}.parquet")
        )


def _run(spark, src, out, ckpt):
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        cdc_stream(stream)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()  # never leak an overrunning query into later tests
        raise AssertionError("cdc stream did not finish in 180s")


def _batch(spark):
    return {
        r["user_id"]: (
            r["n_ops"],
            r["n_deletes"],
            r["last_op"],
            r["current_value"],
            r["last_ts"],
        )
        for r in q_cdc_apply(spark, SF_DIR).collect()
    }


def _live(spark, out):
    return {
        r["user_id"]: (
            r["n_ops"],
            r["n_deletes"],
            r["last_op"],
            r["current_value"],
            r["last_ts"],
        )
        for r in latest_cdc(spark.read.parquet(out)).collect()
    }


def test_stream_equals_batch_forward_replay(spark):
    """cdc_stream's own projection, fold and emit on the static log
    (the kernel's batch branch) equal q_cdc_apply."""
    assert {
        r["user_id"]: (
            r["n_ops"],
            r["n_deletes"],
            r["last_op"],
            r["current_value"],
            r["last_ts"],
        )
        for r in latest_cdc(cdc_stream(_log(spark))).collect()
    } == _batch(spark)


def test_stream_equals_batch_reverse_replay(spark):
    """The lattice claim: folding the log NEWEST slice first, in three
    micro-batches, converges to the q_cdc_apply live view -- counts
    are additive, last-writer is an argmax over the data-carried
    order, so arrival order is free."""
    log = _log(spark).toPandas().sort_values(
        ["ts", "event_id"], ascending=False
    )
    rows = fold_batches(
        versioned(cdc._fold, cdc._emit),
        ["user_id"],
        np.array_split(log, 3),
    )
    live = latest(rows, ["user_id"]).query("last_op != 'D'")
    assert canon(live) == canon(q_cdc_apply(spark, SF_DIR).toPandas())


def test_stream_on_snapshot_table_equals_batch(spark, tmp_path):
    """VERDICT r11 ask #6: the CDC twin's emissions land in a SNAPSHOT
    table -- stream==batch live-view equality pinned on snapshot-table
    storage across a checkpoint restart, exactly-once under full
    replay, with compaction and time travel running on the streamed
    table itself."""
    from dump1090_stream_parser_spark.plans.snapshots import (
        latest_manifest,
        read_snapshot,
        snapshot_compact,
    )
    from dump1090_stream_parser_spark.streaming.cdc import (
        cdc_snapshot_sink,
        live_cdc_snapshot,
    )

    src = tmp_path / "in"
    src.mkdir()
    _write_files(spark, src, [F.asc("ts"), F.asc("event_id")], n_files=2)
    tbl = str(tmp_path / "snap_tbl")

    def run(ckpt):
        stream = (
            spark.readStream.schema(_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )
        q = (
            cdc_stream(stream)
            .writeStream.foreachBatch(
                cdc_snapshot_sink(tbl, app_id="cdc-snap-e2e")
            )
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(180):
            q.stop()  # never leak an overrunning query into later tests
            raise AssertionError("cdc snapshot stream did not finish in 180s")

    # phase 1: only the first file exists yet
    import shutil

    staged = tmp_path / "staged"
    staged.mkdir()
    shutil.move(str(src / "f1.parquet"), str(staged / "f1.parquet"))
    run("ckpt")
    v_phase1 = latest_manifest(tbl)["version"]
    # phase 2: the rest arrives, SAME checkpoint (restart)
    shutil.move(str(staged / "f1.parquet"), str(src / "f1.parquet"))
    run("ckpt")

    def live(version=None):
        return {
            r["user_id"]: (
                r["n_ops"],
                r["n_deletes"],
                r["last_op"],
                r["current_value"],
                r["last_ts"],
            )
            for r in live_cdc_snapshot(spark, tbl, version=version).collect()
        }

    assert live() == _batch(spark)

    # full replay against a FRESH checkpoint: every batch id
    # re-delivers from 0; the txn ledger must no-op them all
    v_before = latest_manifest(tbl)["version"]
    run("ckpt_replay")
    assert latest_manifest(tbl)["version"] == v_before
    assert live() == _batch(spark)

    # time travel: the phase-1 snapshot reads back (a strict subset of
    # the final state's history -- fewer or equal ops per key)
    old = read_snapshot(spark, tbl, version=v_phase1)
    assert 0 < old.count()
    final_ops = {
        r["user_id"]: r["n_ops"]
        for r in read_snapshot(spark, tbl).collect()
    }
    for r in old.collect():
        assert r["n_ops"] <= final_ops[r["user_id"]]

    # compaction on the streamed table: rows identical after
    snapshot_compact(spark, tbl, max_files_per_part=1)
    assert live() == _batch(spark)


def test_snapshot_upsert_batch_writer_ledger_exactly_once(spark, tmp_path):
    """The upsert_batch_writer semantics on snapshot storage: newest
    row per key per batch, untouched partitions carried by reference,
    and a replayed batch is a LEDGER no-op (no new version, not even a
    no-change rewrite)."""
    from dump1090_stream_parser_spark.plans.snapshots import (
        latest_manifest,
        read_snapshot,
    )
    from dump1090_stream_parser_spark.streaming.sinks import (
        snapshot_upsert_batch_writer,
    )

    schema = "user_id long, part long, ts string, value double"

    def df(rows):
        return spark.createDataFrame(rows, schema).withColumn(
            "ts", F.to_timestamp("ts")
        )

    tbl = str(tmp_path / "snap_latest")
    write = snapshot_upsert_batch_writer(
        tbl, "part", "user_id", "ts", app_id="hh-snap"
    )
    write(
        df(
            [
                (1, 1, "2026-01-01 10:00:00", 1.0),
                (2, 0, "2026-01-01 10:00:00", 2.0),
                (3, 1, "2026-01-01 10:05:00", 3.0),
            ]
        ),
        0,
    )
    part0 = {
        e["path"]
        for e in latest_manifest(tbl)["files"]
        if "0" in e["parts"]
    }
    write(
        df(
            [
                (1, 1, "2026-01-01 11:00:00", 10.0),
                # in-batch dedup: newer row for user 4 must win
                (4, 1, "2026-01-01 11:01:00", 4.0),
                (4, 1, "2026-01-01 11:30:00", 44.0),
            ]
        ),
        1,
    )
    got = {
        r["user_id"]: r["value"]
        for r in read_snapshot(spark, tbl).collect()
    }
    assert got == {1: 10.0, 2: 2.0, 3: 3.0, 4: 44.0}
    m = latest_manifest(tbl)
    # untouched partition 0 carried by reference
    assert part0 <= {e["path"] for e in m["files"]}
    # replayed batch: ledger no-op -- version does not even advance
    write(df([(1, 1, "2026-01-01 11:00:00", 99.0)]), 1)
    assert latest_manifest(tbl)["version"] == m["version"]
    assert {
        r["user_id"]: r["value"]
        for r in read_snapshot(spark, tbl).collect()
    } == got


def test_stream_survives_checkpoint_restart(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    _write_files(spark, src, [F.asc("ts"), F.asc("event_id")], n_files=2)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    # first run: only the first file exists yet
    import shutil

    staged = tmp_path / "staged"
    staged.mkdir()
    shutil.move(str(src / "f1.parquet"), str(staged / "f1.parquet"))
    _run(spark, src, out, ckpt)
    # second run: the rest arrives, same checkpoint
    shutil.move(str(staged / "f1.parquet"), str(src / "f1.parquet"))
    _run(spark, src, out, ckpt)
    assert _live(spark, out) == _batch(spark)
