"""Default-run ingest tests: the Silver ``foreachBatch`` sink
(batch-id idempotence, the Bronze archive, and one scan of each
micro-batch, with and without the CLI's SQLite append). The socket
source's tests live in ``test_sbs1_jvm.py``; the slow checkpoint and
restart tests in ``test_streaming.py``."""

from __future__ import annotations

import os
import sqlite3
from collections import Counter

from pyspark.sql import functions as F

from dump1090_stream_parser_spark.cli import batch_writer
from dump1090_stream_parser_spark.sources.sbs1 import (
    SBS1_FIELDS,
    parse_lines,
    silver,
)
from dump1090_stream_parser_spark.streaming import pipeline
from dump1090_stream_parser_spark.streaming.pipeline import (
    bronze_from_file_replay,
    silver_batch_writer,
    silver_stream,
)

from .test_sbs1_parser import GOLDEN, INVALID


def test_silver_sink_idempotent_on_batch_replay(spark, tmp_path):
    """A re-delivered micro-batch (same batch_id) must not double-insert."""
    from dump1090_stream_parser_spark.streaming.pipeline import (
        silver_batch_writer,
    )

    out = tmp_path / "idem"
    batch = parse_lines(
        spark.createDataFrame([(l,) for l in GOLDEN], "value string"),
        parsed_time=F.col("generated_ts"),
    )
    write_batch = silver_batch_writer(str(out))
    write_batch(batch, 7)
    write_batch(batch, 7)  # replay of the SAME batch id
    n = spark.read.parquet(str(out / "squitters")).count()
    assert n == len(GOLDEN)
    write_batch(batch, 8)  # a NEW batch id appends
    n2 = spark.read.parquet(str(out / "squitters")).count()
    assert n2 == 2 * len(GOLDEN)


def test_bronze_archive_and_silver_from_one_stream(spark, tmp_path):
    from dump1090_stream_parser_spark.streaming.pipeline import (
        write_bronze_and_silver,
    )

    src = tmp_path / "blines"
    src.mkdir()
    (src / "l.txt").write_text("\n".join(GOLDEN + INVALID) + "\n")
    out = tmp_path / "bout"
    q = write_bronze_and_silver(
        bronze_from_file_replay(spark, str(src)),
        str(out),
        str(tmp_path / "bckpt"),
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    bronze = spark.read.parquet(str(out / "bronze"))
    assert bronze.count() == len(GOLDEN) + len(INVALID)  # raw, lossless
    got = spark.read.parquet(str(out / "squitters"))
    assert got.count() == len(GOLDEN)
    dead = spark.read.parquet(str(out / "dead_letter"))
    assert dead.count() == len(INVALID)
    # every raw line is recoverable: bronze replay reproduces silver
    replay = silver(parse_lines(bronze.select("value")))
    assert replay.count() == len(GOLDEN)


def _parsed_golden(spark):
    return parse_lines(spark.createDataFrame([(l,) for l in GOLDEN], "value string"))


#: One file per micro-batch: mixed, all valid, all malformed.
_BATCH_FILES = {
    "a_mixed.txt": GOLDEN + INVALID,
    "b_valid.txt": GOLDEN,
    "c_malformed.txt": INVALID,
}


def _replay_one_file_per_batch(spark, tmp_path, monkeypatch, write_batch):
    """Stream :data:`_BATCH_FILES` through ``write_batch``, one file per
    micro-batch, and check that progress counts every line sent exactly
    once: a second scan of a batch would count its lines twice."""
    src = tmp_path / "lines"
    src.mkdir()
    for k, (name, lines) in enumerate(_BATCH_FILES.items()):
        path = src / name
        path.write_text("\n".join(lines) + "\n")
        os.utime(path, (1_000_000 + k, 1_000_000 + k))  # batch order

    # a 1-byte cap still takes one file per batch: the replay's bound
    monkeypatch.setattr(pipeline, "FILE_REPLAY_BYTES_PER_TRIGGER", 1)
    bronze = bronze_from_file_replay(spark, str(src))
    q = (
        silver_stream(bronze)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    progress = q.recentProgress
    assert [p["batchId"] for p in progress] == [0, 1, 2]
    sent = sum(len(lines) for lines in _BATCH_FILES.values())
    assert sum(p["numInputRows"] for p in progress) == sent


def test_silver_sink_scans_each_batch_once(spark, tmp_path, monkeypatch):
    """The sink writes Silver and the dead letters from one scan of
    each micro-batch: progress counts every line sent exactly once, a
    batch without malformed lines writes no dead-letter directory, and
    an all-malformed batch dead-letters every line."""
    out = tmp_path / "out"
    _replay_one_file_per_batch(
        spark, tmp_path, monkeypatch, silver_batch_writer(str(out))
    )

    # every Silver column but the stream's own parse-time stamp
    expect = silver(_parsed_golden(spark))
    cols = [c for c in expect.columns if c != "parsed_time"]
    golden = sorted(map(tuple, expect.select(*cols).collect()))

    def squitters(batch_id: int) -> list[tuple]:
        path = out / "squitters" / f"batch_id={batch_id}"
        return sorted(map(tuple, spark.read.parquet(str(path)).select(*cols).collect()))

    def dead_letters(batch_id: int) -> Counter:
        path = out / "dead_letter" / f"batch_id={batch_id}"
        rows = spark.read.parquet(str(path)).collect()
        assert all(r["reason"] == "arity != 22" for r in rows)
        return Counter(r["raw_line"] for r in rows)

    assert squitters(0) == golden
    assert squitters(1) == golden
    assert dead_letters(0) == Counter(INVALID)
    assert not (out / "dead_letter" / "batch_id=1").exists()
    assert dead_letters(2) == Counter(INVALID)
    assert not list((out / "squitters" / "batch_id=2").glob("**/*.parquet"))


def test_cli_sqlite_sink_scans_each_batch_once(spark, tmp_path, monkeypatch):
    """With ``--sqlite`` the CLI's batch function still scans each
    micro-batch once: SQLite is filled from the committed parquet, so it
    holds GOLDEN once per batch that had valid lines, row for row what
    parquet holds, and a replayed batch id adds nothing to it."""
    out, db = tmp_path / "out", str(tmp_path / "adsb.db")
    write_batch = batch_writer(str(out), db)
    _replay_one_file_per_batch(spark, tmp_path, monkeypatch, write_batch)

    fields = [name for name, _ in SBS1_FIELDS]
    golden = sorted(map(tuple, silver(_parsed_golden(spark)).select(*fields).collect()))

    def sqlite_rows(cols: list[str]) -> list[tuple]:
        conn = sqlite3.connect(db)
        try:
            return sorted(conn.execute(f"SELECT {', '.join(cols)} FROM squitters"))
        finally:
            conn.close()

    assert sqlite_rows(fields) == sorted(golden * 2)
    parquet = spark.read.parquet(str(out / "squitters")).select(*fields, "parsed_time")
    assert sqlite_rows(fields + ["parsed_time"]) == sorted(
        (*r[:-1], r[-1].isoformat()) for r in parquet.collect()
    )

    write_batch(_parsed_golden(spark), 1)  # re-delivery of batch 1
    assert sqlite_rows(fields) == sorted(golden * 2)
