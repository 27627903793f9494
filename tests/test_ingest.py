"""Default-run ingest tests: the ``sbs1`` TCP source end to end, its
reconnect backoff and replay protocol, and the Silver ``foreachBatch``
sink (batch-id idempotence, the Bronze archive, and one scan of each
micro-batch). The socket kill/restart tests stay in the slow
``test_streaming.py``."""

from __future__ import annotations

import os
import socket
import socketserver
import threading
import time
from collections import Counter

from pyspark.sql import functions as F

from dump1090_stream_parser_spark.sources.sbs1 import parse_lines, silver
from dump1090_stream_parser_spark.streaming import pipeline
from dump1090_stream_parser_spark.streaming.pipeline import (
    bronze_from_file_replay,
    bronze_from_sbs1,
    silver_batch_writer,
    silver_stream,
)

from .test_sbs1_parser import GOLDEN, INVALID


class _Broadcast(socketserver.BaseRequestHandler):
    """Serves the fixture lines once, in two chunks split mid-field to
    exercise partial-line carry (FIXTURES.md §1.2), then keeps the
    connection open."""

    def handle(self):
        payload = ("\n".join(GOLDEN + INVALID) + "\n").encode()
        cut = payload.index(b"51.46720") + 4  # mid-field split
        self.request.sendall(payload[:cut])
        time.sleep(0.3)
        self.request.sendall(payload[cut:])
        time.sleep(30)


def test_sbs1_source_end_to_end(spark, tmp_path):
    server = socketserver.ThreadingTCPServer(("127.0.0.1", 0), _Broadcast)
    server.daemon_threads = True
    port = server.server_address[1]
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        bronze = bronze_from_sbs1(
            spark, "127.0.0.1", port, connect_attempt_limit=3
        )
        parsed = silver_stream(bronze)
        q = (
            parsed.writeStream.format("memory")
            .queryName("sbs1_test")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="1 second")
            .start()
        )
        try:
            deadline = time.time() + 90
            want = len(GOLDEN) + len(INVALID)
            while time.time() < deadline:
                n = spark.sql("SELECT count(*) FROM sbs1_test").collect()[0][0]
                if n >= want:
                    break
                time.sleep(1)
            rows = spark.sql("SELECT * FROM sbs1_test").collect()
            good = [r for r in rows if r["_corrupt_record"] is None]
            bad = [r for r in rows if r["_corrupt_record"] is not None]
            # partial-line carry reassembled the split MSG,3 line exactly once
            assert len(good) == len(GOLDEN)
            assert len(bad) == len(INVALID)
            assert all(r["parsed_time"] is not None for r in good)
            msg3 = [r for r in good if r["transmission_type"] == 3]
            assert any(abs(r["lat"] - 51.46720) < 1e-9 for r in msg3)
        finally:
            q.stop()
    finally:
        server.shutdown()
        server.server_close()


def test_sbs1_source_reconnect_backoff():
    """A9 parity: reader retries with delay, then raises after the limit."""
    from dump1090_stream_parser_spark.sources.sbs1_source import Sbs1StreamReader

    # Find a port with nothing listening.
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    dead_port = s.getsockname()[1]
    s.close()

    reader = Sbs1StreamReader(
        {
            "location": "127.0.0.1",
            "port": str(dead_port),
            "connect_attempt_limit": "2",
            "connect_attempt_delay": "0.05",
        }
    )
    t0 = time.time()
    try:
        reader.read(reader.initialOffset())
        raised = False
    except ConnectionError:
        raised = True
    assert raised
    assert time.time() - t0 >= 0.05  # at least one backoff sleep happened


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


def test_sbs1_reader_replay_protocol():
    """The offset/replay contract that exactly-once delivery rests on,
    driven directly on the reader object: a re-read of an already-read
    offset range (micro-batch retry) returns the identical rows, and
    commit(end) prunes the replay cache below the checkpointed offset."""
    from dump1090_stream_parser_spark.sources.sbs1_source import (
        Sbs1StreamReader,
    )

    class _Serve(socketserver.BaseRequestHandler):
        def handle(self):
            self.request.sendall(("\n".join(GOLDEN) + "\n").encode())
            time.sleep(10)

    server = socketserver.ThreadingTCPServer(("127.0.0.1", 0), _Serve)
    server.daemon_threads = True
    port = server.server_address[1]
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        reader = Sbs1StreamReader(
            {"location": "127.0.0.1", "port": str(port)}
        )
        rows: list = []
        start = reader.initialOffset()
        deadline = time.time() + 30
        end = start
        while len(rows) < len(GOLDEN) and time.time() < deadline:
            it, end = reader.read(end)
            rows.extend(it)
            time.sleep(0.1)
        assert [r[0] for r in rows] == GOLDEN
        assert end == {"line": len(GOLDEN)}

        # retry of the full range -> identical rows, same order
        replay = list(reader.readBetweenOffsets(start, end))
        assert replay == rows
        # partial range
        mid = {"line": 2}
        assert list(reader.readBetweenOffsets(start, mid)) == rows[:2]

        # checkpoint commit prunes the cache below the offset...
        reader.commit(mid)
        assert list(reader.readBetweenOffsets(start, end)) == rows[2:]
        # ...and the still-uncommitted suffix remains retryable
        assert list(reader.readBetweenOffsets(mid, end)) == rows[2:]
    finally:
        server.shutdown()
        server.server_close()


def test_silver_sink_scans_each_batch_once(spark, tmp_path, monkeypatch):
    """The sink writes Silver and the dead letters from one scan of
    each micro-batch: progress counts every line sent exactly once, a
    batch without malformed lines writes no dead-letter directory, and
    an all-malformed batch dead-letters every line."""
    src = tmp_path / "lines"
    src.mkdir()
    files = {
        "a_mixed.txt": GOLDEN + INVALID,
        "b_valid.txt": GOLDEN,
        "c_malformed.txt": INVALID,
    }
    for k, (name, lines) in enumerate(files.items()):
        path = src / name
        path.write_text("\n".join(lines) + "\n")
        os.utime(path, (1_000_000 + k, 1_000_000 + k))  # batch order

    out = tmp_path / "out"
    # a 1-byte cap still takes one file per batch: the replay's bound
    monkeypatch.setattr(pipeline, "FILE_REPLAY_BYTES_PER_TRIGGER", 1)
    bronze = bronze_from_file_replay(spark, str(src))
    q = (
        silver_stream(bronze)
        .writeStream.foreachBatch(silver_batch_writer(str(out)))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    progress = q.recentProgress
    assert [p["batchId"] for p in progress] == [0, 1, 2]
    sent = sum(len(lines) for lines in files.values())
    assert sum(p["numInputRows"] for p in progress) == sent

    # every Silver column but the stream's own parse-time stamp
    expect = silver(parse_lines(spark.createDataFrame([(l,) for l in GOLDEN], "value string")))
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
