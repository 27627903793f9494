"""Streaming integration tests (SURVEY.md §5.2 item 4): file replay and
the custom sbs1 TCP source, each checked against batch-mode parity."""

from __future__ import annotations

import socket
import socketserver
import threading
import time

from pyspark.sql import functions as F

from dump1090_stream_parser_spark.sources.sbs1 import parse_lines, silver
from dump1090_stream_parser_spark.streaming.pipeline import (
    bronze_from_file_replay,
    bronze_from_sbs1,
    silver_stream,
    write_silver,
)

from .test_sbs1_parser import GOLDEN, INVALID


def test_file_replay_stream_matches_batch(spark, tmp_path):
    src = tmp_path / "lines"
    src.mkdir()
    (src / "part1.txt").write_text("\n".join(GOLDEN + INVALID) + "\n")

    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    bronze = bronze_from_file_replay(spark, str(src))
    q = write_silver(
        silver_stream(bronze),
        str(out),
        str(ckpt),
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)

    got = spark.read.parquet(str(out / "squitters"))
    batch_lines = spark.read.text(str(src))
    expect = silver(parse_lines(batch_lines))
    assert got.count() == len(GOLDEN)
    # stream/batch parity on the typed payload (parsed_time differs by
    # construction: batch stamp vs stream stamp)
    key_cols = ["transmission_type", "hex_ident", "generated_ts", "altitude"]
    assert sorted(map(tuple, got.select(*key_cols).collect())) == sorted(
        map(tuple, expect.select(*key_cols).collect())
    )
    dead = spark.read.parquet(str(out / "dead_letter"))
    assert dead.count() == len(INVALID)


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


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """Restarting the stream with the same checkpoint resumes from the
    committed offset: old files are not reprocessed, new ones are, and
    the batch-id-idempotent sink never double-counts."""
    src = tmp_path / "rsrc"
    src.mkdir()
    out, ckpt = tmp_path / "rout", tmp_path / "rckpt"

    def run_once():
        bronze = bronze_from_file_replay(spark, str(src))
        q = write_silver(
            silver_stream(bronze),
            str(out),
            str(ckpt),
            trigger={"availableNow": True},
        )
        q.awaitTermination(120)

    (src / "a.txt").write_text("\n".join(GOLDEN[:3]) + "\n")
    run_once()
    assert spark.read.parquet(str(out / "squitters")).count() == 3

    # restart with no new data: nothing is reprocessed
    run_once()
    assert spark.read.parquet(str(out / "squitters")).count() == 3

    # restart with one new file: only its lines are appended
    (src / "b.txt").write_text("\n".join(GOLDEN[3:]) + "\n")
    run_once()
    got = spark.read.parquet(str(out / "squitters"))
    assert got.count() == len(GOLDEN)
    assert got.select("hex_ident").distinct().count() == 3


def test_supervise_restarts_failed_query(spark, tmp_path):
    """supervise() re-launches a failed stream (the reference's reconnect
    loop at the query level) and stops retrying on a clean termination."""
    from dump1090_stream_parser_spark.streaming.monitor import supervise

    src = tmp_path / "ssrc"
    src.mkdir()
    (src / "l.txt").write_text("\n".join(GOLDEN) + "\n")
    attempts = []

    def start():
        if not attempts:
            attempts.append("fail")
            raise RuntimeError("transient failure before start")
        attempts.append("ok")
        bronze = bronze_from_file_replay(spark, str(src))
        return write_silver(
            silver_stream(bronze),
            str(tmp_path / "sout"),
            str(tmp_path / "sckpt"),
            trigger={"availableNow": True},
        )

    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        # the first factory call raises before a query exists -- supervise
        # only guards awaitTermination, so factory errors propagate (by
        # design: a startup bug should not be retried silently)
        supervise(start, attempt_limit=3, delay=0.1)

    # second run: factory succeeds, query runs to clean completion
    supervise(start, attempt_limit=3, delay=0.1)
    assert attempts == ["fail", "ok"]
    got = spark.read.parquet(str(tmp_path / "sout" / "squitters"))
    assert got.count() == len(GOLDEN)


class _PhaseServer(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True


def _serve_once(port: int, lines: list[str]) -> socketserver.TCPServer:
    """A server on `port` that sends `lines` to each client then holds
    the connection open."""

    class Handler(socketserver.BaseRequestHandler):
        def handle(self):
            self.request.sendall(("\n".join(lines) + "\n").encode())
            time.sleep(30)

    server = _PhaseServer(("127.0.0.1", port), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server


def test_sbs1_source_survives_server_kill(spark, tmp_path):
    """A9 end-to-end: the feed dies mid-stream and comes back; committed
    offsets must survive -- every line delivered before the kill and
    every line after the reconnect lands exactly once (ephemeral-TCP
    semantics: nothing is sent while disconnected, so nothing is lost)."""
    part1, part2 = GOLDEN[: len(GOLDEN) // 2], GOLDEN[len(GOLDEN) // 2 :]

    # OS-assigned free port, then release it for the phase-1 server.
    probe = socket.socket()
    probe.bind(("127.0.0.1", 0))
    port = probe.getsockname()[1]
    probe.close()

    server = _serve_once(port, part1)
    q = None
    try:
        bronze = bronze_from_sbs1(
            spark,
            "127.0.0.1",
            port,
            connect_attempt_limit=100,
            connect_attempt_delay=0.2,
        )
        q = (
            bronze.writeStream.format("memory")
            .queryName("sbs1_kill_test")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="1 second")
            .start()
        )

        def count() -> int:
            return spark.sql(
                "SELECT count(*) FROM sbs1_kill_test"
            ).collect()[0][0]

        deadline = time.time() + 60
        while time.time() < deadline and count() < len(part1):
            time.sleep(0.5)
        assert count() == len(part1), "phase-1 lines not all delivered"

        # Hard kill: connections drop, reader sees empty recv and enters
        # its reconnect loop.
        server.shutdown()
        server.server_close()
        time.sleep(1.0)
        server = _serve_once(port, part2)

        want = len(part1) + len(part2)
        deadline = time.time() + 60
        while time.time() < deadline and count() < want:
            time.sleep(0.5)

        rows = [r["value"] for r in spark.sql(
            "SELECT value FROM sbs1_kill_test"
        ).collect()]
        # exactly once: no pre-kill line replayed, no post-kill line lost
        assert sorted(rows) == sorted(part1 + part2)
    finally:
        if q is not None:
            q.stop()
        server.shutdown()
        server.server_close()


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
