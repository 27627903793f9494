"""Suite for the JVM-native ``sbs1-jvm`` source, the engine's one
socket source (java/src/sbs1/Sbs1JvmSource.java):

- multi-receiver exactly-once delivery with per-receiver partial-line
  carry and per-row ingest_ts;
- the GOLDEN + INVALID fixture lines through the production
  silver_stream (parse parity on the JVM path), from one receiver (the
  CLI's ``-l/-p`` shape) and from two;
- a receiver that exhausts its connect attempts fails the query, and
  the error names the attempts;
- the offset protocol, driven over py4j through the public DSv2
  interfaces: a re-planned range re-reads the same rows, commit prunes
  it, a checkpoint-ahead range fast-forwards, and a restart rebases the
  fresh connection so the WAL-pending range replays empty while lines
  framed during recovery arrive after it;
- restart-from-checkpoint never duplicates committed rows;
- a killed receiver reconnects in-source and both phases land exactly
  once.
"""

from __future__ import annotations

import socket
import socketserver
import threading
import time

import pytest

from dump1090_stream_parser_spark.streaming.pipeline import (
    bronze_from_sbs1_jvm,
    silver_stream,
)

from .test_sbs1_parser import GOLDEN, INVALID


class _PhaseServer(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True


def _serve_once(port: int, lines: list[str]) -> socketserver.TCPServer:
    payload = ("\n".join(lines) + "\n").encode()
    cut = len(payload) // 2

    class Handler(socketserver.BaseRequestHandler):
        def handle(self):
            self.request.sendall(payload[:cut])
            time.sleep(0.2)
            self.request.sendall(payload[cut:])
            time.sleep(30)

    server = _PhaseServer(("127.0.0.1", port), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server


def test_jvm_source_multi_receiver_exactly_once(spark, tmp_path):
    """Every receiver's lines arrive exactly once, mid-payload splits
    reassemble per receiver, per-row ingest_ts is stamped."""
    n_receivers = 3
    per_recv = {}
    servers, hosts = [], []
    try:
        for i in range(n_receivers):
            lines = [
                f"MSG,1,1,1,4CA2D{i},1,2026/08/13,10:00:01.000,"
                f"2026/08/13,10:00:01.050,RX{i}N{j},,,,,,,,,,,"
                for j in range(40)
            ]
            per_recv[i] = lines
            servers.append(_serve_once(0, lines))
            hosts.append(("127.0.0.1", servers[-1].server_address[1]))

        bronze = bronze_from_sbs1_jvm(
            spark, hosts, connect_attempt_limit=5, connect_attempt_delay=0.2
        )
        q = (
            bronze.writeStream.format("memory")
            .queryName("sbs1_jvm_e2e")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="500 milliseconds")
            .start()
        )
        try:
            want = n_receivers * 40
            deadline = time.time() + 90
            while time.time() < deadline:
                n = spark.sql(
                    "SELECT count(*) FROM sbs1_jvm_e2e"
                ).collect()[0][0]
                if n >= want:
                    break
                time.sleep(0.5)
            rows = spark.sql("SELECT * FROM sbs1_jvm_e2e").collect()
            got = sorted(r["value"] for r in rows)
            expect = sorted(
                line for ls in per_recv.values() for line in ls
            )
            assert got == expect  # exactly once per line, all receivers
            assert all(r["ingest_ts"] is not None for r in rows)
        finally:
            q.stop()
    finally:
        for s in servers:
            s.shutdown()
            s.server_close()


@pytest.mark.parametrize(
    "shards",
    [[GOLDEN + INVALID], [GOLDEN, INVALID]],
    ids=["one_receiver", "two_receivers"],
)
def test_jvm_source_through_silver(spark, tmp_path, shards):
    """GOLDEN + INVALID through the production parse on the JVM path:
    good rows parse (values identical to the batch parser), invalid
    rows dead-letter, parsed_time stamped per row."""
    servers, hosts = [], []
    try:
        for lines in shards:
            servers.append(_serve_once(0, lines))
            hosts.append(("127.0.0.1", servers[-1].server_address[1]))

        bronze = bronze_from_sbs1_jvm(
            spark, hosts, connect_attempt_limit=5, connect_attempt_delay=0.2
        )
        parsed = silver_stream(bronze)
        q = (
            parsed.writeStream.format("memory")
            .queryName("sbs1_jvm_silver")
            .option("checkpointLocation", str(tmp_path / "sckpt"))
            .trigger(processingTime="500 milliseconds")
            .start()
        )
        try:
            want = len(GOLDEN) + len(INVALID)
            deadline = time.time() + 90
            while time.time() < deadline:
                n = spark.sql(
                    "SELECT count(*) FROM sbs1_jvm_silver"
                ).collect()[0][0]
                if n >= want:
                    break
                time.sleep(0.5)
            rows = spark.sql("SELECT * FROM sbs1_jvm_silver").collect()
            good = [r for r in rows if r["_corrupt_record"] is None]
            bad = [r for r in rows if r["_corrupt_record"] is not None]
            assert len(good) == len(GOLDEN)
            assert len(bad) == len(INVALID)
            assert all(r["parsed_time"] is not None for r in good)
            msg3 = [r for r in good if r["transmission_type"] == 3]
            assert any(abs(r["lat"] - 51.46720) < 1e-9 for r in msg3)
        finally:
            q.stop()
    finally:
        for s in servers:
            s.shutdown()
            s.server_close()


def test_jvm_source_connect_failure_fails_query(spark, tmp_path):
    """A9: a receiver that exhausts connect_attempt_limit fails the
    query, and the failure names the attempts it made."""
    from pyspark.errors import StreamingQueryException

    probe = socket.socket()
    probe.bind(("127.0.0.1", 0))
    dead_port = probe.getsockname()[1]
    probe.close()

    bronze = bronze_from_sbs1_jvm(
        spark,
        [("127.0.0.1", dead_port)],
        connect_attempt_limit=2,
        connect_attempt_delay=0.05,
    )
    q = (
        bronze.writeStream.format("memory")
        .queryName("sbs1_jvm_dead")
        .option("checkpointLocation", str(tmp_path / "dckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        with pytest.raises(
            StreamingQueryException,
            match=f"127.0.0.1:{dead_port} after 2 attempts",
        ):
            q.awaitTermination(60)
    finally:
        q.stop()


# -- offset protocol over py4j ---------------------------------------------


def _stream(spark, port: int):
    """The source's MicroBatchStream for one receiver, built the way
    Spark builds it: provider -> table -> scan -> stream."""
    jvm = spark._jvm
    opts = jvm.org.apache.spark.sql.util.CaseInsensitiveStringMap(
        {
            "hosts": f"127.0.0.1:{port}",
            "connect_attempt_limit": "5",
            "connect_attempt_delay": "0.2",
        }
    )
    table = jvm.sbs1.Sbs1JvmSource().getTable(None, None, opts)
    return table.newScanBuilder(opts).build().toMicroBatchStream("unused")


def _offset(stream, line: int):
    return stream.deserializeOffset(f'{{"r0":{line}}}')


def _read(stream, start, end) -> list[tuple[str, int]]:
    """Plan [start, end) and run every partition's reader, as executor
    tasks would: (value, ingest_ts micros) per row."""
    factory = stream.createReaderFactory()
    rows = []
    for part in stream.planInputPartitions(start, end):
        reader = factory.createReader(part)
        while reader.next():
            row = reader.get()
            rows.append((row.getUTF8String(0).toString(), row.getLong(1)))
        reader.close()
    return rows


def _await_latest(stream, line: int):
    deadline = time.time() + 10
    end = stream.latestOffset()
    while end.json() != f'{{"r0":{line}}}' and time.time() < deadline:
        time.sleep(0.1)
        end = stream.latestOffset()
    return end


def _call_private(spark, obj, name: str):
    gw = spark.sparkContext._gateway
    method = obj.getClass().getDeclaredMethod(
        name, gw.new_array(gw.jvm.java.lang.Class, 0)
    )
    method.setAccessible(True)
    return method.invoke(obj, gw.new_array(gw.jvm.java.lang.Object, 0))


def test_jvm_stream_replay_and_commit(spark):
    """Re-planning the same range re-reads the same rows (task retry,
    exactly-once into the batch); after commit the range plans nothing;
    a checkpoint ahead of the receiver's history fast-forwards instead
    of wedging."""
    lines = [f"MSG,8,1,1,ABC{i:03d},1,,,,,,,,,,,,,,,,0" for i in range(25)]
    server = _serve_once(0, lines)
    stream = _stream(spark, server.server_address[1])
    try:
        start = stream.initialOffset()
        assert start.json() == '{"r0":0}'
        end = _await_latest(stream, len(lines))
        assert end.json() == f'{{"r0":{len(lines)}}}'

        rows = _read(stream, start, end)
        assert [v for v, _ in rows] == lines
        assert _read(stream, start, end) == rows  # same values and ts
        stream.commit(end)
        assert _read(stream, start, end) == []

        ahead = _offset(stream, len(lines) + 1000)
        assert _read(stream, ahead, ahead) == []
        assert stream.latestOffset().json() == ahead.json()
    finally:
        stream.stop()
        server.shutdown()
        server.server_close()


def test_jvm_stream_recovery_rebase_preserves_fresh_lines(spark):
    """On restart the fresh connection may frame lines before Spark
    hands the source its first checkpointed offset. The WAL-pending
    range must then replay EMPTY (ephemeral TCP cannot resend the old
    connection's lines) rather than serve fresh lines under the old
    offsets, and every line framed during recovery must arrive after
    it."""
    lines = [f"MSG,8,1,1,RB{i:04d},1,,,,,,,,,,,,,,,,0" for i in range(25)]
    server = _serve_once(0, lines)
    stream = _stream(spark, server.server_address[1])
    try:
        # the recovery window: drain threads running, no offset call yet
        receiver = _call_private(spark, stream, "ensureStarted")[0]
        deadline = time.time() + 10
        while time.time() < deadline:
            if _call_private(spark, receiver, "snapshotCount") >= len(lines):
                break
            time.sleep(0.1)
        assert _call_private(spark, receiver, "snapshotCount") == len(lines)

        assert _read(stream, _offset(stream, 10), _offset(stream, 20)) == []
        end = _await_latest(stream, 20 + len(lines))
        assert end.json() == f'{{"r0":{20 + len(lines)}}}'
        got = [v for v, _ in _read(stream, _offset(stream, 20), end)]
        assert got == lines
    finally:
        stream.stop()
        server.shutdown()
        server.server_close()


def test_jvm_source_restart_no_duplicates(spark, tmp_path):
    """Restart-from-checkpoint: a fresh run against the same checkpoint
    must never re-emit committed rows (the fresh connection
    fast-forwards to the checkpointed offset) and keeps delivering rows
    served after the restart. Loss across the restart gap is inherent
    to ephemeral TCP; duplication would be a bug."""
    counter = {"n": 0}

    class Handler(socketserver.BaseRequestHandler):
        def handle(self):
            try:
                while True:
                    i = counter["n"]
                    counter["n"] += 1
                    line = f"MSG,8,1,1,JV{i:04d},1,,,,,,,,,,,,,,,,0\n"
                    self.request.sendall(line.encode())
                    time.sleep(0.05)
            except OSError:
                pass

    server = _PhaseServer(("127.0.0.1", 0), Handler)
    port = server.server_address[1]
    threading.Thread(target=server.serve_forever, daemon=True).start()

    out = tmp_path / "restart_out"
    ckpt = str(tmp_path / "restart_ckpt")

    def run_phase(seconds: float) -> None:
        bronze = bronze_from_sbs1_jvm(
            spark,
            [("127.0.0.1", port)],
            connect_attempt_limit=5,
            connect_attempt_delay=0.2,
        )
        q = (
            bronze.writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="500 milliseconds")
            .start()
        )
        try:
            time.sleep(seconds)
        finally:
            q.stop()
            q.awaitTermination(30)

    try:
        run_phase(12)
        phase1 = [r["value"] for r in spark.read.parquet(str(out)).collect()]
        assert phase1, "phase 1 delivered nothing"
        served_before_restart = counter["n"]
        run_phase(12)
        rows = [r["value"] for r in spark.read.parquet(str(out)).collect()]
        assert len(rows) == len(set(rows)), "duplicate rows after restart"
        new_ids = {
            int(v.split(",")[4][2:])
            for v in rows
            if int(v.split(",")[4][2:]) >= served_before_restart
        }
        assert new_ids, "restarted query delivered no post-restart rows"
    finally:
        server.shutdown()
        server.server_close()


def test_jvm_source_survives_server_kill(spark, tmp_path):
    """In-source reconnect (A9) on the JVM path: one of two receivers'
    feeds dies mid-stream and comes back; its drain thread reconnects
    and every line from both phases (and the untouched receiver) lands
    exactly once."""
    part1, part2 = GOLDEN[: len(GOLDEN) // 2], GOLDEN[len(GOLDEN) // 2:]
    steady = [f"MSG,8,1,1,JS{i:04d},1,,,,,,,,,,,,,,,,0" for i in range(10)]

    probe = socket.socket()
    probe.bind(("127.0.0.1", 0))
    kill_port = probe.getsockname()[1]
    probe.close()

    class _SteadyHandler(socketserver.BaseRequestHandler):
        def handle(self):
            self.request.sendall(("\n".join(steady) + "\n").encode())
            time.sleep(600)

    steady_server = _PhaseServer(("127.0.0.1", 0), _SteadyHandler)
    threading.Thread(
        target=steady_server.serve_forever, daemon=True
    ).start()
    steady_port = steady_server.server_address[1]
    server = _serve_once(kill_port, part1)
    q = None
    try:
        bronze = bronze_from_sbs1_jvm(
            spark,
            [("127.0.0.1", kill_port), ("127.0.0.1", steady_port)],
            connect_attempt_limit=100,
            connect_attempt_delay=0.2,
        )
        q = (
            bronze.writeStream.format("memory")
            .queryName("sbs1_jvm_kill")
            .option("checkpointLocation", str(tmp_path / "kckpt"))
            .trigger(processingTime="500 milliseconds")
            .start()
        )

        def count() -> int:
            return spark.sql(
                "SELECT count(*) FROM sbs1_jvm_kill"
            ).collect()[0][0]

        want1 = len(part1) + len(steady)
        deadline = time.time() + 60
        while time.time() < deadline and count() < want1:
            time.sleep(0.5)
        assert count() == want1, "phase-1 lines not all delivered"

        server.shutdown()
        server.server_close()
        time.sleep(1.0)
        server = _serve_once(kill_port, part2)

        want = want1 + len(part2)
        deadline = time.time() + 60
        while time.time() < deadline and count() < want:
            time.sleep(0.5)

        rows = [r["value"] for r in spark.sql(
            "SELECT value FROM sbs1_jvm_kill"
        ).collect()]
        assert sorted(rows) == sorted(part1 + part2 + steady)
    finally:
        if q is not None:
            q.stop()
        server.shutdown()
        server.server_close()
        steady_server.shutdown()
        steady_server.server_close()


def test_jvm_source_requires_classpath_and_hosts(spark):
    """Misuse errors are clear: empty hosts is a ValueError before any
    JVM work."""
    with pytest.raises(ValueError, match="at least one"):
        bronze_from_sbs1_jvm(spark, [])


def test_offset_receiver_set_mismatch_fails_fast(spark):
    """ADVICE r12: a checkpointed offset whose receiver set disagrees
    with the configured hosts must throw (the Kafka partition-set
    rule), not silently drop extra receivers' progress or zero-fill
    missing ones."""
    from py4j.protocol import Py4JJavaError

    # nested static class: py4j addresses it by its binary name
    Offset = getattr(spark._jvm.sbs1, "Sbs1JvmSource$Sbs1Offset")
    # matching receiver set round-trips
    assert Offset.fromJson('{"r0":5,"r1":7}', 2).json() == '{"r0":5,"r1":7}'
    # hosts list shrank against the checkpoint: extra receiver -> throw
    with pytest.raises(Py4JJavaError, match="receiver"):
        Offset.fromJson('{"r0":5,"r1":7,"r2":9}', 2)
    # hosts list grew against the checkpoint: missing receiver -> throw
    with pytest.raises(Py4JJavaError, match="receiver"):
        Offset.fromJson('{"r0":5}', 2)


def test_jar_rebuilds_on_content_change_only(tmp_path):
    """Staleness is the input hash embedded in the jar: a checkout that
    leaves the source's mtime after the jar's must not rewrite the
    jar, while a content edit must rebuild it."""
    import os
    import shutil

    from dump1090_stream_parser_spark.sources.sbs1_jvm import (
        _JAVA_DIR,
        _embedded_hash,
        jvm_source_jar,
        source_hash,
    )

    java = tmp_path / "java"
    shutil.copytree(_JAVA_DIR, java)
    jar = java / "sbs1-jvm-source.jar"
    src = java / "src" / "sbs1" / "Sbs1JvmSource.java"
    committed = jar.read_bytes()
    os.utime(jar, (1, 1))
    src.touch()
    assert jvm_source_jar(str(java)) == str(jar)
    assert jar.stat().st_mtime == 1 and jar.read_bytes() == committed

    if shutil.which("javac") is None:
        pytest.skip("rebuilding the jar needs javac")
    src.write_text(src.read_text() + "// edited\n")
    jvm_source_jar(str(java))
    assert jar.read_bytes() != committed
    assert _embedded_hash(str(jar)) == source_hash(str(java))
