"""CLI option surface (A13): the reference-mirroring flags plus the
multi-receiver ``--hosts`` selector parse, default sanely, and resolve
to one receiver list; Ctrl-C stops a running CLI."""

from __future__ import annotations

import os
import signal
import socketserver
import subprocess
import sys
import threading
import time

from dump1090_stream_parser_spark.cli import build_parser, receivers

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_defaults_mirror_reference():
    a = build_parser().parse_args([])
    assert (a.location, a.port) == ("localhost", 30003)
    assert a.buffer_size == 65536
    assert a.connect_attempt_limit == 10
    assert a.connect_attempt_delay == 5.0
    assert a.hosts is None


def test_hosts_flag():
    a = build_parser().parse_args(["--hosts", "r1:31003,r2", "-d", "/tmp/out"])
    assert a.hosts == "r1:31003,r2"
    assert a.database == "/tmp/out"


def test_receivers_resolve_location_port_and_hosts():
    """``-l/-p`` and ``--hosts`` resolve to one (host, port) list for
    the one socket source; a ``--hosts`` entry without a port gets
    30003, and ``--hosts`` wins over ``-l/-p``."""
    parse = build_parser().parse_args
    assert receivers(parse(["-l", "h", "-p", "1"])) == [("h", 1)]
    hosts = ["--hosts", "r1:31003,r2"]
    assert receivers(parse(hosts)) == [("r1", 31003), ("r2", 30003)]
    assert receivers(parse(["-l", "h", "-p", "1", *hosts])) == [
        ("r1", 31003), ("r2", 30003),
    ]


def test_option_surface():
    """Every feed goes through the one socket source (``--hosts``, else
    ``-l/-p``), so there is no source-selector flag."""
    dests = {
        a.dest for a in build_parser()._actions if a.dest != "help"
    }
    assert dests == {
        "location", "port", "database", "sqlite", "buffer_size",
        "batch_seconds", "connect_attempt_limit", "connect_attempt_delay",
        "hosts", "master",
    }


def test_sigint_stops_the_cli(tmp_path):
    """Ctrl-C ends the CLI: SIGINT after the first committed batch
    stops the query and exits 0, without a restart -- a restarted query
    would open a second connection to the feed -- and without a
    listener error in the log."""
    connections = []

    class Counter(socketserver.BaseRequestHandler):
        def handle(self):
            connections.append(self.client_address)
            i = 0
            try:
                while True:
                    self.request.sendall(
                        f"MSG,8,1,1,{i % 0xFFFFFF:06X},1,,,,,,,,,,,,,,,,0\n"
                        .encode()
                    )
                    i += 1
                    time.sleep(0.01)
            except OSError:
                pass

    server = socketserver.ThreadingTCPServer(("127.0.0.1", 0), Counter)
    server.daemon_threads = True
    threading.Thread(target=server.serve_forever, daemon=True).start()
    out = tmp_path / "out"
    commits = out / "_checkpoint" / "commits"
    with open(tmp_path / "cli.log", "wb") as log:
        proc = subprocess.Popen(
            [
                sys.executable, "-m", "dump1090_stream_parser_spark",
                "-l", "127.0.0.1", "-p", str(server.server_address[1]),
                "-d", str(out), "--batch-seconds", "1",
                "--connect-attempt-delay", "1", "--master", "local[2]",
            ],
            cwd=_REPO,
            env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"},
            stdout=log,
            stderr=subprocess.STDOUT,
        )
    try:
        deadline = time.monotonic() + 120
        while not (commits.is_dir() and any(commits.iterdir())):
            assert proc.poll() is None, "the CLI exited before a batch"
            assert time.monotonic() < deadline, "no batch committed"
            time.sleep(0.5)
        proc.send_signal(signal.SIGINT)
        assert proc.wait(timeout=60) == 0
        assert len(connections) == 1
        # the session is stopped before Python exits, so the stopped
        # query's last progress event never reaches a dead callback
        # server
        assert b"threw an exception" not in (tmp_path / "cli.log").read_bytes()
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        server.shutdown()
        server.server_close()
