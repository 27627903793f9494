"""CLI option surface (A13): the reference-mirroring flags plus the
multi-receiver ``--hosts`` selector parse and default sanely."""

from __future__ import annotations

from dump1090_stream_parser_spark.cli import build_parser


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


def test_option_surface():
    """The input picks the source (``--hosts`` -> JVM source, -l/-p ->
    simple reader), so there is no source-selector flag."""
    dests = {
        a.dest for a in build_parser()._actions if a.dest != "help"
    }
    assert dests == {
        "location", "port", "database", "sqlite", "buffer_size",
        "batch_seconds", "connect_attempt_limit", "connect_attempt_delay",
        "hosts", "master",
    }
