"""CLI option surface (A13): the reference-mirroring flags plus the
multi-receiver ``--hosts`` selector parse, default sanely, and resolve
to one receiver list."""

from __future__ import annotations

from dump1090_stream_parser_spark.cli import build_parser, receivers


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
