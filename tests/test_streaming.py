"""Streaming integration tests (SURVEY.md §5.2 item 4): file replay
checked against batch-mode parity, checkpoint resume, and supervised
restart.

This whole file is slow-marked (tests/conftest.py). The fast ingest
tests live in ``test_ingest.py``, which the default run keeps; the
socket source's kill and restart tests live in ``test_sbs1_jvm.py``."""

from __future__ import annotations

from dump1090_stream_parser_spark.sources.sbs1 import parse_lines, silver
from dump1090_stream_parser_spark.streaming.pipeline import (
    bronze_from_file_replay,
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
