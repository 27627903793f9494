"""Custom stateful operator (a TTL fold on streaming/fold.py):
per-aircraft track state, streamed via file replay and cross-checked
against the batch twin."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from dump1090_stream_parser_spark.sources.sbs1 import parse_lines, silver
from dump1090_stream_parser_spark.streaming.pipeline import (
    bronze_from_file_replay,
)
from dump1090_stream_parser_spark.streaming.stateful import (
    ALPHA,
    track_state,
)

# Aircraft AAA111: three altitude reports (EWMA-relevant order), one with
# position; aircraft BBB222: a single position-less report.
LINES = [
    "MSG,3,1,1,AAA111,1,2026/08/13,10:00:00.000,2026/08/13,10:00:00.000,,10000,,,51.1,-0.1,,,0,0,0,0",
    "MSG,3,1,1,AAA111,1,2026/08/13,10:01:00.000,2026/08/13,10:01:00.000,,11000,,,51.2,-0.2,,,0,0,0,0",
    "MSG,5,1,1,AAA111,1,2026/08/13,10:02:00.000,2026/08/13,10:02:00.000,,12000,,,,,,,0,,0,0",
    "MSG,5,1,1,BBB222,1,2026/08/13,10:00:30.000,2026/08/13,10:00:30.000,,5000,,,,,,,0,,0,0",
]

EXPECT_SMOOTH = ALPHA * 12000 + (1 - ALPHA) * (
    ALPHA * 11000 + (1 - ALPHA) * 10000.0
)


def _silver_stream(spark, tmp_path, lines=LINES):
    src = tmp_path / "in"
    src.mkdir(exist_ok=True)
    (src / "lines.txt").write_text("\n".join(lines) + "\n")
    bronze = bronze_from_file_replay(spark, str(src))
    return silver(parse_lines(bronze, parsed_time=F.col("generated_ts")))


def test_track_state_stream(spark, tmp_path):
    q = (
        track_state(_silver_stream(spark, tmp_path))
        .writeStream.format("memory")
        .queryName("tracks")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    # Processing-time-timeout state keeps scheduling no-data batches
    # (so TTLs can fire), defeating availableNow termination: poll the
    # sink until both aircraft have landed, then stop the query.
    import time

    deadline = time.time() + 120
    rows = {}
    while time.time() < deadline and set(rows) != {"AAA111", "BBB222"}:
        time.sleep(1)
        rows = {
            r["hex_ident"]: r
            for r in spark.sql("SELECT * FROM tracks").collect()
        }
    q.stop()
    q.awaitTermination(60)
    a = rows["AAA111"]
    assert a["n_msgs"] == 3
    assert a["last_alt"] == 12000
    assert math.isclose(a["smooth_alt"], EXPECT_SMOOTH)
    assert a["last_lat"] == 51.2 and a["last_lon"] == -0.2
    b = rows["BBB222"]
    assert b["n_msgs"] == 1 and b["last_alt"] == 5000
    assert b["last_lat"] is None


def test_track_state_stream_matches_batch_twin(spark, tmp_path):
    batch_lines = spark.createDataFrame([(l,) for l in LINES], "value string")
    silver_df = silver(
        parse_lines(batch_lines, parsed_time=F.col("generated_ts"))
    )
    twin = {r["hex_ident"]: r for r in track_state(silver_df).collect()}
    assert twin["AAA111"]["n_msgs"] == 3
    assert math.isclose(twin["AAA111"]["smooth_alt"], EXPECT_SMOOTH)
    assert twin["BBB222"]["last_alt"] == 5000


def test_track_state_ewma_spans_arrow_chunks(spark, tmp_path):
    """One aircraft's micro-batch split over several Arrow chunks
    (maxRecordsPerBatch=2, four reports in reverse time order) still
    folds in event-time order: sorting each chunk on its own would
    fold 12000, 13000, 10000, 11000 and end on last_alt 11000."""
    import time

    lines = [
        f"MSG,5,1,1,CCC333,1,2026/08/13,10:0{i}:00.000,"
        f"2026/08/13,10:0{i}:00.000,,{alt},,,,,,,0,,0,0"
        for i, alt in reversed(list(enumerate((10000, 11000, 12000, 13000))))
    ]
    smooth = 10000.0
    for alt in (11000, 12000, 13000):
        smooth = ALPHA * alt + (1 - ALPHA) * smooth

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        q = (
            track_state(_silver_stream(spark, tmp_path, lines))
            .writeStream.format("memory")
            .queryName("tracks_chunked")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        deadline = time.time() + 120
        rows = []
        while time.time() < deadline and not rows:
            time.sleep(1)
            rows = spark.sql("SELECT * FROM tracks_chunked").collect()
        q.stop()
        q.awaitTermination(60)
    finally:
        spark.conf.set(key, prev)
    (row,) = rows
    assert row["n_msgs"] == 4
    assert row["last_alt"] == 13000
    assert math.isclose(row["smooth_alt"], smooth)
