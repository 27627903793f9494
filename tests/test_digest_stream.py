"""Streaming table digest (streaming/digest.py): the current digest
(max-ver row per bucket) must equal the batch q_table_digest output
bit-for-bit on the same rows regardless of micro-batch boundaries, and
carry its state across a checkpoint restart that appends more rows."""

from __future__ import annotations

from pyspark.sql import functions as F

from dump1090_stream_parser_spark.operators.pipeline_ops import (
    digest_cells,
)
from dump1090_stream_parser_spark.streaming.digest import (
    digest_stream,
    latest_digest,
)
from dump1090_stream_parser_spark.tables import load_table

from .conftest import SF_DIR

_COLS = [
    "l_orderkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_shipdate",
]
_SCHEMA = (
    "l_orderkey long, l_linenumber int, l_quantity double,"
    " l_extendedprice double, l_shipdate timestamp"
)


def _thirds(spark):
    li = load_table(spark, SF_DIR, "lineitem").select(*_COLS)
    qs = li.approxQuantile("l_orderkey", [0.33, 0.66], 0.0)
    return [
        li.filter(F.col("l_orderkey") < qs[0]),
        li.filter(
            (F.col("l_orderkey") >= qs[0]) & (F.col("l_orderkey") < qs[1])
        ),
        li.filter(F.col("l_orderkey") >= qs[1]),
    ]


def _run(spark, src, out, ckpt):
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        digest_stream(stream)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def _digest_of(df):
    return {
        r["bucket"]: (r["n_rows"], r["xor_digest"], r["sum_digest"])
        for r in df.collect()
    }


def test_stream_digest_equals_batch(spark):
    """digest_stream's own projection, fold and emit on the static
    lineitem (the kernel's batch branch), through latest_digest, equal
    the batch digest cells."""
    li = load_table(spark, SF_DIR, "lineitem").select(*_COLS)
    got = _digest_of(latest_digest(digest_stream(li)))
    assert got == _digest_of(digest_cells(li))


def test_stream_digest_equals_batch_and_survives_restart(
    spark, tmp_path
):
    parts = _thirds(spark)
    src = tmp_path / "li_in"
    for i, p in enumerate(parts[:2]):
        p.coalesce(1).write.parquet(str(src / f"{chr(97 + i)}.parquet"))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run(spark, src, out, ckpt)

    got = _digest_of(latest_digest(spark.read.parquet(out)))
    li = load_table(spark, SF_DIR, "lineitem").select(*_COLS)
    qs = li.approxQuantile("l_orderkey", [0.66], 0.0)
    expect2 = _digest_of(digest_cells(li.filter(F.col("l_orderkey") < qs[0])))
    assert got == expect2  # two-file split == batch over the same rows

    # restart from the checkpoint with a third file appended: state
    # carries, and the final digest equals the FULL batch digest
    parts[2].coalesce(1).write.parquet(str(src / "c.parquet"))
    _run(spark, src, out, ckpt)
    got_all = _digest_of(latest_digest(spark.read.parquet(out)))
    assert got_all == _digest_of(digest_cells(li))
