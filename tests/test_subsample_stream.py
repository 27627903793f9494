"""Streaming subsampling CI (streaming/subsample.py): the current CI
table (max-ver state through the batch operator's own closed-form
tail) must equal q_subsample_ci bit-for-bit on the same rows
regardless of micro-batch boundaries, and carry state across a
checkpoint restart."""

from __future__ import annotations

from pyspark.sql import functions as F

from dump1090_stream_parser_spark.operators.statistics import (
    q_subsample_ci,
)
from dump1090_stream_parser_spark.streaming.subsample import (
    ci_from_state,
    subsample_stream,
)
from dump1090_stream_parser_spark.tables import load_table

from .conftest import SF_DIR
from .fold_check import latest

_COLS = ["o_orderkey", "o_orderpriority", "o_totalprice"]
_SCHEMA = (
    "o_orderkey long, o_orderpriority string, o_totalprice double"
)


def _run(spark, src, out, ckpt):
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        subsample_stream(stream)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_stream_ci_equals_batch(spark):
    """subsample_stream's own projection, fold and emit on the static
    orders (the kernel's batch branch), through ci_from_state, equal
    q_subsample_ci."""
    orders = load_table(spark, SF_DIR, "orders").select(*_COLS)
    got = _rows(ci_from_state(subsample_stream(orders)))
    assert got == _rows(q_subsample_ci(spark, SF_DIR))


def test_stream_ci_equals_batch_and_survives_restart(spark, tmp_path):
    orders = load_table(spark, SF_DIR, "orders").select(*_COLS)
    med = orders.approxQuantile("o_orderkey", [0.5], 0.0)[0]
    src = tmp_path / "ord_in"
    orders.filter(F.col("o_orderkey") < med).coalesce(1).write.parquet(
        str(src / "a.parquet")
    )
    orders.filter(
        (F.col("o_orderkey") >= med)
    ).coalesce(1).write.parquet(str(src / "b.parquet"))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run(spark, src, out, ckpt)

    got = _rows(ci_from_state(spark.read.parquet(out)))
    assert got == _rows(q_subsample_ci(spark, SF_DIR))

    # restart: replaying the same files adds nothing (no new files),
    # so the digest of truth is stable; append a duplicate-free third
    # slice by re-keying a sample and assert state carried (n grows)
    extra = (
        orders.limit(50)
        .select(
            (F.col("o_orderkey") + F.lit(10_000_000)).alias("o_orderkey"),
            "o_orderpriority",
            "o_totalprice",
        )
    )
    extra.coalesce(1).write.parquet(str(src / "c.parquet"))
    _run(spark, src, out, ckpt)
    latest = ci_from_state(spark.read.parquet(out))
    n_after = {r["grp"]: r["n"] for r in latest.collect()}
    n_before = {
        r["grp"]: r["n"] for r in q_subsample_ci(spark, SF_DIR).collect()
    }
    assert sum(n_after.values()) == sum(n_before.values()) + 50
    assert all(n_after[g] >= n for g, n in n_before.items())
