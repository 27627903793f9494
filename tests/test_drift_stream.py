"""Streaming drift monitor (streaming/drift.py): the KS matrix from
the latest histogram snapshots must equal batch q_ks_test bit-for-bit
once the stream drains -- under ANY micro-batch interleaving (the
histogram state is order-insensitive integers) and across a
checkpoint restart."""

from __future__ import annotations

from pyspark.sql import functions as F

from dump1090_stream_parser_spark.operators.statistics import q_ks_test
from dump1090_stream_parser_spark.streaming.drift import (
    drift_stream,
    ks_from_snapshots,
)
from dump1090_stream_parser_spark.tables import load_table

from .conftest import SF_DIR

_SCHEMA = "grp string, v long"


def _split_shuffled(spark, out_dir, n_files=3):
    """Hash-split the rows across files -- deliberately NOT
    time-ordered: the histogram state needs no arrival contract."""
    vals = load_table(spark, SF_DIR, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("v"),
        F.pmod(F.xxhash64("o_orderkey"), F.lit(n_files)).alias("f"),
    )
    for i in range(n_files):
        vals.filter(F.col("f") == i).drop("f").coalesce(1).write.parquet(
            str(out_dir / f"f{i}.parquet")
        )


def _run(spark, src, out, ckpt):
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        drift_stream(stream)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)


def _rows(df):
    return {
        (r["grp1"], r["grp2"]): (
            r["n1"], r["n2"], r["ks_d"], r["d_at"], r["significant"]
        )
        for r in df.collect()
    }


def test_drift_matrix_equals_batch(spark):
    """drift_stream's own projection, fold and emit on the static
    orders (the kernel's batch branch), through ks_from_snapshots,
    equal q_ks_test."""
    vals = load_table(spark, SF_DIR, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("v"),
    )
    got = _rows(ks_from_snapshots(drift_stream(vals)))
    assert got, "cohort pairs expected"
    assert got == _rows(q_ks_test(spark, SF_DIR))


def test_drift_restart_carries_histograms(spark, tmp_path):
    staged = tmp_path / "staged"
    _split_shuffled(spark, staged)
    import shutil

    src = tmp_path / "vals_in"
    src.mkdir()
    files = sorted(staged.iterdir())
    shutil.copytree(files[0], src / files[0].name)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run(spark, src, out, ckpt)
    for f in files[1:]:
        shutil.copytree(f, src / f.name)
    _run(spark, src, out, ckpt)

    got = _rows(ks_from_snapshots(spark.read.parquet(out)))
    expect = _rows(q_ks_test(spark, SF_DIR))
    assert got == expect


def test_drift_stream_on_rocksdb_state_store(spark, tmp_path):
    """VERDICT r9 ask #3, drift leg: the histogram-state monitor runs
    on the RocksDB provider with a bit-equal KS matrix, provider
    engagement proven from progress metrics."""
    src = tmp_path / "vals_in"
    _split_shuffled(spark, src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema(_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )
        q = (
            drift_stream(stream)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)
        state_rows, sst_bytes = 0, 0
        for p in q.recentProgress:
            for s in p["stateOperators"] or []:
                state_rows = max(state_rows, s["numRowsTotal"] or 0)
                sst_bytes = max(
                    sst_bytes,
                    int(
                        (s["customMetrics"] or {}).get(
                            "rocksdbSstFileSize", 0
                        )
                    ),
                )
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    got = _rows(ks_from_snapshots(spark.read.parquet(out)))
    expect = _rows(q_ks_test(spark, SF_DIR))
    assert got == expect
    assert state_rows > 0
    assert sst_bytes > 0  # RocksDB actually held the histogram state
