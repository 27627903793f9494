"""Streaming per-bucket top-k similarity (streaming/similarity.py):
re-ranking the emitted rows must reproduce the BATCH per-bucket top-k
exactly, including vectors arriving in different micro-batches, and the
bucket state must live in the checkpoint (query restart)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dump1090_stream_parser_spark.functions.vector import cosine_similarity
from dump1090_stream_parser_spark.operators.similarity import _bucket_col
from dump1090_stream_parser_spark.streaming.similarity import (
    TOPK_K,
    topk_stream,
)
from dump1090_stream_parser_spark.tables import load_table

from .conftest import SF_DIR

_EMB_SCHEMA = "vec_id long, embedding array<float>"


def _query_vec(spark):
    row = (
        load_table(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()
    )
    return [float(v) for v in row["embedding"]]


def _batch_topk(spark, qv):
    """Per-bucket top-k via the batch surface: same bucket_col, same
    cosine expression, rank by (sim desc, vec_id asc)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    scored = emb.select(
        _bucket_col(F.col("embedding"), len(qv)).alias("bucket"),
        "vec_id",
        F.round(
            cosine_similarity(
                F.col("embedding"), F.array(*[F.lit(v) for v in qv])
            ),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("bucket").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return {
        (r.bucket, r.vec_id)
        for r in scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOPK_K)
        .collect()
    }


def _split_two_files(spark, out_dir):
    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    half = emb.count() // 2
    emb.filter(F.col("vec_id") < half).coalesce(1).write.parquet(
        str(out_dir / "a.parquet")
    )
    emb.filter(F.col("vec_id") >= half).coalesce(1).write.parquet(
        str(out_dir / "b.parquet")
    )
    return half


def _rerank(rows):
    """Global re-rank of emitted (bucket, vec_id, cos_sim) rows: the
    emitted set is a superset of each bucket's final top-k."""
    by_bucket: dict[int, list] = {}
    for r in rows:
        by_bucket.setdefault(r.bucket, []).append(r)
    out = set()
    for bucket, rs in by_bucket.items():
        rs.sort(key=lambda r: (-r.cos_sim, r.vec_id))
        out.update((bucket, r.vec_id) for r in rs[:TOPK_K])
    return out


def test_stream_topk_matches_batch_across_microbatches(spark):
    """topk_stream's own projection, fold and emit on the static
    embeddings (the kernel's batch branch), re-ranked, equal the batch
    per-bucket top-k; test_fold.py's split check carries that to any
    micro-batch split."""
    qv = _query_vec(spark)
    expected = _batch_topk(spark, qv)
    assert expected, "fixture embeddings must produce bucket top-ks"
    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    rows = topk_stream(emb, qv).collect()
    assert _rerank(rows) == expected
    # no duplicate admissions
    seen = [(r.bucket, r.vec_id) for r in rows]
    assert len(seen) == len(set(seen))


def test_stream_topk_state_survives_query_restart(spark, tmp_path):
    """Stop after the first delivery, start a NEW query on the same
    checkpoint for the second: the per-bucket top-k carried in state
    must still gate admissions, and re-rank of ALL emitted rows (both
    runs) must equal the batch per-bucket top-k."""
    import shutil

    qv = _query_vec(spark)
    expected = _batch_topk(spark, qv)

    stage = tmp_path / "stage"
    _split_two_files(spark, stage)
    src = tmp_path / "emb_restart"
    src.mkdir()
    shutil.copytree(stage / "a.parquet", src / "a.parquet")

    out = str(tmp_path / "topk_out")
    ckpt = str(tmp_path / "ckpt_restart")

    def run_once():
        stream = (
            spark.readStream.schema(_EMB_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )
        q = (
            topk_stream(stream, qv)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_once()
    shutil.copytree(stage / "b.parquet", src / "b.parquet")
    run_once()

    rows = spark.read.parquet(out).collect()
    assert _rerank(rows) == expected
    seen = [(r.bucket, r.vec_id) for r in rows]
    assert len(seen) == len(set(seen))  # state suppressed re-admissions
