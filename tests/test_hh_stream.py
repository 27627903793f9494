"""Streaming heavy hitters (streaming/heavy_hitters.py): the current
sketch (max-ver rows per bucket) must match exact batch counts when
capacity is ample, keep the Misra-Gries bounds under truncation, and
carry its summaries across a query restart via the checkpoint."""

from __future__ import annotations

import shutil
from collections import Counter

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dump1090_stream_parser_spark.streaming import heavy_hitters as hh
from dump1090_stream_parser_spark.streaming.fold import versioned
from dump1090_stream_parser_spark.streaming.heavy_hitters import (
    heavy_hitters_stream,
    latest_summary,
)
from dump1090_stream_parser_spark.tables import load_table

from .conftest import SF_DIR
from .fold_check import fold_batches, latest, random_split

_SCHEMA = "event_id long, user_id long"


def _split_two_files(spark, out_dir):
    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id")
    half_id = ev.agg(F.expr("percentile(event_id, 0.5)")).collect()[0][0]
    ev.filter(F.col("event_id") < half_id).coalesce(1).write.parquet(
        str(out_dir / "a.parquet")
    )
    ev.filter(F.col("event_id") >= half_id).coalesce(1).write.parquet(
        str(out_dir / "b.parquet")
    )


def _exact_counts(spark):
    return {
        r["user_id"]: r["n"]
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }


def _run(spark, src, out, ckpt, cap, n_buckets=None):
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        heavy_hitters_stream(
            stream,
            "user_id",
            cap=cap,
            **({"n_buckets": n_buckets} if n_buckets else {}),
        )
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def _step(cap):
    return versioned(hh._make_fold(cap), hh._emit)


def test_stream_hh_exact_when_capacity_ample(spark):
    """heavy_hitters_stream's own projection, fold and emit on the
    static events (the kernel's batch branch) with ample capacity:
    latest_summary holds the exact counts, spread over buckets."""
    ev = load_table(spark, SF_DIR, "events")
    summ = latest_summary(heavy_hitters_stream(ev, "user_id", cap=4096))
    summ = summ.collect()
    assert all(r["dec"] == 0 for r in summ)
    got = {r["key"]: r["cnt"] for r in summ}
    assert got == _exact_counts(spark)
    # keys spread over multiple state buckets (the parallelism claim)
    assert len({r["bucket"] for r in summ}) > 1


def _keys(rng, n=400):
    # skewed keys: a few heavy, many light
    key = (rng.pareto(1.2, n) * 3).astype(np.int64)
    return pd.DataFrame({"bucket": key % 2, "key": key})


@settings(max_examples=25, deadline=None, derandomize=True)
@given(seed=st.integers(0, 2**32 - 1), cap=st.integers(1, 4))
def test_stream_hh_bounds_under_truncation(seed, cap):
    """Far below the per-bucket distinct keys, over any split: every
    reported cnt <= true <= cnt + dec, and no bucket misses a key
    whose true count exceeds its decrement."""
    rng = np.random.default_rng(seed)
    rows = _keys(rng)
    summ = latest(
        fold_batches(_step(cap), ["bucket"], random_split(rows, rng)),
        ["bucket"],
    )
    assert (summ["dec"] > 0).any(), "must force truncation"
    exact = Counter(rows["key"])
    dec_by_bucket = dict(zip(summ["bucket"], summ["dec"]))
    reported = set(summ["key"].dropna())
    for r in summ.dropna(subset=["key"]).itertuples():
        assert r.cnt <= exact[r.key] <= r.cnt + r.dec, r
    for k, true in exact.items():
        if true > dec_by_bucket[k % 2]:
            assert k in reported, (k, true)


def test_stream_hh_state_survives_query_restart(spark, tmp_path):
    stage = tmp_path / "stage"
    _split_two_files(spark, stage)
    src = tmp_path / "ev_restart"
    src.mkdir()
    shutil.copytree(stage / "a.parquet", src / "a.parquet")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    _run(spark, src, out, ckpt, cap=4096)
    shutil.copytree(stage / "b.parquet", src / "b.parquet")
    _run(spark, src, out, ckpt, cap=4096)

    summ = latest_summary(spark.read.parquet(out)).collect()
    got = {r["key"]: r["cnt"] for r in summ}
    # counts from the first run's file must still be in the totals --
    # only state carried across the restart can supply them
    assert got == _exact_counts(spark)


def test_stream_hh_decrement_emptying_summary_is_not_stale(spark):
    """A decrement can empty a bucket's summary (cap+1 equal counts).
    The bucket must still emit a new-version ledger row, so max-ver
    consumers see the (correctly empty) current summary -- never the
    stale previous one whose dec doesn't cover the dropped keys."""
    batches = [
        pd.DataFrame({"bucket": [0], "key": [100]}),
        pd.DataFrame({"bucket": [0, 0, 0], "key": [200, 300, 400]}),
    ]
    out = fold_batches(_step(1), ["bucket"], batches)
    # batch 2 merged {100:1,200:1,300:1,400:1} with cap=1: the
    # decrement (=1) zeroes everything -> summary empty, dec rises
    last = out[out["ver"] == out["ver"].max()]
    assert len(last) == 1 and pd.isna(last["key"].iloc[0])
    assert last["dec"].iloc[0] > 0
    # and the user-facing helper returns an EMPTY current summary,
    # not the stale ver-1 row for key 100
    raw = spark.createDataFrame(
        [tuple(None if pd.isna(v) else int(v) for v in r)
         for r in out.itertuples(index=False)],
        "bucket int, key long, cnt long, dec long, ver long",
    )
    assert latest_summary(raw).count() == 0


def test_upsert_sink_maintains_latest_state_table(spark, tmp_path):
    """foreachBatch upsert sink: after two deliveries the parquet table
    holds exactly the newest row per user, partitions not touched by a
    batch keep their files, and replaying a batch changes nothing
    (exactly-once via idempotence)."""
    import glob
    import os

    from dump1090_stream_parser_spark.streaming.sinks import (
        upsert_batch_writer,
    )

    schema = "user_id long, part long, ts string, value double"
    rows1 = [
        (1, 1, "2026-01-01 10:00:00", 1.0),
        (2, 0, "2026-01-01 10:00:00", 2.0),
        (3, 1, "2026-01-01 10:05:00", 3.0),
    ]
    rows2 = [
        (1, 1, "2026-01-01 11:00:00", 10.0),  # update user 1
        (4, 1, "2026-01-01 11:01:00", 4.0),   # new user, part 1
        # part 0 untouched in batch 2
    ]

    def df(rows):
        return spark.createDataFrame(
            [(u, p, ts, v) for u, p, ts, v in rows], schema
        ).withColumn("ts", F.to_timestamp("ts"))

    base = str(tmp_path / "latest_state")
    write = upsert_batch_writer(base, "part", "user_id", "ts")
    write(df(rows1), 0)
    part0_files = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{base}/part=0/*.parquet")
    }
    write(df(rows2), 1)

    got = {
        r["user_id"]: (r["value"], r["part"])
        for r in spark.read.parquet(base).collect()
    }
    assert got == {1: (10.0, 1), 2: (2.0, 0), 3: (3.0, 1), 4: (4.0, 1)}
    # untouched partition kept its files
    for f, mt in part0_files.items():
        assert os.path.getmtime(f) == mt
    # replay batch 2: idempotent
    write(df(rows2), 1)
    got2 = {
        r["user_id"]: (r["value"], r["part"])
        for r in spark.read.parquet(base).collect()
    }
    assert got2 == got
    # in-batch dedup: two rows for one key keep the newer
    write(
        df([(5, 0, "2026-01-01 12:00:00", 50.0),
            (5, 0, "2026-01-01 12:30:00", 55.0)]),
        2,
    )
    r5 = spark.read.parquet(base).filter(F.col("user_id") == 5).collect()
    assert len(r5) == 1 and r5[0]["value"] == 55.0


def test_upsert_sink_rejects_partition_moving_keys(spark, tmp_path):
    """part_col must be a pure function of the key: a batch where one
    key maps to two partitions would leave a stale row behind, so the
    writer refuses it loudly."""
    import pytest

    from dump1090_stream_parser_spark.streaming.sinks import (
        upsert_batch_writer,
    )

    bad = spark.createDataFrame(
        [(1, 0, "2026-01-01 10:00:00", 1.0),
         (1, 2, "2026-01-01 11:00:00", 2.0)],
        "user_id long, part long, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    write = upsert_batch_writer(
        str(tmp_path / "t"), "part", "user_id", "ts"
    )
    with pytest.raises(ValueError, match="pure function"):
        write(bad, 0)
