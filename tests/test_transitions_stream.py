"""Streaming transitions (streaming/transitions.py): the summed delta
matrix must equal batch q_transitions row-for-row under ordered
replay, including across micro-batch splits and a checkpoint
restart."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from dump1090_stream_parser_spark.operators.sequence import q_transitions
from dump1090_stream_parser_spark.streaming import transitions
from dump1090_stream_parser_spark.streaming.transitions import (
    transition_matrix,
    transitions_stream,
)
from dump1090_stream_parser_spark.tables import load_table

from .conftest import SF_DIR
from .fold_check import assert_any_split_folds_alike, canon

_SCHEMA = (
    "user_id long, ts timestamp, event_id long, event_type string"
)


def _write_files(spark, out_dir, n_files=3):
    """Global time-ordered split: per-key order preserved across files
    (the twin's ordered-arrival contract)."""
    ev = (
        load_table(spark, SF_DIR, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .orderBy("ts", "event_id")
    )
    rows = ev.collect()
    chunk = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        part = rows[i * chunk:(i + 1) * chunk]
        spark.createDataFrame(part, schema=_SCHEMA).coalesce(
            1
        ).write.parquet(str(out_dir / f"f{i}.parquet"))


def _run(spark, src, out, ckpt):
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        transitions_stream(stream)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def _batch(spark):
    return {
        (r["prev_type"], r["next_type"]): (
            r["n_trans"],
            r["row_total"],
            r["p"],
        )
        for r in q_transitions(spark, SF_DIR).collect()
    }


def _stream(spark, out):
    return {
        (r["prev_type"], r["next_type"]): (
            r["n_trans"],
            r["row_total"],
            r["p"],
        )
        for r in transition_matrix(spark.read.parquet(out)).collect()
    }


def test_stream_equals_batch_across_microbatches(spark):
    """transitions_stream's own projection and fold on the static
    events (the kernel's batch branch), summed by transition_matrix,
    equal q_transitions; test_delta_counts_are_mergeable carries that
    to any ordered micro-batch split."""
    ev = load_table(spark, SF_DIR, "events")
    got = transition_matrix(transitions_stream(ev))
    assert {
        (r["prev_type"], r["next_type"]): (
            r["n_trans"],
            r["row_total"],
            r["p"],
        )
        for r in got.collect()
    } == _batch(spark)


def test_stream_survives_checkpoint_restart(spark, tmp_path):
    import shutil

    src = tmp_path / "in"
    src.mkdir()
    _write_files(spark, src, n_files=2)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    staged = tmp_path / "staged"
    staged.mkdir()
    shutil.move(str(src / "f1.parquet"), str(staged / "f1.parquet"))
    _run(spark, src, out, ckpt)
    shutil.move(str(staged / "f1.parquet"), str(src / "f1.parquet"))
    _run(spark, src, out, ckpt)
    assert _stream(spark, out) == _batch(spark)


@settings(max_examples=25, deadline=None, derandomize=True)
@given(seed=st.integers(0, 2**32 - 1))
def test_delta_counts_are_mergeable(seed):
    """The fold emits DELTAS (per-key state is O(1), never the
    matrix): over any ordered split the summed deltas equal one fold's
    counts, so no pair is dropped or double-counted at a cut."""
    rng = np.random.default_rng(seed)
    n = 300
    rows = pd.DataFrame(
        {
            "user_id": rng.integers(0, 6, n),
            "ts": pd.Timestamp("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 10**6, n), unit="s"),
            "event_id": rng.permutation(n),
            "event_type": rng.choice(["view", "click", "buy"], n),
        }
    )
    assert_any_split_folds_alike(
        transitions._step,
        ["user_id"],
        rows,
        lambda out: canon(
            out.groupby(["prev_type", "next_type"], as_index=False)["n"].sum()
        ),
        rng,
        order=["ts", "event_id"],
    )
