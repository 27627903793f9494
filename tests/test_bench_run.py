"""bench.run on the test session: positional query names restrict the
set, and the detail line splits each query's fastest run into plan
build and execution with that run's stage-meter counters. (The
subprocess contract e2e is tests/test_bench_contract.py, slow.)"""

from __future__ import annotations

import json

import pytest

import bench

from .conftest import SF_DIR


def test_bench_runs_named_queries_with_a_layer_split(spark):
    names = ["q_group_topk", "q_window_latest"]
    detail, line = bench.run(spark, SF_DIR, names, reps=2)
    assert sorted(detail["queries_min"]) == sorted(names)
    assert detail["layers"].keys() == detail["queries_min"].keys()
    for name, layer in detail["layers"].items():
        assert {"build_s", "exec_s", "stages", "shuffle_bytes"} <= set(layer)
        assert layer["stages"] >= 1, (name, layer)
        # the split is of the fastest run, so it sums to that run's wall
        wall = detail["queries_min"][name]
        assert abs(layer["build_s"] + layer["exec_s"] - wall) <= 0.002, (
            name,
            layer,
            wall,
        )
    assert any(layer["shuffle_bytes"] > 0 for layer in detail["layers"].values())
    assert json.loads(line)["n_queries"] == len(names)


def test_bench_rejects_an_unknown_query_name(spark):
    with pytest.raises(KeyError, match="q_no_such_query"):
        bench.run(spark, SF_DIR, ["q_group_topk", "q_no_such_query"], reps=1)
