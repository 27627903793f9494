"""Every registered query must match its DuckDB oracle at sf0.001
(the driver gate runs the same comparison at sf0.01)."""

from __future__ import annotations

import pathlib

import pytest

import __spark_entry__ as entry_mod
from dump1090_stream_parser_spark.testing import compare

from .conftest import SF_DIR

ROOT = pathlib.Path(__file__).resolve().parent.parent

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["user_id", "n_msgs"]


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_parity(spark, oracle, name):
    df = QUERIES[name](spark, SF_DIR)
    if name not in ORACLES:
        # rows-only check (non-SQL-expressible operator)
        assert df.count() >= 0
        return
    problems = compare(df, oracle, ORACLES[name])
    assert not problems, f"{name}: " + "; ".join(problems)


def test_near_dedup_ngram_parity(spark, oracle):
    """q_near_dedup_ngram sits deep in the derived window, so the
    canary rule rarely puts it in the default run; its compare takes
    about 7 s at sf0.001, so it is checked on every commit here."""
    name = "q_near_dedup_ngram"
    problems = compare(QUERIES[name](spark, SF_DIR), oracle, ORACLES[name])
    assert not problems, f"{name}: " + "; ".join(problems)


# -- the derived oracle window (operators/registry.py window_order) --------

#: The drifted set of the seed ledger: the parked queries whose
#: hand-kept round-14 rationale acknowledged a code change since their
#: last green driver row with a ``block <hex>`` stamp. A query
#: re-certified after round 14 leaves the comparison on both sides.
#: q_weighted_median and q_winsorize joined when their blocks changed
#: (exact rank cuts as window columns); q_mann_whitney (shared
#: two-sample front end), q_near_dedup_embedding_lsh (LSH geometry
#: folded into constants) and q_triangles (docstring cites its scale
#: test) joined with the same plans.
SEED_ROUND = 14
SEED_DRIFT = frozenset({
    "q_ann_ivf", "q_ann_ivf_join", "q_ann_ivf_trained",
    "q_ann_ivf_trained_join", "q_ann_pq", "q_ann_pq_pruned", "q_benford",
    "q_bm25", "q_chunk_docs", "q_containment", "q_countmin",
    "q_dedup_best", "q_hill", "q_knn_join", "q_lang_id", "q_mann_whitney",
    "q_near_dedup_embedding_lsh", "q_near_dedup_simhash", "q_ngram_top",
    "q_opq_encode", "q_percentile", "q_pq_encode", "q_quality_filter",
    "q_random_projection", "q_rolling_fingerprint",
    "q_sbs1_gold_deadletter", "q_semantic_dedup", "q_set_overlap_kmv",
    "q_source_divergence", "q_source_overlap_kmv", "q_spatial_join",
    "q_subsample_ci", "q_table_digest", "q_train_split", "q_triangles",
    "q_weighted_median", "q_winsorize",
})


def _seed_scope(names, ledger):
    return {q for q in names if q in ledger and ledger[q]["round"] <= SEED_ROUND}


def test_seed_ledger_drift_is_the_stamped_set():
    """The seed ledger reproduces the hand-kept one: exactly the
    SEED_DRIFT queries are drifted, so they (and no other query certified
    by round 14) lead the window. A change that edits another query's
    block fails here by name, as the rule intends: add the query to
    SEED_DRIFT in that change. Each name drops out of the check once a
    newer driver round re-certifies it."""
    from dump1090_stream_parser_spark.operators.registry import (
        derived_order,
        load_ledger,
    )

    ledger = load_ledger()
    window, drifted = derived_order()
    got, want = _seed_scope(drifted, ledger), _seed_scope(SEED_DRIFT, ledger)
    assert got == want, (sorted(got - want), sorted(want - got))
    assert window[: len(drifted)] == drifted


def test_editing_a_block_moves_its_query_into_window_and_canaries():
    from dump1090_stream_parser_spark.operators.registry import (
        current_blocks,
        load_ledger,
        window_order,
    )

    from .conftest import parity_canaries

    blocks, ledger = current_blocks(), load_ledger()
    order, drifted = window_order(blocks, ledger)
    newest = max(v["round"] for v in ledger.values())
    q = next(n for n in order[50:] if ledger[n]["round"] < newest)
    assert q not in parity_canaries(order, drifted, ledger)

    edited = {**ledger, q: {**ledger[q], "block": "0" * 64}}
    order2, drifted2 = window_order(blocks, edited)
    assert q in drifted2 and q in order2[:50]
    assert q in parity_canaries(order2, drifted2, edited)
    assert sorted(order2) == sorted(order)


def test_window_fills_oldest_certification_first():
    """Past the drifted head, the window fills with the queries whose
    last green driver row is oldest (registration order breaks ties),
    so every query's certification ages out in turn with no quota."""
    import dump1090_stream_parser_spark.operators as ops
    from dump1090_stream_parser_spark.operators.registry import (
        derived_order,
        load_ledger,
    )

    ledger = load_ledger()
    window, drifted = derived_order()
    held = window[len(drifted):]
    assert [ledger[n]["round"] for n in held] == sorted(
        ledger[n]["round"] for n in held
    )
    pos = {n: i for i, n in enumerate(ops.REGISTRY)}
    for a, b in zip(held, held[1:]):
        if ledger[a]["round"] == ledger[b]["round"]:
            assert pos[a] < pos[b], (a, b)


def test_block_is_the_decorated_function_source():
    """The ledger's unit is the query's own block -- decorator (oracle
    text included) through the end of the function -- not its file, so
    a new sibling operator in the same module drifts nothing."""
    import inspect

    from dump1090_stream_parser_spark.operators.registry import (
        REGISTRY,
        _block,
    )

    for name, entry in REGISTRY.items():
        with open(inspect.getsourcefile(entry.fn)) as f:
            block = _block(f.read(), entry.fn.__name__)
        assert block == inspect.getsource(entry.fn).rstrip(), name
        assert block.startswith("@query("), name


def test_queries_map_is_the_registry_reordered():
    """Every registered query appears once; the order is computed on
    the first call, not at import (Python workers import the operator
    modules); the oracle SQL is the pre-ledger map, byte for byte."""
    import hashlib
    import json
    import subprocess
    import sys

    import dump1090_stream_parser_spark.operators as ops

    names = list(QUERIES)
    assert len(names) == len(set(names)) == len(ops.REGISTRY) == 161
    assert set(names) == set(ops.REGISTRY)
    # the oracles read fixtures through this checkout's absolute path
    text = json.dumps(sorted(ORACLES.items())).replace(str(ROOT), "<checkout>")
    digest = hashlib.sha256(text.encode()).hexdigest()
    assert digest == (
        "4763f9b95ecea1ecd3d94f108fb25688795ac370dc32f8c1c24d33938df9ac41"
    )
    lazy = subprocess.run(
        [sys.executable, "-c",
         "import dump1090_stream_parser_spark.operators as o;"
         "assert o.registry._derived.cache_info().currsize == 0"],
        cwd=str(ROOT),
    )
    assert lazy.returncode == 0


def test_ledger_rounds_are_the_newest_green_rows():
    """Each ledger round is the query's newest green driver row among
    the CORRECTNESS files up to the ledger's own newest round; a file
    that lands later does not fail the suite until the ledger is
    re-stamped with tools/green_ledger.py."""
    import json
    import re

    from dump1090_stream_parser_spark.operators.registry import load_ledger

    ledger = load_ledger()
    top = max(v["round"] for v in ledger.values())
    newest: dict[str, int] = {}
    for path in ROOT.glob("CORRECTNESS_r*.json"):
        n = int(re.search(r"_r(\d+)\.json$", path.name).group(1))
        if n > top:
            continue
        for q, v in json.loads(path.read_text()).items():
            if q in QUERIES and v.get("rows_match") and v.get("hash_match"):
                newest[q] = max(newest.get(q, 0), n)
    assert {q: v["round"] for q, v in ledger.items()} == newest


def test_query_catalog_matches_its_generator():
    """docs/QUERIES.md is tools/make_catalog.py's output as committed.
    Its eval column follows the derived window, so editing a query block
    changes the file: regenerate it with
    ``python tools/make_catalog.py > docs/QUERIES.md``."""
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "tools/make_catalog.py"],
        cwd=str(ROOT), capture_output=True, text=True, check=True,
    ).stdout
    assert out == (ROOT / "docs" / "QUERIES.md").read_text()
