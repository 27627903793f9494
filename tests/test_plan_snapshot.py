"""Every query's physical-plan signature must match the pinned
snapshot (docs/PLAN_SNAPSHOT.json) -- the broad-coverage complement to
the hand-written pins in test_plans.py. A failure here means a plan
SHAPE changed: regenerate with `python tools/plan_snapshot.py >
docs/PLAN_SNAPSHOT.json` only if the change was intentional, and say
why in the commit."""

from __future__ import annotations

import json
import os
import sys

import pytest

import __spark_entry__ as entry_mod
from dump1090_stream_parser_spark.plans.inspect import formatted_plan

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))
from plan_snapshot import SKIP, signature  # noqa: E402

from .conftest import SF_DIR

with open(os.path.join(REPO, "docs", "PLAN_SNAPSHOT.json")) as f:
    SNAPSHOT = json.load(f)

QUERIES = entry_mod.queries()


def test_snapshot_covers_every_query():
    assert set(SNAPSHOT) == set(QUERIES) - SKIP


@pytest.mark.parametrize("name", sorted(SNAPSHOT))
def test_plan_signature_unchanged(spark, name):
    got = signature(formatted_plan(QUERIES[name](spark, SF_DIR)))
    assert got == SNAPSHOT[name], (
        f"{name}: plan shape drifted (see tools/plan_snapshot.py header)"
    )


# -- executed-stage contract (VERDICT r9 ask #4) ---------------------------

from plan_snapshot import EXEC_PINNED, exec_pinned_names  # noqa: E402

with open(os.path.join(REPO, "docs", "PLAN_SNAPSHOT_EXEC.json")) as f:
    EXEC_SNAPSHOT = json.load(f)


def test_exec_snapshot_covers_watchlist_and_window():
    """Every multi-consumer watchlist query carries an executed-stage
    pin, and the pinned set is the snapshot's own keys: it no longer
    follows the derived oracle window, so a window change never forces
    the pins to be regenerated. The pins include the round-14 window
    (56 in all), so a bench wobble on one of those lines can still be
    adjudicated against its (shuffle_records, n_stages) record."""
    assert set(EXEC_PINNED) <= set(EXEC_SNAPSHOT)
    assert exec_pinned_names() == sorted(EXEC_SNAPSHOT)
    assert len(EXEC_SNAPSHOT) >= 56


@pytest.mark.parametrize("name", sorted(EXEC_SNAPSHOT))
def test_executed_shuffle_records_unchanged(spark, name):
    """The lineage-duplication gate: each watchlist query's EXECUTED
    shuffle-record total (build + run; data-deterministic at sf0.001)
    must match the pin. A silent lineage re-run -- the q_pmi
    5x-explode class -- multiplies this number while leaving the plan
    SHAPE innocent, which is exactly why the shape snapshot alone
    missed it in round 9. Regenerate with
    `python tools/plan_snapshot.py --executed` only for an intentional
    change, and say why in the commit."""
    from dump1090_stream_parser_spark.plans.metrics import (
        executed_stage_signature,
    )
    from plan_snapshot import WARM_FIRST

    # A streaming query leaked by an earlier test (awaitTermination
    # timing out under a slow-box epoch) keeps completing micro-batch
    # stages CONCURRENTLY with this measurement and pollutes the
    # before/after stage delta -- stop any stragglers first.
    for sq in spark.streams.active:
        sq.stop()

    if name in WARM_FIRST:
        # once-per-session layout build: pin the steady-state search
        # signature, independent of which test paid the build first
        QUERIES[name](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
    sig = executed_stage_signature(
        spark, lambda: QUERIES[name](spark, SF_DIR)
    )
    assert sig["shuffle_records"] == EXEC_SNAPSHOT[name]["shuffle_records"], (
        f"{name}: executed shuffle volume drifted -- duplicated lineage "
        "or an intentional plan change (regenerate the exec snapshot)"
    )


def test_exec_meter_catches_duplicated_lineage(spark):
    """The done-criterion fixture: a deliberately re-introduced
    duplicated-lineage defect must move the executed meter -- the
    signature the exec snapshot pins against.

    Calibrating this fixture taught the meter's real semantics, worth
    recording: AQE's stage-level exchange reuse DEDUPLICATES identical
    deterministic subtrees at materialization time even when the plan
    TEXT prints them repeatedly -- the round-9 "q_pmi explode ran 5x"
    reading (5 Generate nodes, 0 ReusedExchange in the printed plan)
    overcounted; re-measuring the pre-fix q_pmi shape here shows
    byte-identical executed shuffle volume with and without the
    checkpoints, so those cuts were defensive. Reuse genuinely FAILS
    when the shared lineage contains a PYTHON-EVAL stage (mapInPandas /
    applyInPandas -- the q_containment `prints` shape, whose checkpoint
    feeds four consumers): each consumer re-runs the Python stage and
    its downstream shuffle. That is the class this fixture plants and
    the executed meter must catch."""
    from pyspark.sql import functions as F

    from dump1090_stream_parser_spark.plans.metrics import (
        executed_stage_signature,
    )
    from dump1090_stream_parser_spark.tables import load_table

    def fingerprints(pdf_iter):
        for pdf in pdf_iter:
            out = pdf[["doc_id"]].copy()
            out["h"] = pdf["text"].map(hash)
            yield out

    def staged(checkpoint: bool):
        docs = load_table(spark, SF_DIR, "documents")
        prints = docs.repartition(4, "doc_id").mapInPandas(
            fingerprints, schema="doc_id long, h long"
        )
        agg = prints.groupBy("doc_id").agg(
            F.count("*").alias("n"), F.min("h").alias("mh")
        )
        if checkpoint:
            agg = agg.localCheckpoint(eager=False)
        a = agg.groupBy().agg(F.sum("n").alias("tot"))
        b = (
            agg.filter(F.col("mh") % 2 == 0)
            .groupBy()
            .agg(F.count("*").alias("evens"))
        )
        return a.crossJoin(F.broadcast(b))

    fixed = executed_stage_signature(spark, lambda: staged(True))
    dup = executed_stage_signature(spark, lambda: staged(False))
    # the shared repartition shuffle (one record per document) executes
    # once per consumer without the cut: the meter must see the extra
    # corpus-sized execution
    n_docs = load_table(spark, SF_DIR, "documents").count()
    assert dup["shuffle_records"] >= fixed["shuffle_records"] + n_docs, (
        fixed,
        dup,
    )
