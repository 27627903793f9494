"""Plan-shape snapshot: a physical-plan signature for every registered
query, pinned to docs/PLAN_SNAPSHOT.json.

The hand-written tests in tests/test_plans.py pin the plans that embody
a deliberate design decision; this tool pins EVERYTHING ELSE against
accidental regression -- an innocent refactor that adds an exchange, a
join that silently flips to nested-loop, an explode that sneaks into a
narrow map. The signature is deliberately coarse (operator counts, not
plan text) so it survives cosmetic planner changes while catching the
shapes that matter at 100 TB.

Regenerate after an INTENTIONAL plan change:

    python tools/plan_snapshot.py > docs/PLAN_SNAPSHOT.json

and review the diff like code: every changed count needs a reason.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.001"

#: Queries whose plan depends on driver-side iteration state; their
#: shape is covered by dedicated tests instead.
SKIP = {"q_dedup_clusters", "q_dedup_clusters_lsh"}


def signature(plan: str) -> dict:
    final = plan.split("== Initial Plan ==")[0]
    return {
        "exchanges": final.count(") Exchange"),
        "generates": final.count(") Generate"),
        "broadcast_joins": final.count("BroadcastHashJoin"),
        "sort_merge_joins": final.count("SortMergeJoin"),
        "shuffled_hash_joins": final.count("ShuffledHashJoin"),
        "nested_loop_joins": final.count("BroadcastNestedLoopJoin")
        + final.count("CartesianProduct"),
        "top_k": final.count("TakeOrderedAndProject"),
        "window": final.count(") Window"),
    }


def build_snapshot(spark) -> dict[str, dict]:
    import __spark_entry__ as e
    from dump1090_stream_parser_spark.plans.inspect import formatted_plan

    out = {}
    for name, fn in sorted(e.queries().items()):
        if name in SKIP:
            continue
        out[name] = signature(formatted_plan(fn(spark, SF_DIR)))
    return out


#: Queries whose EXECUTED shuffle volume is pinned (VERDICT r9 ask #4)
#: -- the lineage-duplication watchlist: every registered query whose
#: plan consumes a shared staged frame from more than one side (alias
#: self-joins, pair stages, checkpointed fan-outs). The plan-shape
#: signature above cannot see a silent lineage re-run (the q_pmi
#: 5x-explode class); the executed shuffle-record total multiplies
#: with it, and at a fixed SF it is data-deterministic.
EXEC_PINNED = (
    "q_pmi",
    "q_text_entropy",
    "q_lm_score",
    "q_ks_test",
    "q_dup_spans",
    "q_dup_spans_bloom",
    "q_source_overlap",
    "q_source_overlap_kmv",
    # Python-eval lineages feeding multiple consumers -- the class
    # where AQE stage reuse genuinely FAILS (the round-10 calibration
    # finding), so their checkpoints are load-bearing and their
    # executed volume is the contract that proves it:
    "q_containment",   # winnowed prints -> FOUR consumers
    "q_lang_id",       # two Arrow passes over one checkpointed exchange
    "q_semantic_dedup",  # applyInPandas cell scorer -> keeper manifest
    "q_label_pca",     # grouped-map eigendecomposition per label
    # round-10 late-wave multi-consumer lineages (each checkpointed at
    # its collapse frame; the pin proves the collapse runs once):
    "q_mann_whitney",  # count-collapse feeds totals + both pair legs
    "q_theil_sen",     # day-grain collapse feeds pairs twice + resid
)


#: The pinned executed-stage records, regenerated with ``--executed``.
EXEC_SNAPSHOT_PATH = os.path.join(REPO, "docs", "PLAN_SNAPSHOT_EXEC.json")


def exec_pinned_names() -> list[str]:
    """The exec-pin coverage set: the multi-consumer watchlist above
    plus every query already pinned in the executed snapshot. The set
    does not follow the oracle window, so a window change never forces
    the pins to be regenerated. To pin another query, add it to
    EXEC_PINNED and regenerate with ``--executed``."""
    with open(EXEC_SNAPSHOT_PATH) as f:
        return sorted(set(EXEC_PINNED) | set(json.load(f)))


#: Queries with a once-per-session build or probe step (layout caches,
#: memoized density probes): their executed signature is pinned on the
#: steady-state path, so both the regenerator and the test warm them
#: once first -- otherwise the measured volume depends on whether an
#: earlier test in the same session already paid the one-time step
#: (q_ema failed exactly this way in the round-12 full-suite run:
#: test_parity memoized its density probe, and the pin -- recorded in
#: a fresh session -- still carried the probe's shuffle).
WARM_FIRST = {
    "q_ann_pq_pruned",
    "q_ema",
    # q_holt shares q_ema's memoized density probe (timeseries.py):
    # entered the exec-pin set at the round-13 rotation, same warm rule
    "q_holt",
    # round 13: the OPQ pair session-caches its fixture collects,
    # parsed code expressions, and rendered LUT text (VERDICT r12 ask
    # #1), so the first call pays collect jobs later calls skip
    "q_ann_opq",
    "q_opq_encode",
    # round 13: session-built storage layouts (bucketed tables /
    # snapshot versions) -- the pin is the steady-state read path
    "q_bucket_join",
    "q_snapshot_read",
    # round 13 batch 6: the seed-centroid rows are _cached_rows-cached
    # process-wide, so the first call per process pays an 8-record
    # collect job later calls skip; pin the warm signature so the
    # measurement is independent of which test warmed the cache
    "q_semantic_dedup",
}


def build_exec_snapshot(spark, names=None) -> dict[str, dict]:
    import __spark_entry__ as e

    from dump1090_stream_parser_spark.plans.metrics import (
        executed_stage_signature,
    )

    qs = e.queries()
    out = {}
    for name in sorted(names if names is not None else exec_pinned_names()):
        if name in WARM_FIRST:
            qs[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
        sig = executed_stage_signature(
            spark, lambda n=name: qs[n](spark, SF_DIR)
        )
        # records are the strict data-deterministic contract; stage
        # counts ride along informationally (planner-detail-sensitive)
        out[name] = {
            "shuffle_records": sig["shuffle_records"],
            "n_stages": sig["n_stages"],
        }
    return out


def main() -> None:
    from dump1090_stream_parser_spark.session import get_spark

    # same session shape as tests/conftest.py -- broadcast decisions
    # depend on the threshold, and the snapshot must be regenerable in
    # the exact environment the test compares under
    spark = get_spark(
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.autoBroadcastJoinThreshold": "1MB"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    if "--executed" in sys.argv:
        print(json.dumps(build_exec_snapshot(spark), indent=1,
                         sort_keys=True))
    else:
        print(json.dumps(build_snapshot(spark), indent=1, sort_keys=True))
    spark.stop()


if __name__ == "__main__":
    main()
