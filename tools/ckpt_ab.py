"""A/B a set of queries with localCheckpoint enabled vs no-op'd:
per-query min-of-3 noop-sink seconds plus that run's executor run ms,
executed shuffle records and stages, to decide which lazy checkpoints
are load-bearing (lineage re-run guards) and which are pure overhead
(ReuseExchange already covers the fan-out).

Usage: python tools/ckpt_ab.py q_a q_b ...

The off arm patches the classic DataFrame class: a classic session's
frames are ``pyspark.sql.classic.dataframe.DataFrame``, whose own
``localCheckpoint`` shadows any patch on ``pyspark.sql.DataFrame``.
Before timing it, the off arm's plan is checked for checkpoint scans,
so an A/B whose off arm still checkpoints fails instead of reporting.
"""

from __future__ import annotations

import contextlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame  # noqa: E402

from dump1090_stream_parser_spark.session import get_spark  # noqa: E402

#: What a checkpointed subtree prints as in a formatted plan.
CHECKPOINT_MARKERS = ("Scan ExistingRDD", "LogicalRDD")


@contextlib.contextmanager
def checkpoints_off():
    """Make ``localCheckpoint`` return its input frame unchanged."""
    orig = ClassicDataFrame.localCheckpoint
    ClassicDataFrame.localCheckpoint = lambda self, eager=True, storageLevel=None: self
    try:
        yield
    finally:
        ClassicDataFrame.localCheckpoint = orig


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    import __spark_entry__ as entry_mod
    from dump1090_stream_parser_spark.plans.inspect import formatted_plan
    from dump1090_stream_parser_spark.plans.metrics import metered_run

    queries = entry_mod.queries()
    spark = get_spark(
        master=f"local[{cpus}]",
        app_name="ckpt_ab",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries["q_group_topk"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    def run(name):
        r = metered_run(spark, lambda: queries[name](spark, sf_dir), reps=3)
        return r["wall_s"], r["executor_run_ms"], r["shuffle_records"], r["stages"]

    for name in names:
        t_on, ms_on, rec_on, st_on = run(name)
        with checkpoints_off():
            plan = formatted_plan(queries[name](spark, sf_dir))
            found = [m for m in CHECKPOINT_MARKERS if m in plan]
            if found:
                raise RuntimeError(
                    f"{name}: off arm still checkpoints ({', '.join(found)} in plan)"
                )
            t_off, ms_off, rec_off, st_off = run(name)
        verdict = "SAME-RECORDS" if rec_on == rec_off else "RECORDS-DIFFER"
        print(
            f"{name}: on {t_on:.3f}s/{ms_on}ms/{rec_on}rec/{st_on}st"
            f" | off {t_off:.3f}s/{ms_off}ms/{rec_off}rec/{st_off}st  [{verdict}]"
        )

    spark.stop()


if __name__ == "__main__":
    main()
