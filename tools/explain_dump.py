"""Dump .explain("formatted") for headline queries to plans/<round>/.

Usage:
    python tools/explain_dump.py before [q_name ...]
    python tools/explain_dump.py after  [q_name ...]

With no query names, dumps every headline query. Writes
plans/$SPARK_GRAFT_PLAN_ROUND/<query>_<tag>.txt (round defaults to
r14). Uses the same session shape as bench.py.

A query that cuts lineage with localCheckpoint shows each checkpointed
subtree as a ``Scan ExistingRDD`` stub: the dump is the execution shape
(where the cuts are), not what the cut subtrees compute.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dump1090_stream_parser_spark.session import get_spark  # noqa: E402


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    rnd = os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r14")

    import __spark_entry__ as entry_mod
    from bench import HEADLINE

    queries = entry_mod.queries()
    if not names:
        names = [n for n in HEADLINE if n in queries]

    spark = get_spark(
        master=f"local[{cpus}]",
        app_name="explain_dump",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        rnd,
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        txt = _explain(queries[name](spark, sf_dir))
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
