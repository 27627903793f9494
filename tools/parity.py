"""Local mimic of the driver's correctness gate.

Runs every ``queries()`` entry and its ``oracle_sql()`` twin side by side
(Spark vs DuckDB) and reports parity per query.

Usage: python tools/parity.py [--vanilla] [sf_dir] [query ...]

``--vanilla`` runs the Spark side on a bare ``SparkSession.builder``
session (no engine confs), exactly like the external driver does --
the engine must fix up every runtime conf it needs at query time, and
this flag is the local proof that it does.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dump1090_stream_parser_spark.session import get_spark
from dump1090_stream_parser_spark.testing import compare, duckdb_oracle


def main() -> int:
    args = sys.argv[1:]
    vanilla = "--vanilla" in args
    if vanilla:
        args.remove("--vanilla")
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    if vanilla:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        spark = get_spark(master="local[8]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_oracle(sf_dir)

    n_pass = n_fail = 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            if name not in oracles:
                n = sdf.count()
                print(f"rows-only {name}: {n} rows  [{time.time()-t0:.1f}s]")
                n_pass += 1
                continue
            problems = compare(sdf, con, oracles[name])
        except Exception:
            print(f"FAIL {name}: raised")
            traceback.print_exc(limit=3)
            n_fail += 1
            continue
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name}  [{time.time()-t0:.1f}s]")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
