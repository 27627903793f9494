"""State-store probe for the corpus-stateful streaming twins
(VERDICT r9 ask #3): run the novelty gate over documents replicated
xR with per-replica token mangling (so the distinct-gram seen-set
really grows ~R-fold), once on the default HDFS-backed state store and
once on RocksDB, and report state size / update latency / wall time
per (R, provider).

    python tools/rocksdb_probe.py [R ...]      # default: 1 4 8

The numbers land in docs/SCALE.md; the pytest suite separately pins
bit-equality of the RocksDB run (tests/test_novelty_stream.py).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def main() -> int:
    from pyspark.sql import functions as F

    from dump1090_stream_parser_spark.session import get_spark
    from dump1090_stream_parser_spark.streaming.novelty import (
        novelty_stream,
    )
    from dump1090_stream_parser_spark.tables import load_table

    reps = [int(a) for a in sys.argv[1:]] or [1, 4, 8]
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = "/root/testdata/sf0.001"

    for r in reps:
        base = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        n_docs = base.count()
        # replica i remaps doc_id to keep the arrival-order contract and
        # mangles every token so its grams are distinct from replica j's
        rep_frames = [
            base.select(
                (F.col("doc_id") * r + i).alias("doc_id"),
                F.expr(
                    "array_join(transform(split(text, ' '),"
                    f" t -> concat(t, '_{i}')), ' ')"
                ).alias("text"),
            )
            for i in range(r)
        ]
        docs = rep_frames[0]
        for f in rep_frames[1:]:
            docs = docs.unionAll(f)
        tmp = tempfile.mkdtemp(prefix=f"rocksdb_probe_x{r}_")
        docs.orderBy("doc_id").coalesce(4).write.parquet(tmp + "/in/f0")

        for provider in ("default", "rocksdb"):
            if provider == "rocksdb":
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", ROCKSDB
                )
            else:
                spark.conf.unset(
                    "spark.sql.streaming.stateStore.providerClass"
                )
            out = tempfile.mkdtemp(prefix=f"probe_out_{provider}_x{r}_")
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 2)
                .parquet(tmp + "/in/*")
            )
            t0 = time.perf_counter()
            q = (
                novelty_stream(stream)
                .writeStream.format("parquet")
                .outputMode("append")
                .option("path", out + "/o")
                .option("checkpointLocation", out + "/c")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(600)
            sec = time.perf_counter() - t0
            state_rows = mem = sst = upd_ms = commit_ms = 0
            for p in q.recentProgress:
                for s in p["stateOperators"] or []:
                    state_rows = max(state_rows, s["numRowsTotal"] or 0)
                    mem = max(mem, s.get("memoryUsedBytes") or 0)
                    upd_ms += s.get("allUpdatesTimeMs") or 0
                    commit_ms += s.get("commitTimeMs") or 0
                    cm = s["customMetrics"] or {}
                    sst = max(sst, int(cm.get("rocksdbSstFileSize", 0)))
            print(
                json.dumps(
                    {
                        "replication": r,
                        "docs": n_docs * r,
                        "provider": provider,
                        "seconds": round(sec, 2),
                        "state_rows": state_rows,
                        "memory_used_bytes": mem,
                        "rocksdb_sst_bytes": sst,
                        "updates_ms_total": upd_ms,
                        "commit_ms_total": commit_ms,
                    }
                ),
                flush=True,
            )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
