"""Silver ingest throughput bench (BASELINE.md "ingest throughput" rows).

Synthesizes N deterministic SBS-1 MSG,3 wire lines with the gold
query's production builder, runs them through the PRODUCTION parse path
(``parse_lines`` -> ``silver``), and prints one JSON line:

    python tools/ingest_bench.py [n_rows]

Generation is INCLUDED in the measurement (same discipline as the
original round-2 number): the point is an end-to-end lower bound on
what one box pushes through the full typed Silver projection, not a
parser microbenchmark.

The source-inclusive ``jvm`` mode serves the same lines over localhost
TCP, sharded over ``n_receivers`` servers, through the ``sbs1-jvm``
source (``n_receivers`` 1 is the CLI's ``-l/-p`` shape):

    python tools/ingest_bench.py jvm [n_rows] [n_receivers]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from dump1090_stream_parser_spark.operators.sbs1_gold import (  # noqa: E402
    sbs1_lines_from_events,
)
from dump1090_stream_parser_spark.session import get_spark  # noqa: E402
from dump1090_stream_parser_spark.sources.sbs1 import (  # noqa: E402
    parse_lines,
    silver,
)


def synth_events(spark, n: int, cpus: int):
    """The deterministic events frame BOTH bench modes synthesize lines
    from -- shared so the parse-path and source-inclusive numbers stay
    comparable by construction (same aircraft modulus, same timestamps)."""
    return spark.range(n).repartition(cpus).select(
        (F.col("id") % 5000).alias("user_id"),
        F.col("id").alias("event_id"),
        (
            F.lit("2026-08-13 10:00:00").cast("timestamp")
            + (F.col("id") % 86400).cast("string").cast("interval second")
        ).alias("ts"),
    )


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        master=f"local[{cpus}]",
        app_name="ingest_bench",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    events = synth_events(spark, n, int(cpus))
    full = silver(
        parse_lines(
            sbs1_lines_from_events(events),
            parsed_time=F.col("generated_ts"),
        )
    )
    full.write.format("noop").mode("overwrite").save()  # warm
    times = []
    for _ in range(2):
        t0 = time.perf_counter()
        full.write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    sec = min(times)
    print(
        json.dumps(
            {
                "metric": "silver_ingest_rows_per_sec",
                "value": round(n / sec),
                "unit": "rows/sec",
                "n_rows": n,
                "seconds": round(sec, 3),
                "cpus": int(cpus),
            }
        )
    )
    spark.stop()


def jvm_main() -> None:
    """JVM-framed ingest throughput (VERDICT r11 ask #1): the same
    deterministic MSG,3 lines sharded over N localhost TCP servers,
    read by ``bronze_from_sbs1_jvm`` -- the custom Java DataSource V2
    source (drain + framing on JVM threads, blob-granularity
    partitions, zero-copy executor line split; no Python anywhere in
    the pipeline) -- into ``parse_lines`` -> ``silver`` under
    Structured Streaming.

        python tools/ingest_bench.py jvm [n_rows] [n_receivers]
    """
    import socket
    import tempfile
    import threading

    from dump1090_stream_parser_spark.sources.sbs1_jvm import (
        jvm_source_conf,
    )

    n = int(sys.argv[2]) if len(sys.argv) > 2 else 8_000_000
    n_recv = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        master=f"local[{cpus}]",
        app_name="ingest_bench_jvm",
        shuffle_partitions=int(cpus),
        extra_conf=jvm_source_conf(),
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")

    events = synth_events(spark, n, int(cpus))
    lines = sbs1_lines_from_events(events).toPandas()["value"]
    shard = (len(lines) + n_recv - 1) // n_recv
    payloads = [
        ("\n".join(lines[i * shard:(i + 1) * shard]).encode() + b"\n")
        for i in range(n_recv)
    ]

    servers, hosts = [], []
    for payload in payloads:
        srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        srv.bind(("127.0.0.1", 0))
        srv.listen(1)
        servers.append(srv)
        hosts.append(("127.0.0.1", srv.getsockname()[1]))

        def serve(sock=srv, data=payload) -> None:
            conn, _ = sock.accept()
            try:
                conn.sendall(data)
                conn.recv(1)  # hold open until the bench closes
            except OSError:
                pass
            finally:
                conn.close()

        threading.Thread(target=serve, daemon=True).start()

    from dump1090_stream_parser_spark.streaming.pipeline import (
        bronze_from_sbs1_jvm,
    )

    bronze = bronze_from_sbs1_jvm(
        spark, hosts, max_lines_per_batch=2_000_000,
        replay_capacity=4_000_000,
    )
    sq = silver(parse_lines(bronze, parsed_time=F.col("ingest_ts")))

    got = {"rows": 0}
    lock = threading.Lock()

    def count_batch(df, _epoch) -> None:
        c = df.count()
        with lock:
            got["rows"] += c

    t0 = time.perf_counter()
    query = (
        sq.writeStream.foreachBatch(count_batch)
        .option(
            "checkpointLocation",
            tempfile.mkdtemp(prefix="ingest_bench_jvm_"),
        )
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + 600
    while time.time() < deadline:
        with lock:
            if got["rows"] >= n:
                break
        time.sleep(0.2)
    sec = time.perf_counter() - t0
    query.stop()
    for srv in servers:
        srv.close()
    assert got["rows"] >= n, f"stream delivered {got['rows']}/{n} rows"
    print(
        json.dumps(
            {
                "metric": "silver_ingest_jvm_rows_per_sec",
                "value": round(n / sec),
                "unit": "rows/sec",
                "n_rows": n,
                "n_receivers": n_recv,
                "seconds": round(sec, 3),
                "cpus": int(cpus),
                "note": (
                    "end-to-end incl. TCP drain + streaming "
                    "micro-batches; custom Java DSv2 source, one "
                    "drain thread per receiver, blob partitions "
                    "(framing below Python)"
                ),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "jvm":
        jvm_main()
    else:
        main()
