"""CLI mirroring the reference's argparse surface (A13, Appendix A
L10-L28), driving the Spark-native pipeline:

    python -m dump1090_stream_parser_spark \\
        -l localhost -p 30003 -d ./adsb_out --batch-seconds 5

Every feed is read by the JVM ``sbs1-jvm`` source (one drain thread
per receiver; ``java/sbs1-jvm-source.jar``, committed).

Option mapping (reference -> here):
    -l/--location, -p/--port        -> one receiver (unchanged)
    (one receiver only)             -> --hosts h1:p1,h2:p2 (overrides
                                       -l/-p)
    -d/--database                   -> output directory (parquet Silver +
                                       dead-letter); add --sqlite for the
                                       drop-in SQLite parity artifact
    --buffer-size                   -> source buffer_size (unchanged)
    --batch-size (rows/commit)      -> --batch-seconds (trigger interval;
                                       micro-batch = the commit unit)
    --connect-attempt-limit/-delay  -> source options (unchanged)
"""

from __future__ import annotations

import argparse
import signal
import threading


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="dump1090-stream-parser-spark",
        description="process dump1090 SBS-1 messages into parquet (and "
        "optionally a SQLite parity database) with Structured Streaming",
    )
    p.add_argument("-l", "--location", default="localhost",
                   help="network location of the dump1090 broadcast")
    p.add_argument("-p", "--port", type=int, default=30003,
                   help="port broadcasting in SBS-1 BaseStation format")
    p.add_argument("-d", "--database", default="./adsb_out",
                   help="output directory (Silver parquet + dead letter)")
    p.add_argument("--sqlite", default=None,
                   help="also append to this SQLite file (drop-in parity)")
    p.add_argument("--buffer-size", type=int, default=65536,
                   help="bytes to read from the socket at a time")
    p.add_argument("--batch-seconds", type=int, default=5,
                   help="micro-batch trigger interval (the commit unit)")
    p.add_argument("--connect-attempt-limit", type=int, default=10,
                   help="times to try to connect to the broadcast")
    p.add_argument("--connect-attempt-delay", type=float, default=5.0,
                   help="seconds to wait after a failed connection attempt")
    p.add_argument("--hosts", default=None,
                   help="comma-separated host[:port] receivers "
                   "(overrides -l/-p)")
    p.add_argument("--master", default="local[*]")
    return p


def receivers(args: argparse.Namespace) -> list[tuple[str, int]]:
    """The (host, port) receivers to read: ``--hosts`` when given
    (port 30003 when a host names none), else the one ``-l/-p`` feed."""
    if not args.hosts:
        return [(args.location, args.port)]
    return [
        (h.rsplit(":", 1)[0], int(h.rsplit(":", 1)[1]))
        if ":" in h
        else (h, 30003)
        for h in (p.strip() for p in args.hosts.split(","))
        if h
    ]


def batch_writer(out_dir: str, sqlite_path: str | None = None):
    """The CLI's foreachBatch function: Silver parquet and dead letters
    through :func:`streaming.pipeline.silver_batch_writer`, then, with
    ``sqlite_path``, the batch's committed ``squitters/batch_id=N``
    files appended to SQLite. Reading the committed files back keeps
    the batch to one scan of the source, and SQLite holds exactly what
    parquet committed. The explicit schema covers an all-malformed
    batch, which commits no parquet file."""
    from .sources.sbs1 import SQUITTERS_DDL
    from .streaming.pipeline import silver_batch_writer
    from .streaming.sinks import write_sqlite_batch

    parquet_writer = silver_batch_writer(out_dir)  # idempotent per batch id
    if sqlite_path is None:
        return parquet_writer

    def write_batch(batch, batch_id: int) -> None:
        parquet_writer(batch, batch_id)
        committed = batch.sparkSession.read.schema(SQUITTERS_DDL).parquet(
            f"{out_dir}/squitters/batch_id={batch_id}"
        )
        write_sqlite_batch(committed, sqlite_path, batch_id)

    return write_batch


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)

    from .session import get_spark
    from .sources.sbs1_jvm import jvm_source_conf
    from .streaming.monitor import IngestCounters, supervise
    from .streaming.pipeline import bronze_from_sbs1_jvm, silver_stream

    hosts = receivers(args)
    spark = get_spark(
        master=args.master, app_name="sbs1-ingest", extra_conf=jvm_source_conf()
    )
    counters = IngestCounters(verbose=True)
    spark.streams.addListener(counters)

    write_batch = batch_writer(args.database, args.sqlite)

    def start():
        bronze = bronze_from_sbs1_jvm(
            spark,
            hosts,
            buffer_size=args.buffer_size,
            connect_attempt_limit=args.connect_attempt_limit,
            connect_attempt_delay=args.connect_attempt_delay,
        )
        return (
            silver_stream(bronze)
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", f"{args.database}/_checkpoint")
            .trigger(processingTime=f"{args.batch_seconds} seconds")
            .start()
        )

    # Ctrl-C / SIGTERM: flag the stop, then stop the query from a
    # thread -- the main thread is inside a py4j awaitTermination call,
    # and a default KeyboardInterrupt there surfaces as a query failure
    # that supervise() would restart
    stop = threading.Event()

    def stop_queries() -> None:
        for query in spark.streams.active:
            query.stop()

    def on_signal(signum, frame) -> None:
        stop.set()
        threading.Thread(target=stop_queries, daemon=True).start()

    signal.signal(signal.SIGINT, on_signal)
    signal.signal(signal.SIGTERM, on_signal)
    supervise(
        start,
        attempt_limit=args.connect_attempt_limit,
        delay=args.connect_attempt_delay,
        stop=stop,
    )
    # stop the session while the py4j callback server is still up:
    # SparkContext.stop drains the listener bus, so the stopped query's
    # last progress event is delivered instead of failing at exit
    spark.stop()


if __name__ == "__main__":
    main()
