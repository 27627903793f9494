"""CLI mirroring the reference's argparse surface (A13, Appendix A
L10-L28), driving the Spark-native pipeline:

    python -m dump1090_stream_parser_spark \\
        -l localhost -p 30003 -d ./adsb_out --batch-seconds 5

Option mapping (reference -> here):
    -l/--location, -p/--port        -> sbs1 source options (unchanged)
    (one receiver only)             -> --hosts h1:p1,h2:p2 (JVM sbs1-jvm
                                       source, one drain thread each)
    -d/--database                   -> output directory (parquet Silver +
                                       dead-letter); add --sqlite for the
                                       drop-in SQLite parity artifact
    --buffer-size                   -> sbs1 source buffer_size (unchanged)
    --batch-size (rows/commit)      -> --batch-seconds (trigger interval;
                                       micro-batch = the commit unit)
    --connect-attempt-limit/-delay  -> sbs1 source options (unchanged)
"""

from __future__ import annotations

import argparse


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
                   help="comma-separated host[:port] receivers, read by "
                   "the JVM sbs1-jvm source (overrides -l/-p; needs "
                   "java/sbs1-jvm-source.jar, committed)")
    p.add_argument("--master", default="local[*]")
    return p


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)

    from .session import get_spark
    from .sources.sbs1 import silver
    from .streaming.monitor import IngestCounters, supervise
    from .streaming.pipeline import (
        bronze_from_sbs1,
        bronze_from_sbs1_jvm,
        silver_batch_writer,
        silver_stream,
    )
    from .streaming.sinks import write_sqlite_batch

    hosts = None
    extra_conf = None
    if args.hosts:
        from .sources.sbs1_jvm import jvm_source_conf

        hosts = [
            (h.rsplit(":", 1)[0], int(h.rsplit(":", 1)[1]))
            if ":" in h
            else (h, 30003)
            for h in (p.strip() for p in args.hosts.split(","))
            if h
        ]
        extra_conf = jvm_source_conf()
    spark = get_spark(
        master=args.master, app_name="sbs1-ingest", extra_conf=extra_conf
    )
    counters = IngestCounters(verbose=True)
    spark.streams.addListener(counters)

    out, ckpt = args.database, f"{args.database}/_checkpoint"
    parquet_writer = silver_batch_writer(out)  # idempotent per batch id

    def write_batch(batch, batch_id):
        parquet_writer(batch, batch_id)
        if args.sqlite:
            write_sqlite_batch(silver(batch), args.sqlite, batch_id)

    def start():
        opts = dict(
            buffer_size=args.buffer_size,
            connect_attempt_limit=args.connect_attempt_limit,
            connect_attempt_delay=args.connect_attempt_delay,
        )
        if hosts:
            bronze = bronze_from_sbs1_jvm(spark, hosts, **opts)
        else:
            bronze = bronze_from_sbs1(
                spark, args.location, args.port, **opts
            )
        return (
            silver_stream(bronze)
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime=f"{args.batch_seconds} seconds")
            .start()
        )

    supervise(
        start,
        attempt_limit=args.connect_attempt_limit,
        delay=args.connect_attempt_delay,
    )


if __name__ == "__main__":
    main()
