"""Structured Streaming pipelines: Bronze -> Silver -> Gold.

The reference's whole runtime is one loop: recv -> frame -> validate ->
stamp -> batched INSERT with commit every N rows and reconnect
supervision (SURVEY.md §3.1). Its Spark-native equivalent:

- source: the ``sbs1`` data source (one feed), the JVM ``sbs1-jvm``
  source (many receivers), or file replay (tests) -- all produce the
  same Bronze schema;
- transform: :func:`sources.sbs1.parse_lines` -- the SAME expression set
  batch uses, so stream/batch parity holds by construction;
- sink: ``foreachBatch`` appending partitioned parquet. Checkpointed
  offsets + idempotent-by-batch-id writes replace the reference's
  commit/retry logic (Appendix A L134-L146) with exactly-once semantics;
- gold: windowed aggregates with watermarks, session windows for flight
  legs, watermark-bounded dedup.

Scale posture: the Bronze->Silver map is narrow (no shuffle). Gold aggs
shuffle by (key, window); state size is bounded by the watermark. Sink
files are partitioned by parse date so downstream scans prune.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.sbs1 import dead_letter, parse_lines, silver


# --------------------------------------------------------------------------
# Sources (Bronze). All return a streaming DataFrame of raw lines with the
# column name `value` (+ ingest_ts when the source can supply it).
# --------------------------------------------------------------------------


def bronze_from_file_replay(spark: SparkSession, path: str) -> DataFrame:
    """Line-framed file replay -- the test/CI source (SURVEY.md §7.1 M3)."""
    return spark.readStream.text(path)


def bronze_from_sbs1(
    spark: SparkSession, host: str = "localhost", port: int = 30003, **options
) -> DataFrame:
    """The custom ``sbs1`` source: reconnect/backoff + per-row receive
    timestamps (A1/A2/A9/A13). Options mirror the reference CLI
    (Appendix A L13-L26): buffer_size, connect_attempt_limit,
    connect_attempt_delay."""
    from ..sources.sbs1_source import register

    register(spark)
    reader = (
        spark.readStream.format("sbs1")
        .option("location", host)
        .option("port", str(port))
    )
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()


def bronze_from_sbs1_jvm(
    spark: SparkSession, hosts: list[tuple[str, int]], **options
) -> DataFrame:
    """Multi-receiver ingest: the custom JVM ``sbs1-jvm`` source
    (``java/src/sbs1/Sbs1JvmSource.java``). ``hosts`` is a list of
    (host, port) pairs.

    One drain thread per receiver (reconnect/backoff, partial-line
    carry, blob-granularity replay buffer with recv BACKPRESSURE,
    per-receiver line-count offsets, data-bearing partitions bounded to
    ``rows_per_partition``), written against the Java DataSource V2
    API: framing runs on plain JVM threads (no GIL), partitions carry
    a few large byte[] blobs (size-proportional Java serialization,
    no per-row cost), executor tasks split lines as zero-copy
    UTF8String slices -- and the downstream ``parse_lines`` ->
    ``silver`` path is pure JVM expressions, so the ENTIRE pipeline
    never touches a Python worker. Measured numbers live in
    BASELINE.md's round-12 ingest row (`tools/ingest_bench.py jvm`).

    Contract: per-row receive timestamps, in-source reconnect/backoff,
    exactly-once into the batch (planned ranges are re-read from the
    replay payload on task retry), commit-pruned replay buffer, and a
    restart that rebases the fresh connection onto the checkpointed
    offsets; replay beyond the in-memory buffer is unavailable
    (ephemeral TCP -- the reference's own semantics, SURVEY.md §3.2). The jar must be on the
    session classpath at JVM launch: build the session with
    ``extra_conf=sources.sbs1_jvm.jvm_source_conf()``.
    """
    if not hosts:
        raise ValueError(
            "bronze_from_sbs1_jvm needs at least one (host, port)"
        )
    from ..sources.sbs1_jvm import jvm_source_available

    if not jvm_source_available(spark):
        raise RuntimeError(
            "the sbs1-jvm source class is not on the driver classpath;"
            " build the session with extra_conf="
            "dump1090_stream_parser_spark.sources.sbs1_jvm"
            ".jvm_source_conf() (spark.jars must include"
            " java/sbs1-jvm-source.jar at JVM launch -- addJar after"
            " the fact cannot extend the DataSource lookup classpath)"
        )
    reader = spark.readStream.format("sbs1-jvm").option(
        "hosts", ",".join(f"{h}:{p}" for h, p in hosts)
    )
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()


# --------------------------------------------------------------------------
# Silver
# --------------------------------------------------------------------------


def silver_stream(bronze: DataFrame) -> DataFrame:
    """Bronze -> validated Silver stream (shared parser; narrow map)."""
    parsed_time = (
        F.col("ingest_ts") if "ingest_ts" in bronze.columns else None
    )
    return parse_lines(bronze, parsed_time=parsed_time)


def silver_batch_writer(out_dir: str):
    """The foreachBatch function for :func:`write_silver`, exposed so
    tests can drive a batch replay directly."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        # Idempotence: each micro-batch owns a batch_id=N directory and
        # OVERWRITES it, so a re-delivered batch (failure between sink
        # write and offset commit) replaces its own output instead of
        # double-appending. batch_id surfaces as a partition column on
        # read; parsed_date partitioning under it keeps date pruning.
        good = silver(batch).withColumn(
            "parsed_date", F.to_date("parsed_time")
        )
        good.write.mode("overwrite").partitionBy("parsed_date").parquet(
            f"{out_dir}/squitters/batch_id={batch_id}"
        )
        bad = dead_letter(batch)
        if not bad.isEmpty():
            bad.write.mode("overwrite").parquet(
                f"{out_dir}/dead_letter/batch_id={batch_id}"
            )

    return write_batch


def write_bronze_and_silver(
    bronze: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
):
    """One stream, two layers: archive the RAW lines and write Silver.

    The reference loses any line it mis-frames or that arrives during a
    crash window; archiving Bronze exactly as received (SURVEY.md §7.4.3
    improvement) makes every downstream layer reproducible by replay.
    Both writes share the micro-batch and the batch-id overwrite
    discipline, so replays are exactly-once for both layers. Parsing
    happens inside foreachBatch on the static batch -- same shared
    expression set, so stream/batch parity still holds.
    """
    silver_writer = None

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        nonlocal silver_writer
        batch.write.mode("overwrite").parquet(
            f"{out_dir}/bronze/batch_id={batch_id}"
        )
        parsed_time = (
            F.col("ingest_ts") if "ingest_ts" in batch.columns else None
        )
        if silver_writer is None:
            silver_writer = silver_batch_writer(out_dir)
        silver_writer(parse_lines(batch, parsed_time=parsed_time), batch_id)

    writer = bronze.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def write_silver(
    parsed: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
):
    """Silver to partitioned parquet + dead-letter sink.

    foreachBatch = the reference's batched commit (Appendix A L134-L140),
    except checkpointed offsets + per-batch-id overwrite make replays
    exactly-once instead of best-effort (the reference double-inserts on
    its lock-retry path).
    """
    writer = parsed.writeStream.foreachBatch(
        silver_batch_writer(out_dir)
    ).option("checkpointLocation", checkpoint_dir)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


# --------------------------------------------------------------------------
# Gold (streaming analytics the reference's users run after the fact;
# SURVEY.md §2.2 streaming rows)
# --------------------------------------------------------------------------


def hourly_message_rates(
    silver_df: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Tumbling 1-hour message counts per aircraft; late data beyond the
    watermark is dropped (documented divergence: the reference inserts
    arbitrarily late rows, SURVEY.md §2.2 'watermark')."""
    return (
        silver_df.withWatermark("parsed_time", watermark)
        .groupBy(F.window("parsed_time", "1 hour"), F.col("hex_ident"))
        .agg(F.count("*").alias("n_msgs"))
    )


def sliding_message_rates(
    silver_df: DataFrame,
    window: str = "10 minutes",
    slide: str = "1 minute",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sliding-window rates (SURVEY.md §2.2 'sliding window' -- absent in
    the reference, free in Spark). Each row lands in window/slide panes;
    state bounded by the watermark."""
    return (
        silver_df.withWatermark("parsed_time", watermark)
        .groupBy(F.window("parsed_time", window, slide), F.col("hex_ident"))
        .agg(F.count("*").alias("n_msgs"))
    )


def flight_legs(silver_df: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per aircraft = flight-leg sessionization
    (SURVEY.md §2.2 'session window'; batch twin: q_sessionize)."""
    return (
        silver_df.withWatermark("parsed_time", gap)
        .groupBy(F.session_window("parsed_time", gap), F.col("hex_ident"))
        .agg(
            F.count("*").alias("n_msgs"),
            F.min("parsed_time").alias("leg_start"),
            F.max("parsed_time").alias("leg_end"),
        )
    )


def enrich_with_registry(
    silver_df: DataFrame, registry: DataFrame
) -> DataFrame:
    """Stream-static enrichment join (SURVEY.md §2.2 "Join: inner equi",
    streaming form): each micro-batch joins against a static aircraft
    registry dimension keyed by hex_ident. The static side is planned
    per batch, so Catalyst broadcasts it when it fits -- the stream side
    never shuffles for this join. At 100 TB the registry is still
    dimension-sized (one row per airframe)."""
    return silver_df.join(F.broadcast(registry), "hex_ident", "left")


def dedup_stream(silver_df: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Duplicate squitters (same aircraft, same generated ts+payload)
    arrive within seconds; dropDuplicatesWithinWatermark bounds the state
    the reference would happily store twice (SURVEY.md §2.2 'dedup')."""
    return silver_df.withWatermark("parsed_time", watermark).dropDuplicatesWithinWatermark(
        ["hex_ident", "generated_ts", "transmission_type", "callsign", "altitude"]
    )


def join_position_with_callsign(
    silver_df: DataFrame,
    watermark: str = "10 minutes",
    max_gap_minutes: int = 10,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join (SURVEY.md §2.2 joins, streaming
    form): position reports (transmission_type 3) pick up the callsign
    from the most-recent-window identity messages (type 1) of the same
    airframe. Both sides carry watermarks and the join predicate bounds
    event-time distance, so Spark can expire state: per-key state holds
    only `watermark + max_gap` worth of rows on either side -- the
    property that keeps an unbounded 100 TB/day feed joinable. The join
    shuffles both streams by hex_ident once; output is append-mode.
    ``how="left_outer"`` emits unmatched positions with a NULL callsign
    once the watermark passes their join window -- state eviction is
    what makes the outer form safe on unbounded feeds."""
    pos = (
        silver_df.filter(F.col("transmission_type") == 3)
        .select(
            "hex_ident",
            F.col("parsed_time").alias("pos_time"),
            "lat",
            "lon",
            "altitude",
        )
        .withWatermark("pos_time", watermark)
    )
    ident = (
        silver_df.filter(F.col("transmission_type") == 1)
        .select(
            F.col("hex_ident").alias("cs_hex"),
            F.col("callsign"),
            F.col("parsed_time").alias("cs_time"),
        )
        .withWatermark("cs_time", watermark)
    )
    return pos.join(
        ident,
        F.expr(
            f"""
            hex_ident = cs_hex
            AND cs_time BETWEEN pos_time - INTERVAL {max_gap_minutes} MINUTES
                            AND pos_time
            """
        ),
        how,
    ).select(
        "hex_ident", "pos_time", "lat", "lon", "altitude",
        "callsign", "cs_time",
    )
