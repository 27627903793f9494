"""Optional drop-in parity sink: SQLite.

The reference's output artifact is ``adsb_messages.db`` with one
``squitters`` table (Appendix A L35-L62); downstream users point the
sqlite3 CLI at it. For drop-in migration this sink writes the same
artifact from a foreachBatch stream -- micro-batch INSERTs inside one
transaction reproduce the reference's ``--batch-size`` batched-commit
behavior (Appendix A L134-L140) with the batch boundary now defined by
the trigger interval.

Scale note: SQLite is a single-writer file -- this sink exists for
parity/migration, not scale. The parquet sink in pipeline.py is the
real path; this one funnels through the driver deliberately
(toPandas), which is fine at SBS-1 rates (<= a few k rows/s).
"""

from __future__ import annotations

import sqlite3

from pyspark.sql import DataFrame

from ..sources.sbs1 import SBS1_FIELDS

#: Reference DDL (Appendix A L37-L61), byte-compatible for sqlite3 users.
SQUITTERS_SQLITE_DDL = """
CREATE TABLE IF NOT EXISTS squitters (
    message_type TEXT, transmission_type INT, session_id INT,
    aircraft_id INT, hex_ident TEXT, flight_id INT,
    generated_date TEXT, generated_time TEXT, logged_date TEXT,
    logged_time TEXT, callsign TEXT, altitude INT, ground_speed REAL,
    track REAL, lat REAL, lon REAL, vertical_rate REAL, squawk TEXT,
    alert INT, emergency INT, spi INT, is_on_ground INT,
    parsed_time TEXT
)
"""

_COLS = [name for name, _ in SBS1_FIELDS] + ["parsed_time"]


def write_sqlite_batch(
    silver_batch: DataFrame, db_path: str, batch_id: int | None = None
) -> int:
    """Append one micro-batch of Silver rows to the SQLite parity DB.

    Use inside foreachBatch on rows already computed, as the CLI's
    ``cli.batch_writer`` does with each batch's committed Silver
    parquet: ``silver(batch)`` would parse the batch a second time.
    Returns rows written. One transaction per micro-batch = the
    reference's batched commit -- and when ``batch_id`` is given, the
    batch-ledger insert rides in the SAME transaction, so a re-delivered
    micro-batch is skipped instead of double-inserted (exactly-once; the
    reference's lock-retry path could double-insert).
    """
    pdf = silver_batch.select(*_COLS).toPandas()
    pdf["parsed_time"] = pdf["parsed_time"].map(
        lambda t: t.isoformat() if t is not None else None
    )
    conn = sqlite3.connect(db_path)
    try:
        conn.execute(SQUITTERS_SQLITE_DDL)
        if batch_id is not None:
            conn.execute(
                "CREATE TABLE IF NOT EXISTS _ingested_batches "
                "(batch_id INTEGER PRIMARY KEY)"
            )
            done = conn.execute(
                "SELECT 1 FROM _ingested_batches WHERE batch_id = ?",
                (batch_id,),
            ).fetchone()
            if done:
                return 0
            conn.execute(
                "INSERT INTO _ingested_batches VALUES (?)", (batch_id,)
            )
        placeholders = ",".join("?" * len(_COLS))
        conn.executemany(
            f"INSERT INTO squitters VALUES ({placeholders})",
            pdf.itertuples(index=False, name=None),
        )
        conn.commit()
    finally:
        conn.close()
    return len(pdf)


def stage_batch(
    batch_df: DataFrame, stage_dir: str, batch_id: int
) -> DataFrame:
    """Durable micro-batch WAL for DUAL-WRITE sinks over a
    NON-replayable source (round 13; found by the capstone e2e).

    A socket source cannot re-deliver data: when a crash lands between
    two ledgered sinks in one foreachBatch, the restart's re-delivered
    batch N arrives EMPTY (the wire's bytes are gone), the first
    sink's ledger skips N, the second sink applies the empty batch --
    and the stores have PERMANENTLY diverged by the in-flight rows.
    No ledger can heal data only one store ever saw.

    Staging closes the window: persist the batch as its own WAL
    segment (idempotent by batch id -- a segment with _SUCCESS is
    never rewritten), and feed every downstream sink FROM THE SEGMENT.
    Whatever a restart re-delivers for batch N, both sinks re-apply
    the same staged rows; their ledgers de-duplicate; the stores
    converge. Crash DURING staging: no _SUCCESS, segment rewritten
    from the re-delivery -- possibly empty, i.e. the wire lost those
    rows, but both stores then agree on the loss, which is the
    strongest claim a lossy wire admits. Segments are replay scratch,
    prunable once the streaming checkpoint passes them."""
    import os

    path = os.path.join(stage_dir, f"batch={int(batch_id)}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        batch_df.write.mode("overwrite").parquet(path)
    return batch_df.sparkSession.read.schema(batch_df.schema).parquet(
        path
    )


def prune_stage(stage_dir: str, committed_through: int) -> int:
    """Drop WAL segments for batches the streaming checkpoint has
    COMMITTED (their re-delivery is impossible, so the segment can
    never be read again). Call periodically from the foreachBatch
    itself (``prune_stage(stage, batch_id - K)`` keeps a K-batch
    safety margin) or from a janitor. Returns segments removed. Only
    ``batch=N`` children are touched; an in-flight segment (id >
    ``committed_through``) is never."""
    import os
    import re
    import shutil

    removed = 0
    try:
        names = os.listdir(stage_dir)
    except FileNotFoundError:
        return 0
    for name in names:
        m = re.fullmatch(r"batch=(\d+)", name)
        if m and int(m.group(1)) <= committed_through:
            shutil.rmtree(os.path.join(stage_dir, name),
                          ignore_errors=True)
            removed += 1
    return removed


def upsert_batch_writer(base_dir: str, part_col: str, key_col: str, ts_col: str):
    """foreachBatch sink maintaining a materialized latest-state table:
    each micro-batch reduces to its newest row per key (ordered by
    ``ts_col`` with a deterministic whole-row hash tiebreak), then
    patches the partitioned parquet layout via
    :func:`...plans.layout.upsert_partitioned` -- only the partitions
    the batch touches get rewritten, so sink cost tracks batch size,
    not table size.

    CONTRACT: ``part_col`` must be a pure function of ``key_col``
    (e.g. ``key % N`` or a hash bucket). If a key could move between
    partitions, its stale row in the old partition would survive the
    partition-scoped rewrite; the writer validates the batch side of
    this (one partition per key per batch) and raises on violation.

    Exactly-once via idempotence: the per-batch reduction is
    deterministic (ties on ``ts_col`` resolve by an xxhash64 over the
    whole row, not partial-aggregation merge order), so replaying a
    micro-batch upserts the SAME (key, latest-row) set again -- the
    table is a pure function of the prefix of processed batches and
    the offsets-then-sink commit race is harmless (same argument as
    the batch_id=N overwrite sink in pipeline.py, without needing
    batch ids in the layout).

    First delivery bootstraps the layout with a plain partitioned
    write; existence is checked through the Hadoop FileSystem of
    ``base_dir`` (not the driver's local os.path), so hdfs:///s3a://
    destinations bootstrap correctly."""
    from pyspark.sql import functions as F

    from ..plans.layout import upsert_partitioned

    def _exists(spark) -> bool:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        path = jvm.org.apache.hadoop.fs.Path(base_dir)
        return path.getFileSystem(conf).exists(path)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        latest = _newest_per_key(batch_df, part_col, key_col, ts_col)
        spark = batch_df.sparkSession
        if not _exists(spark):
            latest.write.partitionBy(part_col).parquet(base_dir)
            return
        upsert_partitioned(spark, base_dir, latest, part_col, key_col)

    return write


def _newest_per_key(
    batch_df: DataFrame, part_col: str, key_col: str, ts_col: str
) -> DataFrame:
    """One micro-batch reduced to its newest row per key (ordered by
    ``ts_col`` with a deterministic whole-row xxhash64 tiebreak), after
    validating that no key spans two partition values in the batch."""
    from pyspark.sql import functions as F

    moved = (
        batch_df.groupBy(key_col)
        .agg(F.countDistinct(part_col).alias("_np"))
        .filter(F.col("_np") > 1)
        .limit(1)
        .count()
    )
    if moved:
        raise ValueError(
            f"upsert_batch_writer: a {key_col} maps to multiple "
            f"{part_col} values in one batch -- part_col must be a "
            "pure function of the key"
        )
    order = F.struct(
        F.col(ts_col), F.xxhash64(*batch_df.columns).alias("_h")
    )
    return (
        batch_df.groupBy(key_col)
        .agg(F.max_by(F.struct(*batch_df.columns), order).alias("_row"))
        .select([F.col(f"_row.{c}").alias(c) for c in batch_df.columns])
    )


def snapshot_upsert_batch_writer(
    table_dir: str, part_col: str, key_col: str, ts_col: str, app_id: str
):
    """The :func:`upsert_batch_writer` semantics re-pointed at a
    SNAPSHOT table (VERDICT r11 ask #6): the same newest-row-per-key
    micro-batch reduction, committed through the snapshot protocol
    instead of in-place partitioned parquet -- which upgrades the
    sink's guarantees from idempotence-by-determinism to

    - ledger exactly-once: a re-delivered batch_id is a manifest-level
      no-op (no rewrite at all, where the plain writer re-rewrites the
      same bytes);
    - snapshot isolation: readers pinned to a version never see a
      half-applied batch, and a concurrent writer surfaces as
      SnapshotConflict (retried by the underlying sink) instead of a
      torn layout;
    - time travel + compaction on the streamed table itself
      (read_snapshot(version=N), snapshot_compact).

    Same partition-stable-keys contract: ``part_col`` must be a pure
    function of ``key_col`` (validated per batch)."""
    from ..plans.snapshots import snapshot_upsert_sink

    inner = snapshot_upsert_sink(
        table_dir, key_col, app_id=app_id, part_col=part_col
    )

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        inner(
            _newest_per_key(batch_df, part_col, key_col, ts_col),
            batch_id,
        )

    return write
