"""SBS-1 ("BaseStation") message parsing: Bronze -> Silver.

The reference frames ``\\n``-delimited CSV lines from a dump1090 TCP
broadcast, keeps exactly the 22-field lines, appends a parse timestamp,
and inserts raw strings into SQLite, letting column affinity coerce types
(SURVEY.md Appendix A L113-L129; §1.1-1.2). This module is the Spark-first
re-expression:

- one declarative column expression set (``F.split`` + casts) shared by
  batch replay and Structured Streaming, so stream/batch parity holds by
  construction (SURVEY.md §5.2 item 4);
- explicit ``'' -> NULL`` normalization replacing SQLite affinity
  (deliberate divergence, SURVEY.md §7.4.1);
- arity != 22 rows dead-lettered with the raw line preserved instead of
  silently re-buffered (improvement over Appendix A L146-L150);
- ``ground_speed``/``track`` typed DOUBLE (protocol allows fractional;
  divergence-as-fix, SURVEY.md §7.4.5).

At scale: this is a pure narrow map over the line stream -- no shuffle,
fully whole-stage-codegen'd; Silver output should be partitioned by
``date(parsed_time)`` and bucketed by ``hex_ident`` (see streaming.pipeline).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: The 22 SBS-1 fields in wire order with Silver types
#: (SURVEY.md §1.2 table; FIXTURES.md §1.3 DDL).
SBS1_FIELDS: tuple[tuple[str, str], ...] = (
    ("message_type", "string"),
    ("transmission_type", "int"),
    ("session_id", "int"),
    ("aircraft_id", "int"),
    ("hex_ident", "string"),
    ("flight_id", "int"),
    ("generated_date", "string"),
    ("generated_time", "string"),
    ("logged_date", "string"),
    ("logged_time", "string"),
    ("callsign", "string"),
    ("altitude", "int"),
    ("ground_speed", "double"),
    ("track", "double"),
    ("lat", "double"),
    ("lon", "double"),
    ("vertical_rate", "double"),
    ("squawk", "string"),
    ("alert", "int"),
    ("emergency", "int"),
    ("spi", "int"),
    ("is_on_ground", "int"),
)

#: Silver DDL including the ingest-added 23rd column (Appendix A L60:
#: ``parsed_time`` TEXT -> TimestampType here).
SQUITTERS_DDL = (
    ", ".join(f"{name} {typ}" for name, typ in SBS1_FIELDS)
    + ", parsed_time timestamp"
)

#: Which MSG transmission types populate which nullable fields
#: (SURVEY.md §1.2 sparse-union matrix) -- used by tests.
POPULATION_MATRIX: dict[int, set[str]] = {
    1: {"callsign"},
    2: {"altitude", "ground_speed", "track", "lat", "lon", "is_on_ground"},
    3: {"altitude", "lat", "lon", "alert", "emergency", "spi", "is_on_ground"},
    4: {"ground_speed", "track", "vertical_rate"},
    5: {"altitude", "alert", "spi", "is_on_ground"},
    6: {"altitude", "squawk", "alert", "emergency", "spi", "is_on_ground"},
    7: {"altitude", "is_on_ground"},
    8: {"is_on_ground"},
}


def _typed_field(fields: Column, i: int, name: str, typ: str) -> Column:
    # '' -> NULL replaces SQLite affinity's store-as-is (SURVEY.md §7.4.1).
    # try_cast, not cast: under ANSI mode (Spark 4 default) a malformed
    # numeric would kill the stream; NULL-on-garbage is the policy here.
    raw = F.nullif(fields[i], F.lit(""))
    return raw.try_cast(typ).alias(name)


def parse_lines(
    lines: DataFrame,
    value_col: str = "value",
    parsed_time: Column | None = None,
) -> DataFrame:
    """Bronze lines -> Silver squitters + ``_corrupt_record`` dead-letter.

    Works identically on a batch DataFrame and a streaming DataFrame
    (narrow transformation only). Returns all 23 Silver columns plus
    ``_corrupt_record`` (the raw line, non-NULL iff the line failed the
    22-field arity check, Appendix A L125) and derived ``generated_ts``
    / ``logged_ts`` timestamps.

    ``parsed_time`` defaults to ``current_timestamp()``; the reference
    stamps per-row at parse time (Appendix A L86), Spark stamps per-batch
    -- documented divergence (SURVEY.md §7.4.2). The ``sbs1-jvm``
    source supplies a receive-side timestamp instead (the faithful path).
    """
    if parsed_time is None:
        parsed_time = F.current_timestamp()

    # STAGE the split array as its own projection: the 23 typed columns
    # reference it 40+ times, and CollapseProject keeps a non-cheap
    # multiply-referenced alias in its own project, so the line is
    # trimmed + split ONCE per row. Inlining the split into every
    # column expression re-evaluated it per column -- measured 8x slower
    # (~90k vs ~716k rows/s on local[32]).
    # CRLF tolerance via rtrim-of-'\r', not regexp_replace('\r$'):
    # the regex engine cost 31% of the whole parse path (measured
    # 857k -> 1.13M rows/s at 8M lines on local[32], round 13). The
    # only behavioral difference is pathological multi-'\r' tails
    # ("a,b\r\r"), where trimming ALL of them matches the reference's
    # strip() closer than removing one.
    fields = F.split(
        F.rtrim(F.col(value_col), F.lit("\r")), ",", -1
    )
    # Pass through non-value Bronze columns (e.g. the sbs1-jvm source's
    # ingest_ts) so the parsed_time expression may reference them too.
    extras = [c for c in lines.columns if c != value_col]
    staged = lines.select(F.col(value_col), *extras, fields.alias("_fields"))

    f = F.col("_fields")
    ok = F.size(f) == 22
    cols = [
        F.when(ok, _typed_field(f, i, name, typ)).alias(name)
        for i, (name, typ) in enumerate(SBS1_FIELDS)
    ]
    cols.append(F.when(~ok, F.col(value_col)).alias("_corrupt_record"))
    out = staged.select(*cols, *extras)

    # try_to_timestamp: malformed/missing date parts -> NULL, never a
    # query-killing ANSI parse error. Derived BEFORE parsed_time is
    # stamped so callers may pass e.g. F.col("generated_ts") as the
    # parsed_time (deterministic event-time replay in tests).
    ts_fmt = F.lit("yyyy/MM/dd HH:mm:ss.SSS")
    out = out.withColumns(
        {
            "generated_ts": F.try_to_timestamp(
                F.concat_ws(" ", "generated_date", "generated_time"), ts_fmt
            ),
            "logged_ts": F.try_to_timestamp(
                F.concat_ws(" ", "logged_date", "logged_time"), ts_fmt
            ),
        }
    )
    valid = F.col("_corrupt_record").isNull()
    return out.select(  # drops the passed-through Bronze extras

        *[name for name, _ in SBS1_FIELDS],
        F.when(valid, parsed_time).alias("parsed_time"),
        "_corrupt_record",
        "generated_ts",
        "logged_ts",
    )


def silver(parsed: DataFrame) -> DataFrame:
    """Valid Silver rows only."""
    return parsed.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")


def dead_letter(parsed: DataFrame) -> DataFrame:
    """Rows that failed validation, raw line preserved for replay."""
    return parsed.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_line"),
        F.lit("arity != 22").alias("reason"),
    )


def create_squitters_table(spark, location: str, name: str = "squitters") -> None:
    """DDL bootstrap (Appendix A L37-L62 twin): partitioned parquet table.

    Partitioning by parse date keeps time-range scans pruned; at 100 TB
    add bucketing by hex_ident for shuffle-free per-aircraft analytics.
    """
    spark.sql(
        f"""
        CREATE TABLE IF NOT EXISTS {name} ({SQUITTERS_DDL},
            generated_ts timestamp, logged_ts timestamp,
            parsed_date date)
        USING parquet
        PARTITIONED BY (parsed_date)
        LOCATION '{location}'
        """
    )
