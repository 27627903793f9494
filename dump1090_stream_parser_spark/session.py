"""SparkSession factory and runtime configuration.

The reference exposes exactly two performance knobs -- commit batching and
socket read buffering (SURVEY.md Appendix A L19-L22) -- because SQLite has
no planner worth tuning. On Spark the equivalent discipline is *config,
not code* (SURVEY.md §4.2): enable AQE so shuffle partition counts and
skew handling are decided at runtime, keep the session timezone fixed at
UTC so timestamp semantics are deterministic, and allow nanosecond parquet
timestamps (the ``events`` table is TIMESTAMP(NANOS)) to load as longs
that we convert to microsecond timestamps ourselves.

Everything in ``RUNTIME_CONF`` is runtime-settable, so the same settings
can be applied to a SparkSession we did not create (the driver harness
owns the session used by ``__spark_entry__``).

:func:`get_spark` also turns PySpark's call-site capture off. On every
DataFrame/Column function call, PySpark's ``_with_origin`` wrapper would
otherwise look up the active session, read a conf, and set and clear the
JVM-side origin: about five py4j round trips per call, a quarter of a
warm plan build. What that loses is the PySpark ``file:line`` lines in a
DataFrame error's context; Spark's error classes and messages stay. The
flag is a static SQL conf (``spark.conf.set`` rejects it) that PySpark
reads once per process, at its first wrapped call, so it is set where
the session is created and a foreign session keeps its owner's choice.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Confs safe to set on a live session (verified runtime-settable on 4.1.2).
RUNTIME_CONF: dict[str, str] = {
    # Deterministic timestamp semantics; matches DuckDB's naive timestamps.
    "spark.sql.session.timeZone": "UTC",
    # events.parquet stores TIMESTAMP(NANOS); read as long, convert in tables.py.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime re-planning: coalesce small shuffle partitions, split skewed ones.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # MIN/MAX/COUNT can be answered from parquet footers.
    "spark.sql.parquet.aggregatePushdown": "true",
    # Modern INT64 timestamps, not the legacy INT96 default: INT96
    # carries NO footer min/max, which silently disables both the
    # snapshot manifests' file skipping and Spark's own row-group
    # skipping on every timestamp column (found by the statsweep
    # probe regressing to open-everything, round 13).
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply engine conf to an externally created session (idempotent)."""
    for key, value in RUNTIME_CONF.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Static conf on this build -- keep going; defaults are workable.
            pass
    return spark


def get_spark(
    master: str = "local[*]",
    app_name: str = "dump1090-stream-parser-spark",
    shuffle_partitions: int = 32,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a tuned SparkSession.

    ``shuffle_partitions`` is a *ceiling*: with AQE on, Spark coalesces
    post-shuffle partitions down to fit actual data volume, so a value
    sized for the largest query is safe for the smallest.
    """
    # Local mode = one JVM for driver+executors; size it for the machine
    # (static conf -- only effective when this call creates the JVM).
    memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", memory)
        .config("spark.driver.maxResultSize", "4g")
        # static: Spark's default of 100 generated classes thrashes on
        # query sets above about 100 classes, recompiling every pass
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # static: no PySpark call-site capture (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for key, value in RUNTIME_CONF.items():
        builder = builder.config(key, value)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
