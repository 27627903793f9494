"""Round-13 optimization batch 6: driver-side plan-build caching.

The batch's claim is behavioral, not numeric: once a query has been
built once in a process, rebuilding it must launch ZERO Spark jobs --
no query-vector/centroid collect jobs, no parquet schema-inference
job. These tests pin that with job groups (thread-local, so the shared
session fixture is safe): any job launched during the warm build lands
in the probe group and fails the assertion. A regression that quietly
reintroduces a per-call collect or footer read (the pre-batch state:
~0.2-2.0 s of build per call) trips this immediately, without timing.

Staleness guard: the caches key on immutable inputs (committed
fixtures, the sf_dir testdata, file paths), so a cached artifact must
be IDENTICAL to a fresh re-derivation -- asserted directly below.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from dump1090_stream_parser_spark import tables
from dump1090_stream_parser_spark.operators import similarity as S

from .conftest import SF_DIR

QUERIES = entry_mod.queries()

#: Queries whose entire warm plan build must be job-free. Excludes
#: lazy-localCheckpoint queries (their build executes real upstream
#: stages by design -- covered by the exec-signature pins instead).
WARM_BUILD_JOB_FREE = [
    "q_ann_pq",
    "q_pq_encode",
    "q_ann_opq",
    "q_opq_encode",
    "q_ann_ivf",
    "q_ann_ivf_join",
    "q_ann_ivf_trained",
    "q_ann_ivf_trained_join",
    "q_join_star",
]


def _jobs_during(spark, fn, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, "warm-build probe: no jobs expected")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", WARM_BUILD_JOB_FREE)
def test_warm_build_launches_no_jobs(spark, name):
    QUERIES[name](spark, SF_DIR)  # cold call: pays collects/inference
    jobs = _jobs_during(
        spark, lambda: QUERIES[name](spark, SF_DIR), f"warmbuild-{name}"
    )
    assert jobs == [], (
        f"{name}: warm plan build launched Spark jobs {jobs} -- a"
        " driver-side artifact (LUT text, centroid rows, parquet"
        " schema) is being re-derived per call again"
    )


def test_schema_cache_matches_fresh_inference(spark):
    for table in ("lineitem", "events", "embeddings", "documents"):
        df = tables.load_table(spark, SF_DIR, table)
        path = tables.table_path(SF_DIR, table)
        assert path in tables._SCHEMA_CACHE
        fresh = spark.read.parquet(path).schema
        assert tables._SCHEMA_CACHE[path] == fresh, (
            f"{table}: cached schema drifted from the file's footer"
        )
        # events: the ts normalization must still run on the cached path
        if table == "events":
            assert dict(df.dtypes)["ts"].startswith("timestamp")


def test_cached_rows_fresh_equals_cached(spark):
    emb = tables.load_table(spark, SF_DIR, "embeddings")
    cached = S._seed_centroid_rows(emb, cache_key=SF_DIR)
    fresh = S._seed_centroid_rows(emb)  # key=None: always re-collects
    assert cached == fresh
    assert S._ivf_fixture_rows(spark) == S._ivf_fixture_rows(spark)


def test_adc_lut_text_cached_and_stable(spark):
    QUERIES["q_ann_pq"](spark, SF_DIR)
    key = f"pq:{SF_DIR}"
    assert key in S._ADC_LUT_TEXT_CACHE
    before = list(S._ADC_LUT_TEXT_CACHE[key])
    QUERIES["q_ann_pq"](spark, SF_DIR)
    assert S._ADC_LUT_TEXT_CACHE[key] == before


def test_clear_plan_caches_rereads_a_rewritten_schema(spark, tmp_path):
    """The schema cache and the frame memo key on the path alone, so a
    table rewritten in place keeps its stale schema and its stale file
    list until ``clear_plan_caches()`` runs."""
    sf_dir = str(tmp_path)
    path = tables.table_path(sf_dir, "part")
    spark.createDataFrame([(1,)], "a bigint").write.parquet(path)
    assert tables.load_table(spark, sf_dir, "part").columns == ["a"]
    spark.createDataFrame([(1, "x")], "a bigint, b string").write.mode(
        "overwrite"
    ).parquet(path)
    assert tables.load_table(spark, sf_dir, "part").columns == ["a"]
    tables.clear_plan_caches()
    assert tables.load_table(spark, sf_dir, "part").columns == ["a", "b"]
    spark.createDataFrame([(2, "y"), (3, "z")], "a bigint, b string").write.mode(
        "append"
    ).parquet(path)
    assert tables.load_table(spark, sf_dir, "part").count() == 1
    tables.clear_plan_caches()
    assert tables.load_table(spark, sf_dir, "part").count() == 3


def test_frame_memo_is_per_session(spark):
    """A memoized scan frame is served again to its own session only."""
    orders = tables.load_table(spark, SF_DIR, "orders")
    assert tables.load_table(spark, SF_DIR, "orders") is orders
    other = spark.newSession()
    try:
        theirs = tables.load_table(other, SF_DIR, "orders")
        assert theirs is not orders
        assert theirs.sparkSession is other
    finally:
        for key in [k for k in tables._FRAME_CACHE if k[0] is other]:
            del tables._FRAME_CACHE[key]


def test_self_join_through_the_memo_matches_two_reads(spark):
    """Two ``load_table`` calls of one table return one frame; a
    self-join over it through aliases gives the rows of two reads."""
    path = tables.table_path(SF_DIR, "nation")

    def pairs(x, y):
        return sorted(
            x.alias("x")
            .join(y.alias("y"), F.col("x.n_regionkey") == F.col("y.n_regionkey"))
            .select("x.n_nationkey", "y.n_nationkey")
            .collect()
        )

    got = pairs(
        tables.load_table(spark, SF_DIR, "nation"),
        tables.load_table(spark, SF_DIR, "nation"),
    )
    assert got == pairs(spark.read.parquet(path), spark.read.parquet(path))
    assert len(got) > 25


#: perfbench/queries.py's timed set.
TIMED = (
    "q_group_topk",
    "q_join_star",
    "q_window_running",
    "q_winsorize",
    "q_gini",
    "q_bucket_join",
    "q_model_score",
)
#: py4j commands of one warm build of TIMED on the test session,
#: measured at 1,009 with call-site capture off and scan frames
#: memoized (2,719 with neither); the ceiling is 1.2x the measured
#: count. Proxy releases (py4j memory commands) are not counted: they
#: go out whenever Python's collector happens to run.
PY4J_CEILING = 1_210


def test_warm_build_py4j_commands(spark, monkeypatch):
    """The build layer's py4j round trips stay near the measured count:
    call-site capture turned back on or a scan rebuilt per call pushes
    them over the ceiling long before a timing shows it."""
    import py4j.clientserver as cs
    from py4j.protocol import MEMORY_COMMAND_NAME

    for name in TIMED:
        QUERIES[name](spark, SF_DIR)
    sent = 0
    send = cs.ClientServerConnection.send_command

    def counting(self, command):
        nonlocal sent
        sent += not command.startswith(MEMORY_COMMAND_NAME)
        return send(self, command)

    monkeypatch.setattr(cs.ClientServerConnection, "send_command", counting)
    for name in TIMED:
        QUERIES[name](spark, SF_DIR)
    monkeypatch.undo()
    assert sent <= PY4J_CEILING, f"warm build of {TIMED} sent {sent} py4j commands"


def test_ckpt_ab_off_arm_returns_the_input_frame(spark):
    """tools/ckpt_ab.py's off arm must really turn checkpoints off on
    a classic session: a patch on ``pyspark.sql.DataFrame`` alone is
    shadowed by the classic subclass's own ``localCheckpoint``."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    from ckpt_ab import CHECKPOINT_MARKERS, checkpoints_off

    from dump1090_stream_parser_spark.plans.inspect import formatted_plan

    df = spark.range(10).groupBy((F.col("id") % 3).alias("k")).count()
    with checkpoints_off():
        assert df.localCheckpoint(eager=False) is df
    ckpt = df.localCheckpoint(eager=False)
    assert ckpt is not df
    assert any(m in formatted_plan(ckpt) for m in CHECKPOINT_MARKERS)
