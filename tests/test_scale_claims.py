"""Structural scale claims, checked as shuffle-record relations.

Each test runs the stage meter (``plans/metrics.py:metered_run``) over
two sizes of one synthetic input, or two plans over the same input,
and asserts a relation between the readings: an exchange that stays
flat while its exact counterpart grows, or one plan moving fewer
records than another. No test asserts an absolute count or a wall
time, so the checks hold on any core count. Each test reads both arms,
so a meter that read 0 everywhere would fail it.

docs/SCALE.md keeps the larger one-off measurements these checks
stand for; the sections it marks historical are not re-measured.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from dump1090_stream_parser_spark.plans.metrics import metered_run

from .conftest import SF_DIR

pytestmark = pytest.mark.slow


def _records(spark, build) -> int:
    return metered_run(spark, build)["shuffle_records"]


@contextmanager
def _conf(spark, conf: dict[str, str]):
    """Set session confs for the block, then restore the old values."""
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _no_broadcast(spark):
    """Joins shuffle as they do once a side outgrows the broadcast
    budget (an explicit ``F.broadcast`` still broadcasts)."""
    return _conf(spark, {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    })


def _documents(ids, text, path: str) -> None:
    """Write a documents table over ``ids(doc_id)``, with ``text`` a
    column of ``doc_id``, as 4 files: the scan runs 4 tasks at every
    size."""
    ids.withColumnRenamed("id", "doc_id").select(
        "doc_id",
        text.alias("text"),
        F.lit("en").alias("lang"),
        F.concat(F.lit("s"), F.pmod("doc_id", F.lit(8))).alias("source"),
        F.length(text).alias("n_chars"),
    ).repartition(4).write.parquet(f"{path}/documents.parquet")


def _words(prefix: str, tag, n: int):
    """``n`` tokens ``<prefix><tag>x<i>``: unique to ``tag``."""
    return F.transform(
        F.sequence(F.lit(1), F.lit(n)),
        lambda i: F.concat(F.lit(prefix), tag.cast("string"), F.lit("x"),
                           i.cast("string")),
    )


def _text(*word_arrays):
    return F.concat_ws(" ", F.concat(*word_arrays))


def test_countmin_exchange_is_flat_in_key_cardinality(spark):
    """q_countmin's grid build: partial aggregation collapses each map
    partition to at most DEPTH x WIDTH cells, so its exchange does not
    grow with the number of distinct keys. An exact per-key groupBy
    shuffles one row per (key, partition that saw it)."""
    from dump1090_stream_parser_spark.operators.pipeline_ops import (
        countmin_cells,
    )

    got = {}
    for n in (100_000, 400_000):
        # n/8 distinct keys, ~8 rows each, over a fixed 4 partitions
        keys = spark.range(0, n, 1, 4).select(
            (F.col("id") % (n // 8)).alias("user_id")
        )
        got[n] = (
            _records(spark, lambda: countmin_cells(keys, "user_id")),
            _records(spark, lambda: keys.groupBy("user_id").count()),
        )
    (cms1, exact1), (cms4, exact4) = got[100_000], got[400_000]
    assert cms4 == cms1 > 0, got
    assert exact4 >= 3 * exact1, got
    assert cms1 < exact1, got


def test_windowed_dup_spans_moves_fewer_records_than_bloom(spark, tmp_path):
    """On a corpus where 5% of documents share boilerplate, q_dup_spans'
    one window over the gram stream moves fewer records than
    q_dup_spans_bloom, whose bitmap build aggregates the whole stream
    before its prefilter can drop anything; both find the same spans."""
    from dump1090_stream_parser_spark.operators.dedup import (
        q_dup_spans,
        q_dup_spans_bloom,
    )

    n = 10_000
    path = str(tmp_path)
    doc = F.col("doc_id")
    # every 20th document leads with a 12-token block from a pool of
    # n/100 templates (~5 documents each); all other tokens are unique
    template = (doc / 20).cast("long") % (n // 100)
    text = F.when(
        doc % 20 == 0, _text(_words("b", template, 12), _words("w", doc, 50))
    ).otherwise(_text(_words("w", doc, 50)))
    _documents(spark.range(n), text, path)
    with _no_broadcast(spark):
        exact = _records(spark, lambda: q_dup_spans(spark, path))
        bloom = _records(spark, lambda: q_dup_spans_bloom(spark, path))
        spans = {tuple(r) for r in q_dup_spans(spark, path).collect()}
        assert spans == {
            tuple(r) for r in q_dup_spans_bloom(spark, path).collect()
        }
    assert spans
    assert 0 < exact < bloom, (exact, bloom)


def test_source_overlap_sketch_exchange_is_flat(spark, tmp_path):
    """q_source_overlap_kmv's sketch stage keeps the SOV_K smallest gram
    hashes per source through row_number, so WindowGroupLimit forwards
    at most SOV_K rows per source from each map partition: fed the raw
    gram stream (the plan without the exact certificate legs), its
    exchange stays flat from x1 to x4. q_source_overlap's distinct-gram
    self-join grows with the corpus."""
    from pyspark.sql.window import Window

    from dump1090_stream_parser_spark.functions.hashing import (
        portable_hash64,
    )
    from dump1090_stream_parser_spark.operators.dedup import (
        SOV_K,
        q_source_overlap,
    )
    from dump1090_stream_parser_spark.operators.text import tokens_col
    from dump1090_stream_parser_spark.tables import load_table

    def sketch(path):
        t = load_table(spark, path, "documents").select(
            "source", tokens_col().alias("t")
        )
        grams = t.select(
            "source",
            F.explode(F.expr(
                "transform(sequence(0, size(t) - 5),"
                " i -> concat_ws(' ', slice(t, i + 1, 5)))"
            )).alias("gram"),
        ).select("source", portable_hash64(F.col("gram")).alias("h"))
        w = Window.partitionBy("source").orderBy("h")
        return grams.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") <= SOV_K
        )

    got = {}
    for n in (4_000, 16_000):
        path = f"{tmp_path}/x{n}"
        doc = F.col("doc_id")
        # every 5th document appends a 12-token block from a template
        # pool of n/200 shared across sources, so overlap is real
        template = (doc / 5).cast("long") % (n // 200)
        text = F.when(
            doc % 5 == 0, _text(_words("w", doc, 40), _words("t", template, 12))
        ).otherwise(_text(_words("w", doc, 40)))
        _documents(spark.range(n), text, path)
        with _no_broadcast(spark):
            got[n] = (
                _records(spark, lambda: sketch(path)),
                _records(spark, lambda: q_source_overlap(spark, path)),
            )
    (kmv1, exact1), (kmv4, exact4) = got[4_000], got[16_000]
    assert kmv4 == kmv1 > 0, got
    assert exact4 >= 3 * exact1, got


def _power_law_edges(spark, n_nodes: int):
    """Undirected (u < v) edges from 8 draws per node, whose endpoints
    follow a 1/rank law (inverse CDF floor(exp(u ln N))), with node
    labels scrambled by a hash so that id order says nothing about
    degree."""

    def rank(tag):
        unif = (
            F.xxhash64(F.concat(F.lit(tag), F.col("id").cast("string")))
            % 1_000_000
        ).cast("double") / 1_000_000.0 + 0.5e-6
        return F.least(
            F.floor(F.exp(unif * F.log(F.lit(float(n_nodes))))),
            F.lit(n_nodes),
        ).cast("long")

    def label(r):
        return F.pmod(
            F.xxhash64(F.concat(F.lit("n"), r.cast("string"))),
            F.lit(1 << 40),
        )

    e = (
        spark.range(8 * n_nodes)
        .select(label(rank("a")).alias("x"), label(rank("b")).alias("y"))
        .filter(F.col("x") != F.col("y"))
    )
    return e.select(
        F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v")
    ).distinct().localCheckpoint(eager=True)


def test_degree_orientation_splits_hub_wedges(spark):
    """q_triangles orients each edge from the lower-(degree, node)
    endpoint to the higher. On a power-law graph with scrambled labels
    that leaves far fewer wedge paths (the closing join's input,
    sum over nodes of in-degree x out-degree) than id order, and the
    census is the same."""
    from dump1090_stream_parser_spark.operators.basket import (
        triangle_census,
    )

    edges = _power_law_edges(spark, 4_000)
    paths, census = {}, {}
    for orient in ("id", "degree"):
        o = triangle_census(edges, orient=orient, _oriented_only=True)
        paths[orient] = (
            o.groupBy("v").agg(F.count(F.lit(1)).alias("din"))
            .join(o.groupBy("u").agg(F.count(F.lit(1)).alias("dout")),
                  F.col("v") == F.col("u"))
            .agg(F.sum(F.col("din") * F.col("dout")))
            .collect()[0][0]
        )
        census[orient] = triangle_census(edges, orient=orient).collect()
    assert census["id"] == census["degree"]
    assert census["id"][0]["n_triangles"] > 0
    assert 10 * paths["degree"] < paths["id"], paths


def _replicate(src: str, factor: int, out: str, tables) -> None:
    """``factor`` copies of each ``(table, key)`` with the key offset per
    copy (every copy is new rows, not duplicates), written as one file
    of 4 row groups at any factor: the scan runs the same number of
    tasks at every size."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    for name, key in tables:
        t = pq.read_table(f"{src}/{name}.parquet")
        i = t.schema.get_field_index(key)
        rep = pa.concat_tables(
            t.set_column(i, key, pc.add(t[key], k * t.num_rows))
            for k in range(factor)
        )
        pq.write_table(
            rep, f"{out}/{name}.parquet",
            row_group_size=-(-rep.num_rows // 4),
        )


def test_single_pass_digests_exchange_is_flat_under_replication(
    spark, tmp_path
):
    """q_table_digest and q_subsample_ci are one scan plus map-side
    partial aggregation into a bounded cell set, so their exchanges do
    not grow from x1 to x4 at a fixed number of scan tasks. An exact
    distinct over the copies' (l_orderkey, l_linenumber) keys grows with
    them."""
    from dump1090_stream_parser_spark.operators.pipeline_ops import (
        q_table_digest,
    )
    from dump1090_stream_parser_spark.operators.statistics import (
        q_subsample_ci,
    )
    from dump1090_stream_parser_spark.tables import load_table

    tables = (("lineitem", "l_orderkey"), ("orders", "o_orderkey"))
    for factor in (1, 4):
        os.makedirs(f"{tmp_path}/x{factor}")
        _replicate(SF_DIR, factor, f"{tmp_path}/x{factor}", tables)
    # split size under a quarter of the smallest x1 file: the scan has
    # at least as many splits as cores, so no input spread runs (the
    # production regime)
    split = min(
        os.path.getsize(f"{tmp_path}/x1/{t}.parquet") for t, _ in tables
    ) // 4
    got = {}
    with _conf(spark, {"spark.sql.files.maxPartitionBytes": str(split)}):
        for factor in (1, 4):
            path = f"{tmp_path}/x{factor}"
            got[factor] = tuple(
                _records(spark, build)
                for build in (
                    lambda: q_table_digest(spark, path),
                    lambda: q_subsample_ci(spark, path),
                    lambda: load_table(spark, path, "lineitem")
                    .select("l_orderkey", "l_linenumber").distinct(),
                )
            )
    (dig1, ci1, exact1), (dig4, ci4, exact4) = got[1], got[4]
    assert dig4 == dig1 > 0, got
    assert ci4 == ci1 > 0, got
    assert exact4 >= 3 * exact1, got


def test_contamination_bloom_exchange_stays_eval_sized(spark, tmp_path):
    """With an eval split past the broadcast budget, q_contamination's
    semi-join shuffles the train gram stream, so its exchange grows
    with train; q_contamination_bloom shuffles only the eval side and
    the Bloom false positives, so from x1 to x4 train it grows by a
    small part of what the exact audit adds. Both give the same rows."""
    from dump1090_stream_parser_spark.functions.hashing import (
        portable_hash64,
    )
    from dump1090_stream_parser_spark.operators.pipeline_ops import (
        _EVAL_GE,
        _TRAIN_LT,
        q_contamination,
        q_contamination_bloom,
    )

    eval_base, eval_span = 1 << 40, 20_000  # ~2k eval docs at any factor
    got = {}
    for factor in (1, 4):
        k = 2_500 * factor  # ~2k x factor train docs (the 80% bucket)
        path = f"{tmp_path}/x{factor}"
        doc = F.col("doc_id")
        # every token embeds its doc_id: train and eval share no gram,
        # so every Bloom survivor is a false positive
        bucket = portable_hash64(F.col("id")) % 100
        ids = spark.range(k).union(
            spark.range(eval_base, eval_base + eval_span)
        ).filter(
            ((bucket < _TRAIN_LT) & (F.col("id") < k))
            | ((bucket >= _EVAL_GE) & (F.col("id") >= eval_base))
        )
        _documents(ids, _text(_words("w", doc, 54)), path)
        with _no_broadcast(spark):
            got[factor] = (
                _records(spark, lambda: q_contamination(spark, path)),
                _records(spark, lambda: q_contamination_bloom(spark, path)),
            )
            if factor == 4:
                rows = {tuple(r) for r in q_contamination(spark, path).collect()}
                assert rows == {
                    tuple(r) for r in q_contamination_bloom(spark, path).collect()
                }
    (exact1, bloom1), (exact4, bloom4) = got[1], got[4]
    assert bloom4 < exact4, got
    assert 5 * (bloom4 - bloom1) < exact4 - exact1, got
