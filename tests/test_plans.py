"""Plan-quality gates (SURVEY.md §4 / the 100 TB posture).

Correctness tests say the answers are right; these say the *plans* are
the ones that survive a 100x scale-up: filters reach the scan, scans
are column-pruned, small dims broadcast, codegen covers the hot path.
"""

from __future__ import annotations

import glob
import os
import re
from pathlib import Path

from dump1090_stream_parser_spark.operators.joins import q_join_star
from dump1090_stream_parser_spark.operators.relational import (
    q_filter_range,
    q_group_topk,
    q_project_cast,
)
from dump1090_stream_parser_spark.plans.inspect import (
    codegen_stage_count,
    formatted_plan,
    join_strategies,
    pushed_filters,
    read_schemas,
    spread_exchange_count,
)

from .conftest import SF_DIR


def test_filter_range_predicates_pushed(spark):
    pf = pushed_filters(q_filter_range(spark, SF_DIR))
    # range + inequality predicates all reach the parquet reader
    assert "GreaterThanOrEqual(l_shipdate" in pf
    assert "LessThan(l_shipdate" in pf
    assert "GreaterThanOrEqual(l_quantity,10" in pf
    assert "Not(EqualTo(l_returnflag,A))" in pf


def test_project_cast_prunes_columns(spark):
    rs = read_schemas(q_project_cast(spark, SF_DIR))
    # 6 of 11 lineitem columns read; the rest must not appear
    for needed in ("l_orderkey", "l_quantity", "l_extendedprice"):
        assert needed in rs
    for pruned in ("l_shipdate", "l_suppkey", "l_partkey", "l_linestatus"):
        assert pruned not in rs


def test_star_join_broadcasts_dims(spark):
    strats = join_strategies(q_join_star(spark, SF_DIR))
    # nation/region explicitly broadcast; no cartesian anywhere
    assert strats.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in strats
    assert "BroadcastNestedLoopJoin" not in strats


def test_topk_avoids_global_sort(spark):
    plan = formatted_plan(q_group_topk(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan  # top-k, not Sort+Limit


def test_flagship_runs_in_codegen(spark):
    assert codegen_stage_count(q_group_topk(spark, SF_DIR)) >= 1


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Bucketing both join sides by the key at write time removes the
    per-query exchange entirely (the 100 TB layout for lineitem x orders,
    docs/SCALE.md)."""
    import re

    from pyspark.sql import functions as F

    from dump1090_stream_parser_spark.plans.layout import bucketed_star_layout

    bucketed_star_layout(spark, SF_DIR, n_buckets=4)
    # disable broadcast: at test scale every table fits a broadcast, but
    # the layout exists for the scale where neither side does -- that is
    # the plan this test pins down
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = spark.table("lineitem_bucketed")
        orders = spark.table("orders_bucketed")
        joined = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        plan = formatted_plan(joined)
        # join itself must not exchange either side (bucket co-location);
        # the only exchange allowed is the final groupBy's.
        assert "SortMergeJoin" in plan
        assert len(re.findall(r"\bExchange hashpartitioning\(l_orderkey",
                              plan)) == 0
        assert len(re.findall(r"\bExchange hashpartitioning\(o_orderkey",
                              plan)) == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS lineitem_bucketed")
        spark.sql("DROP TABLE IF EXISTS orders_bucketed")


def test_no_query_plans_a_cartesian_product(spark):
    """Global plan gate: no registered query may plan a CartesianProduct
    (the knn/ann crossJoins carry a one-row broadcast side and must plan
    as BroadcastNestedLoopJoin, never a shuffled cartesian)."""
    import __spark_entry__ as entry_mod

    offenders = {}
    for name, fn in sorted(entry_mod.queries().items()):
        plan = formatted_plan(fn(spark, SF_DIR))
        if "CartesianProduct" in plan:
            offenders[name] = True
    assert not offenders, f"cartesian products in: {sorted(offenders)}"


def test_aqe_splits_skewed_join(spark):
    """Skew posture (docs/SCALE.md): with AQE skew-join on, a hot key
    partition is split at runtime -- SortMergeJoin(skew=true) -- instead
    of serializing one reducer. Thresholds are lowered so test-scale data
    triggers the same code path production data would."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    prev = {k: spark.conf.get(k) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        fact = spark.range(300000).select(
            F.when(F.col("id") % 10 < 9, 0)
            .otherwise(F.col("id") % 97)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        dim = spark.range(97).select(
            F.col("id").alias("k"),
            F.concat(F.lit("d"), F.col("id")).alias("name"),
        )
        j = fact.join(dim, "k").select(F.sum("payload").alias("s"))
        j.collect()
        plan = (
            j._jdf.queryExecution()
            .executedPlan()
            .toString()
            .split("== Initial Plan ==")[0]
        )
        assert "skew=true" in plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_dedup_shuffle_carries_fingerprint_not_text(spark):
    """q_dedup's exchange must partition on the 60-bit hash: grouping by
    raw text would ship the whole corpus through the shuffle at 100 TB."""
    from dump1090_stream_parser_spark.operators.dedup import q_dedup

    plan = formatted_plan(q_dedup(spark, SF_DIR))
    assert "hashpartitioning(fingerprint" in plan
    assert "hashpartitioning(text" not in plan


def test_pack_shards_window_is_not_single_partition(spark):
    """Sequential shard packing must run inside hash groups: a global
    ordered window (SinglePartition exchange) funnels the corpus through
    one reducer at 100 TB."""
    from dump1090_stream_parser_spark.operators.pipeline_ops import (
        q_pack_shards,
    )

    plan = formatted_plan(q_pack_shards(spark, SF_DIR))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(pack_group" in plan


def test_bm25_is_explode_free(spark):
    """q_bm25's tf comes from array ops inside the row: no Generate
    (explode) anywhere, the 1-row stats side joins as a broadcast, and
    the top-k is TakeOrderedAndProject -- the narrow shape that keeps
    the 100 TB scoring pass shuffle-free up to the final top-k."""
    from dump1090_stream_parser_spark.operators.text import q_bm25

    plan = formatted_plan(q_bm25(spark, SF_DIR))
    assert "Generate" not in plan
    assert "TakeOrderedAndProject" in plan
    strats = join_strategies(q_bm25(spark, SF_DIR))
    assert "SortMergeJoin" not in strats
    assert "ShuffledHashJoin" not in strats


def test_quality_filter_single_shuffle(spark):
    """The whole cascade (features + decision) is a narrow map; the only
    exchange is the final tiny (lang, reason) rollup."""
    from dump1090_stream_parser_spark.operators.text import q_quality_filter

    plan = formatted_plan(q_quality_filter(spark, SF_DIR))
    # formatted mode renders each exchange as "(n) Exchange" with its
    # partitioning on a separate Arguments line. The conditional
    # scan_spread round-robin (round 13, absent at production split
    # counts) is counted separately and allowed at most once.
    n_exchanges = plan.count(") Exchange") - spread_exchange_count(plan)
    assert n_exchanges == 1, plan
    assert spread_exchange_count(plan) <= 1, plan
    assert "Join" not in plan  # no per-doc token-count self-join
    # the token array is staged: exactly one split() of text in the plan
    assert plan.count("split(text") == 1, plan


def test_ngram_top_has_no_positional_self_join(spark):
    """Bigrams are built per-row (transform over an index sequence); the
    positional-self-join formulation would shuffle the exploded corpus
    twice."""
    from dump1090_stream_parser_spark.operators.text import q_ngram_top

    plan = formatted_plan(q_ngram_top(spark, SF_DIR))
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan


def test_funnel_single_exchange(spark):
    """The three stacked stage windows and the per-user rollup must all
    share the user_id partitioning: exactly one exchange in the funnel
    up to the final 1-row aggregate."""
    from dump1090_stream_parser_spark.operators.windows import q_funnel

    plan = formatted_plan(q_funnel(spark, SF_DIR))
    n_hash_exchanges = plan.count("Arguments: hashpartitioning")
    assert n_hash_exchanges == 1, plan


def test_centroid_outliers_broadcasts_centroids(spark):
    """The |labels| x dim centroid table must broadcast back onto the
    embeddings scan -- the scoring pass never shuffles the vectors."""
    from dump1090_stream_parser_spark.operators.similarity import (
        q_centroid_outliers,
    )

    plan = formatted_plan(q_centroid_outliers(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_date_layout_prunes_partitions(spark, tmp_path):
    """A date-range filter over the date-partitioned events layout must
    prune at the directory level: the scan's PartitionFilters carry the
    predicate and the file count drops to the matching days."""
    from pyspark.sql import functions as F

    from dump1090_stream_parser_spark.plans.layout import (
        date_partitioned_events_layout,
    )

    out = str(tmp_path / "events_by_date")
    date_partitioned_events_layout(spark, SF_DIR, out)
    df = (
        spark.read.parquet(out)
        .filter(F.col("event_date") == "2024-01-03")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    plan = formatted_plan(df)
    import re

    assert re.search(
        r"PartitionFilters: \[isnotnull\(event_date#\d+\), "
        r"\(event_date#\d+ = 2024-01-03\)\]",
        plan,
    ), plan
    # pruning is real, not cosmetic: exactly one day's rows survive
    n_days = (
        spark.read.parquet(out)
        .select("event_date").distinct().count()
    )
    assert n_days > 1  # layout actually split days
    rows = df.agg(F.sum("n").alias("s")).collect()[0]["s"]
    import duckdb

    expected = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{SF_DIR}/events.parquet') "
        "WHERE CAST(ts AS DATE) = DATE '2024-01-03'"
    ).fetchone()[0]
    assert rows == expected


def test_pii_scrub_is_pure_narrow_map(spark):
    """Regex plant/extract/replace/hash are all per-row expressions:
    zero exchanges, zero joins -- the linear-scan shape."""
    from dump1090_stream_parser_spark.operators.text import q_pii_scrub

    plan = formatted_plan(q_pii_scrub(spark, SF_DIR))
    # zero KEYED exchanges: only the conditional scan_spread
    # round-robin (absent at production split counts) may appear
    assert plan.count(") Exchange") - spread_exchange_count(plan) == 0, plan
    assert spread_exchange_count(plan) <= 1, plan
    assert "Join" not in plan


def test_quantize_embeddings_single_exchange_no_explode(spark):
    """The quantize + error pass is higher-order array ops inside the
    row; only |labels|-key partial sums cross the one exchange."""
    from dump1090_stream_parser_spark.operators.similarity import (
        q_quantize_embeddings,
    )

    plan = formatted_plan(q_quantize_embeddings(spark, SF_DIR))
    assert plan.count(") Exchange") == 1, plan
    assert "Generate" not in plan
    assert "Join" not in plan


def test_mix_weights_stats_join_is_broadcast(spark):
    """The 1-row corpus-totals side must broadcast back onto the
    per-source aggregate; no sort-merge/shuffle join, no explode."""
    from dump1090_stream_parser_spark.operators.pipeline_ops import (
        q_mix_weights,
    )

    df = q_mix_weights(spark, SF_DIR)
    strats = join_strategies(df)
    assert "SortMergeJoin" not in strats
    assert "ShuffledHashJoin" not in strats
    assert "Generate" not in formatted_plan(df)


def test_join_full_prunes_to_date_columns(spark):
    """Both full-outer inputs pre-aggregate to day counts, so each scan
    must read exactly its date column -- fact columns never load."""
    from dump1090_stream_parser_spark.operators.joins import q_join_full

    schemas = read_schemas(q_join_full(spark, SF_DIR))
    assert "o_orderdate" in schemas and "l_shipdate" in schemas
    for col in ("o_totalprice", "l_quantity", "l_extendedprice"):
        assert col not in schemas, schemas


def test_ann_bucket_layout_prunes_partitions(spark, tmp_path):
    """The at-rest ANN layout: probing the bucket-partitioned
    embeddings must (a) reach the scan as a partition filter -- pruned
    at file-listing time, no full scan -- and (b) return exactly the
    q_ann_lsh result (same buckets, same re-rank)."""
    from dump1090_stream_parser_spark.operators.similarity import (
        QUERY_VEC_ID,
        q_ann_lsh,
    )
    from dump1090_stream_parser_spark.plans.layout import (
        ann_probe_pruned,
        lsh_bucketed_embeddings_layout,
    )

    out = str(tmp_path / "emb_by_bucket")
    lsh_bucketed_embeddings_layout(spark, SF_DIR, out)
    probe = ann_probe_pruned(spark, out, QUERY_VEC_ID)

    plan = formatted_plan(probe)
    part_lines = [
        line for line in plan.splitlines() if "PartitionFilters" in line
    ]
    assert part_lines and any("bucket" in line for line in part_lines), plan

    got = [(r.vec_id, r.cos_sim) for r in probe.collect()]
    want = [
        (r.vec_id, r.cos_sim) for r in q_ann_lsh(spark, SF_DIR).collect()
    ]
    assert got == want


def test_chunk_docs_is_narrow_with_single_generate(spark):
    """Chunking must be a pure linear scan: one explode (the chunk
    index), no joins, no exchanges -- raw text never shuffles."""
    from dump1090_stream_parser_spark.operators.text import q_chunk_docs

    plan = formatted_plan(q_chunk_docs(spark, SF_DIR))
    assert plan.count(") Generate") == 1, plan
    assert "Join" not in plan
    # raw text rides only the conditional scan_spread round-robin
    # (absent at production split counts), never a keyed shuffle
    assert plan.count(") Exchange") - spread_exchange_count(plan) == 0, plan


def test_compact_parquet_merges_small_files(spark, tmp_path):
    """20 tiny files -> 1 compacted file, same rows, no shuffle (the
    compaction plan must contain no Exchange: coalesce only)."""
    from dump1090_stream_parser_spark.plans.layout import compact_parquet
    from dump1090_stream_parser_spark.tables import load_table

    src = str(tmp_path / "small")
    events = load_table(spark, SF_DIR, "events")
    events.repartition(20).write.parquet(src)
    import glob

    assert len(glob.glob(src + "/*.parquet")) == 20

    out = str(tmp_path / "compacted")
    n_files = compact_parquet(spark, src, out)
    assert n_files == 1
    assert spark.read.parquet(out).count() == events.count()


def test_range_sorted_layout_gives_disjoint_file_ranges(spark, tmp_path):
    """repartitionByRange + sortWithinPartitions must yield files with
    NON-OVERLAPPING key ranges (that disjointness is what lets a range
    scan skip whole files on parquet min/max stats)."""
    import glob

    from dump1090_stream_parser_spark.plans.layout import range_sorted_layout
    from dump1090_stream_parser_spark.tables import load_table

    out = str(tmp_path / "orders_by_date")
    orders = load_table(spark, SF_DIR, "orders")
    range_sorted_layout(orders, "o_orderdate", out, n_files=4)

    ranges = []
    for f in glob.glob(out + "/*.parquet"):
        row = (
            spark.read.parquet(f)
            .agg({"o_orderdate": "min"})
            .collect()[0][0],
            spark.read.parquet(f)
            .agg({"o_orderdate": "max"})
            .collect()[0][0],
        )
        ranges.append(row)
    ranges.sort()
    assert len(ranges) >= 2
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next
    # and the full table round-trips
    assert spark.read.parquet(out).count() == orders.count()


def test_contamination_bloom_prefilter_shape(spark):
    """The Bloom variant's probe side must meet the bitmap via a
    BROADCAST join (never a shuffle of the exploded train grams), and
    the bloom build must collapse to a <= BLOOM_WORDS-row aggregate.
    Also: results are bit-identical to the exact audit (no false
    negatives; verify join kills false positives)."""
    from dump1090_stream_parser_spark.operators.pipeline_ops import (
        q_contamination,
        q_contamination_bloom,
    )

    bloom_df = q_contamination_bloom(spark, SF_DIR)
    plan = formatted_plan(bloom_df)
    assert "BroadcastHashJoin" in plan  # bitmap meets probe broadcast-side
    assert "CartesianProduct" not in plan
    # The verify join must stay INNER: a LeftSemi here would be pushed
    # below the bloom prefilter by PushDownLeftSemiAntiJoin as soon as
    # eval outgrows the broadcast threshold, resurrecting the full
    # train-stream shuffle the bitmap removes (measured on the x16 fork
    # probe; see contamination_bloom_from).
    assert "LeftSemi" not in plan

    exact = {tuple(r) for r in q_contamination(spark, SF_DIR).collect()}
    bloom = {tuple(r) for r in bloom_df.collect()}
    assert bloom == exact


def test_upsert_partitioned_rewrites_only_touched_partitions(
    spark, tmp_path
):
    """Copy-on-write upsert: updated keys replaced, new keys appended,
    untouched date partitions byte-identical (same files, same mtimes)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from dump1090_stream_parser_spark.plans.layout import upsert_partitioned
    from dump1090_stream_parser_spark.tables import load_table

    base_dir = str(tmp_path / "events_by_date")
    ev = load_table(spark, SF_DIR, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    ev.write.partitionBy("event_date").parquet(base_dir)

    dates = sorted(
        r[0] for r in ev.select("event_date").distinct().collect()
    )
    touched, untouched = dates[0], dates[1:]
    before = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{base_dir}/*/*.parquet")
    }

    victim = (
        ev.filter(F.col("event_date") == touched)
        .orderBy("event_id")
        .limit(3)
    )
    updates = victim.withColumn("value", F.lit(9999.0)).union(
        victim.select(
            (F.col("event_id") + 10_000_000).alias("event_id"),
            *[c for c in ev.columns if c != "event_id"],
        ).select(ev.columns)  # new keys, same partition
    )

    rewritten = upsert_partitioned(
        spark, base_dir, updates, "event_date", "event_id"
    )
    assert rewritten == [touched]

    got = spark.read.parquet(base_dir)
    # updated rows carry the new value
    upd_ids = [r["event_id"] for r in victim.collect()]
    assert {
        r["value"]
        for r in got.filter(F.col("event_id").isin(upd_ids)).collect()
    } == {9999.0}
    # new keys appended; totals consistent
    assert got.count() == ev.count() + 3
    # untouched partitions: identical files, untouched mtimes
    for f, mt in before.items():
        if any(f"event_date={d}" in f for d in untouched):
            assert os.path.exists(f) and os.path.getmtime(f) == mt, f
    # key uniqueness preserved
    assert got.select("event_id").distinct().count() == got.count()

    # NULL partition values are rejected loudly
    import pytest

    with pytest.raises(ValueError, match="NULL"):
        upsert_partitioned(
            spark,
            base_dir,
            updates.withColumn("event_date", F.lit(None).cast("date")),
            "event_date",
            "event_id",
        )


def test_zorder_layout_skips_files_on_the_trailing_dimension(spark, tmp_path):
    """The claim that justifies Z-order: a predicate selective on the
    TRAILING dimension skips files under the Z layout, while under a
    1-D x-sorted layout every file spans the full y range so nothing
    can be skipped. Uses a deterministic synthetic frame -- the
    sf0.001 tables are too small for file-granularity geometry."""
    import glob

    from pyspark.sql import functions as F

    from dump1090_stream_parser_spark.plans.layout import (
        range_sorted_layout,
        zorder_layout,
    )

    # coalesce(1): zorder_layout's approxQuantile merges per-partition
    # Greenwald-Khanna partials in task-COMPLETION order (treeAggregate),
    # so with >1 partition the bucket boundaries shift a hair under
    # session load and a boundary-straddling file can flip in or out.
    # One input partition = one GK partial = deterministic boundaries,
    # which lets the skip bound below stay tight instead of loosened
    # for sketch jitter (r9 ADVICE). repartitionByRange inside the
    # layout still fans back out to 16 files.
    df = (
        spark.range(100_000)
        .select(
            (F.col("id") % 1000).cast("double").alias("x"),
            F.pmod(F.xxhash64("id"), F.lit(1000)).cast("double").alias("y"),
        )
        .coalesce(1)
    )
    z_dir, s_dir = str(tmp_path / "z"), str(tmp_path / "s")
    zorder_layout(df, ("x", "y"), z_dir, n_files=16)
    range_sorted_layout(df, "x", s_dir, n_files=16)

    y_lo, y_hi = 400.0, 430.0  # narrow band on the trailing dimension

    def files_overlapping(d):
        n = 0
        for f in glob.glob(d + "/*.parquet"):
            r = (
                spark.read.parquet(f)
                .agg(F.min("y"), F.max("y"))
                .collect()[0]
            )
            if r[0] <= y_hi and r[1] >= y_lo:
                n += 1
        return n

    z_touch, s_touch = files_overlapping(z_dir), files_overlapping(s_dir)
    # the sorted layout cannot skip at all on y
    assert s_touch == 16
    # The z layout must skip roughly half the files. The coalesce(1)
    # above makes the GK quantile boundaries deterministic, but one
    # jitter source remains INSIDE the layout: repartitionByRange's
    # RangePartitioner draws its reservoir-sampling seed from
    # scala.util.Random at partitioner creation, so file-range
    # boundaries wobble one file across runs (measured: z_touch=9 once
    # in six full-suite runs, 8 otherwise). The bound allows exactly
    # that one straddler; a genuine layout regression lands at 16.
    assert z_touch <= 9, z_touch
    # both layouts hold the full table, and band rows survive intact
    assert spark.read.parquet(z_dir).count() == df.count()
    band = df.filter(F.col("y").between(y_lo, y_hi)).count()
    got = (
        spark.read.parquet(z_dir)
        .filter(F.col("y").between(y_lo, y_hi))
        .count()
    )
    assert got == band


def test_dense_index_bijection_without_global_window(spark):
    """dense_index must produce exactly 0..n-1 in key order, stay
    stable under arbitrary input repartitioning, and never plan a
    single-partition global window (the one-reducer funnel it exists
    to avoid)."""
    from pyspark.sql import functions as F

    from dump1090_stream_parser_spark.operators.pipeline_ops import (
        dense_index,
    )
    from dump1090_stream_parser_spark.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "source")
    n = docs.count()
    out = dense_index(docs, "doc_id", n_parts=8)
    rows = out.orderBy("doc_id").collect()
    assert [r["idx"] for r in rows] == list(range(n))
    # key order preserved
    keys_by_idx = [r["doc_id"] for r in sorted(rows, key=lambda r: r["idx"])]
    assert keys_by_idx == sorted(keys_by_idx)
    # layout-independent: a shuffled input yields the identical mapping
    shuffled = dense_index(docs.repartition(13), "doc_id", n_parts=8)
    m1 = {r["doc_id"]: r["idx"] for r in rows}
    m2 = {r["doc_id"]: r["idx"] for r in shuffled.collect()}
    assert m1 == m2
    # bijection at a size where range-boundary sampling is NOT exact:
    # the regression that caught offsets applied to re-sampled
    # partitions (duplicate/missing indices at 200k rows)
    big = spark.range(200_000).select(
        F.pmod(F.xxhash64("id"), F.lit(10_000_000)).alias("k")
    ).distinct()
    nb = big.count()
    got = dense_index(big, "k", n_parts=16).select("idx")
    assert got.distinct().count() == nb
    assert got.agg(F.min("idx"), F.max("idx")).collect()[0] == (0, nb - 1)
    # plan: the row-number window is PARTITIONED (by _pid), never the
    # one-reducer global sort this utility exists to avoid
    plan = formatted_plan(out)
    assert "Window" in plan and "_pid" in plan


def test_zorder_three_columns_skips_on_every_dimension(spark, tmp_path):
    """The N-column generalization: with three clustered columns, a
    narrow band on EACH dimension alone must skip files (a 1-D sort
    can only ever skip on its leading column), and the bit-budget
    guard rejects impossible configurations."""
    import glob

    import pytest
    from pyspark.sql import functions as F

    from dump1090_stream_parser_spark.plans.layout import zorder_layout

    df = spark.range(60_000).select(
        (F.col("id") % 1000).cast("double").alias("x"),
        F.pmod(F.xxhash64("id"), F.lit(1000)).cast("double").alias("y"),
        F.pmod(F.xxhash64("id", F.lit(7)), F.lit(1000))
        .cast("double")
        .alias("w"),
    )
    z_dir = str(tmp_path / "z3")
    zorder_layout(df, ("x", "y", "w"), z_dir, n_files=16, bits=4)

    def files_overlapping(col):
        nn = 0
        for f in glob.glob(z_dir + "/*.parquet"):
            r = (
                spark.read.parquet(f)
                .agg(F.min(col), F.max(col))
                .collect()[0]
            )
            # band inside one top-bit half: 16 files resolve ~1-2
            # bits per dimension, so a boundary-straddling band would
            # legitimately touch everything
            if r[0] <= 300.0 and r[1] >= 200.0:
                nn += 1
        return nn

    for col in ("x", "y", "w"):
        assert files_overlapping(col) < 16, col
    assert spark.read.parquet(z_dir).count() == df.count()

    with pytest.raises(ValueError, match="63-bit"):
        zorder_layout(df, ("x", "y", "w"), z_dir + "_bad", bits=22)


def test_embedding_lsh_near_dup_blocks_on_bucket(spark):
    """q_near_dedup_embedding_lsh's pair join must block on the LSH
    bucket (an equi-join on `bucket`), never degrade to a cartesian or a
    pure-inequality nested loop -- the bounded-block property is the
    whole point of the variant (VERDICT r4 watch #3)."""
    from dump1090_stream_parser_spark.operators.similarity import (
        q_near_dedup_embedding_lsh,
    )

    plan = formatted_plan(q_near_dedup_embedding_lsh(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # every per-band candidate self-join hashes on that band's bucket
    # column (b0..b7); vec_id ordering and the first-agreeing-band
    # inequalities stay in the residual condition
    keys = [
        ln for ln in plan.splitlines()
        if ln.startswith(("Left keys", "Right keys"))
    ]
    assert any(
        any(f"b{i}#" in ln for i in range(8)) for ln in keys
    ), keys
    # the embedding column never enters a join key (ids/buckets only)
    assert not any("embedding" in ln for ln in keys), keys
    # first-agreeing-band emission means NO pair-space dedup operator:
    # the only aggregates allowed are none at all in this plan
    assert "HashAggregate" not in plan  # the old DISTINCT is gone


def test_stage_shuffle_meter_counts_a_known_exchange(spark):
    """The stage meter (plans/metrics.py) must attribute a run's
    exchange volume to the read taken after it: a groupBy over N
    distinct keys shuffles >= N records through its map-side-combined
    exchange, a narrow scan shuffles nothing but still runs a stage,
    and a drained read taken AFTER the action must be stable (no
    straggling listener events, no stage counted twice)."""
    from pyspark.sql import functions as F

    from dump1090_stream_parser_spark.plans.metrics import stage_meter

    meter = stage_meter(spark)
    meter.take()
    spark.range(10_000).select((F.col("id") % 97).alias("k")).groupBy(
        "k"
    ).count().write.format("noop").mode("overwrite").save()
    wide = meter.take()
    assert wide["stages"] >= 2  # map side + reduce side
    assert wide["jobs"] >= 1
    # partial aggregation caps the exchange at (map tasks) * 97 rows --
    # spark.range parallelism is defaultParallelism, NOT
    # shuffle_partitions -- and floors it at the 97 distinct keys
    n_map = spark.sparkContext.defaultParallelism
    assert 97 <= wide["shuffle_records"] <= 97 * n_map
    assert wide["shuffle_bytes"] > 0
    spark.range(0, 200_000, 1, 4).write.format("noop").mode(
        "overwrite"
    ).save()
    narrow = meter.take()
    assert narrow["shuffle_bytes"] == 0 and narrow["stages"] >= 1, narrow
    # drained reads are stable: nothing new without new work
    assert meter.take()["stages"] == 0


def test_signature_window_brackets_the_build(spark):
    """A lazy localCheckpoint runs its subtree's shuffle map stage while
    the DataFrame is BUILT; executed_stage_signature must count it (an
    action-only window reads 0 records here)."""
    from pyspark.sql import functions as F

    from dump1090_stream_parser_spark.plans.metrics import (
        executed_stage_signature,
    )

    sig = executed_stage_signature(
        spark,
        lambda: spark.range(10_000)
        .groupBy((F.col("id") % 97).alias("k"))
        .count()
        .localCheckpoint(eager=False),
    )
    assert sig["shuffle_records"] >= 97, sig


#: A UI switched on in code: a conf pair or a --conf flag.
_UI_ON = re.compile(
    r"""["']spark\.ui\.enabled["']\s*[:,]\s*["']true["']"""
    r"|spark\.ui\.enabled=true",
    re.IGNORECASE,
)


def test_no_code_turns_the_spark_ui_on():
    """The stage meter reads the status store with the UI off, so
    nothing needs the UI: no module of the package, tools/, tests/ or
    bench.py may switch it on (the old REST meter made nine tool sites
    and the test session do so)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = (
        glob.glob(f"{repo}/dump1090_stream_parser_spark/**/*.py", recursive=True)
        + glob.glob(f"{repo}/tools/*.py")
        + glob.glob(f"{repo}/tests/*.py")
        + [f"{repo}/bench.py"]
    )
    assert len(files) > 100
    on = [
        f
        for f in files
        if f != os.path.abspath(__file__) and _UI_ON.search(Path(f).read_text())
    ]
    assert not on, on
    assert _UI_ON.search('extra_conf={"spark.ui.enabled": "true"}')
    assert _UI_ON.search(".config('spark.ui.enabled',\n 'TRUE')")
    assert _UI_ON.search("--conf spark.ui.enabled=true")
    assert not _UI_ON.search('.config("spark.ui.enabled", "false")')


def test_bloom_geometry_guards_reject_bad_word_counts():
    """The documented bloom geometry contract holds for the one
    geometry every bitmap and probe share: a non-power-of-two word
    count would fold high gh bits into the word index (correlating the
    two coordinates), and a count above 2^27 would overlap the
    bit-in-word field -- either silently degrades the n/m
    false-positive model."""
    from dump1090_stream_parser_spark.operators.pipeline_ops import (
        BLOOM_WORDS,
    )

    assert BLOOM_WORDS > 0 and BLOOM_WORDS & (BLOOM_WORDS - 1) == 0
    assert BLOOM_WORDS <= 1 << 27


def test_cell_bucketed_semantic_dedup_groups_without_exchange(spark):
    """The at-rest half of the semantic-dedup design: over an
    ivf_cell_bucketed_layout table the pair-scoring group stage needs
    ZERO exchange (the bucketed scan's HashPartitioning(cell_id)
    satisfies the group's ClusteredDistribution), and the manifest it
    yields equals the registered query's on-the-fly form exactly."""
    import re

    from dump1090_stream_parser_spark.operators.similarity import (
        q_semantic_dedup,
        semantic_dedup_from_assigned,
    )
    from dump1090_stream_parser_spark.plans.layout import (
        ivf_cell_bucketed_layout,
    )

    ivf_cell_bucketed_layout(spark, SF_DIR, table="emb_cells_t")
    try:
        assign = spark.table("emb_cells_t")
        manifest = semantic_dedup_from_assigned(assign)
        plan = formatted_plan(manifest)
        # the ONLY exchange allowed is the keeper rank's vec_id window;
        # the cell_id group must ride the bucketed layout
        assert (
            len(
                re.findall(
                    r"\bExchange hashpartitioning\(cell_id", plan
                )
            )
            == 0
        ), plan
        assert "FlatMapGroupsInPandas" in plan
        got = {
            (r.vec_id, r.kept_by, r.cell_id, r.cos_sim)
            for r in manifest.collect()
        }
        expected = {
            (r.vec_id, r.kept_by, r.cell_id, r.cos_sim)
            for r in q_semantic_dedup(spark, SF_DIR).collect()
        }
        assert got == expected
    finally:
        spark.sql("DROP TABLE IF EXISTS emb_cells_t")


def test_ivf_probe_prunes_cell_partitions(spark, tmp_path):
    """The at-rest half of q_ann_ivf: over a cell_id-partitioned
    layout the nprobe search must compile its cell filter to
    PartitionFilters (directory pruning at file-listing time) and
    return exactly the on-the-fly query's rows."""
    from dump1090_stream_parser_spark.operators.similarity import (
        QUERY_VEC_ID,
        q_ann_ivf,
    )
    from dump1090_stream_parser_spark.plans.layout import (
        ivf_cell_partitioned_layout,
        ivf_probe_pruned,
    )

    out = str(tmp_path / "emb_by_cell")
    ivf_cell_partitioned_layout(spark, SF_DIR, out)
    probe = ivf_probe_pruned(spark, out, QUERY_VEC_ID)

    plan = formatted_plan(probe)
    part_lines = [
        line for line in plan.splitlines() if "PartitionFilters" in line
    ]
    assert part_lines and any(
        "cell_id" in line for line in part_lines
    ), plan

    got = [
        (r.vec_id, r.label, r.cell_id, r.cos_sim)
        for r in probe.collect()
    ]
    want = [
        (r.vec_id, r.label, r.cell_id, r.cos_sim)
        for r in q_ann_ivf(spark, SF_DIR).collect()
    ]
    assert got == want


def _keyed_exchange_inputs(plan):
    """Input column lists of the KEYED exchanges in a formatted plan --
    the scan_spread rebalance (round 13) legitimately carries the
    payload once at load time and is excluded (it is absent at
    production split counts)."""
    import re

    out = []
    for m in re.finditer(
        r"\(\d+\) Exchange\n(?:.+\n)*?Input \[\d+\]: \[([^\]]*)\]"
        r"\n(?:.+\n)*?Arguments: ([^\n]*)",
        plan,
    ):
        args = m.group(2)
        if "RoundRobinPartitioning" in args or "xxhash64(" in args:
            continue
        out.append(m.group(1))
    return out


def test_knn_join_shuffles_only_narrow_topk(spark):
    """q_knn_join's 100 TB contract: the query batch broadcasts, the
    per-corpus-row norm is hoisted into a pre-join projection (one fold
    per ROW, not per pair), and the row_number filter plans a PARTIAL
    WindowGroupLimit below the rank exchange -- so the only shuffle
    carries at most Q*k narrow tuples per map task, never an embedding
    column."""
    import re

    from dump1090_stream_parser_spark.operators.similarity import (
        KNN_JOIN_K,
        q_knn_join,
    )

    plan = formatted_plan(q_knn_join(spark, SF_DIR))
    # batch side rides a broadcast, never a shuffled cartesian
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # corpus norm staged as its own attribute (cn#N) and the per-pair
    # score references it -- the SQRT fold would be inlined per pair if
    # CollapseProject had collapsed the staging projection
    assert " AS cn#" in plan
    assert re.search(r"/ \(cn#\d+ \* qn#\d+\)", plan), "score must use hoisted norms"
    # map-side top-k pruning ahead of the exchange
    assert f"row_number(), {KNN_JOIN_K}, Partial" in plan
    # the rank exchange itself carries only the narrow scored tuple
    inputs = _keyed_exchange_inputs(plan)
    assert inputs, plan
    for cols in inputs:
        assert "embedding" not in cols and "qv" not in cols, cols


def test_ann_ivf_join_is_hash_join_with_narrow_topk(spark):
    """q_ann_ivf_join's 100 TB contract: the probe side (Q*nprobe rows)
    broadcasts into a HASH join on cell_id (never a nested loop -- the
    equi-key is what makes the at-rest cell layout partition-local),
    and the per-query rank plans a PARTIAL WindowGroupLimit below an
    exchange that carries no embedding column."""
    import re

    from dump1090_stream_parser_spark.operators.similarity import (
        ANN_JOIN_K,
        q_ann_ivf_join,
    )

    plan = formatted_plan(q_ann_ivf_join(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # both scans keep their pushed query-range filters
    assert "Or(LessThan(vec_id,9),GreaterThan(vec_id,13))" in plan
    assert "GreaterThanOrEqual(vec_id,9)" in plan
    # map-side top-k pruning ahead of the rank exchange
    assert f"row_number(), {ANN_JOIN_K}, Partial" in plan
    inputs = _keyed_exchange_inputs(plan)
    assert inputs, plan
    for cols in inputs:
        assert "embedding" not in cols and "qv" not in cols, cols


def test_kmv_bottomk_prunes_before_exchange_and_joins_broadcast(spark):
    """q_set_overlap_kmv's scale claims, pinned on the physical plan:
    the per-source bottom-k runs a PARTIAL WindowGroupLimit below its
    exchange (each map task forwards at most K_KMV rows per source),
    and the pair-level assembly broadcasts its sketch-sized sides --
    no sort-merge join, no cartesian product anywhere."""
    from dump1090_stream_parser_spark.operators.pipeline_ops import (
        K_KMV,
        q_set_overlap_kmv,
    )

    plan = formatted_plan(q_set_overlap_kmv(spark, SF_DIR))
    assert f"row_number(), {K_KMV}, Partial" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_ivf_trained_layout_prunes_and_matches_query(spark, tmp_path):
    """The production pairing of round 10's trained quantizer: a
    cell_id-partitioned layout assigned with the PERSISTED centroids,
    probed with the same artifact -- PartitionFilters prune at
    file-listing time and the pruned scan returns exactly
    q_ann_ivf_trained's rows."""
    from dump1090_stream_parser_spark.operators.similarity import (
        QUERY_VEC_ID,
        q_ann_ivf_trained,
    )
    from dump1090_stream_parser_spark.plans.layout import (
        ivf_cell_partitioned_layout,
        ivf_probe_pruned,
    )

    out = str(tmp_path / "emb_by_trained_cell")
    ivf_cell_partitioned_layout(spark, SF_DIR, out, centroids="trained")
    probe = ivf_probe_pruned(
        spark, out, QUERY_VEC_ID, centroids="trained"
    )

    plan = formatted_plan(probe)
    part_lines = [
        line for line in plan.splitlines() if "PartitionFilters" in line
    ]
    assert part_lines and any(
        "cell_id" in line for line in part_lines
    ), plan

    got = [
        (r.vec_id, r.label, r.cell_id, r.cos_sim)
        for r in probe.collect()
    ]
    want = [
        (r.vec_id, r.label, r.cell_id, r.cos_sim)
        for r in q_ann_ivf_trained(spark, SF_DIR).collect()
    ]
    assert got == want


def test_text_entropy_is_exchange_and_generate_free(spark):
    """q_text_entropy's round-10 physical form: a document's bigram
    entropy is a per-row fact, so the plan must be one narrow
    projection -- no Generate (the r9 plan exploded corpus x length
    rows), no Exchange (it then hash-aggregated them twice), nothing
    leaving the row."""
    from dump1090_stream_parser_spark.operators.text import (
        q_text_entropy,
    )

    plan = formatted_plan(q_text_entropy(spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert ") Generate" not in final, final
    # nothing KEYED leaves the row; the only exchange permitted is the
    # conditional scan_spread round-robin (round 13, a no-op at
    # production split counts)
    n_keyed = final.count(") Exchange") - spread_exchange_count(final)
    assert n_keyed == 0, final


def test_keyed_spread_shares_the_collapse_exchange(spark):
    """tables.keyed_spread (round 13): for a near-unique-key collapse
    on an undershooting input, the spread exchange must BE the
    aggregation exchange -- hashpartitioning on the aggregation keys,
    with no round-robin/xxhash spread exchange and no second keyed
    exchange between the scan and the collapse."""
    from pyspark.sql import functions as F

    from dump1090_stream_parser_spark.tables import (
        keyed_spread,
        load_table,
        table_path,
    )

    orders = load_table(spark, SF_DIR, "orders")
    proj = orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("v"),
    )
    proj = keyed_spread(
        spark, proj, table_path(SF_DIR, "orders"), ["grp", "v"]
    )
    c = proj.groupBy("grp", "v").agg(F.count(F.lit(1)).alias("cnt"))
    plan = formatted_plan(c)
    final = plan.split("== Initial Plan ==")[0]
    # exactly ONE exchange, keyed on the aggregation key
    assert final.count(") Exchange") == 1, final
    assert "hashpartitioning(grp" in final, final
    assert spread_exchange_count(final) == 0, final


def test_keyed_spread_is_a_noop_at_production_split_counts(
    spark, tmp_path
):
    """With maxPartitionBytes small enough that the scan splits reach
    defaultParallelism, keyed_spread must return the frame untouched
    (the scale-adaptive condition, not a local constant) -- for a
    single-file table and for a table stored as a directory, which is
    sized by its data files, not by its directory entry (4 KiB: one
    split at 8k, so it would always spread)."""
    from dump1090_stream_parser_spark.tables import (
        keyed_spread,
        load_table,
        table_path,
    )

    orders = load_table(spark, SF_DIR, "orders")
    orders_dir = str(tmp_path / "orders")
    orders.repartition(8).write.parquet(orders_dir)
    in_dir = spark.read.parquet(orders_dir)
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
        out = keyed_spread(
            spark, orders, table_path(SF_DIR, "orders"), ["o_orderkey"]
        )
        assert out is orders
        spark.conf.set("spark.sql.files.maxPartitionBytes", "8k")
        assert in_dir.rdd.getNumPartitions() >= 4
        out = keyed_spread(spark, in_dir, orders_dir, ["o_orderkey"])
        assert out is in_dir
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_keyed_spread_on_the_group_prefix_serves_window_and_aggregate(spark):
    """A spread keyed on the grouping PREFIX (``["grp"]``, not the
    collapse key ``["grp", "v"]``): HashPartitioning(grp) satisfies the
    collapse's groupBy(grp, v), a partitionBy(grp) window and a final
    groupBy(grp), so the whole chain plans ONE exchange."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from dump1090_stream_parser_spark.tables import (
        keyed_spread,
        load_table,
        table_path,
    )

    orders = load_table(spark, SF_DIR, "orders")
    proj = orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("v"),
    )
    proj = keyed_spread(spark, proj, table_path(SF_DIR, "orders"), ["grp"])
    c = proj.groupBy("grp", "v").agg(F.count(F.lit(1)).alias("cnt"))
    ranked = c.select(
        "*", F.sum("cnt").over(Window.partitionBy("grp")).alias("tot")
    )
    out = ranked.groupBy("grp").agg(F.max("tot"), F.sum("cnt"))
    final = formatted_plan(out).split("== Initial Plan ==")[0]
    assert final.count(") Exchange") == 1, final
    assert "hashpartitioning(grp" in final, final
    assert spread_exchange_count(final) == 0, final


def _rank_cut_plans(spark):
    from dump1090_stream_parser_spark.operators.statistics import (
        q_weighted_median,
        q_winsorize,
    )

    return {
        fn.__name__: formatted_plan(fn(spark, SF_DIR)).split(
            "== Initial Plan =="
        )[0]
        for fn in (q_winsorize, q_weighted_median)
    }


def test_rank_cut_queries_plan_one_exchange(spark):
    """q_winsorize and q_weighted_median pick their exact cuts as
    window columns in the rf partition (functions/exact.rank_cuts):
    at the undershooting sf0.001 split count the group-keyed spread is
    the ONLY exchange -- no broadcast join-back of a cut table, no
    second collapse, no final-aggregate exchange -- over one scan."""
    for name, final in _rank_cut_plans(spark).items():
        assert final.count(") Exchange") == 1, (name, final)
        assert "hashpartitioning(rf" in final, (name, final)
        assert "Join" not in final, (name, final)
        assert final.count("/lineitem.parquet]") == 1, (name, final)


def test_rank_cut_queries_scan_once_at_production_split_counts(spark):
    """With keyed_spread a no-op (splits reach defaultParallelism),
    the cut queries still plan no join and read lineitem once."""
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
    try:
        plans = _rank_cut_plans(spark)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    for name, final in plans.items():
        assert "REPARTITION_BY_NUM" not in final, (name, final)
        assert "Join" not in final, (name, final)
        assert final.count("/lineitem.parquet]") == 1, (name, final)
