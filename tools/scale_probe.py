"""Measured scaling probe: how do the data-proportional operators
behave as the corpus grows 1x -> 4x -> 16x?

The sf0.1 bench is dominated by fixed per-job overhead (BASELINE.md
core-scaling row); this probe answers the question that actually
matters for the 100 TB posture -- the SLOPE. Each scale step
replicates the sf0.1 documents/embeddings tables with offset ids
(replicas are exact duplicates, which also stress-tests dedup with
worst-case duplicate families), writes them to a scratch dir, and
times a representative operator set.

    python tools/scale_probe.py [max_factor] [out_dir]

Interpretation: an operator whose time grows ~linearly (slope ~1 in
t(16x)/t(4x) ~ 4) is scan/shuffle-proportional and survives scale-up;
super-linear growth flags a pair-explosion or broadcast ceiling.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from dump1090_stream_parser_spark.plans.metrics import metered_run  # noqa: E402

SRC = "/root/testdata/sf0.1"

#: Operators probed: scan/agg, narrow maps, dedup (exact + LSH), ANN,
#: chunking, quantization -- the shapes whose slope matters.
PROBE = [
    # round 10: the digest's one-pass/flat-exchange claim and the
    # subsampling CI's one-aggregation claim, measured as slopes
    "q_table_digest",
    "q_subsample_ci",
    # round 10: rank statistics -- the claim is that post-collapse
    # cost rides the DISTINCT-VALUE grid (sublinear under value-dense
    # replication), not the row count
    "q_mann_whitney",
    "q_theil_sen",
    "q_dedup",
    "q_near_dedup_simhash",
    "q_knn_cosine",
    "q_ann_lsh",
    "q_chunk_docs",
    "q_quantize_embeddings",
    "q_token_tf",
    "q_mix_weights",
    "q_model_score",
    "q_contamination",
    "q_contamination_bloom",
    "q_heavy_hitters",
    # round 5: wire-line synthesis -> production parse -> gold agg over
    # events (narrow map + one keyed agg; replication multiplies
    # messages per aircraft, the agg keyset stays fixed)
    "q_sbs1_gold_latest",
    # round 6 additions: fault-injected parse + global agg; per-user
    # time-RANGE frames (users replicate, per-user history multiplies);
    # value-histogram exact percentiles + GK certification; snapshot
    # diff on fingerprints; corpus-LM scoring join
    "q_sbs1_gold_deadletter",
    "q_window_trailing",
    "q_approx_percentile",
    "q_dedup_incremental",
    "q_lm_score",
    # round 7: Arrow two-pass language ID (profile counts scale
    # linearly with replication); E-S weighted sampling (narrow key
    # map + WindowGroupLimit top-K); SCD2 intervals (user_ids are
    # KEPT across replicas, so per-entity history multiplies -- the
    # right stress for the one-exchange two-window plan)
    "q_lang_id",
    "q_weighted_sample",
    "q_scd2_intervals",
    # round-7 third wave: the batch similarity joins. Replication
    # offsets vec_id, so the 5-query batch and the 8 centroid seeds
    # stay the single base copy while the corpus multiplies -- Q and
    # N_CELLS fixed, N scaling, exactly the regime the operators'
    # docstrings argue. Both slopes should be ~linear in N: the kNN
    # join scores Q*N pairs, the IVF join ~Q*nprobe*N/N_CELLS (the
    # win is the constant, i.e. the probed fraction).
    "q_knn_join",
    "q_ann_ivf_join",
    # round-7 fourth/fifth waves: count-min (events replicate with
    # user_ids KEPT, so per-key frequency multiplies while the grid
    # stays 2048 cells -- the exchange is fixed-size by construction,
    # so the slope is the map-side explode+md5 scan, ~linear); random
    # projection (embeddings multiply, matrix fixed -- a narrow map,
    # ~linear in N). The cardinality-scaling count-min contrast
    # (exact groupBy vs grid as DISTINCT KEYS grow) is the dedicated
    # `cmssweep` subcommand; this row stresses the frequency axis.
    "q_countmin",
    "q_random_projection",
    # round 8: EMA (events replicate with user_ids KEPT, so the
    # per-key fold length multiplies -- the exact stress for the
    # sorted-array fold's one-task-per-key bound; the segmented
    # variant's measured crossover is the round-8 table in
    # docs/SCALE.md); OLS sufficient
    # stats (lineitem replicates -- pure partial+final agg, the slope
    # is the scan); inverted index (documents replicate with doc_id
    # offset, so every token's df multiplies while doc-range sharding
    # caps each reducer task -- the probe also records the max
    # unsharded vs sharded posting length, the hot-key claim).
    "q_ema",
    "q_regression",
    "q_inverted_index",
    # round-8 waves 9-16: ACF + Markov transitions + CDC apply ride
    # the replicated events (user_ids KEPT -- per-key/per-type series
    # length multiplies, the right stress for their window sorts; all
    # three should be ~linear, the downstream aggregations being
    # domain- or key-sized). Co-occurrence and the bitmap index ride
    # the replicated lineitem (l_orderkey offset -- baskets replicate
    # DISJOINTLY, so pair enumeration rows grow linearly while the
    # distinct pair space stays fixed: the basket-bounded claim in
    # q_cooccur's docstring is exactly what the slope verifies).
    # Duplicated-span dedup rides the replicated documents as a
    # WORST-CASE stress: replicas are exact copies, so every gram
    # becomes cross-doc duplicated and every position lands in an
    # island -- the probe measures the all-duplicated ceiling, still
    # expected ~linear because islands stay per-doc bounded.
    "q_acf",
    "q_transitions",
    "q_cdc_apply",
    "q_cooccur",
    "q_bitmap_index",
    "q_dup_spans",
    # Round-8 waves 17-25 (the events/lineitem-fed subset):
    # weighted median rides the replicated lineitem (distinct
    # (group, price) pre-agg input multiplies, groups stay 3 -- the
    # per-group ordered-scan bound under stress, like q_acf's);
    # decay/cusum/holt/paths ride the replicated events (user or type
    # keyed; decay and paths should be flat-to-linear, cusum and holt
    # surface the per-TYPE and per-USER fold bounds respectively).
    "q_weighted_median",
    "q_decay_topk",
    "q_cusum",
    "q_holt",
    "q_paths",
    # Round-9 entrants. Document-riders: novelty (agg+join on gram
    # hashes -- replicas make every gram non-novel, the slope is the
    # distinct + min-agg absorb), text entropy (narrow explode +
    # per-doc vocab-bounded fold), PMI (presence distinct grows
    # linearly, vocab fixed at 100 so the pair stream collapses to a
    # constant domain), source overlap (replicas duplicate grams per
    # source, so the DISTINCT absorbs all growth -- near-flat
    # expected), dup-spans-bloom (the same all-duplicated ceiling as
    # q_dup_spans, now with the bitmap prefilter in front). Events-
    # riders: seasonality/burst/streaks (day-domain bounded after one
    # mergeable agg -- flat expected; streaks' DISTINCT (user, day)
    # absorbs replication entirely). Lineitem-rider: winsorize (the
    # weighted-median value-collapse argument verbatim).
    "q_novelty",
    "q_text_entropy",
    "q_pmi",
    "q_source_overlap",
    "q_dup_spans_bloom",
    "q_seasonality",
    "q_burst",
    "q_streaks",
    "q_winsorize",
    # q_ks_test is NOT probed by replication: it reads orders (the
    # q_benford referential exclusion), and replication would
    # duplicate every distinct value so the post-collapse pair grid --
    # the only stage past the scan -- would not change. q_hill is
    # likewise structural: the top-(K+1) selection is the only
    # corpus-proportional stage and it is bounded per task by
    # construction (the q_weighted_sample WindowGroupLimit argument);
    # past it everything is K-bounded per group.
    # q_interval_peak is NOT probed by replication: it joins orders
    # (not replicated -- offsetting o_orderkey and l_orderkey by
    # different table sizes would break referential integrity); its
    # scale argument is structural (deltas collapse to the bounded
    # day domain before the only non-mergeable step). q_skyline
    # likewise: replicas are identical parts, so the per-size maxima
    # -- the only thing past the first agg -- would not change.
    # q_benford joins orders too (same referential exclusion); its
    # probe-worthy stage is one mergeable 9-row aggregation.
    # q_triangles: see the SCALE.md note -- replication multiplies
    # co-occurrence counts, so the support floor admits the whole ×1
    # pair space at ×2+ and the probe would measure a categorically
    # denser graph, not the same graph scaled. q_abtest/q_gini are
    # one aggregation plus domain-sized math.
    # q_fuzzy_join is NOT probed by replication: replicas duplicate
    # rows, not NAMES, so the distinct-name join input is constant at
    # every factor and the measured slope would be the (linear) name
    # aggregation only. Its scale lever is block selectivity, measured
    # as the exact blocked-vs-all-pairs candidate counts in
    # tests/test_linkage.py.
    # q_near_dedup_embedding_lsh is deliberately NOT probed here:
    # replicas are exact duplicates, so every copy family lands in
    # identical buckets in every band and candidate pairs grow
    # quadratically in the copy count -- the same effect the round-3
    # table documents for simhash (9.4x at the 64x step). Its real
    # scaling behavior is measured by the dedicated `embsweep`
    # subcommand below (synthetic corpus with a bounded planted
    # near-dup rate, label vs LSH vs all-pairs -- docs/SCALE.md
    # round-6 table). q_semantic_dedup is excluded for the same
    # reason (copy families are identical vectors, so within-cell
    # pair space grows quadratically in the copy count at fixed
    # N_CELLS); its scaling instrument is the `semsweep` subcommand
    # (docs/SCALE.md round-7 table).
]


def replicate(spark, factor: int, out_dir: str) -> None:
    from pyspark.sql import functions as F

    from dump1090_stream_parser_spark.tables import load_table

    os.makedirs(out_dir, exist_ok=True)
    for name, key in (
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
        # events: ids offset, user_ids kept -- replication multiplies
        # per-key frequency, the right stress for the frequency sketch
        ("events", "event_id"),
        # lineitem: q_approx_percentile's input; offsetting l_orderkey
        # keeps replicas disjoint while the value distribution (the
        # thing the percentile math sees) replicates exactly
        ("lineitem", "l_orderkey"),
        # orders: q_subsample_ci's input; offset orderkeys give every
        # replica row a fresh hash, i.e. genuinely new data for the
        # hash-bit replicas, not duplicate membership
        ("orders", "o_orderkey"),
    ):
        base = load_table(spark, SRC, name)
        n = base.count()
        parts = [
            base.withColumn(key, F.col(key) + F.lit(i * n)) for i in range(factor)
        ]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionAll(p)
        df.write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")


def metered(spark, fn, reps: int = 2, warm: bool = True) -> tuple[float, dict]:
    """The fastest of ``reps`` metered runs of ``fn`` (after one untimed
    warm run): its wall seconds and its stage-level shuffle volume
    (plans/metrics.py -- robust to AQE empty-relation surgery and
    checkpoint lineage cuts)."""
    if warm:
        fn().write.format("noop").mode("overwrite").save()
    r = metered_run(spark, fn, reps)
    return round(r["wall_s"], 3), {
        "records": r["shuffle_records"],
        "bytes": r["shuffle_bytes"],
    }


def main() -> None:
    max_factor = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    scratch = sys.argv[2] if len(sys.argv) > 2 else "/tmp/scale_probe"
    # optional trailing query names restrict the probe to a subset
    # (new entrants get their slope without re-timing the full list)
    probe = [q for q in sys.argv[3:] if q in PROBE] or list(PROBE)
    unknown = [q for q in sys.argv[3:] if q not in PROBE]
    if unknown:
        raise SystemExit(f"not in PROBE list: {unknown}")

    import __spark_entry__ as e
    from dump1090_stream_parser_spark.session import get_spark

    queries = e.queries()
    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        app_name="scale_probe",
        shuffle_partitions=32,
    )
    spark.sparkContext.setLogLevel("ERROR")

    factors = [f for f in (1, 4, 16, 64) if f <= max_factor]
    results: dict[str, dict[int, float]] = {q: {} for q in probe}
    for factor in factors:
        sf_dir = SRC if factor == 1 else f"{scratch}/x{factor}"
        if factor > 1:
            replicate(spark, factor, sf_dir)
        # warm the plans once per scale so slope measures data, not codegen
        for name in probe:
            queries[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        for name in probe:
            t0 = time.perf_counter()
            queries[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            results[name][factor] = round(time.perf_counter() - t0, 3)

    print(json.dumps({"factors": factors, "seconds": results}, indent=1))
    if os.path.isdir(scratch):
        shutil.rmtree(scratch, ignore_errors=True)
    spark.stop()


def fork_main() -> None:
    """Measure the exact-vs-Bloom contamination fork (VERDICT r4 #5).

    docs/SCALE.md argues q_contamination_bloom separates from the exact
    audit once the eval-gram set outgrows the probe-side exchange; at
    sf0.1 the two bench level because the 10% eval split is broadcast-
    sized. This probe synthesizes the regime the argument is about --
    the production asymmetry TRAIN >> EVAL > broadcast budget:

    - a FIXED eval split too big to broadcast (50k docs -> ~2.5M
      distinct grams, ~20+ MB estimated -- over the 10 MB broadcast
      threshold, so the exact semi-join cannot take the toy-scale
      broadcast shortcut and must shuffle the TRAIN gram stream on gh);
    - a train split that scales with the factor (Catalyst pushes the
      left-semi below the distinct, so the exact plan's exchange grows
      linearly with train grams -- the term the Bloom bitmap removes);
    - DISJOINT gram content (every token embeds its doc_id), so
      survivors are Bloom false positives only -- the audit's common
      case (little true contamination), where the prefilter's win is
      maximal and honest;
    - Bloom geometry per the documented n/m rule: eval is fixed at
      ~2.5M grams, so 2^20 words (64 Mi bits, 8 MiB broadcast) holds
      the false-positive rate at ~4% across all factors.

    Reports min-of-2 wall-clock AND stage-level shuffle volume
    (plans/metrics.py): local wall-clock is md5-scan-bound, so the
    exchange volume is the honest scale signal.

        python tools/scale_probe.py fork [max_factor]
    """
    from pyspark.sql import functions as F

    from dump1090_stream_parser_spark.functions.hashing import portable_hash64
    from dump1090_stream_parser_spark.operators.pipeline_ops import (
        _EVAL_GE,
        _TRAIN_LT,
        contamination_bloom_from,
    )
    from dump1090_stream_parser_spark.session import get_spark

    import __spark_entry__ as e

    max_factor = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    scratch = sys.argv[3] if len(sys.argv) > 3 else "/tmp/contam_fork"
    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        app_name="contam_fork_probe",
        shuffle_partitions=32,
    )
    spark.sparkContext.setLogLevel("ERROR")
    exact = e.queries()["q_contamination"]

    def synth(factor: int, out_dir: str) -> None:
        k = 12_500 * factor  # -> ~10k*factor train docs (80% bucket)
        eval_base = 1 << 40  # disjoint id space for the fixed eval split
        eval_span = 500_000  # ~50k eval docs (10% bucket share)
        ids = spark.range(k).union(
            spark.range(eval_base, eval_base + eval_span)
        ).select(F.col("id").alias("doc_id"))
        bucket = portable_hash64(F.col("doc_id")) % 100
        picked = ids.filter(
            ((bucket < _TRAIN_LT) & (F.col("doc_id") < k))
            | ((bucket >= _EVAL_GE) & (F.col("doc_id") >= eval_base))
        )
        text = F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(54)),
                lambda i: F.concat(
                    F.lit("w"), F.col("doc_id"), F.lit("x"), i.cast("string")
                ),
            ),
        )
        picked.select(
            "doc_id",
            text.alias("text"),
            F.lit("en").alias("lang"),
            F.concat(F.lit("s"), F.pmod("doc_id", F.lit(4))).alias("source"),
            F.length(text).alias("n_chars"),
        ).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    factors = [f for f in (4, 16, 64) if f <= max_factor]
    out: dict[str, dict] = {}
    for factor in factors:
        sf_dir = f"{scratch}/x{factor}"
        synth(factor, sf_dir)
        # eval is FIXED (~2.5M grams): 2^20 words -> n/m ~ 0.04 fp rate
        bloom_words = 1 << 20
        row = {"bloom_words": bloom_words}
        for label, fn in (
            ("exact", lambda: exact(spark, sf_dir)),
            (
                "bloom",
                lambda: contamination_bloom_from(
                    spark, sf_dir, bloom_words=bloom_words
                ),
            ),
        ):
            # wall-clock at local[32] is md5-scan-bound, but exchange
            # volume is the term that rules at cluster scale, so
            # report both
            row[label], row[f"{label}_shuffle"] = metered(spark, fn)
        # both variants must agree (same oracle); cheap cross-check
        a = {tuple(r) for r in exact(spark, sf_dir).collect()}
        b = {
            tuple(r)
            for r in contamination_bloom_from(
                spark, sf_dir, bloom_words=bloom_words
            ).collect()
        }
        row["agree"] = a == b
        out[f"x{factor}"] = row
        print(json.dumps({f"x{factor}": row}))

    print(json.dumps({"contamination_fork": out}, indent=1))
    shutil.rmtree(scratch, ignore_errors=True)
    spark.stop()


def emb_main() -> None:
    """Measure the embedding near-dup BLOCKING strategies at a
    production threshold (VERDICT r5 #5): label-blocked vs banded-LSH
    vs (at the smallest factor) all-pairs, on a synthesized corpus of
    n = 2000 * factor unit-scale 64-dim vectors with a planted 2%
    near-dup rate (each planted vector = its base + 5% noise,
    cos ~ 0.999 >> the 0.9 threshold; random 64-dim pairs concentrate
    at |cos| <~ 0.5, so survivors == planted pairs and recall is
    exact). Geometry: R=12 bits/band, B=6 bands -- per-plane agreement
    at cos 0.9..0.999 is p >= 0.93, so banding recall is
    1-(1-p^12)^6 >= 0.97 while expected block size n/4096 stays
    bounded; the label column is id%100, the data-dependent blocking
    whose blocks grow linearly with n (so its pair space grows
    quadratically -- the regime the sf0.1 recall numbers cannot show).

    Reports per factor and variant: candidate pairs entering the
    verify join, surviving pairs, planted-pair recall, min-of-2
    wall-clock, and stage-level shuffle volume (plans/metrics.py).

        python tools/scale_probe.py embsweep [max_factor] [R] [B] [variants]

    R/B override the banding geometry (defaults 12/6); ``variants`` is
    a comma list from {lsh,label,all_pairs} (default all) -- e.g.
    ``embsweep 64 16 8 lsh`` measures just the R-dial point.
    """
    from pyspark.sql import functions as F

    from dump1090_stream_parser_spark.functions.vector import dot, norm
    from dump1090_stream_parser_spark.operators.similarity import (
        emb_lsh_candidate_pairs,
        emb_lsh_near_dup_pairs,
    )
    from dump1090_stream_parser_spark.session import get_spark

    max_factor = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    N0, DIM, LABELS, DUP_EVERY = 2000, 64, 100, 50
    THRESHOLD = 0.9
    R = int(sys.argv[3]) if len(sys.argv) > 3 else 12
    BANDS = int(sys.argv[4]) if len(sys.argv) > 4 else 6
    wanted = (
        set(sys.argv[5].split(","))
        if len(sys.argv) > 5
        else {"lsh", "label", "all_pairs"}
    )

    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        app_name="emb_blocking_probe",
        shuffle_partitions=32,
        extra_conf={
            # At probe sizes every join side fits under the 10 MB
            # broadcast threshold, which would hide the exchange
            # structure entirely (shuffle=0). At 100 TB no embedding
            # side is broadcastable, so disable broadcast joins to
            # measure the shuffle shape of the regime the probe is
            # about. (AQE's own threshold too, or it re-converts.)
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    def synth(n: int):
        """n vectors: id i is a planted near-dup of i-1 when
        i % DUP_EVERY == 1 (same base components + 5% noise, and the
        BASE's label so label-blocking can find it)."""
        ids = spark.range(n).select(F.col("id").alias("vec_id"))
        is_dup = F.col("vec_id") % DUP_EVERY == 1
        base = F.when(is_dup, F.col("vec_id") - 1).otherwise(F.col("vec_id"))
        comp = lambda tag, seed_id, d: (
            F.xxhash64(F.concat(F.lit(tag), seed_id.cast("string"),
                                F.lit("_"), d.cast("string")))
            % 1_000_000
        ).cast("double") / 1_000_000.0
        vec = F.transform(
            F.sequence(F.lit(0), F.lit(DIM - 1)),
            lambda d: (
                comp("e", base, d)
                + F.when(is_dup, F.lit(0.05) * comp("p", F.col("vec_id"), d))
                .otherwise(F.lit(0.0))
            ).cast("float"),
        )
        return ids.select(
            "vec_id",
            (base % LABELS).cast("int").alias("label"),
            vec.alias("embedding"),
        ).localCheckpoint(eager=False)  # freeze: one synthesis per run

    def label_blocked(emb):
        sides = emb.select(
            "vec_id", "label", "embedding",
            norm(F.col("embedding")).alias("nn"),
        )
        a, b = sides.alias("a"), sides.alias("b")
        pairs = a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        cos = dot(F.col("a.embedding"), F.col("b.embedding")) / (
            F.col("a.nn") * F.col("b.nn")
        )
        return pairs.select(
            F.col("a.vec_id").alias("vec_id_1"),
            F.col("b.vec_id").alias("vec_id_2"),
            cos.alias("cos_sim"),
        ).filter(F.col("cos_sim") >= THRESHOLD)

    def label_candidates(emb):
        a, b = emb.alias("a"), emb.alias("b")
        return a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        ).select(F.col("a.vec_id").alias("vec_id_1"))

    def all_pairs(emb):
        sides = emb.select(
            "vec_id", "embedding", norm(F.col("embedding")).alias("nn")
        )
        a, b = sides.alias("a"), sides.alias("b")
        pairs = a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        cos = dot(F.col("a.embedding"), F.col("b.embedding")) / (
            F.col("a.nn") * F.col("b.nn")
        )
        return pairs.select(
            F.col("a.vec_id").alias("vec_id_1"),
            F.col("b.vec_id").alias("vec_id_2"),
            cos.alias("cos_sim"),
        ).filter(F.col("cos_sim") >= THRESHOLD)

    factors = [f for f in (4, 16, 64) if f <= max_factor]
    out: dict[str, dict] = {"geometry": {"R": R, "bands": BANDS}}
    for factor in factors:
        n = N0 * factor
        emb = synth(n)
        planted = n // DUP_EVERY  # ids 1, 51, 101, ... (i%50==1, i<n)
        row: dict = {"n_vectors": n, "planted_pairs": planted}
        variants = {
            "lsh": (
                lambda: emb_lsh_near_dup_pairs(
                    emb, DIM, bands=BANDS, planes_per_band=R,
                    threshold=THRESHOLD,
                ),
                lambda: emb_lsh_candidate_pairs(
                    emb, DIM, bands=BANDS, planes_per_band=R
                ),
            ),
            "label": (lambda: label_blocked(emb), lambda: label_candidates(emb)),
        }
        if factor == min(factors) and "all_pairs" in wanted:
            variants["all_pairs"] = (lambda: all_pairs(emb), None)
        elif "all_pairs" in wanted:
            row["all_pairs"] = {
                "skipped": f"pair space C({n},2) = {n * (n - 1) // 2}"
            }
        variants = {k: v for k, v in variants.items() if k in wanted}
        for name, (fn, cand_fn) in variants.items():
            v: dict = {}
            if cand_fn is not None:
                v["candidate_pairs"] = cand_fn().count()
            # one pass for both counts (the pair space is the expensive
            # term; don't pay it once per statistic) -- doubles as the
            # warm run for the timed passes below
            stats = (
                fn()
                .agg(
                    F.count("*").alias("n"),
                    F.count(
                        F.when(
                            (F.col("vec_id_2") == F.col("vec_id_1") + 1)
                            & (F.col("vec_id_2") % DUP_EVERY == 1),
                            F.lit(1),
                        )
                    ).alias("found"),
                )
                .collect()[0]
            )
            v["surviving_pairs"] = stats["n"]
            v["planted_recall"] = round(stats["found"] / planted, 4)
            v["wall_s"], v["shuffle"] = metered(
                spark, fn, reps=1 if name == "all_pairs" else 2, warm=False
            )
            row[name] = v
            print(json.dumps({f"x{factor}": {name: v}}), flush=True)
        out[f"x{factor}"] = row

    print(json.dumps({"emb_blocking": out}, indent=1))
    spark.stop()


def sem_main() -> None:
    """Measure the two scale claims behind q_semantic_dedup:

    1. PAIR SPACE: within-cell pruning costs Sum c_i*(c_i-1)/2 pairs.
       At fixed N_CELLS that grows ~n^2/C; scaling C ~ n (the SemDeDup
       deployment rule -- hold n/C, the target cell population,
       constant) holds pairs-per-vector flat. The sweep measures the
       pair space, verify-join wall and stage-level shuffle at each
       (factor, C) point so the claim is a table, not rhetoric.
    2. ASSIGNMENT STRATEGY: the production query inlines the quantizer
       as ONE parsed least(named_struct...) expression -- right for
       the O(10)-centroid oracle-replicable regime, but plan BUILD
       cost is linear in C*dim literals and the codegen'd expression
       evaluates all C dots per row serially. At k-means-scale C the
       right shape is an Arrow-batched mapInPandas matmul against a
       broadcast centroid matrix (En @ Cn.T, one BLAS call per batch).
       The sweep times both at small C and the matmul beyond, so the
       crossover is measured.

    Same synthetic corpus as ``embsweep`` (n = 2000*factor unit-scale
    64-dim vectors, planted 2% near-dups at cos ~0.999, threshold
    0.9): planted pairs land in one cell iff quantization agrees, so
    planted recall doubles as a cell-split error meter.

        python tools/scale_probe.py semsweep [max_factor]
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from dump1090_stream_parser_spark.operators.similarity import (
        _nearest_cell_expr,
    )
    from dump1090_stream_parser_spark.session import get_spark

    max_factor = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    N0, DIM, DUP_EVERY = 2000, 64, 50
    THRESHOLD = 0.9

    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        app_name="semantic_dedup_probe",
        shuffle_partitions=32,
        extra_conf={
            # Same rationale as embsweep: at probe sizes every join
            # side broadcasts, hiding the exchange structure the probe
            # exists to measure.
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    def synth(n: int):
        """Same corpus as embsweep: id i is a planted near-dup of i-1
        when i % DUP_EVERY == 1."""
        ids = spark.range(n).select(F.col("id").alias("vec_id"))
        is_dup = F.col("vec_id") % DUP_EVERY == 1
        base = F.when(is_dup, F.col("vec_id") - 1).otherwise(
            F.col("vec_id")
        )
        comp = lambda tag, seed_id, d: (
            F.xxhash64(
                F.concat(
                    F.lit(tag),
                    seed_id.cast("string"),
                    F.lit("_"),
                    d.cast("string"),
                )
            )
            % 1_000_000
        ).cast("double") / 1_000_000.0
        vec = F.transform(
            F.sequence(F.lit(0), F.lit(DIM - 1)),
            lambda d: (
                comp("e", base, d)
                + F.when(
                    is_dup, F.lit(0.05) * comp("p", F.col("vec_id"), d)
                ).otherwise(F.lit(0.0))
            ).cast("float"),
        )
        return ids.select("vec_id", vec.alias("embedding")).localCheckpoint(
            eager=False
        )

    def centroids(emb, n_cells: int) -> np.ndarray:
        """Quantizer = the first n_cells NON-duplicate vectors (driver
        artifact, like train_ivf_centroids' output)."""
        rows = (
            emb.filter(
                (F.col("vec_id") % DUP_EVERY != 1)
                & (F.col("vec_id") < 2 * n_cells)
            )
            .orderBy("vec_id")
            .limit(n_cells)
            .collect()
        )
        return np.asarray(
            [[float(v) for v in r["embedding"]] for r in rows]
        )

    def assign_matmul(emb, cents: np.ndarray):
        """Arrow-batched assignment: one BLAS matmul per batch against
        the broadcast centroid matrix; norms ride along so the pair
        join's per-pair expression is a single fold."""
        cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)

        def run(it):
            for pdf in it:
                e = np.stack(pdf["embedding"].map(np.asarray))
                nn = np.linalg.norm(e, axis=1, keepdims=True)
                sims = (e / nn) @ cn.T
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"],
                        "cell_id": sims.argmax(axis=1).astype("int32"),
                        "embedding": pdf["embedding"],
                        "nn": nn[:, 0],
                    }
                )

        return emb.mapInPandas(
            run,
            schema=(
                "vec_id bigint, cell_id int,"
                " embedding array<float>, nn double"
            ),
        )

    def assign_literal_chain(emb, cents: np.ndarray):
        """The production small-C shape: THE registered operators'
        own assignment expression (similarity._nearest_cell_expr) --
        reused, not re-built, so the probe keeps measuring exactly
        what q_semantic_dedup / q_ann_ivf execute if the tie-break or
        rounding ever changes."""
        cell = _nearest_cell_expr(
            [
                {"cell_id": i, "embedding": [float(v) for v in c]}
                for i, c in enumerate(cents)
            ]
        )
        return emb.select(
            "vec_id",
            cell.alias("cell_id"),
            "embedding",
            F.expr(
                "sqrt(aggregate(embedding, CAST(0.0 AS DOUBLE),"
                " (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
            ).alias("nn"),
        )

    def within_cell_pairs(assigned):
        a, b = assigned.alias("a"), assigned.alias("b")
        cos = F.expr(
            "aggregate(zip_with(a.embedding, b.embedding,"
            " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
            " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        ) / (F.col("a.nn") * F.col("b.nn"))
        return (
            a.join(
                b,
                (F.col("a.cell_id") == F.col("b.cell_id"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(
                F.col("a.vec_id").alias("vec_id_1"),
                F.col("b.vec_id").alias("vec_id_2"),
                cos.alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= THRESHOLD)
        )

    factors = [f for f in (4, 16, 64) if f <= max_factor]
    out: dict[str, dict] = {}
    for factor in factors:
        n = N0 * factor
        emb = synth(n)
        planted = n // DUP_EVERY
        row: dict = {"n_vectors": n, "planted_pairs": planted}
        # C scales with n (hold n/C ~ 1000): the deployment rule under
        # test. 8 rides along at every factor as the fixed-C contrast.
        # Planted-pair endpoints only (2 per DUP_EVERY ids -- thousands
        # of rows, a driver-sized sample): used to measure how much of
        # the cell-split recall loss a multi-probe assignment recovers,
        # without materializing any cross-cell pair join.
        planted_rows = (
            emb.filter(
                (F.col("vec_id") % DUP_EVERY == 1)
                | (F.col("vec_id") % DUP_EVERY == 0)
            )
            .select("vec_id", "embedding")
            .collect()
        )
        pvecs = {
            r["vec_id"]: np.asarray(
                [float(x) for x in r["embedding"]]
            )
            for r in planted_rows
        }

        def probe_recall(cents: np.ndarray, nprobe: int) -> float:
            """Fraction of planted pairs sharing >= 1 of each side's
            nprobe nearest cells (the q_ann_ivf multi-probe shape
            applied to dedup assignment)."""
            cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
            hits = total = 0
            for i in range(1, n, DUP_EVERY):
                if i - 1 not in pvecs or i not in pvecs:
                    continue
                total += 1
                cells = []
                for vid in (i - 1, i):
                    e = pvecs[vid]
                    sims = (e / np.sqrt(e @ e)) @ cn.T
                    cells.append(set(np.argsort(-sims)[:nprobe]))
                if cells[0] & cells[1]:
                    hits += 1
            return round(hits / total, 4) if total else 0.0

        for n_cells in sorted({8, max(8, n // 1000)}):
            cents = centroids(emb, n_cells)
            v: dict = {"n_cells": n_cells, "avg_cell": n / n_cells}
            v["probe_recall"] = {
                f"nprobe{p}": probe_recall(cents, p) for p in (1, 2)
            }
            # assignment strategies: build+exec wall for each
            lit = metered_run(spark, lambda: assign_literal_chain(emb, cents))
            v["literal_build_s"] = round(lit["build_s"], 3)
            v["literal_exec_s"] = round(lit["exec_s"], 3)
            assigned = assign_matmul(emb, cents)
            mm = metered_run(spark, lambda: assigned)
            v["matmul_exec_s"] = round(mm["exec_s"], 3)
            # pair space from the cell histogram (no pair materialized)
            hist = (
                assigned.groupBy("cell_id")
                .count()
                .agg(
                    F.sum(
                        F.col("count") * (F.col("count") - 1) / 2
                    ).alias("pairs")
                )
                .collect()[0]
            )
            v["pair_space"] = int(hist["pairs"])
            v["pairs_per_vector"] = round(hist["pairs"] / n, 1)
            if hist["pairs"] > 2e8:
                # The fixed-C point has exploded -- the histogram already
                # proves it; don't burn an hour materializing the proof.
                v["pair_join"] = "skipped: pair space > 2e8"
                row[f"C{n_cells}"] = v
                print(
                    json.dumps({f"x{factor}": {f"C{n_cells}": v}}),
                    flush=True,
                )
                continue
            # verify join: survivors + planted recall + wall + shuffle
            assigned = assigned.localCheckpoint(eager=True)
            stats = (
                within_cell_pairs(assigned)
                .agg(
                    F.count("*").alias("n"),
                    F.count(
                        F.when(
                            (F.col("vec_id_2") == F.col("vec_id_1") + 1)
                            & (F.col("vec_id_2") % DUP_EVERY == 1),
                            F.lit(1),
                        )
                    ).alias("found"),
                )
                .collect()[0]
            )
            v["surviving_pairs"] = stats["n"]
            v["planted_recall"] = round(stats["found"] / planted, 4)
            v["pair_join_wall_s"], v["shuffle"] = metered(
                spark, lambda: within_cell_pairs(assigned), reps=1, warm=False
            )
            row[f"C{n_cells}"] = v
            print(json.dumps({f"x{factor}": {f"C{n_cells}": v}}), flush=True)
        out[f"x{factor}"] = row

    print(json.dumps({"semantic_dedup": out}, indent=1))
    spark.stop()


def span_main() -> None:
    """Measure the exact-vs-Bloom duplicated-span fork (VERDICT r8 #3).

    q_dup_spans' join-back shuffles the FULL positional gram stream on
    ghash once the duplicated-gram set outgrows the broadcast budget;
    q_dup_spans_bloom bit-tests the stream against a fixed-size bitmap
    first so only survivors ride that exchange. This probe synthesizes
    the regime the argument is about -- a REALISTIC boilerplate rate,
    not the replication probe's all-duplicated ceiling:

    - n = 25k * factor documents of 50 doc-unique tokens each (their
      grams are never duplicated -- the ~95% a Bloom test drops);
    - 5% of documents carry a 12-token boilerplate block drawn from a
      template pool that scales as n/100 (boilerplate DIVERSITY grows
      with a real corpus), each template shared by ~5 documents, so
      the dup-gram set grows linearly and eventually outgrows any
      broadcast budget while staying a few percent of positions;
    - broadcast joins disabled (embsweep's rationale: at probe sizes
      the dup set broadcasts, hiding the exchange structure; at 100 TB
      it cannot -- the explicit F.broadcast on the Bloom bitmap is
      exempt, being fixed-size by construction).

    Reports min-of-2 wall + stage-level shuffle volume per fork, plus
    a span-set equality check (both forks share one oracle).

        python tools/scale_probe.py spansweep [max_factor]
    """
    from pyspark.sql import functions as F

    from dump1090_stream_parser_spark.session import get_spark

    import __spark_entry__ as e

    max_factor = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    scratch = sys.argv[3] if len(sys.argv) > 3 else "/tmp/span_probe"
    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        app_name="span_fork_probe",
        shuffle_partitions=32,
        extra_conf={
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    def synth(n: int, out_dir: str) -> None:
        ids = spark.range(n).select(F.col("id").alias("doc_id"))
        uniq = F.transform(
            F.sequence(F.lit(1), F.lit(50)),
            lambda i: F.concat(
                F.lit("w"), F.col("doc_id"), F.lit("x"), i.cast("string")
            ),
        )
        tid = (F.col("doc_id") / 20).cast("long") % F.lit(max(n // 100, 1))
        boiler = F.transform(
            F.sequence(F.lit(1), F.lit(12)),
            lambda i: F.concat(
                F.lit("b"), tid.cast("string"), F.lit("y"),
                i.cast("string"),
            ),
        )
        text = F.when(
            F.col("doc_id") % 20 == 0,
            F.concat_ws(" ", F.concat(boiler, uniq)),
        ).otherwise(F.concat_ws(" ", uniq))
        ids.select(
            "doc_id",
            text.alias("text"),
            F.lit("en").alias("lang"),
            F.concat(F.lit("s"), F.pmod("doc_id", F.lit(4))).alias(
                "source"
            ),
            F.length(text).alias("n_chars"),
        ).repartition(32).write.mode("overwrite").parquet(
            f"{out_dir}/documents.parquet"
        )

    exact = e.queries()["q_dup_spans"]
    bloom = e.queries()["q_dup_spans_bloom"]
    out: dict[str, dict] = {}
    for factor in [f for f in (1, 4, 16) if f <= max_factor]:
        n = 25_000 * factor
        sf_dir = f"{scratch}/x{factor}"
        synth(n, sf_dir)
        row: dict = {
            "docs": n,
            "boiler_docs": n // 20,
            "templates": max(n // 100, 1),
        }
        for label, fn in (("exact", exact), ("bloom", bloom)):
            row[label], row[f"{label}_shuffle"] = metered(
                spark, lambda: fn(spark, sf_dir)
            )
        a = {tuple(r) for r in exact(spark, sf_dir).collect()}
        b = {tuple(r) for r in bloom(spark, sf_dir).collect()}
        row["agree"] = a == b
        row["spans"] = len(a)
        out[f"x{factor}"] = row
        print(json.dumps({f"x{factor}": row}), flush=True)

    print(json.dumps({"dup_spans_fork": out}, indent=1))
    shutil.rmtree(scratch, ignore_errors=True)
    spark.stop()


def tri_main() -> None:
    """Measure q_triangles' orientation comparator under REAL skew
    (VERDICT r8 ask #6).

    The replication probe is inapplicable to the triangle census (it
    changes the graph's density class, not its scale), so this probe
    synthesizes a power-law graph directly: M = 8N candidate edges
    whose endpoints follow a 1/rank (Zipf) law via the inverse-CDF
    floor(exp(u*ln N)), then NODE LABELS are scrambled through a hash
    so id order is uncorrelated with degree -- the adversarial case
    the q_triangles docstring names ("if the id order correlates
    badly with degree"). The same edge set runs through both
    orientations:

    - id-ordered (the registered plan's u < v): a hub's edges split
      arbitrarily between in and out, so the wedge-path join input
      includes ~(d/2)^2 paths centered on every hub;
    - degree-ordered (orient low-(degree, node) -> high): every hub
      receives its edges as TARGETS, its out-degree stays small, and
      total path count is O(m^1.5) by the classic argument.

    Reported per factor and orientation: the exact wedge-path count
    sum_b in(b)*out(b) (the closing join's input size -- computed by
    aggregation, not estimated), min-of-2 wall, stage-level shuffle,
    and the triangle count (which MUST agree: any acyclic orientation
    counts each triangle exactly once).

        python tools/scale_probe.py trisweep [max_factor]
    """
    from pyspark.sql import functions as F

    from dump1090_stream_parser_spark.operators.basket import (
        triangle_census,
    )
    from dump1090_stream_parser_spark.session import get_spark

    max_factor = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    N0, EDGE_MULT = 30_000, 8
    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        app_name="triangle_skew_probe",
        shuffle_partitions=32,
    )
    spark.sparkContext.setLogLevel("ERROR")

    def synth(n_nodes: int):
        m = EDGE_MULT * n_nodes
        draws = spark.range(m)
        unif = lambda tag: (
            F.xxhash64(F.concat(F.lit(tag), F.col("id").cast("string")))
            % 1_000_000
        ).cast("double") / 1_000_000.0 + 0.5e-6
        rank = lambda tag: F.least(
            F.floor(F.exp(unif(tag) * F.log(F.lit(float(n_nodes))))),
            F.lit(n_nodes),
        ).cast("long")
        # scrambled, effectively collision-free labels: id order is
        # then uncorrelated with degree (the adversarial case)
        label = lambda r: F.pmod(
            F.xxhash64(F.concat(F.lit("n"), r.cast("string"))),
            F.lit(1 << 40),
        )
        e = draws.select(
            label(rank("a")).alias("x"), label(rank("b")).alias("y")
        ).filter(F.col("x") != F.col("y"))
        return (
            e.select(
                F.least("x", "y").alias("u"),
                F.greatest("x", "y").alias("v"),
            )
            .distinct()
            .localCheckpoint(eager=True)
        )

    out: dict[str, dict] = {}
    for factor in [f for f in (1, 4, 16) if f <= max_factor]:
        n = N0 * factor
        edges = synth(n)
        row: dict = {"nodes_target": n, "edges": edges.count()}
        for orient in ("id", "degree"):
            tri = triangle_census(edges, orient=orient)
            # exact closing-join input: sum over centers of in*out
            oriented = triangle_census(
                edges, orient=orient, _oriented_only=True
            )
            paths = (
                oriented.groupBy("v")
                .agg(F.count(F.lit(1)).alias("din"))
                .join(
                    oriented.groupBy("u").agg(
                        F.count(F.lit(1)).alias("dout")
                    ),
                    F.col("v") == F.col("u"),
                )
                .agg(F.sum(F.col("din") * F.col("dout")))
                .collect()[0][0]
            )
            v: dict = {"wedge_paths": int(paths or 0)}
            v["wall_s"], v["shuffle"] = metered(spark, lambda: tri)
            v["n_triangles"] = tri.collect()[0]["n_triangles"]
            row[orient] = v
            print(json.dumps({f"x{factor}": {orient: v}}), flush=True)
        row["agree"] = (
            row["id"]["n_triangles"] == row["degree"]["n_triangles"]
        )
        out[f"x{factor}"] = row

    print(json.dumps({"triangle_orientation": out}, indent=1))
    spark.stop()


def cms_main() -> None:
    """Measure the count-min grid's fixed-exchange claim against exact
    per-key counting as key cardinality grows (round 7).

    q_countmin's docstring argues the grid build's one exchange carries
    <= DEPTH*WIDTH rows per map partition REGARDLESS of input size
    (partial agg collapses each partition to the fixed grid first),
    while an exact per-key groupBy shuffles one row per distinct key
    per partition that saw it -- linear in key cardinality. The sf0.1
    events table has ~1.5k distinct users, far too few to show the
    fork, so this probe synthesizes a keyed stream whose cardinality
    scales with the factor (n/8 distinct keys, each ~8 occurrences)
    and reports min-of-2 wall plus stage-level shuffle volume for both
    shapes.

        python tools/scale_probe.py cmssweep [max_factor]
    """
    from pyspark.sql import functions as F

    from dump1090_stream_parser_spark.operators.pipeline_ops import (
        countmin_cells,
    )
    from dump1090_stream_parser_spark.session import get_spark

    max_factor = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    scratch = sys.argv[3] if len(sys.argv) > 3 else "/tmp/cms_probe"
    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        app_name="cms_probe",
        shuffle_partitions=32,
    )
    spark.sparkContext.setLogLevel("ERROR")

    base_rows = 200_000
    out: dict[str, dict] = {}
    for factor in [f for f in (4, 16, 64) if f <= max_factor]:
        n = base_rows * factor
        sf_dir = f"{scratch}/x{factor}"
        # n/8 distinct keys, each ~8 occurrences, spread over 32 files
        spark.range(n).select(
            (F.col("id") % (n // 8)).alias("user_id")
        ).repartition(32).write.mode("overwrite").parquet(
            f"{sf_dir}/keys.parquet"
        )
        keys = spark.read.parquet(f"{sf_dir}/keys.parquet")
        row: dict = {"rows": n, "distinct_keys": n // 8}
        for label, fn in (
            ("exact", lambda: keys.groupBy("user_id").count()),
            ("cms", lambda: countmin_cells(keys, "user_id")),
        ):
            row[label], row[f"{label}_shuffle"] = metered(spark, fn)
        out[f"x{factor}"] = row
        print(json.dumps({f"x{factor}": row}))

    print(json.dumps({"countmin_fork": out}, indent=1))
    shutil.rmtree(scratch, ignore_errors=True)
    spark.stop()


def sov_main() -> None:
    """Measure the exact-vs-KMV source-overlap fork (VERDICT r9 #6).

    q_source_overlap's bill is the full distinct-gram set: one
    corpus-proportional DISTINCT plus a hash-keyed self-join whose
    input is every distinct (source, gram) pair. The KMV fork answers
    the same pair questions from SOV_K-long bottom-k sketches. This
    probe measures BOTH arms at growing corpus size:

    - exact arm: the registered q_source_overlap;
    - sketch arm: the at-scale KMV plan -- bottom-k directly over the
      RAW gram stream (no distinct: a min-sketch is duplicate-
      insensitive, so the partial WindowGroupLimit pass forwards at
      most K rows per source per map partition and the corpus-sized
      distinct exchange disappears entirely), then the sketch-sized
      pair merge. The registered q_source_overlap_kmv carries exact
      certificate legs ON TOP of this plan for driver certification;
      the probe measures what remains when they drop.

    Synthesis: S=8 sources, each document 40 source-unique tokens;
    20% of documents append a 12-token shared block drawn from a
    CROSS-SOURCE template pool scaling n/200, so pairwise overlap is
    real and grows with the corpus. Broadcast joins disabled (the
    embsweep rationale). Reports min-of-2 wall + stage shuffle per
    arm, plus the sketch's mean absolute Jaccard error vs exact.

        python tools/scale_probe.py sovsweep [max_factor]
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from dump1090_stream_parser_spark.functions.hashing import (
        portable_hash64,
    )
    from dump1090_stream_parser_spark.operators.dedup import (
        SOV_K,
        SPAN_GRAM,
        _SOV_JACC_EST,
        _SOV_UNION_EST,
    )
    from dump1090_stream_parser_spark.operators.text import tokens_col
    from dump1090_stream_parser_spark.session import get_spark
    from dump1090_stream_parser_spark.tables import load_table

    import __spark_entry__ as e

    max_factor = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    scratch = sys.argv[3] if len(sys.argv) > 3 else "/tmp/sov_probe"
    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        app_name="sov_fork_probe",
        shuffle_partitions=32,
        extra_conf={
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    def synth(n: int, out_dir: str) -> None:
        ids = spark.range(n).select(F.col("id").alias("doc_id"))
        uniq = F.transform(
            F.sequence(F.lit(1), F.lit(40)),
            lambda i: F.concat(
                F.lit("w"), F.col("doc_id"), F.lit("x"), i.cast("string")
            ),
        )
        tid = (F.col("doc_id") / 5).cast("long") % F.lit(max(n // 200, 1))
        shared = F.transform(
            F.sequence(F.lit(1), F.lit(12)),
            lambda i: F.concat(
                F.lit("t"), tid.cast("string"), F.lit("y"),
                i.cast("string"),
            ),
        )
        text = F.when(
            F.col("doc_id") % 5 == 0,
            F.concat_ws(" ", F.concat(uniq, shared)),
        ).otherwise(F.concat_ws(" ", uniq))
        ids.select(
            "doc_id",
            text.alias("text"),
            F.lit("en").alias("lang"),
            F.concat(F.lit("s"), F.pmod("doc_id", F.lit(8))).alias(
                "source"
            ),
            F.length(text).alias("n_chars"),
        ).repartition(32).write.mode("overwrite").parquet(
            f"{out_dir}/documents.parquet"
        )

    def sketch_arm(sf_dir: str):
        """The at-scale KMV plan: bottom-k over the RAW gram stream."""
        docs = load_table(spark, sf_dir, "documents")
        staged = docs.select("source", tokens_col().alias("t")).filter(
            F.size("t") >= SPAN_GRAM
        )
        gram_strs = F.expr(
            "transform(sequence(0, size(t) - 5),"
            " i -> concat_ws(' ', slice(t, i + 1, 5)))"
        )
        raw = staged.select(
            "source", F.explode(gram_strs).alias("gram")
        ).select("source", portable_hash64(F.col("gram")).alias("ghash"))
        # partial WindowGroupLimit bounds the exchange at K rows per
        # source per map partition; duplicates survive it, so dedupe
        # AFTER the (sketch-sized) exchange and trim to K
        w = Window.partitionBy("source").orderBy("ghash")
        ks = (
            raw.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= SOV_K)
            .select("source", "ghash")
            .distinct()
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= SOV_K)
            .select("source", F.col("ghash").alias("h"))
            .localCheckpoint(eager=False)
        )
        sides = (
            ks.select("source").distinct().alias("a")
            .join(
                ks.select("source").distinct().alias("b"),
                F.col("a.source") < F.col("b.source"),
            )
            .select(
                F.col("a.source").alias("sa"),
                F.col("b.source").alias("sb"),
            )
        )
        m = (
            sides.join(ks, ks["source"] == sides["sa"])
            .select(
                "sa", "sb", "h",
                F.lit(1).alias("ia"), F.lit(0).alias("ib"),
            )
            .unionAll(
                sides.join(ks, ks["source"] == sides["sb"]).select(
                    "sa", "sb", "h",
                    F.lit(0).alias("ia"), F.lit(1).alias("ib"),
                )
            )
        )
        u = m.groupBy("sa", "sb", "h").agg(
            F.max("ia").alias("ia"), F.max("ib").alias("ib")
        )
        wu = Window.partitionBy("sa", "sb").orderBy("h")
        st = (
            u.withColumn("rn", F.row_number().over(wu))
            .filter(F.col("rn") <= SOV_K)
            .groupBy("sa", "sb")
            .agg(
                F.count(F.lit(1)).alias("cnt_u"),
                F.sum(F.col("ia") * F.col("ib")).alias("c"),
                F.max("h").alias("h_k"),
            )
        )
        return st.select(
            "sa",
            "sb",
            F.expr(_SOV_UNION_EST).alias("union_est"),
            F.expr(_SOV_JACC_EST).alias("jaccard_est"),
        )

    exact = e.queries()["q_source_overlap"]
    out: dict[str, dict] = {}
    for factor in [f for f in (1, 4, 16) if f <= max_factor]:
        n = 25_000 * factor
        sf_dir = f"{scratch}/x{factor}"
        synth(n, sf_dir)
        row: dict = {"docs": n, "sources": 8}
        for label, fn in (
            ("exact", lambda d=sf_dir: exact(spark, d)),
            ("kmv", lambda d=sf_dir: sketch_arm(d)),
        ):
            row[label], row[f"{label}_shuffle"] = metered(spark, fn)
        ex = {
            (r["source_a"], r["source_b"]): r["jaccard"]
            for r in exact(spark, sf_dir).collect()
        }
        est = {
            (r["sa"], r["sb"]): r["jaccard_est"]
            for r in sketch_arm(sf_dir).collect()
        }
        errs = [abs(est[k] - ex[k]) for k in ex if k in est]
        row["pairs"] = len(ex)
        row["jaccard_mae"] = round(sum(errs) / len(errs), 4) if errs else None
        out[f"x{factor}"] = row
        print(json.dumps({f"x{factor}": row}), flush=True)

    print(json.dumps({"source_overlap_fork": out}, indent=1))
    shutil.rmtree(scratch, ignore_errors=True)
    spark.stop()


def pq_main() -> None:
    """Recall-vs-cost operating curve for the composed IVF x PQ index
    (VERDICT r10 ask #7): sweep nprobe x PQ_SHORTLIST on a replicated
    corpus and record recall@10 against exact inner-product search
    next to the two cost meters that matter at rest -- candidate code
    rows scanned (the partition-pruned ADC scan) and raw-float fetches
    (the bounded re-rank join-back). The committed artifacts
    (fixtures/ivf_centroids.parquet, fixtures/pq_codebook.parquet) are
    used as-is; corpus = the sf0.01 embeddings replicated xFACTOR with
    deterministic hash jitter (no RNG), so every number reproduces
    bit-for-bit.

    Assignment/encoding replicate the engine's exact tie-breaks
    (round(cos,6) DESC, cell_id; round(d2,6) ASC, code_id). Recall and
    candidate counts are engine-independent given those semantics, so
    the sweep runs in numpy -- the pipeline itself is driver-certified
    (q_ann_pq_pruned); this chooses its operating point.

        python tools/scale_probe.py pqsweep [factor] [n_queries]
    """
    import numpy as np
    import pandas as pd  # noqa: F401  (pyarrow path below)
    import pyarrow.parquet as pq_pa

    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    n_q = int(sys.argv[3]) if len(sys.argv) > 3 else 32

    base = pq_pa.read_table(
        "/root/testdata/sf0.01/embeddings.parquet"
    ).to_pandas()
    E0 = np.stack(base["embedding"].map(np.asarray)).astype(np.float64)
    n0, dim = E0.shape

    # deterministic jitter per (replica, row, component): keeps the
    # replicated corpus on the trained quantizer's distribution while
    # making replicas distinct (ties would otherwise make ground truth
    # ranking degenerate)
    reps = []
    for r in range(factor):
        i = np.arange(n0)[:, None]
        j = np.arange(dim)[None, :]
        h = ((i * 1009 + j * 9176 + (r + 1) * 7919) % 2003) / 2003.0
        reps.append(E0 + 0.01 * (h - 0.5))
    E = np.concatenate(reps)  # (n0*factor, dim)
    n = E.shape[0]

    # queries: BLENDS of two base vectors (deterministic pairing) --
    # a query whose true neighbors are replicas of two different
    # parents genuinely straddles cells, so nprobe has a measurable
    # recall effect. (Plain base-vector queries make the task trivial:
    # the top-10 are the query's own jittered replicas, recall 1.0 at
    # every grid point -- measured before switching to blends.)
    pair = (np.arange(n_q) * 7 + 13) % n0
    Q = 0.55 * E0[:n_q] + 0.45 * E0[pair]

    cents = (
        pq_pa.read_table(
            os.path.join(REPO, "fixtures", "ivf_centroids.parquet")
        )
        .to_pandas()
        .sort_values("cell_id")
    )
    C = np.stack(cents["cv"].map(np.asarray)).astype(np.float64)
    cell_ids = cents["cell_id"].to_numpy()

    cb = (
        pq_pa.read_table(os.path.join(REPO, "fixtures", "pq_codebook.parquet"))
        .to_pandas()
        .sort_values(["m", "code_id"])
    )
    ms = sorted(cb["m"].unique())
    ksub = cb.groupby("m").size().iloc[0]
    dsub = dim // len(ms)
    CW = {
        m: np.stack(
            cb[cb["m"] == m].sort_values("code_id")["cv"].map(np.asarray)
        ).astype(np.float64)
        for m in ms
    }

    def cos_rows(X, Y):
        num = X @ Y.T
        return np.round(
            num
            / (np.linalg.norm(X, axis=1)[:, None] * np.linalg.norm(Y, axis=1)[None, :]),
            6,
        )

    # corpus cell assignment: round(cos,6) DESC, cell_id ASC
    cc = cos_rows(E, C)
    assign = cell_ids[
        np.lexsort((np.broadcast_to(cell_ids, cc.shape), -cc), axis=1)[:, 0]
    ]

    # PQ codes: per subspace, round(d2,6) ASC, code_id ASC
    codes = np.empty((n, len(ms)), dtype=np.int64)
    for mi, m in enumerate(ms):
        sub = E[:, m * dsub : (m + 1) * dsub]
        d2 = np.round(
            ((sub[:, None, :] - CW[m][None, :, :]) ** 2).sum(axis=2), 6
        )
        codes[:, mi] = np.argmin(d2, axis=1)  # argmin takes lowest index on ties

    # ground truth: exact IP top-10 per query, (ip DESC, vec_id ASC)
    ips = Q @ E.T
    order = np.lexsort((np.broadcast_to(np.arange(n), ips.shape), -ips), axis=1)
    truth = order[:, :10]

    # query probe ranking + ADC tables
    qc = cos_rows(Q, C)
    probe_order = np.lexsort(
        (np.broadcast_to(cell_ids, qc.shape), -qc), axis=1
    )
    luts = np.empty((n_q, len(ms), ksub))
    for mi, m in enumerate(ms):
        luts[:, mi, :] = Q[:, m * dsub : (m + 1) * dsub] @ CW[m].T

    results = []
    for nprobe in (1, 2, 3, 4, 8):
        probed = cell_ids[probe_order[:, :nprobe]]  # (n_q, nprobe)
        for shortlist in (16, 32, 64, 128, 256):
            recalls, cands, fetches = [], [], []
            for qi in range(n_q):
                mask = np.isin(assign, probed[qi])
                cand_idx = np.nonzero(mask)[0]
                adc = np.round(
                    sum(
                        luts[qi, mi, codes[cand_idx, mi]]
                        for mi in range(len(ms))
                    ),
                    6,
                )
                s_order = np.lexsort((cand_idx, -adc))[:shortlist]
                short = cand_idx[s_order]
                ip_s = np.round(Q[qi] @ E[short].T, 6)
                top = short[np.lexsort((short, -ip_s))[:10]]
                recalls.append(
                    len(set(top) & set(truth[qi])) / 10.0
                )
                cands.append(len(cand_idx))
                fetches.append(min(shortlist, len(cand_idx)))
            results.append(
                {
                    "nprobe": nprobe,
                    "shortlist": shortlist,
                    "recall_at_10": round(float(np.mean(recalls)), 4),
                    "mean_candidates": round(float(np.mean(cands))),
                    "scan_frac": round(float(np.mean(cands)) / n, 4),
                    "mean_float_fetches": round(float(np.mean(fetches))),
                }
            )
            print(json.dumps(results[-1]), flush=True)
    print(
        json.dumps(
            {
                "pq_ivf_recall_curve": {
                    "corpus": n,
                    "dim": dim,
                    "queries": n_q,
                    "factor": factor,
                    "points": results,
                }
            },
            indent=1,
        )
    )


def snap_main() -> None:
    """Measure the snapshot protocol's two scale claims
    (plans/snapshots.py):

    1. WRITE PROPORTIONALITY: a copy-on-write upsert's new-version
       bytes ride the TOUCHED PARTITION's size, not the table's --
       untouched partitions' files are carried by manifest reference.
       The sweep grows the table xFACTOR while the patch stays fixed
       and records bytes-written / table-bytes.
    2. MANIFEST PRUNING: a read restricted to one partition opens
       files(part)/files(total) of the snapshot -- pruned driver-side
       from the per-file partition stats before Spark lists anything.

        python tools/scale_probe.py snapsweep [max_factor]
    """
    import shutil

    from pyspark.sql import functions as F

    from dump1090_stream_parser_spark.plans.snapshots import (
        latest_manifest,
        snapshot_files,
        snapshot_upsert,
        snapshot_write,
    )
    from dump1090_stream_parser_spark.session import get_spark

    max_factor = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    N0, PARTS = 100_000, 16
    scratch = "/tmp/snap_probe"

    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        app_name="snapshot_probe",
        shuffle_partitions=32,
    )
    spark.sparkContext.setLogLevel("ERROR")

    def tree_bytes(d: str) -> int:
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(d)
            for f in fs
        )

    out = {}
    factor = 1
    while factor <= max_factor:
        n = N0 * factor
        t = os.path.join(scratch, f"x{factor}")
        shutil.rmtree(t, ignore_errors=True)
        df = spark.range(n).select(
            F.col("id").alias("key"),
            (F.col("id") % PARTS).cast("string").alias("part"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        snapshot_write(spark, t, df, part_col="part", files_per_part=2)
        table_bytes = tree_bytes(os.path.join(t, "v0"))

        patch = df.filter(
            (F.col("part") == "3") & (F.col("key") < 200 * PARTS)
        ).withColumn("payload", F.lit("patched"))
        v = snapshot_upsert(spark, t, patch, key_col="key")
        patch_bytes = tree_bytes(os.path.join(t, f"v{v}"))

        m = latest_manifest(t)
        total_files = len(m["files"])
        pruned_files = len(snapshot_files(t, parts=["3"]))
        row = {
            "rows": n,
            "table_mb": round(table_bytes / 1e6, 2),
            "upsert_write_mb": round(patch_bytes / 1e6, 2),
            "write_frac_of_table": round(patch_bytes / table_bytes, 4),
            "files_total": total_files,
            "files_read_one_part": pruned_files,
        }
        out[f"x{factor}"] = row
        print(json.dumps({f"x{factor}": row}), flush=True)
        factor *= 4
    print(json.dumps({"snapshot_probe": out}, indent=1))
    shutil.rmtree(scratch, ignore_errors=True)
    spark.stop()


def stats_main() -> None:
    """statsweep -- file-skipping on NON-partition columns + the
    catalog arbiter's commit cost (round 13).

    1. RANGE SKIPPING: an UNPARTITIONED fact table built from
       time-ordered appends (the streaming-sink shape: every
       micro-batch commit is an append whose files span one time
       slice) answers a narrow time-range query by opening only the
       files whose manifest min/max overlap the range -- no partition
       column needed. The sweep grows the number of appended slices
       and records files-opened / files-total plus the wall-clock of
       range-pruned vs scan-everything reads of the same query.
    2. COMMIT ARBITER COST: ms/commit over 200 sequential
       manifest-only commits through FsCatalog (flock + rename) vs
       SqliteCatalog (BEGIN IMMEDIATE CAS) -- the pluggable seam must
       not tax the publish path.

        python tools/scale_probe.py statsweep [max_slices]
    """
    import shutil

    from pyspark.sql import functions as F

    from dump1090_stream_parser_spark.plans.snapshots import (
        _allocate_version,
        _commit,
        bind_catalog,
        latest_manifest,
        read_snapshot,
        snapshot_append,
        snapshot_files,
        snapshot_write,
    )
    from dump1090_stream_parser_spark.session import get_spark

    max_slices = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    ROWS_PER_SLICE = 200_000
    scratch = "/tmp/stats_probe"

    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        app_name="stats_probe",
        shuffle_partitions=32,
    )
    spark.sparkContext.setLogLevel("ERROR")

    def slice_df(i: int):
        # slice i covers hour i: ts strictly increasing across slices,
        # the shape every ingest append naturally has
        return spark.range(ROWS_PER_SLICE).select(
            (F.lit(i) * ROWS_PER_SLICE + F.col("id")).alias("key"),
            F.timestamp_seconds(
                F.lit(1704067200) + F.lit(i) * 3600
                + (F.col("id") % 3600)
            ).alias("ts"),
            (F.col("id") % 97).cast("double").alias("value"),
        )

    out = {}
    slices = 4
    while slices <= max_slices:
        t = os.path.join(scratch, f"s{slices}")
        shutil.rmtree(t, ignore_errors=True)
        snapshot_write(spark, t, slice_df(0), part_col=None)
        for i in range(1, slices):
            snapshot_append(spark, t, slice_df(i))

        import datetime

        mid = slices // 2
        lo = datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=mid)
        hi = lo + datetime.timedelta(minutes=30)
        rng = {"ts": (lo, hi)}
        n_total = len(snapshot_files(t))
        n_pruned = len(snapshot_files(t, ranges=rng))

        def run(ranges):
            t0 = time.perf_counter()
            (
                read_snapshot(spark, t, ranges=ranges)
                .filter(F.col("ts").between(lo, hi))
                .agg(F.count(F.lit(1)), F.sum("value"))
                .collect()
            )
            return round(time.perf_counter() - t0, 3)

        run(rng); run(None)  # warm codegen
        row = {
            "rows": slices * ROWS_PER_SLICE,
            "files_total": n_total,
            "files_opened_range_read": n_pruned,
            "wall_pruned_s": run(rng),
            "wall_full_scan_s": run(None),
        }
        # incremental consumer: the change feed reads ONE append's
        # files regardless of table size (the O(batch) claim measured)
        from dump1090_stream_parser_spark.plans.snapshots import (
            snapshot_changes,
        )

        def run_changes():
            t0 = time.perf_counter()
            (
                snapshot_changes(spark, t, slices - 2, slices - 1)
                .agg(F.count(F.lit(1)), F.sum("value"))
                .collect()
            )
            return round(time.perf_counter() - t0, 3)

        run_changes()
        row["wall_changes_one_append_s"] = run_changes()

        # OPTIMIZE pass: re-cluster on ts -- file count drops to
        # ~slices and each file covers one contiguous ts span, so the
        # same range read opens ~1 file
        from dump1090_stream_parser_spark.plans.snapshots import (
            snapshot_compact,
        )

        snapshot_compact(
            spark, t, max_files_per_part=slices, sort_cols=["ts"]
        )
        row["files_total_compacted"] = len(snapshot_files(t))
        row["files_opened_after_compact"] = len(
            snapshot_files(t, ranges=rng)
        )
        run(rng)
        row["wall_pruned_after_compact_s"] = run(rng)
        out[f"s{slices}"] = row
        print(json.dumps({f"s{slices}": row}), flush=True)
        slices *= 4

    # commit arbiter cost: manifest-only commits, no Spark in the loop
    arbiter = {}
    for kind, spec in (
        ("fs", None),
        ("sqlite", {"type": "sqlite", "db": "cat.db"}),
    ):
        t = os.path.join(scratch, f"commits_{kind}")
        shutil.rmtree(t, ignore_errors=True)
        if spec is not None:
            bind_catalog(t, spec)
        t0 = time.perf_counter()
        for _ in range(200):
            base = latest_manifest(t)
            base_v = None if base is None else base["version"]
            v = _allocate_version(t)
            _commit(t, v, [], None, base_v)
        arbiter[kind] = {
            "ms_per_commit": round(
                (time.perf_counter() - t0) / 200 * 1000, 3
            )
        }
    out["commit_arbiter"] = arbiter
    print(json.dumps({"stats_probe": out}, indent=1))
    shutil.rmtree(scratch, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "fork":
        fork_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "embsweep":
        emb_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "semsweep":
        sem_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "cmssweep":
        cms_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "spansweep":
        span_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "trisweep":
        tri_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "sovsweep":
        sov_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "pqsweep":
        pq_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "snapsweep":
        snap_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "statsweep":
        stats_main()
    else:
        main()
