"""The ``queries`` workload: one closed-loop client over the registry.

First, untimed and outside set-up, every query of :data:`QUERIES` runs
once against its DuckDB oracle (``testing.compare``); this first call
also warms the JVM.
Set-up (billed to ``setup_s``) is the session start plus the median of
three first calls of the query that builds a per-session structure (the
bucketed pair), each on a fresh copy of the tables so that every
path-keyed cache misses. Then, over the last copy, :data:`WARM_PASSES`
untimed warm-up passes and the timed passes: each query of the set, in
an order drawn afresh for each pass from the seed, from the
``fn(spark, sf_dir)`` call until its noop write returns; passes repeat
until ``--seconds`` have elapsed (at least one). A query's latency is
its median over the timed passes.

A traced run also covers :data:`TRACED_ONLY`: after the timed passes,
each of those queries runs once, traced, as its first call of the
session, in the listed order until :data:`EXTRAS_UNTIL_S` seconds of the
run have passed (the rest are listed as skipped). Only the per-layer
figures see them, and they are not checked against an oracle: a checked
and then a warm call of each would not fit in a run's time. A traced
run also sets up once, not three times, as it reports no ``setup_s``,
and makes no warm-up passes.
"""

from __future__ import annotations

import random
import shutil
import statistics
import time

from run import counter_unit

#: The measured set: the flagship scan/agg/top-k, the star join, a
#: framed window, two of the order-statistic family, the co-bucketed
#: join (build-once layout) and an Arrow/Python-worker query -- as much
#: of the surface as one 4-core run's time budget allows.
QUERIES = (
    "q_group_topk",
    "q_join_star",
    "q_window_running",
    "q_winsorize",
    "q_gini",
    "q_bucket_join",
    "q_model_score",
)
#: The rest of the operator surface, run in traced runs only: the
#: iterative pair (graph, dedup), the rest of the order-statistic family
#: and the slowest query of every other heavy module, in that order of
#: priority. One cold traced pass of these fits in a run; timed passes
#: do not.
TRACED_ONLY = (
    "q_pagerank",
    "q_dedup_clusters",
    "q_percentile",
    "q_mann_whitney",
    "q_ks_test",
    "q_weighted_median",
    "q_subsample_ci",
    "q_anomaly_mad",
    "q_lang_id",
    "q_containment",
    "q_near_dedup_minhash",
    "q_near_dedup_embedding_lsh",
    "q_ann_pq_pruned",
    "q_contamination",
    "q_triangles",
    "q_cusum",
    "q_sbs1_gold_latest",
    "q_multimodal_features",
    "q_spatial_join",
)
#: A traced run starts no :data:`TRACED_ONLY` query after this many
#: seconds, so that it ends within three minutes on a slow host.
EXTRAS_UNTIL_S = 130
ITERATIVE = ("q_pagerank", "q_dedup_clusters")
#: ``fn.__module__`` leaf of every query above: the per-layer groups.
MODULES = (
    "relational",
    "joins",
    "windows",
    "statistics",
    "storage",
    "inference",
    "text",
    "dedup",
    "similarity",
    "pipeline_ops",
    "basket",
    "timeseries",
    "sbs1_gold",
    "multimodal",
    "spatial",
    "graph",
)
#: Queries whose first call per session builds a reusable structure.
BUILD_ONCE = ("q_bucket_join",)
SETUP_REPS = 3
#: Untimed noop passes before timing, after the first (oracle) call of
#: each query: the JIT is still compiling the engine's hot paths then,
#: and with one warm pass the timed passes still sped up by about 12%
#: from first to last.
WARM_PASSES = 3
#: Engine modules imported inside the timed session start.
ENGINE_MODULES = (
    "dump1090_stream_parser_spark.session",
    "dump1090_stream_parser_spark.operators",
)
#: Scale of the generated tables (lineitem has 6M * SF rows).
SF = 0.01
DATA_SEED = 42


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_queries(run) -> None:
    import datagen

    args, tracer = run.args, run.tracer
    base = datagen.write(run.path("data", "base"), SF, DATA_SEED)
    # the client's order of each timed pass
    rng = random.Random(args.seed)
    orders: list[list[str]] = []
    extra = list(TRACED_ONLY) if tracer.enabled else []

    session_s = run.start_spark(ENGINE_MODULES)
    from dump1090_stream_parser_spark.operators import oracle_sql_map, queries_map
    from dump1090_stream_parser_spark.testing import compare, duckdb_oracle

    fns, oracles = queries_map(), oracle_sql_map()

    # correctness: every query against its oracle, outside every window;
    # this first call of each query also warms the JVM
    t = time.perf_counter()
    con = duckdb_oracle(base)
    for name in QUERIES:
        try:
            problems = compare(fns[name](run.spark, base), con, oracles[name])
        except Exception as exc:  # a raising query is a failed attempt
            problems = [f"raised {type(exc).__name__}: {exc}"[:300]]
        run.check(not problems, f"{name}: {problems[:2]}")
    con.close()
    check_s = time.perf_counter() - t

    reps = []
    for k in range(1 if tracer.enabled else SETUP_REPS):
        sf_dir = shutil.copytree(base, run.path("data", f"rep{k}"))
        t = time.perf_counter()
        for name in BUILD_ONCE:
            _noop(fns[name](run.spark, sf_dir))
        reps.append(time.perf_counter() - t)
    setup_s = session_s + statistics.median(reps)

    if args.trace:
        from meter import meter_self_check

        selfcheck = meter_self_check(run.spark, run.meter)
        run.detail["meter_self_check"] = selfcheck
        run.check(selfcheck["ok"], f"stage meter self-check: {selfcheck}")

    for _ in range(0 if tracer.enabled else WARM_PASSES):
        for name in QUERIES:
            _noop(fns[name](run.spark, sf_dir))

    lat: dict[str, list[float]] = {n: [] for n in (*QUERIES, *extra)}
    build: dict[str, list[float]] = {n: [] for n in lat}
    counters: dict[str, list[dict]] = {n: [] for n in lat}

    def timed(name: str) -> None:
        before = run.snapshot()
        t0 = time.time()
        df = fns[name](run.spark, sf_dir)
        t1 = time.time()
        _noop(df)
        t2 = time.time()
        after = run.snapshot()
        lat[name].append(t2 - t0)
        build[name].append(t1 - t0)
        if tracer.enabled:
            q = tracer.add(f"query.{name}", t0, t2)
            tracer.add("query.build", t0, t1, q)
            tracer.add("query.exec", t1, t2, q)
            counters[name].append(run.meter.delta(after, before))
            # the Spark work billed to this query ran inside its span
            jobs = run.meter.new_jobs
            run.check(
                all(t0 - 0.002 <= a and b is not None and b <= t2 + 0.002 for a, b in jobs),
                f"{name}: jobs {jobs} outside its span [{t0}, {t2}]",
            )

    start_totals = run.snapshot()
    t_start = time.perf_counter()
    passes = 0
    while passes == 0 or time.perf_counter() - t_start < args.seconds:
        orders.append(rng.sample(QUERIES, len(QUERIES)))
        for name in orders[-1]:
            timed(name)
        passes += 1
    end_totals = run.snapshot()
    for k, name in enumerate(extra):
        if time.perf_counter() - run.started > EXTRAS_UNTIL_S:
            run.detail["skipped"] = extra[k:]
            break
        timed(name)

    per_query = {n: statistics.median(v) for n, v in lat.items() if v}
    plain = [per_query[n] for n in QUERIES]
    total = sum(plain)
    run.e2e["setup_s"] = setup_s
    run.e2e["throughput_per_s"] = len(plain) / total
    run.detail.update(
        {
            "queries_total_s": total,
            "query_p50_s": statistics.median(plain),
            "query_samples": len(plain),
            "passes": passes,
            "session_s": session_s,
            "setup_reps_s": reps,
            "oracle_check_s": check_s,
            "per_query_s": per_query,
            "per_query_samples_s": lat,
            "orders": orders,
            "traced_only_order": extra,
        }
    )
    if not tracer.enabled:
        return

    from meter import SPARK_COUNTERS

    run.detail["iterative_s"] = sum(per_query.get(n, 0.0) for n in ITERATIVE)
    mods: dict[str, dict[str, float]] = {}
    for name in per_query:
        mod = fns[name].__module__.rsplit(".", 1)[-1]
        m = mods.setdefault(mod, dict.fromkeys(("build_s", "exec_s", "run_ms", "sw"), 0.0))
        m["build_s"] += statistics.median(build[name])
        m["exec_s"] += statistics.median(lat[name]) - statistics.median(build[name])
        m["run_ms"] += statistics.median(c["executor_run_ms"] for c in counters[name])
        m["sw"] += statistics.median(c["shuffle_write_bytes"] for c in counters[name])
    for mod, m in mods.items():
        run.layer(f"operators.{mod}.build_s", m["build_s"], "s")
        run.layer(f"operators.{mod}.exec_s", m["exec_s"], "s")
        run.layer(f"operators.{mod}.executor_run_ms", m["run_ms"], "ms")
        run.layer(f"operators.{mod}.shuffle_write_bytes", m["sw"], "bytes")
    totals = run.meter.delta(end_totals, start_totals)
    for k in SPARK_COUNTERS:
        run.layer(f"spark.{k}", totals[k] / passes, counter_unit(k))
    run.layer("trace.meter_busy_s", run.meter.busy_s, "s")
    run.layer("trace.throughput_per_s", run.e2e["throughput_per_s"], "1/s")
