"""Tier C extension: closed-form statistical models over exact sums
(SURVEY.md §2 north-star "text analysis / quality scoring" adjacency --
the curation question behind them is "how does metric Y move with
metric X inside each slice", answered at 100 TB without sampling).

Per-group ordinary least squares fits y = a + b*x from the five
sufficient statistics (n, Sx, Sy, Sxy, Sxx) -- a pure partial+final
hash aggregation, no second pass, no driver math. The house exact-sum
discipline (functions/exact.py) applies: money/quantity doubles are
2-decimal values, so every sufficient statistic is an exact scaled
integer and the ONLY float arithmetic is the closed-form division at
the end, shared as one SQL text between Spark and DuckDB so the rounded
coefficients hash-compare.

Why not Spark's built-in ``regr_slope``/``regr_r2`` (or DuckDB's): both
fold doubles in engine-specific partial/final order, so their results
are shuffle-order-dependent -- the exact class the driver's value hash
exists to catch. Sufficient statistics in integers sidestep it and are
also the mergeable form a streaming twin would keep as state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import rank_cuts, scaled_int
from ..tables import keyed_spread, load_table, table_path
from .registry import query

#: Closed-form OLS over the aggregated doubles (rn, sx, sy, sxy, sxx,
#: syy) -- one shared text per coefficient so both engines evaluate the
#: identical IEEE operation tree. Cent-unit identities: slope is
#: unit-invariant (cents/cents); the intercept comes out in y-cents per
#: x-cent and one final /100 returns it to natural units; r2 is scale-
#: free. The sums arrive as exact integers (DECIMAL(38,0) in Spark,
#: HUGEINT in DuckDB) cast once to double: below 2^53 (every test SF)
#: the conversion is exact, beyond it both casts are correctly-rounded
#: IEEE from the same exact integer.
_OLS_SLOPE = "(rn * sxy - sx * sy) / (rn * sxx - sx * sx)"
_OLS_INTERCEPT = "((sy * sxx - sx * sxy) / (rn * sxx - sx * sx)) / 100.0"
_OLS_R2 = (
    "((rn * sxy - sx * sy) * (rn * sxy - sx * sy))"
    " / ((rn * sxx - sx * sx) * (rn * syy - sy * sy))"
)


@query(
    "q_regression",
    oracle=f"""
    WITH c AS (
      SELECT l_returnflag, l_linestatus,
             CAST(round(l_quantity * 100) AS BIGINT) AS xq,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS yq
      FROM lineitem
    ),
    s AS (
      SELECT l_returnflag, l_linestatus,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS DOUBLE) AS rn,
             CAST(SUM(xq) AS DOUBLE) AS sx,
             CAST(SUM(yq) AS DOUBLE) AS sy,
             CAST(SUM(xq * yq) AS DOUBLE) AS sxy,
             CAST(SUM(xq * xq) AS DOUBLE) AS sxx,
             CAST(SUM(yq * yq) AS DOUBLE) AS syy
      FROM c GROUP BY 1, 2
    )
    SELECT l_returnflag, l_linestatus, n_rows,
           ROUND({_OLS_SLOPE}, 6) AS slope,
           ROUND({_OLS_INTERCEPT}, 6) AS intercept,
           ROUND({_OLS_R2}, 6) AS r2
    FROM s
    """,
)
def q_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS fit of extendedprice against quantity: slope,
    intercept, and r-squared for every (returnflag, linestatus) slice.

    One partial+final hash aggregation computes the five sufficient
    statistics as EXACT integers -- quantities and prices are 2-decimal
    doubles, so cent-scaled longs sum without FP order sensitivity
    (per-row products peak ~5e10, inside int64; the SUMS are kept in
    DECIMAL(38,0)/HUGEINT so web-scale row counts cannot wrap, the
    q_window_trailing fixed-point discipline extended to second
    moments). The closed-form coefficients are then one shared SQL
    text over the six doubles, so Spark and DuckDB run the identical
    IEEE tree and the round(6) results hash-compare.

    Scale: sufficient statistics ARE the mergeable sketch -- map-side
    partial aggregation collapses each partition to five numbers per
    group, the shuffle carries |groups| rows, and a streaming twin
    would keep the same five numbers as state with O(1) merge. This is
    the shape regr_slope/regr_covar_pop cannot deliver cross-engine:
    their internal double folds are association-order-dependent (the
    float-SUM hash-break class), while integer sums commute.

    tests/test_statistics.py pins the coefficients against numpy
    lstsq on the same slices (third-engine check) and the r2 in [0,1]
    envelope.
    """
    li = load_table(spark, sf_dir, "lineitem", spread=True)
    xq = F.round(F.col("l_quantity") * 100, 0).cast("long")
    yq = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    dec = "decimal(38,0)"
    s = (
        li.select(
            "l_returnflag",
            "l_linestatus",
            xq.alias("xq"),
            yq.alias("yq"),
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.lit(1)).cast("double").alias("rn"),
            F.sum(F.col("xq").cast(dec)).cast("double").alias("sx"),
            F.sum(F.col("yq").cast(dec)).cast("double").alias("sy"),
            F.sum((F.col("xq") * F.col("yq")).cast(dec))
            .cast("double")
            .alias("sxy"),
            F.sum((F.col("xq") * F.col("xq")).cast(dec))
            .cast("double")
            .alias("sxx"),
            F.sum((F.col("yq") * F.col("yq")).cast(dec))
            .cast("double")
            .alias("syy"),
        )
    )
    return s.select(
        "l_returnflag",
        "l_linestatus",
        "n_rows",
        F.round(F.expr(_OLS_SLOPE), 6).alias("slope"),
        F.round(F.expr(_OLS_INTERCEPT), 6).alias("intercept"),
        F.round(F.expr(_OLS_R2), 6).alias("r2"),
    )


# --------------------------------------------------------------------------
# Mutual information between two categorical columns -- the
# feature-dependence / label-leakage diagnostic ("does source predict
# lang?"). Distributions are exact integer counts; the float reductions
# are sorted folds over shared term texts, the q_source_divergence
# discipline applied to a JOINT distribution.
# --------------------------------------------------------------------------

#: Per-cell MI contribution over (c, rl, cs, n): (c/n) * ln(c*n/(rl*cs)).
#: Integer products stay inside the ln; rl*cs peaks at n^2 (~1e10 at
#: sf0.1 -- far inside int64; the DOUBLE cast happens before the
#: divide in both engines).
_MI_TERM = (
    "(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))"
    " * ln((CAST(c AS DOUBLE) * CAST(n AS DOUBLE))"
    " / (CAST(rl AS DOUBLE) * CAST(cs AS DOUBLE)))"
)

#: Per-value entropy contribution over (m, n): -(m/n) * ln(m/n).
_H_TERM = (
    "-(CAST(m AS DOUBLE) / CAST(n AS DOUBLE))"
    " * ln(CAST(m AS DOUBLE) / CAST(n AS DOUBLE))"
)


@query(
    "q_mutual_info",
    oracle=f"""
    WITH cells AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM cells
    ),
    lm AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS m
           FROM cells GROUP BY 1),
    sm AS (SELECT source, CAST(SUM(c) AS BIGINT) AS m
           FROM cells GROUP BY 1),
    mi AS (
      SELECT ROUND(list_reduce(list(term ORDER BY lang, source),
                               (a, x) -> a + x), 6) AS mi
      FROM (
        SELECT lang, source, ({_MI_TERM}) AS term
        FROM (
          SELECT cells.lang AS lang, cells.source AS source,
                 cells.c AS c, lm.m AS rl, sm.m AS cs, t.n AS n
          FROM cells
          JOIN lm ON lm.lang = cells.lang
          JOIN sm ON sm.source = cells.source
          CROSS JOIN (SELECT n FROM tot) t
        )
      )
    ),
    hl AS (
      SELECT ROUND(list_reduce(list(term ORDER BY lang),
                               (a, x) -> a + x), 6) AS h_lang
      FROM (SELECT lang, ({_H_TERM}) AS term
            FROM (SELECT lm.lang AS lang, lm.m AS m, t.n AS n
                  FROM lm CROSS JOIN (SELECT n FROM tot) t))
    ),
    hs AS (
      SELECT ROUND(list_reduce(list(term ORDER BY source),
                               (a, x) -> a + x), 6) AS h_source
      FROM (SELECT source, ({_H_TERM}) AS term
            FROM (SELECT sm.source AS source, sm.m AS m, t.n AS n
                  FROM sm CROSS JOIN (SELECT n FROM tot) t))
    )
    SELECT tot.n AS n_docs, tot.k AS n_cells, mi.mi,
           hl.h_lang, hs.h_source
    FROM tot, mi, hl, hs
    """,
)
def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between the corpus lang and source
    columns, with both marginal entropies -- the "does this metadata
    column leak that one" dependence diagnostic (MI = 0 iff
    independent; MI close to min(H) means one column nearly determines
    the other), the drift companion to q_source_divergence's pairwise
    JS distance.

    Everything data-proportional is ONE hash aggregation: the corpus
    collapses to |lang|x|source| joint-count cells, and marginals,
    totals, MI and entropy terms all derive from those integer cells
    (lang/source marginals are SECOND aggregations over the cells, not
    the corpus). The three float reductions fold value-sorted term
    lists with the term texts shared verbatim with the oracle
    (q_source_divergence discipline), so the round(6) doubles
    hash-compare; ln is the documented ~1-ulp libm class.

    Scale: post-cells cost is |lang|x|source| rows independent of
    corpus size. The cells aggregate partial-collapses map-side (25
    cells here; bounded by the two domains generally), the marginal
    joins are broadcast by construction, and the final folds run on
    one task over domain-sized arrays. n inside the term arrives from
    a 1-row broadcast cross join, never a second corpus pass.
    """
    docs = load_table(spark, sf_dir, "documents")
    cells = (
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # every frame below is domain-sized (|lang|, |source|, or 1 row);
    # ReuseExchange replays their exchanges per consumer,
    # and the cross joins they feed are 1-row/domain-row broadcast
    # nested loops -- constant-size at any corpus scale
    tot = cells.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("k")
    )
    lm = (
        cells.groupBy("lang")
        .agg(F.sum("c").alias("m"))
    )
    sm = (
        cells.groupBy("source")
        .agg(F.sum("c").alias("m"))
    )

    def _fold(df, order_cols, term_sql, alias):
        terms = df.withColumn("term", F.expr(term_sql))
        arr = F.transform(
            F.sort_array(
                F.collect_list(F.struct(*order_cols, "term"))
            ),
            lambda s: s["term"],
        )
        return terms.agg(
            F.round(
                F.aggregate(
                    arr, F.lit(0.0), lambda a, x: a + x
                ),
                6,
            ).alias(alias)
        )

    mi_in = (
        cells.join(lm.withColumnRenamed("m", "rl"), "lang")
        .join(sm.withColumnRenamed("m", "cs"), "source")
        .crossJoin(F.broadcast(tot.select("n")))
    )
    mi = _fold(mi_in, ["lang", "source"], _MI_TERM, "mi")
    hl = _fold(
        lm.crossJoin(F.broadcast(tot.select("n"))),
        ["lang"],
        _H_TERM,
        "h_lang",
    )
    hs = _fold(
        sm.crossJoin(F.broadcast(tot.select("n"))),
        ["source"],
        _H_TERM,
        "h_source",
    )
    return (
        tot.select(
            F.col("n").alias("n_docs"), F.col("k").alias("n_cells")
        )
        .crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(hs))
    )


# --------------------------------------------------------------------------
# Robust anomaly detection: median/MAD outlier accounting per event
# type. Mean/stddev anomaly gates break exactly when needed most (the
# outliers inflate the gate); the median/MAD pair is the standard
# robust replacement, and its two-pass join-back shape is the
# decorrelated form of a correlated scalar aggregate.
# --------------------------------------------------------------------------

#: Consistency constant: MAD * 1.4826 estimates sigma under normality,
#: making the 3-sigma convention transferable to the robust gate.
MAD_SIGMA = 1.4826

#: The outlier predicate over (value, med, mad) -- shared text so both
#: engines compare the identical doubles (med/mad arrive unrounded
#: from identical interpolated-percentile sorts, the q_percentile
#: precedent, so strict-inequality boundary decisions agree bitwise).
_OUTLIER_PRED = "abs(value - med) > 3.0 * 1.4826 * mad"


@query(
    "q_anomaly_mad",
    oracle=f"""
    WITH base AS (
      SELECT event_type, value FROM events WHERE value IS NOT NULL
    ),
    med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM base GROUP BY 1
    ),
    dev AS (
      SELECT b.event_type, b.value, m.med
      FROM base b JOIN med m ON m.event_type = b.event_type
    ),
    mad AS (
      SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
      FROM dev GROUP BY 1
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(MAX(d.med), 6) AS med,
           ROUND(MAX(a.mad), 6) AS mad,
           CAST(SUM(CASE WHEN {_OUTLIER_PRED}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad a ON a.event_type = d.event_type
    GROUP BY 1
    """,
)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-event-type outlier accounting: median, MAD (median
    absolute deviation), and the count of values beyond the
    3-sigma-equivalent robust gate (|v - med| > 3 * 1.4826 * MAD).

    Why median/MAD and not q_stats' mean/stddev: outliers inflate the
    very stddev meant to gate them (masking), while median and MAD
    have 50% breakdown -- the gate holds until half the data is bad.
    The cost is an inherently TWO-PASS shape: MAD needs the median
    joined back before deviations exist. Each pass is one scan + a
    per-type exact interpolated-percentile sort (engine-identical,
    the q_percentile precedent) + a broadcast join of a |types|-row
    frame -- the decorrelated form of a correlated scalar subquery
    (q_subquery_scalar's LATERAL shape, applied twice). The outlier
    predicate is one shared text over unrounded doubles, so boundary
    decisions agree bitwise and the counts hash-compare.

    Scale: the joined-back frames are |event_type| rows (broadcast by
    construction); the two corpus passes are scans with map-side
    per-type partial sort state. At 100 TB the exact percentile sorts
    swap for GK/t-digest sketches (q_approx_percentile's certified
    machinery) making both passes mergeable single-aggregations -- the
    two-scan structure is irreducible (the second pass's input depends
    on the first's result), which is why streaming robust gates keep
    yesterday's (med, mad) as state rather than recomputing in-flight.
    """
    events = load_table(spark, sf_dir, "events")
    base = events.filter(F.col("value").isNotNull()).select(
        "event_type", "value"
    )
    med = base.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = base.join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type").agg(
        F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5))
        .alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), "event_type")
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.max("med"), 6).alias("med"),
        F.round(F.max("mad"), 6).alias("mad"),
        F.sum(
            F.when(F.expr(_OUTLIER_PRED), 1).otherwise(0)
        ).cast("long").alias("n_outliers"),
    )


# --------------------------------------------------------------------------
# Autocorrelation function: per-series Pearson correlation of the value
# stream against its own k-step-lagged copy -- the time-series
# diagnostic behind "is this metric drifting or mean-reverting" and the
# seasonality screen a training-data telemetry pipeline runs before
# trusting any smoothed rate (q_ema's EMA assumes decay; ACF measures
# whether decay is even the right model).
# --------------------------------------------------------------------------

#: Shared micro-unit quantizer: value is a full-precision double, so the
#: exact-sum discipline needs a deterministic fixed-point cast first.
#: multiply, add and floor are single correctly-rounded IEEE ops, so both
#: engines map the same double to the same integer (no round()-on-double
#: HALF_UP/shortest-repr divergence -- the r7 ADVICE class).
_ACF_Q = "CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)"

#: Pearson correlation from exact-integer sufficient statistics, one
#: shared text so both engines evaluate the identical IEEE tree
#: (q_regression discipline; sqrt is correctly rounded by IEEE 754).
_ACF_R = (
    "(rn * sxy - sx * sy)"
    " / sqrt((rn * sxx - sx * sx) * (rn * syy - sy * sy))"
)


@query(
    "q_acf",
    oracle=f"""
    WITH base AS (
      SELECT event_type, ts, event_id, {_ACF_Q} AS y
      FROM events WHERE value IS NOT NULL
    ),
    lagged AS (
      SELECT event_type, y,
             lag(y, 1) OVER w AS x1,
             lag(y, 2) OVER w AS x2,
             lag(y, 3) OVER w AS x3
      FROM base
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ),
    pairs AS (
      SELECT event_type, k, x, y FROM (
        SELECT event_type, y, 1 AS k, x1 AS x FROM lagged
        UNION ALL SELECT event_type, y, 2 AS k, x2 AS x FROM lagged
        UNION ALL SELECT event_type, y, 3 AS k, x3 AS x FROM lagged
      ) WHERE x IS NOT NULL
    ),
    s AS (
      SELECT event_type, k,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(COUNT(*) AS DOUBLE) AS rn,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx,
             CAST(SUM(y * y) AS DOUBLE) AS syy
      FROM pairs GROUP BY 1, 2
    )
    SELECT event_type, CAST(k AS INTEGER) AS k, n_pairs,
           ROUND({_ACF_R}, 6) AS acf
    FROM s
    WHERE (rn * sxx - sx * sx) > 0 AND (rn * syy - sy * sy) > 0
    """,
)
def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the event value series at lags 1-3 for every
    event_type, in (ts, event_id) order (event_id is the unique
    tiebreaker, so the pairing is total and engine-independent).

    The REGISTERED plan is the segmented fold (:func:`acf_segmented`,
    VERDICT r8 ask #2): the single-sort form (:func:`acf_single_sort`,
    which mirrors the oracle SQL shape line for line) carries a
    one-task-per-type sort bound that the round-8 replication probe
    measured at 13.2 s under x16 growth while its wave stayed flat --
    with 5 event types, the per-type window IS the job at scale. The
    segmented plan bounds every task by a time segment instead and is
    EXACTLY equal -- not tolerance-equal -- because the pair set is
    identical and the sufficient statistics are exact integer sums,
    which commute (tests/test_statistics.py pins frame equality; the
    unchanged oracle hash-certifies the same algebra cross-engine).

    Stages: (1) quantize the double values to exact micro-units with a
    shared floor(x*1e6 + 0.5) text -- single correctly-rounded IEEE
    ops, so both engines produce the identical integer; (2) segmented
    lag pairing with a prefix carry (see acf_segmented for why no
    density precondition survives); (3) a hash aggregation folds the
    five sufficient statistics as exact integers (per-row x*y peaks
    ~3e17, inside int64; the sums ride DECIMAL(38,0)/HUGEINT so
    web-scale counts cannot wrap), and the Pearson closed form is one
    shared SQL text over the resulting doubles (q_regression
    discipline -- corr()'s internal double folds are shuffle-order-
    dependent, integer sums commute).

    tests/test_statistics.py pins the lag-1 coefficient against
    numpy.corrcoef on the same quantized series (third-engine check).
    """
    return acf_segmented(spark, sf_dir)


def acf_single_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle-shaped single-sort ACF: one window pass per type
    emits all three lagged copies (one shuffle + one sort serves every
    lag). This is the plan the oracle SQL mirrors and the reference
    form the segmented-equality pin compares against -- correct at any
    scale but bounded by one task per event_type, so the registered
    q_acf runs :func:`acf_segmented` instead (VERDICT r8 ask #2)."""
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    base = events.filter(F.col("value").isNotNull()).select(
        "event_type", "ts", "event_id", F.expr(_ACF_Q).alias("y")
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    lagged = base.select(
        "event_type",
        "y",
        F.lag("y", 1).over(w).alias("x1"),
        F.lag("y", 2).over(w).alias("x2"),
        F.lag("y", 3).over(w).alias("x3"),
    )
    return _acf_close(lagged)


def _acf_close(lagged: DataFrame) -> DataFrame:
    """Shared ACF tail: stack the lagged copies to (k, x, y) pairs,
    fold the exact-integer sufficient statistics, apply the Pearson
    closed form. Identical for the single-sort and segmented fronts
    because integer sums commute."""
    pairs = lagged.selectExpr(
        "event_type", "y", "stack(3, 1, x1, 2, x2, 3, x3) AS (k, x)"
    ).filter(F.col("x").isNotNull())
    dec = "decimal(38,0)"
    s = pairs.groupBy("event_type", "k").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count(F.lit(1)).cast("double").alias("rn"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).cast("double").alias("syy"),
    )
    return s.filter(
        F.expr("(rn * sxx - sx * sx) > 0 AND (rn * syy - sy * sy) > 0")
    ).select(
        "event_type",
        F.col("k").cast("int").alias("k"),
        "n_pairs",
        F.round(F.expr(_ACF_R), 6).alias("acf"),
    )


# --------------------------------------------------------------------------
# Weighted median: the order statistic where half the WEIGHT (not half
# the rows) sits at or below the answer -- the robust center for
# skewed, weight-carrying data (tokens-per-source, spend-per-order).
# Exactness comes free on 2-decimal money/quantity columns: cent-scaled
# integers make every cumulative comparison integer arithmetic, so both
# engines pick the identical row with no interpolation policy to share.
# --------------------------------------------------------------------------


@query(
    "q_weighted_median",
    oracle="""
    WITH c AS (
      SELECT l_returnflag AS rf,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
             CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT))
                  AS BIGINT) AS w,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
      SELECT rf, price_c, w, n,
             SUM(w) OVER (
               PARTITION BY rf ORDER BY price_c
               ROWS UNBOUNDED PRECEDING
             ) AS cumw,
             SUM(w) OVER (PARTITION BY rf) AS tot,
             SUM(n) OVER (PARTITION BY rf) AS n_rows
      FROM c
    )
    SELECT rf AS l_returnflag,
           MIN(price_c) / 100.0 AS weighted_median_price,
           CAST(MAX(tot) AS DOUBLE) / 100.0 AS total_weight,
           CAST(MAX(n_rows) AS BIGINT) AS n_rows
    FROM cum
    WHERE 2 * cumw >= tot
    GROUP BY rf
    """,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price per return flag: the
    smallest price whose cumulative quantity weight reaches half the
    group's total (the lower weighted median).

    Two stages, all exact: (1) a hash aggregation collapses the fact
    to (group, DISTINCT price) rows with summed cent-scaled integer
    weights -- the corpus-proportional step, mergeable map-side, after
    which everything is bounded by the price domain, not the row
    count; (2) in the same group partition, ``rank_cuts``
    (functions/exact.py) picks the median as the integer predicate
    2*cumw >= tot over the running weight, and one ``groupBy(rf)``
    reads it off next to the row count -- no float interpolation
    exists anywhere, so there is no rounding policy to share and the
    engines agree bitwise by construction (the only doubles are the
    display /100.0 at the end). The spread is keyed on the group
    alone, so at undershooting split counts one exchange serves the
    collapse, the window and the final aggregate.

    Scale: the pre-aggregation is the same trick q_approx_percentile's
    value histogram uses -- the window never sees raw rows, only
    distinct values per group. If the value domain itself is unbounded
    (continuous prices at web scale), quantize to fixed-width buckets
    first (the GK/t-digest swap documented there) and this plan's
    shape is unchanged. The per-group ordered scan is over distinct
    values; groups hash-spread across tasks.

    tests/test_statistics.py recomputes the weighted median in pure
    Python (third-engine check) and pins the defining property: weight
    at-or-below >= half, weight strictly-below < half.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # keyed spread on the group alone (see q_winsorize).
    proj = li.select(
        F.col("l_returnflag").alias("rf"),
        scaled_int(F.col("l_extendedprice")).alias("price_c"),
        scaled_int(F.col("l_quantity")).alias("w_c"),
    )
    proj = keyed_spread(spark, proj, table_path(sf_dir, "lineitem"), ["rf"])
    c = proj.groupBy("rf", "price_c").agg(
        F.sum("w_c").alias("w"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        rank_cuts(c, "rf", "price_c", "w", {"med": (1, 2)})
        .groupBy(F.col("rf").alias("l_returnflag"))
        .agg(
            (F.max("med") / 100.0).alias("weighted_median_price"),
            (F.max("tot").cast("double") / 100.0).alias("total_weight"),
            F.sum("n").alias("n_rows"),
        )
    )


def acf_segmented(
    spark: SparkSession,
    sf_dir: str,
    segment: str = "2 days",
) -> DataFrame:
    """The 100 TB ACF shape (and, since round 9, the plan q_acf
    registers): segmented lag pairing with a PREFIX carry.

    The single sort's only data-proportional exchange is the per-TYPE
    window sort -- and event_type has 5 values, so the probe
    (docs/SCALE.md round-8 waves table) shows the one-task-per-type
    bound dominating by x16. This variant bounds every task by the
    SEGMENT instead: rows bucket by time window, each segment is
    prepended with the last LAG_MAX rows of the type's whole PREFIX
    (all earlier populated segments) as carry-in -- pair PARTNERS
    only, carry rows emit no pairs of their own -- pairing runs
    inside (type, segment) tasks, and the exact integer sufficient
    statistics merge freely across segments into the same closed
    form. The pair set is IDENTICAL to the single sort's -- not a
    float-reassociation approximation: integer sums commute, so
    segmented == single-pass EXACTLY (tests/test_statistics.py pins
    frame equality against :func:`acf_single_sort`).

    No density precondition (round-9 hardening; the earlier form
    carried only the PREVIOUS segment's tail, which required every
    populated segment to hold >= LAG_MAX rows and to be consecutive).
    The prefix carry is assembled from bounded metadata: per-segment
    tail candidates (LAG_MAX rows per populated segment) triangular-
    joined against the populated-segment list, then ranked -- a
    (#segments x #types)-bounded build that never touches the
    fact-table exchange. A row's lag-k partner is at most LAG_MAX
    rows back in the global order, and the global last-LAG_MAX rows
    before any segment are a subset of the per-segment tails, so
    windowing carry + segment rows reproduces every cross-segment
    pair exactly -- sparse or empty segments included.
    """
    lag_max = 3
    events = load_table(spark, sf_dir, "events")
    base = events.filter(F.col("value").isNotNull()).select(
        "event_type",
        "ts",
        "event_id",
        F.expr(_ACF_Q).alias("y"),
        F.window("ts", segment)["start"].alias("bucket"),
    )
    from pyspark.sql.window import Window

    # (1) tail candidates: each populated segment's last LAG_MAX rows
    # (the only rows any later segment can need as carry partners).
    rdesc = F.row_number().over(
        Window.partitionBy("event_type", "bucket").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
    )
    cand = (
        base.withColumn("rdesc", rdesc)
        .filter(F.col("rdesc") <= lag_max)
        .drop("rdesc")
    )
    # (2) populated segments per type -- domain-sized (types x buckets).
    buckets = base.select(
        "event_type", F.col("bucket").alias("tb")
    ).distinct()
    # (3) prefix carry per populated segment: candidates from ALL
    # earlier segments, ranked newest-first, keep LAG_MAX. The
    # triangular join is bounded by (LAG_MAX x #segments) x #segments
    # per type -- metadata, never the fact stream; broadcast the
    # segment list so no fact-side exchange appears.
    c, b = cand.alias("c"), buckets.alias("b")
    carried = c.join(
        F.broadcast(b),
        (F.col("c.event_type") == F.col("b.event_type"))
        & (F.col("c.bucket") < F.col("b.tb")),
    ).select(
        F.col("c.event_type").alias("event_type"),
        F.col("c.ts").alias("ts"),
        F.col("c.event_id").alias("event_id"),
        F.col("c.y").alias("y"),
        F.col("b.tb").alias("bucket"),
    )
    rprefix = F.row_number().over(
        Window.partitionBy("event_type", "bucket").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
    )
    carry = (
        carried.withColumn("rp", rprefix)
        .filter(F.col("rp") <= lag_max)
        .drop("rp")
        .withColumn("is_carry", F.lit(True))
    )
    staged = base.withColumn("is_carry", F.lit(False)).unionByName(carry)
    w = Window.partitionBy("event_type", "bucket").orderBy(
        "ts", "event_id"
    )
    lagged = staged.select(
        "event_type",
        "y",
        "is_carry",
        F.lag("y", 1).over(w).alias("x1"),
        F.lag("y", 2).over(w).alias("x2"),
        F.lag("y", 3).over(w).alias("x3"),
    ).filter(~F.col("is_carry"))
    return _acf_close(lagged)


# --------------------------------------------------------------------------
# Two-proportion z-test matrix: the experimentation primitive ("is
# cohort A's success rate significantly different from cohort B's").
# Counts are exact integers from one corpus aggregation; every pairwise
# statistic derives from the domain-sized count table, and the z closed
# form is one shared IEEE text -- the q_regression discipline applied
# to hypothesis testing.
# --------------------------------------------------------------------------

#: Pooled two-proportion z statistic over (s1, n1, s2, n2) doubles
#: (cast once from exact integers). sqrt and divide are correctly
#: rounded, so both engines produce bit-identical z values and the
#: significance cut cannot straddle engines.
_Z = (
    "((s1 / n1) - (s2 / n2))"
    " / sqrt(((s1 + s2) / (n1 + n2)) * (1.0 - (s1 + s2) / (n1 + n2))"
    " * (1.0 / n1 + 1.0 / n2))"
)

#: Two-sided 5% critical value.
Z_CRIT = 1.96


@query(
    "q_abtest",
    oracle=f"""
    WITH g AS (
      SELECT o_orderpriority AS grp,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS s
      FROM orders GROUP BY 1
    ),
    p AS (
      SELECT a.grp AS grp1, b.grp AS grp2,
             a.n AS n1i, a.s AS s1i, b.n AS n2i, b.s AS s2i,
             CAST(a.s AS DOUBLE) AS s1, CAST(a.n AS DOUBLE) AS n1,
             CAST(b.s AS DOUBLE) AS s2, CAST(b.n AS DOUBLE) AS n2
      FROM g a JOIN g b ON a.grp < b.grp
    )
    SELECT grp1, grp2,
           n1i AS n1, s1i AS s1, n2i AS n2, s2i AS s2,
           ROUND({_Z}, 6) AS z,
           (abs({_Z}) > {Z_CRIT}) AS significant
    FROM p
    """,
)
def q_abtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise two-proportion z-tests between order priority cohorts
    on the fulfilled rate (o_orderstatus = 'F'): for every unordered
    cohort pair, both counts, the pooled z statistic, and the 5%
    two-sided significance verdict.

    The experimentation primitive: ONE corpus aggregation collapses
    orders to the |cohorts|-row (n, successes) table; the pairwise
    matrix is a self-join OF THAT DOMAIN-SIZED TABLE (grp < grp
    dedups unordered pairs), so pair count is |cohorts|^2/2 regardless
    of order volume. The z closed form is one shared IEEE text over
    doubles cast once from exact integers (sqrt/divide correctly
    rounded), so z AND the significance boolean agree bitwise --
    the boundary cannot straddle engines, the q_anomaly_mad
    shared-predicate discipline.

    Scale: the only data-proportional work is the first hash
    aggregation (mergeable, map-side partials); everything pairwise
    runs on |cohorts| rows. A/B platforms with thousands of concurrent
    experiments shard the same shape by experiment_id -- the cohort
    table stays dimension-sized per experiment.

    tests/test_statistics.py recomputes the z matrix against scipy-
    free closed forms in Python and pins antisymmetry (z(a,b) ==
    -z(b,a)) by recomputation.
    """
    orders = load_table(spark, sf_dir, "orders")
    g = orders.groupBy(
        F.col("o_orderpriority").alias("grp")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        ).cast("long").alias("s"),
    )
    a = g.select(
        F.col("grp").alias("grp1"),
        F.col("n").alias("n1i"),
        F.col("s").alias("s1i"),
    )
    b = g.select(
        F.col("grp").alias("grp2"),
        F.col("n").alias("n2i"),
        F.col("s").alias("s2i"),
    )
    pairs = a.join(b, F.col("grp1") < F.col("grp2")).select(
        "grp1",
        "grp2",
        "n1i",
        "s1i",
        "n2i",
        "s2i",
        F.col("s1i").cast("double").alias("s1"),
        F.col("n1i").cast("double").alias("n1"),
        F.col("s2i").cast("double").alias("s2"),
        F.col("n2i").cast("double").alias("n2"),
    )
    return pairs.select(
        "grp1",
        "grp2",
        F.col("n1i").alias("n1"),
        F.col("s1i").alias("s1"),
        F.col("n2i").alias("n2"),
        F.col("s2i").alias("s2"),
        F.round(F.expr(_Z), 6).alias("z"),
        (F.abs(F.expr(_Z)) > Z_CRIT).alias("significant"),
    )


# --------------------------------------------------------------------------
# Gini coefficient: concentration of a size measure within each slice
# -- the curation diagnostic behind "is this source a few giant
# documents or many small ones" (token-budget planning, dedup-risk
# screens, and mixture design all read this number first).
# --------------------------------------------------------------------------

#: Rank-formula Gini over (swx, sx, rn) doubles cast once from exact
#: integers: G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n with x ascending.
#: Equal x values make the i*x sum permutation-invariant, so the
#: doc_id tiebreak affects nothing but determinism of the plan.
_GINI = "(2.0 * swx / (rn * sx)) - ((rn + 1.0) / rn)"


@query(
    "q_gini",
    oracle=f"""
    WITH ranked AS (
      SELECT source, n_chars,
             CAST(row_number() OVER (
               PARTITION BY source ORDER BY n_chars, doc_id
             ) AS BIGINT) AS i
      FROM documents
    ),
    s AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(COUNT(*) AS DOUBLE) AS rn,
             CAST(SUM(n_chars) AS DOUBLE) AS sx,
             CAST(SUM(i * n_chars) AS DOUBLE) AS swx
      FROM ranked GROUP BY 1
    )
    SELECT source, n_docs, total_chars,
           ROUND({_GINI}, 6) AS gini
    FROM s WHERE sx > 0
    """,
)
def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gini coefficient of document sizes (n_chars): 0 when
    every document is the same size, approaching 1 when one document
    carries nearly all the characters.

    The rank formula G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n needs one
    per-source ordered pass to assign ascending ranks (doc_id breaks
    size ties -- the i*x sum is permutation-invariant across equal
    sizes, so ties cannot move the answer, only stabilize the plan)
    and one hash aggregation for the three exact integer sums
    (products peak n*max_chars per row; the sums ride
    DECIMAL(38,0)/HUGEINT). The closed form is one shared IEEE text
    over doubles cast once from those integers -- the q_regression
    discipline -- so the round(6) coefficients hash-compare.

    Scale: the rank window partitions on source; within a source the
    sort is by a single long -- the same per-group ordered-scan class
    as q_weighted_median, with the same two remedies at extreme
    per-source cardinality: pre-aggregate to (source, DISTINCT size)
    rows with multiplicities (rank arithmetic folds over run lengths),
    or quantize sizes to histogram buckets and accept the binned Gini
    (the GK/t-digest swap). Everything after the window is a
    mergeable aggregation.

    tests/test_statistics.py recomputes every coefficient in pure
    Python and pins the [0, 1) envelope plus the equal-sizes -> 0
    identity on a synthetic frame.
    """
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    ranked = docs.select(
        "source",
        "n_chars",
        F.row_number()
        .over(Window.partitionBy("source").orderBy("n_chars", "doc_id"))
        .cast("long")
        .alias("i"),
    )
    dec = "decimal(38,0)"
    s = ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.count(F.lit(1)).cast("double").alias("rn"),
        F.sum(F.col("n_chars").cast(dec)).cast("double").alias("sx"),
        F.sum((F.col("i") * F.col("n_chars")).cast(dec))
        .cast("double")
        .alias("swx"),
    )
    return s.filter(F.col("sx") > 0).select(
        "source",
        "n_docs",
        "total_chars",
        F.round(F.expr(_GINI), 6).alias("gini"),
    )


# --------------------------------------------------------------------------
# Benford first-digit screen: compare the leading-digit distribution of
# a positive amount column against Benford's law -- the classic
# fabricated-data / pipeline-corruption tripwire (organic multiplicative
# quantities follow log10(1 + 1/d); synthetic or truncated feeds
# don't). The first digit is extracted from the CENT-INTEGER's decimal
# string -- no log10 on data, no floating point anywhere before the
# final shared closed forms over exact counts and literal expectations.
# --------------------------------------------------------------------------

#: Benford expectations log10(1 + 1/d), d = 1..9, as 10-decimal literals
#: shared verbatim with the oracle (data-independent constants -- the
#: only libm evaluation happened here, once, at authoring time).
BENFORD_P = (
    0.3010299957,
    0.1760912591,
    0.1249387366,
    0.096910013,
    0.079181246,
    0.0669467896,
    0.057991947,
    0.0511525224,
    0.0457574906,
)

#: Per-digit chi-square contribution over (n_obs, n, p): (o - n*p)^2 /
#: (n*p), one shared IEEE text.
_CHI2_GOF_TERM = (
    "(CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * p)"
    " * (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * p)"
    " / (CAST(n AS DOUBLE) * p)"
)


def _benford_values_sql() -> str:
    return ", ".join(
        f"({d}, {p})" for d, p in enumerate(BENFORD_P, start=1)
    )


@query(
    "q_benford",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100)
                                    AS BIGINT) AS VARCHAR), 1, 1)
                  AS INTEGER) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    obs AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM digits
      -- sub-cent amounts quantize to 0 cents and emit digit 0; they
      -- must not inflate the share denominator silently (shared
      -- guard, both engines)
      WHERE digit BETWEEN 1 AND 9
      GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs),
    expected(digit, p) AS (VALUES {_benford_values_sql()})
    SELECT e.digit,
           COALESCE(obs.n_obs, 0) AS n_obs,
           ROUND(CAST(COALESCE(obs.n_obs, 0) AS DOUBLE)
                 / CAST(tot.n AS DOUBLE), 6) AS observed_p,
           e.p AS expected_p,
           ROUND((CAST(COALESCE(obs.n_obs, 0) AS DOUBLE)
                  - CAST(tot.n AS DOUBLE) * e.p)
                 * (CAST(COALESCE(obs.n_obs, 0) AS DOUBLE)
                    - CAST(tot.n AS DOUBLE) * e.p)
                 / (CAST(tot.n AS DOUBLE) * e.p), 6)
             AS chi2_term
    FROM expected e
    LEFT JOIN obs ON obs.digit = e.digit
    CROSS JOIN tot
    """,
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-digit distribution of order totals against Benford's
    law: per digit 1-9, the observed count, observed and expected
    shares, and the chi-square contribution (their sum is the test
    statistic; 8 degrees of freedom).

    No floating point touches data until the final closed forms: the
    leading digit comes from the CENT-INTEGER's decimal string (one
    narrow map -- no log10, whose libm rounding is the exact
    cross-engine class this engine quarantines), counts are one
    mergeable hash aggregation over a NINE-ROW digit domain, and the
    Benford expectations are 10-decimal literals shared verbatim with
    the oracle (computed once at authoring time, data-independent).
    The chi-square terms are one shared IEEE text over exact counts
    and those literals. Digits absent from the data still emit (LEFT
    JOIN against the literal domain) so the statistic is complete.

    Scale: one corpus aggregation with map-side partials collapsing
    to <= 9 rows per partition; everything after is constant-size.
    The same shape screens any positive amount column -- token
    counts, file sizes, duration -- by swapping the scan.

    tests/test_statistics.py recomputes the digit histogram and
    chi-square in pure Python (third-engine check) and pins the
    shares summing to 1.
    """
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders", spread=True)
    obs = (
        orders.filter(F.col("o_totalprice") > 0)
        .select(
            F.substring(
                F.round(F.col("o_totalprice") * 100, 0)
                .cast("long")
                .cast("string"),
                1,
                1,
            )
            .cast("int")
            .alias("digit")
        )
        .filter(F.col("digit").between(1, 9))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    expected = spark.createDataFrame(
        [(d, p) for d, p in enumerate(BENFORD_P, start=1)],
        "digit int, p double",
    )
    # The total is a window sum over the JOINED nine-row frame, not a
    # second aggregation of obs: the left join against the literal
    # digit domain retains every obs row (obs digits are a subset of
    # 1-9 by the shared guard), so sum(n_obs) here equals the oracle's
    # separate tot CTE -- and the orders scan + digit aggregation run
    # exactly ONCE (VERDICT r8 "what's wrong" #2: the crossJoin(tot)
    # form re-ran the scan because the two agg subtrees diverge below
    # the exchange, so ReuseExchange never applied). The unpartitioned
    # window is 9 rows -- domain-sized, never data-sized.
    j = expected.join(F.broadcast(obs), "digit", "left").select(
        "digit",
        F.coalesce("n_obs", F.lit(0).cast("long")).alias("n_obs"),
        "p",
        F.sum(F.coalesce("n_obs", F.lit(0).cast("long")))
        .over(Window.partitionBy())
        .alias("n"),
    )
    return j.select(
        "digit",
        "n_obs",
        F.round(
            F.col("n_obs").cast("double") / F.col("n").cast("double"), 6
        ).alias("observed_p"),
        F.col("p").alias("expected_p"),
        F.round(F.expr(_CHI2_GOF_TERM), 6).alias("chi2_term"),
    )


# --------------------------------------------------------------------------
# Weekly seasonality screen: day-of-week activity profile per event
# type with a chi-square uniformity statistic -- the "is this metric's
# rhythm real or noise" question a telemetry pipeline answers before
# trusting any day-grain comparison (and the categorical sibling of
# q_benford's digit-law screen: same literal-domain LEFT JOIN, same
# exact-count chi-square discipline).
# --------------------------------------------------------------------------

#: Day-of-week derived from pure DATE ARITHMETIC, not an engine dow()
#: convention: days since Monday 2020-01-06 modulo 7, so 0 = Monday ...
#: 6 = Sunday in BOTH engines regardless of their Sunday-0/Sunday-1
#: disagreement (the same class of cross-engine trap as libm log10,
#: quarantined the same way -- by not calling it). The double-pmod
#: keeps pre-2020 timestamps correct under negative remainders.
_DOW_ANCHOR = "2020-01-06"


@query(
    "q_seasonality",
    oracle=f"""
    WITH obs AS (
      SELECT event_type,
             ((((CAST(ts AS DATE) - DATE '{_DOW_ANCHOR}') % 7) + 7) % 7)
               AS dow,
             CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM events GROUP BY 1, 2
    ),
    dom(dow) AS (VALUES (0), (1), (2), (3), (4), (5), (6)),
    types AS (
      SELECT event_type, CAST(SUM(n_obs) AS BIGINT) AS n FROM obs
      GROUP BY 1
    ),
    grid AS (
      SELECT t.event_type, d.dow, t.n,
             COALESCE(o.n_obs, 0) AS n_obs
      FROM types t CROSS JOIN dom d
      LEFT JOIN obs o
        ON o.event_type = t.event_type AND o.dow = d.dow
    ),
    scored AS (
      SELECT event_type, MAX(n) AS n_events,
             SUM((CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) / 7.0)
                 * (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) / 7.0)
                 / (CAST(n AS DOUBLE) / 7.0)) AS chi2,
             MAX(CASE WHEN rmax = 1 THEN dow END) AS peak_dow,
             MAX(CASE WHEN rmax = 1 THEN n_obs END) AS peak_n
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY event_type ORDER BY n_obs DESC, dow
        ) AS rmax FROM grid
      ) GROUP BY 1
    )
    SELECT event_type, n_events,
           ROUND(chi2, 6) AS chi2,
           CAST(peak_dow AS INTEGER) AS peak_dow,
           ROUND(CAST(peak_n AS DOUBLE) / CAST(n_events AS DOUBLE), 6)
             AS peak_share
    FROM scored
    """,
)
def q_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality per event type: the exact activity
    counts over the 7-day domain, the chi-square statistic against the
    uniform profile (6 degrees of freedom), and the peak day with its
    share.

    Discipline notes: the day-of-week is date ARITHMETIC (days since a
    Monday anchor mod 7) because Spark and DuckDB disagree on dow
    numbering conventions -- derived integers, not engine calls, are
    the cross-engine contract. Counts are ONE mergeable hash
    aggregation collapsing to <= |types| x 7 rows; absent days still
    score (literal 7-row domain joined in, the q_benford shape) so the
    statistic is complete; the peak is an integer argmax with the dow
    tiebreak shared via a ranked subquery in both engines; chi-square
    is one shared IEEE text over exact counts.

    Scale: map-side partials collapse every partition to <= 35 rows;
    everything downstream is domain-sized. The same shape screens
    hour-of-day (swap the modulus) or month-of-year seasonality.

    tests/test_statistics.py recomputes the profile in pure Python
    (third-engine check) and pins sum(shares) <= 1 and chi2 >= 0.
    """
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    dow = F.pmod(
        F.pmod(
            F.datediff(F.col("ts").cast("date"), F.lit(_DOW_ANCHOR)),
            F.lit(7),
        )
        + 7,
        F.lit(7),
    )
    obs = (
        events.select("event_type", dow.alias("dow"))
        .groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    types = obs.groupBy("event_type").agg(F.sum("n_obs").alias("n"))
    dom = spark.range(7).select(F.col("id").cast("int").alias("dow"))
    grid = (
        types.crossJoin(F.broadcast(dom))
        .join(F.broadcast(obs), ["event_type", "dow"], "left")
        .select(
            "event_type",
            "dow",
            "n",
            F.coalesce("n_obs", F.lit(0).cast("long")).alias("n_obs"),
        )
    )
    rmax = F.row_number().over(
        Window.partitionBy("event_type").orderBy(
            F.desc("n_obs"), F.asc("dow")
        )
    )
    term = (
        (F.col("n_obs").cast("double") - F.col("n").cast("double") / 7.0)
        * (F.col("n_obs").cast("double") - F.col("n").cast("double") / 7.0)
        / (F.col("n").cast("double") / 7.0)
    )
    scored = (
        grid.withColumn("rmax", rmax)
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n_events"),
            F.sum(term).alias("chi2"),
            F.max(F.when(F.col("rmax") == 1, F.col("dow"))).alias(
                "peak_dow"
            ),
            F.max(F.when(F.col("rmax") == 1, F.col("n_obs"))).alias(
                "peak_n"
            ),
        )
    )
    return scored.select(
        "event_type",
        "n_events",
        F.round("chi2", 6).alias("chi2"),
        F.col("peak_dow").cast("int").alias("peak_dow"),
        F.round(
            F.col("peak_n").cast("double")
            / F.col("n_events").cast("double"),
            6,
        ).alias("peak_share"),
    )


# --------------------------------------------------------------------------
# Winsorized statistics: per-group means after clipping at the exact
# p01/p99 order statistics -- the robust-mean primitive a quality
# dashboard uses when a handful of fat-finger rows would otherwise own
# the average. Exactness comes free on 2-decimal money columns: the
# percentile SELECTION is integer cumulative-count comparisons over the
# collapsed value domain (the q_weighted_median machinery with weight =
# row count), and the clipped sum is integer arithmetic.
# --------------------------------------------------------------------------

#: Winsorization cut points, in percent (integers so the selection
#: predicate 100*cum >= p*n stays pure integer arithmetic).
WINSOR_LO = 1
WINSOR_HI = 99


@query(
    "q_winsorize",
    oracle=f"""
    WITH c AS (
      SELECT l_returnflag AS rf,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
      SELECT rf, price_c, cnt,
             SUM(cnt) OVER (
               PARTITION BY rf ORDER BY price_c
               ROWS UNBOUNDED PRECEDING
             ) AS cumn,
             SUM(cnt) OVER (PARTITION BY rf) AS n
      FROM c
    ),
    cuts AS (
      SELECT rf, MAX(n) AS n,
             MIN(CASE WHEN 100 * cumn >= {WINSOR_LO} * n
                      THEN price_c END) AS lo_c,
             MIN(CASE WHEN 100 * cumn >= {WINSOR_HI} * n
                      THEN price_c END) AS hi_c
      FROM cum GROUP BY rf
    )
    SELECT c.rf AS l_returnflag,
           CAST(MAX(cuts.n) AS BIGINT) AS n_rows,
           MAX(cuts.lo_c) / 100.0 AS p01,
           MAX(cuts.hi_c) / 100.0 AS p99,
           ROUND(CAST(SUM(c.cnt * c.price_c) AS DOUBLE)
                 / CAST(MAX(cuts.n) AS DOUBLE) / 100.0, 6) AS raw_mean,
           ROUND(CAST(SUM(c.cnt * CASE
                   WHEN c.price_c < cuts.lo_c THEN cuts.lo_c
                   WHEN c.price_c > cuts.hi_c THEN cuts.hi_c
                   ELSE c.price_c END) AS DOUBLE)
                 / CAST(MAX(cuts.n) AS DOUBLE) / 100.0, 6)
             AS winsor_mean
    FROM c JOIN cuts ON cuts.rf = c.rf
    GROUP BY c.rf
    """,
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean of extended price per return flag: clip every
    value at the exact lower-{WINSOR_LO}% / upper-{WINSOR_HI}% order
    statistics, then average -- emitted next to the raw mean so the
    tail influence is visible.

    Two exact stages: (1) the q_weighted_median value collapse (one
    hash aggregation to (group, DISTINCT cent-price, count) rows --
    the corpus-proportional step, after which everything is bounded by
    the value domain); (2) in the same group partition, ``rank_cuts``
    (functions/exact.py) selects both cut points as window columns --
    pure integer predicates over one per-group cumulative-count
    window (100*cum >= p*n: the smallest value at or above the p-th
    percentile, no interpolation policy to share cross-engine) --
    and one ``groupBy(rf)`` sums counts times clipped values (integer
    products) over those same rows. The spread is keyed on the group
    alone, so at undershooting split counts one exchange serves the
    collapse, the window and the clipped sums. Only the two final
    display divisions are floats, shared as one text.

    Scale: identical posture to q_weighted_median -- the window scans
    distinct values per group, groups hash-spread, and an unbounded
    continuous domain takes the documented fixed-width quantization
    swap with the plan shape unchanged.

    tests/test_statistics.py recomputes cuts and the clipped mean in
    pure Python (third-engine check) and pins the invariants
    p01 <= p99 and min <= winsor_mean <= max.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # keyed spread on the group alone: HashPartitioning(rf) satisfies
    # the collapse's groupBy(rf, price_c), the cut window's
    # partitionBy(rf) and the final groupBy(rf), so one exchange
    # serves all three (see tables.keyed_spread).
    proj = li.select(
        F.col("l_returnflag").alias("rf"),
        scaled_int(F.col("l_extendedprice")).alias("price_c"),
    )
    proj = keyed_spread(spark, proj, table_path(sf_dir, "lineitem"), ["rf"])
    c = proj.groupBy("rf", "price_c").agg(F.count(F.lit(1)).alias("cnt"))
    cut = rank_cuts(
        c,
        "rf",
        "price_c",
        "cnt",
        {"lo_c": (WINSOR_LO, 100), "hi_c": (WINSOR_HI, 100)},
    )
    clipped = F.when(
        F.col("price_c") < F.col("lo_c"), F.col("lo_c")
    ).when(F.col("price_c") > F.col("hi_c"), F.col("hi_c")).otherwise(
        F.col("price_c")
    )
    return (
        cut.groupBy(F.col("rf").alias("l_returnflag"))
        .agg(
            F.max("tot").alias("n_rows"),
            (F.max("lo_c") / 100.0).alias("p01"),
            (F.max("hi_c") / 100.0).alias("p99"),
            # Sum the cnt*price products as decimal(38,0): DuckDB's
            # SUM(BIGINT) promotes to HUGEINT, and at web scale the
            # int64 product sum would wrap in Spark only (r9 ADVICE).
            # Same sufficient-statistics discipline as q_acf/q_cusum.
            F.round(
                F.sum(
                    (F.col("cnt") * F.col("price_c")).cast("decimal(38,0)")
                ).cast("double")
                / F.max("tot").cast("double")
                / 100.0,
                6,
            ).alias("raw_mean"),
            F.round(
                F.sum(
                    (F.col("cnt") * clipped).cast("decimal(38,0)")
                ).cast("double")
                / F.max("tot").cast("double")
                / 100.0,
                6,
            ).alias("winsor_mean"),
        )
    )


# --------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov test: the distribution-shape companion
# to q_abtest's proportion z-test (did the whole SPEND DISTRIBUTION
# shift between cohorts, not just a rate?) and the order-statistics
# complement of q_source_divergence's token-frequency JS. Exact by
# cross-multiplication: the CDF gap |F1 - F2| compares as the integer
# |cum1*n2 - cum2*n1|, so the supremum, its location, and every
# comparison are pure integer arithmetic -- floats appear only in the
# final shared-text display division and threshold.
# --------------------------------------------------------------------------

#: Two-sided 5% asymptotic KS coefficient: reject when
#: D > KS_C * sqrt((n1+n2)/(n1*n2)); in integer form
#: dint > KS_C * sqrt((n1+n2) * n1 * n2).
KS_C = 1.358

_KS_D = "CAST(dint AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"
_KS_SIG = (
    f"CAST(dint AS DOUBLE) > {KS_C}"
    " * sqrt((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))"
    " * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"
)


@query(
    "q_ks_test",
    oracle=f"""
    WITH c AS (
      SELECT o_orderpriority AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1, 2
    ),
    nt AS (SELECT grp, CAST(SUM(cnt) AS BIGINT) AS n FROM c GROUP BY 1),
    pairs AS (
      SELECT a.grp AS g1, b.grp AS g2, a.n AS n1, b.n AS n2
      FROM nt a JOIN nt b ON a.grp < b.grp
    ),
    m AS (
      SELECT p.g1, p.g2, c.v, c.cnt AS c1, CAST(0 AS BIGINT) AS c2
      FROM pairs p JOIN c ON c.grp = p.g1
      UNION ALL
      SELECT p.g1, p.g2, c.v, CAST(0 AS BIGINT) AS c1, c.cnt AS c2
      FROM pairs p JOIN c ON c.grp = p.g2
    ),
    u AS (
      SELECT g1, g2, v,
             CAST(SUM(c1) AS BIGINT) AS c1,
             CAST(SUM(c2) AS BIGINT) AS c2
      FROM m GROUP BY 1, 2, 3
    ),
    cum AS (
      SELECT g1, g2, v,
             SUM(c1) OVER w AS cum1, SUM(c2) OVER w AS cum2
      FROM u
      WINDOW w AS (PARTITION BY g1, g2 ORDER BY v
                   ROWS UNBOUNDED PRECEDING)
    ),
    gaps AS (
      SELECT cum.g1, cum.g2, p.n1, p.n2, cum.v,
             abs(cum1 * p.n2 - cum2 * p.n1) AS gap
      FROM cum JOIN pairs p ON p.g1 = cum.g1 AND p.g2 = cum.g2
    ),
    top AS (
      SELECT g1, g2, n1, n2, gap AS dint, v AS d_at,
             row_number() OVER (
               PARTITION BY g1, g2 ORDER BY gap DESC, v
             ) AS r
      FROM gaps
    )
    SELECT g1 AS grp1, g2 AS grp2, n1, n2,
           ROUND({_KS_D}, 6) AS ks_d,
           d_at / 100.0 AS d_at,
           ({_KS_SIG}) AS significant
    FROM top WHERE r = 1
    """,
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise two-sample Kolmogorov-Smirnov tests between order
    priority cohorts on the total-price distribution: the supremum CDF
    gap D, the (smallest) price where it is attained, and the 5%
    asymptotic significance verdict.

    Integer-exact throughout: values collapse to (cohort, DISTINCT
    cent-price, count) rows (the q_weighted_median discipline); pair
    assembly stacks both cohorts' counts onto the union value grid
    (the q_source_divergence shape); one per-pair window pass
    accumulates both CDF numerators; and the gap compares as
    |cum1*n2 - cum2*n1| -- an exact integer, so the argmax and its
    tie-break (smallest attaining value, via (gap DESC, v) ranking
    shared with the oracle) involve no floats. Only the display D and
    the threshold comparison are IEEE, both one shared text.

    Scale: post-collapse cost is |pairs| x |distinct values| --
    independent of row count; the per-pair window scans distinct
    values only, and an unbounded continuous domain takes the
    fixed-width quantization swap documented at q_weighted_median
    with this plan unchanged. The same shape tests any numeric drift:
    latency by release, document length by crawl, value by source.

    tests/test_statistics.py recomputes D and its location in pure
    Python (third-engine check) and pins 0 <= D <= 1 and the scipy
    asymptotic identity on the significance cut.
    """
    orders = load_table(spark, sf_dir, "orders")
    # the value collapse feeds the totals and both stacked pair
    # legs; its aggregation exchange is replayed per consumer by
    # ReuseExchange (round-13 A/B: identical executed shuffle records
    # without the former checkpoint, and no build-time stage run).
    # The collapse key is near-unique (one row per distinct cent
    # price), so the spread is KEYED on the aggregation key: the
    # spread exchange doubles as the collapse exchange instead of
    # paying a round-robin exchange plus a no-reduction shuffle.
    proj = orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("v"),
    )
    proj = keyed_spread(
        spark, proj, table_path(sf_dir, "orders"), ["grp", "v"]
    )
    c = proj.groupBy("grp", "v").agg(F.count(F.lit(1)).alias("cnt"))
    return ks_pairs_from_counts(c)


def _two_sample_stack(c: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The pairwise two-sample front end over a (grp, v, cnt)
    count-collapse frame, shared by q_ks_test (through
    :func:`ks_pairs_from_counts`) and q_mann_whitney. Returns
    ``(pairs, m)``: ``pairs`` holds each cohort pair g1 < g2 with its
    totals n1 and n2; ``m`` holds one (g1, g2, v, c1, c2) row per pair
    and per value of either cohort, the count on its own leg and 0 on
    the other."""
    nt = c.groupBy("grp").agg(F.sum("cnt").alias("n"))
    a, b = nt.alias("a"), nt.alias("b")
    pairs = a.join(b, F.col("a.grp") < F.col("b.grp")).select(
        F.col("a.grp").alias("g1"),
        F.col("b.grp").alias("g2"),
        F.col("a.n").alias("n1"),
        F.col("b.n").alias("n2"),
    )
    # ONE pass over the collapse (round 13): the former two-leg
    # unionAll read c twice (one exchange replay per leg). Expanding
    # the pair domain to a broadcast ROLES dim -- each cohort mapped to
    # every pair it participates in, tagged with its leg indicator --
    # produces the identical stacked rows (c1 = cnt*ia, c2 = cnt*(1-ia))
    # from a single join over c: the Union and one replay disappear
    # (interleaved A/B min-of-6 x2: 1.87/2.18 -> 1.70/1.88).
    sides = pairs.select("g1", "g2")
    roles = sides.select(
        F.col("g1").alias("grp"), "g1", "g2", F.lit(1).alias("ia")
    ).unionAll(
        sides.select(
            F.col("g2").alias("grp"), "g1", "g2", F.lit(0).alias("ia")
        )
    )
    m = c.join(F.broadcast(roles), "grp").select(
        "g1",
        "g2",
        "v",
        (F.col("cnt") * F.col("ia")).alias("c1"),
        (F.col("cnt") * (1 - F.col("ia"))).alias("c2"),
    )
    return pairs, m


def ks_pairs_from_counts(c: DataFrame) -> DataFrame:
    """q_ks_test's pair stage over a (grp, v, cnt) count-collapse
    frame -- factored out so the streaming drift monitor
    (streaming/drift.py) computes the identical integer algebra from
    its histogram-state snapshots. ``c`` must hold one row per
    (group, distinct value) with exact integer counts."""
    from pyspark.sql.window import Window

    pairs, m = _two_sample_stack(c)
    # No (g1, g2, v) re-aggregation (round 13): a RANGE frame admits
    # every peer row (same v) into the cumulative sums together, so
    # the two stacked legs of one value both read the FULL cum1/cum2
    # at that value -- exactly the integers the former grid groupBy
    # produced -- and the one duplicate (gap, v) row it leaves behind
    # is value-identical, so the (gap DESC, v) rank-1 cut returns the
    # same row either way. Saves a full exchange of the stacked grid
    # (guide §2.4); the window's own (g1, g2) exchange remains the
    # only post-collapse shuffle.
    w = (
        Window.partitionBy("g1", "g2")
        .orderBy("v")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = m.select(
        "g1",
        "g2",
        "v",
        F.sum("c1").over(w).alias("cum1"),
        F.sum("c2").over(w).alias("cum2"),
    )
    # Cross-multiply in decimal(38,0): cum*n in int64 overflows past
    # cohort sizes of ~3e9 rows, silently breaking the "exact integer
    # CDF gap" claim at the scale the docstring advertises (r9 ADVICE).
    # decimal(19,0) holds any int64; the product is exact in
    # decimal(38,0) up to (2^63)^2 ~ 8.5e37 < 10^38. DuckDB's BIGINT
    # product promotes to HUGEINT, so both engines stay exact.
    gaps = cum.join(F.broadcast(pairs), ["g1", "g2"]).select(
        "g1",
        "g2",
        "n1",
        "n2",
        "v",
        F.abs(
            F.col("cum1").cast("decimal(19,0)")
            * F.col("n2").cast("decimal(19,0)")
            - F.col("cum2").cast("decimal(19,0)")
            * F.col("n1").cast("decimal(19,0)")
        ).alias("gap"),
    )
    r = F.row_number().over(
        Window.partitionBy("g1", "g2").orderBy(F.desc("gap"), F.asc("v"))
    )
    top = gaps.withColumn("r", r).filter(F.col("r") == 1).select(
        "g1",
        "g2",
        "n1",
        "n2",
        F.col("gap").alias("dint"),
        F.col("v").alias("d_at"),
    )
    return top.select(
        F.col("g1").alias("grp1"),
        F.col("g2").alias("grp2"),
        "n1",
        "n2",
        F.round(F.expr(_KS_D), 6).alias("ks_d"),
        (F.col("d_at") / 100.0).alias("d_at"),
        F.expr(_KS_SIG).alias("significant"),
    )


# --------------------------------------------------------------------------
# Hill tail-index estimator: how heavy is the upper tail? The
# extreme-value statistic behind "can one document/order/user dominate
# an aggregate" -- alpha < 2 means infinite variance (plan for skew
# mitigation), alpha > 3 means tails are tame. Selection of the top
# order statistics is exact integer work; the single float reduction
# folds a K-bounded sorted list (the q_source_divergence discipline at
# a fixed, tiny K).
# --------------------------------------------------------------------------

#: Order statistics used (the top HILL_K values above the k+1-th).
HILL_K = 100

#: Hill mean -> tail index: alpha = k / sum(ln(x_i / x_thr)).
_HILL_ALPHA = "CAST(k AS DOUBLE) / s"


@query(
    "q_hill",
    oracle=f"""
    WITH v AS (
      SELECT l_returnflag AS rf,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS x,
             row_number() OVER (
               PARTITION BY l_returnflag
               ORDER BY CAST(round(l_extendedprice * 100) AS BIGINT)
                 DESC
             ) AS r
      FROM lineitem
    ),
    thr AS (
      SELECT rf, x AS x_thr FROM v WHERE r = {HILL_K} + 1
    ),
    folded AS (
      SELECT v.rf, CAST(COUNT(*) AS BIGINT) AS k,
             MAX(t.x_thr) AS x_thr,
             list_reduce(
               list_prepend(0.0,
                 list(ln(CAST(v.x AS DOUBLE)
                         / CAST(t.x_thr AS DOUBLE)) ORDER BY v.r)),
               (acc, e) -> acc + e
             ) AS s
      FROM v JOIN thr t ON t.rf = v.rf
      WHERE v.r <= {HILL_K}
      GROUP BY v.rf
    )
    SELECT rf AS l_returnflag, k, x_thr / 100.0 AS x_threshold,
           ROUND(s / CAST(k AS DOUBLE), 6) AS hill_mean,
           ROUND({_HILL_ALPHA}, 6) AS tail_index
    FROM folded
    """,
)
def q_hill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index of extended price per return flag: over each
    group's top {HILL_K} order statistics x_1 >= ... >= x_k and the
    threshold x_(k+1), the Hill mean (1/k) * sum ln(x_i / x_thr) and
    the tail index alpha = 1 / mean. Small alpha = heavy (power-law)
    tail; the capacity-planning dial for skew mitigation.

    Stages: (1) per-group descending row_number over cent-integers
    selects the top k+1 order statistics -- exact integer ranking
    whose WindowGroupLimit pushdown keeps per-partition state at k+1
    rows (the q_weighted_sample shape), and duplicate values rank
    arbitrarily among themselves WITHOUT affecting the result (the
    selected multiset is identical under any tie order); (2) the one
    float reduction folds the RANK-ORDERED k-term list identically in
    both engines (0.0-seeded, the q_text_entropy discipline) with the
    per-term ln a shared text; (3) closed forms are shared texts over
    (k, s).

    Scale: the rank selection is the only corpus-proportional stage
    and it is top-k, not sort -- bounded per-task state, groups
    hash-spread; everything after is K-bounded per group.

    tests/test_statistics.py recomputes the estimator in pure Python
    (third-engine check) and pins alpha > 0 and the k/threshold
    contract.
    """
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem", spread=True)
    # lazy localCheckpoint AFTER the top-(K+1) filter: the ranked
    # frame is (K+1) x |groups| rows -- tiny -- and feeds both the
    # threshold row and the fold, so the corpus rank pass runs once
    # instead of three times (round-13 A/B: removal cost 1.09 ->
    # 1.17 s at sf0.1, so it stays)
    v = (
        li.select(
            F.col("l_returnflag").alias("rf"),
            F.round(F.col("l_extendedprice") * 100, 0)
            .cast("long")
            .alias("x"),
        )
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("rf").orderBy(F.desc("x"))
            ),
        )
        .filter(F.col("r") <= HILL_K + 1)
        .localCheckpoint(eager=False)
    )
    thr = v.filter(F.col("r") == HILL_K + 1).select(
        "rf", F.col("x").alias("x_thr")
    )
    top = v.filter(F.col("r") <= HILL_K).join(F.broadcast(thr), "rf")
    term = F.expr("ln(CAST(x AS DOUBLE) / CAST(x_thr AS DOUBLE))")
    folded = top.groupBy("rf").agg(
        F.count(F.lit(1)).alias("k"),
        F.max("x_thr").alias("x_thr"),
        F.aggregate(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("r"), term.alias("t")))
                ),
                lambda e: e["t"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("s"),
    )
    return folded.select(
        F.col("rf").alias("l_returnflag"),
        "k",
        (F.col("x_thr") / 100.0).alias("x_threshold"),
        F.round(F.col("s") / F.col("k").cast("double"), 6).alias(
            "hill_mean"
        ),
        F.round(F.expr(_HILL_ALPHA), 6).alias("tail_index"),
    )


# --------------------------------------------------------------------------
# Chi-square test of independence (SURVEY.md §2 statistics tier): the
# categorical-association companion to q_mutual_info (information units)
# and q_abtest (two-sample z) -- the test a curation pipeline runs to ask
# "is this metadata column independent of that one" with a classical
# significance statistic. Same physical discipline as q_mutual_info:
# everything data-proportional is ONE hash aggregation to domain-sized
# integer cells; the float reduction folds value-sorted terms.
# --------------------------------------------------------------------------

#: Per-grid-cell chi-square contribution over (c, n, rm, cm):
#: (o - e)^2 / e with e = rm*cm/n, cleared of the division as
#: (c*n - rm*cm)^2 / (n*rm*cm). Products run in double: identical
#: int64 inputs cast identically in both engines, so the doubles (and
#: the round(6) hash) agree at any scale; the products are also EXACT
#: below 2^53 (c*n here peaks ~3.6e9 at sf0.1), past which the
#: statistic keeps cross-engine parity but carries ~1-ulp float error.
_CHI2_INDEP_TERM = (
    "((CAST(c AS DOUBLE) * CAST(n AS DOUBLE)"
    " - CAST(rm AS DOUBLE) * CAST(cm AS DOUBLE))"
    " * (CAST(c AS DOUBLE) * CAST(n AS DOUBLE)"
    " - CAST(rm AS DOUBLE) * CAST(cm AS DOUBLE)))"
    " / (CAST(n AS DOUBLE) * CAST(rm AS DOUBLE) * CAST(cm AS DOUBLE))"
)


@query(
    "q_chi2",
    oracle=f"""
    WITH cells AS (
      SELECT o_orderpriority AS pr, o_orderstatus AS st,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM orders GROUP BY 1, 2
    ),
    rmarg AS (SELECT pr, CAST(SUM(c) AS BIGINT) AS rm
              FROM cells GROUP BY 1),
    cmarg AS (SELECT st, CAST(SUM(c) AS BIGINT) AS cm
              FROM cells GROUP BY 1),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
    dims AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rmarg) AS r,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM cmarg) AS cc
    ),
    grid AS (
      SELECT rmarg.pr, cmarg.st, rmarg.rm, cmarg.cm,
             COALESCE(cells.c, 0) AS c
      FROM rmarg CROSS JOIN cmarg
      LEFT JOIN cells
        ON cells.pr = rmarg.pr AND cells.st = cmarg.st
    ),
    folded AS (
      SELECT list_reduce(
               list_prepend(
                 0.0, list({_CHI2_INDEP_TERM} ORDER BY pr, st)),
               (a, x) -> a + x) AS chi2
      FROM (SELECT g.*, tot.n FROM grid g CROSS JOIN tot)
    )
    SELECT tot.n AS n_rows, dims.r AS n_levels_a, dims.cc AS n_levels_b,
           (dims.r - 1) * (dims.cc - 1) AS dof,
           ROUND(folded.chi2, 6) AS chi2,
           ROUND(sqrt(folded.chi2
                      / (CAST(tot.n AS DOUBLE)
                         * least(dims.r - 1, dims.cc - 1))), 6)
             AS cramers_v
    FROM tot, dims, folded
    """,
)
def q_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between order priority and
    order status, with Cramer's V effect size -- the classical
    categorical-association gate (q_mutual_info measures the same
    dependence in nats; chi2 is what a significance-threshold pipeline
    step consumes).

    The full r x c grid INCLUDING empty observed cells contributes
    (expected counts are positive wherever both marginals are), so the
    grid is the cross join of the two domain-sized marginal frames
    with observed cells LEFT-joined on -- never a corpus pass: the
    corpus collapses to |priority| x |status| integer cells in one
    partial+final hash aggregation and everything downstream is
    domain-sized (the q_mutual_info discipline). The single float
    reduction folds grid terms in (pr, st) order from a 0.0 seed with
    the term text shared verbatim with the oracle (_CHI2_INDEP_TERM),
    so the
    round(6) doubles hash-compare.

    Scale: post-cells cost is fixed by the two domains; marginal
    joins and the 1-row n/dims attachments are broadcast by
    construction. tests/test_statistics.py recomputes the statistic in
    pure Python (third engine) and pins chi2 >= 0 and
    0 <= cramers_v <= 1."""
    orders = load_table(spark, sf_dir, "orders")
    cells = (
        orders.groupBy(
            F.col("o_orderpriority").alias("pr"),
            F.col("o_orderstatus").alias("st"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rmarg = (
        cells.groupBy("pr")
        .agg(F.sum("c").alias("rm"))
    )
    cmarg = (
        cells.groupBy("st")
        .agg(F.sum("c").alias("cm"))
    )
    tot = cells.agg(F.sum("c").alias("n"))
    dims = (
        rmarg.agg(F.count(F.lit(1)).alias("r"))
        .crossJoin(cmarg.agg(F.count(F.lit(1)).alias("cc")))
    )
    grid = (
        rmarg.crossJoin(cmarg)
        .join(cells, ["pr", "st"], "left")
        .select(
            "pr", "st", "rm", "cm",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    folded = (
        grid.crossJoin(F.broadcast(tot))
        .select("pr", "st", F.expr(_CHI2_INDEP_TERM).alias("t"))
        .agg(
            F.aggregate(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("pr", "st", "t"))
                    ),
                    lambda e: e["t"],
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("chi2")
        )
    )
    return (
        tot.crossJoin(dims)
        .crossJoin(folded)
        .select(
            F.col("n").alias("n_rows"),
            F.col("r").alias("n_levels_a"),
            F.col("cc").alias("n_levels_b"),
            ((F.col("r") - 1) * (F.col("cc") - 1)).alias("dof"),
            F.round(F.col("chi2"), 6).alias("chi2"),
            F.round(
                F.sqrt(
                    F.col("chi2")
                    / (
                        F.col("n").cast("double")
                        * F.least(F.col("r") - 1, F.col("cc") - 1)
                    )
                ),
                6,
            ).alias("cramers_v"),
        )
    )


# --------------------------------------------------------------------------
# Mann-Whitney U (Wilcoxon rank-sum): the nonparametric location test
# between cohorts -- the rank-based companion to q_ks_test (same
# count-collapse + pair machinery; KS asks "did the SHAPE shift", this
# asks "did one cohort stochastically dominate"), robust where
# q_abtest's z assumes a proportion and the t-family assumes moments.
# Exact integer sufficient statistics: 2*U1 and the tie-correction sum
# never touch floats; the z closed form is one shared IEEE text.
# --------------------------------------------------------------------------

#: Two-sided 5% normal critical value for the rank-sum z.
MW_Z_CRIT = 1.96

#: Largest tie group whose cube stays exact in decimal(38,0)
#: (t^3 < 1e38 -> t <= 4.64e12; kept a round 4e12 for headroom).
#: Beyond it the plan raises via assert_true -- loud, not the
#: ANSI-off silent null (ADVICE r10).
_MW_TIE_BOUND = 4 * 10**12

#: Normal-approximation z over the integer sufficient statistics
#: (u2 = 2*U1, ts = sum(t^3 - t) over tie groups): numerator
#: (2*U1 - n1*n2)/2, variance n1*n2/12 * ((N+1) - ts/(N*(N-1))).
#: One shared IEEE text over exact integers cast once.
_MW_Z = (
    "(CAST(u2 AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"
    " / (2.0 * sqrt("
    "CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0"
    " * ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + 1.0)"
    " - CAST(ts AS DOUBLE)"
    " / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))"
    " * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0)))))"
)


@query(
    "q_mann_whitney",
    oracle=f"""
    WITH c AS (
      SELECT o_orderpriority AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1, 2
    ),
    nt AS (SELECT grp, CAST(SUM(cnt) AS BIGINT) AS n FROM c GROUP BY 1),
    pairs AS (
      SELECT a.grp AS g1, b.grp AS g2, a.n AS n1, b.n AS n2
      FROM nt a JOIN nt b ON a.grp < b.grp
    ),
    m AS (
      SELECT p.g1, p.g2, c.v, c.cnt AS c1, CAST(0 AS BIGINT) AS c2
      FROM pairs p JOIN c ON c.grp = p.g1
      UNION ALL
      SELECT p.g1, p.g2, c.v, CAST(0 AS BIGINT) AS c1, c.cnt AS c2
      FROM pairs p JOIN c ON c.grp = p.g2
    ),
    u AS (
      SELECT g1, g2, v,
             CAST(SUM(c1) AS BIGINT) AS c1,
             CAST(SUM(c2) AS BIGINT) AS c2
      FROM m GROUP BY 1, 2, 3
    ),
    cum AS (
      SELECT g1, g2, v, c1, c2,
             COALESCE(SUM(c2) OVER (
               PARTITION BY g1, g2 ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS BIGINT)) AS cb2
      FROM u
    ),
    s AS (
      SELECT g1, g2,
             SUM(CAST(c1 AS HUGEINT)
                 * (2 * CAST(cb2 AS HUGEINT) + c2)) AS u2,
             SUM(CAST(c1 + c2 AS HUGEINT) * (c1 + c2) * (c1 + c2)
                 - (c1 + c2)) AS ts
      FROM cum GROUP BY 1, 2
    )
    SELECT s.g1 AS grp1, s.g2 AS grp2, p.n1, p.n2,
           CAST(s.u2 AS DOUBLE) / 2.0 AS u1,
           ROUND({_MW_Z}, 6) AS z,
           (abs({_MW_Z}) > {MW_Z_CRIT}) AS significant
    FROM s JOIN pairs p ON p.g1 = s.g1 AND p.g2 = s.g2
    """,
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Mann-Whitney U tests between order priority cohorts on
    the total-price distribution: U1 (pairs where cohort 1 exceeds
    cohort 2, ties at half weight), the tie-corrected normal z, and
    the 5% two-sided verdict.

    Integer-exact sufficient statistics over the q_ks_test machinery:
    the corpus collapses once to (cohort, DISTINCT cent-price, count)
    rows, both cohorts' counts stack onto the union value grid per
    pair, and ONE per-pair window pass supplies the exclusive
    cumulative opponent count cb2. Then 2*U1 = sum(c1*(2*cb2 + c2))
    and the tie sum ts = sum(t^3 - t) are exact integer aggregations
    -- decimal(38,0) in Spark, HUGEINT in DuckDB, exact to cohort
    sizes of 1e18 (the factor-width bound is documented at the cast
    site). Floats appear only in the z closed form, one shared IEEE
    text over doubles cast once, so z AND the significance boolean
    agree bitwise (the q_abtest discipline).

    Scale: identical posture to q_ks_test -- post-collapse cost is
    |pairs| x |distinct values|, independent of row count; the window
    scans distinct values only; everything after is |pairs| rows.
    Where a t-test needs moments and q_abtest a proportion, this ranks
    -- the robust default for skewed spend/length/latency comparisons.

    tests/test_statistics.py recomputes U and the tie-corrected z in
    pure Python (third-engine check) and pins the U1 + U2 = n1*n2
    identity over the per-value count grid at the test SF.
    """
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    # keyed spread: the collapse key is near-unique, so the spread
    # exchange IS the collapse exchange (see q_ks_test).
    proj = orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("v"),
    )
    proj = keyed_spread(
        spark, proj, table_path(sf_dir, "orders"), ["grp", "v"]
    )
    c = proj.groupBy("grp", "v").agg(F.count(F.lit(1)).alias("cnt"))
    pairs, m = _two_sample_stack(c)
    # No (g1, g2, v) re-aggregation (round 13, the q_ks_test RANGE-
    # frame discipline): the stacked legs stay as rows, and per-value
    # combined counts come from a PEER frame (range 0..0 -- all rows
    # sharing v) over the same sort the exclusive-cum frame already
    # pays for, so the former grid groupBy's full exchange disappears
    # while every integer the U/tie algebra consumes is unchanged:
    # cb2 (opponent count strictly below v, range ..-1 == the grid's
    # rows ..-1 over distinct values), c1v/c2v (the grid's c1/c2).
    wv = Window.partitionBy("g1", "g2").orderBy("v")
    wb = wv.rangeBetween(Window.unboundedPreceding, -1)
    wp = wv.rangeBetween(Window.currentRow, Window.currentRow)
    cum = m.select(
        "g1", "g2", "v", "c1",
        F.sum("c1").over(wp).alias("c1v"),
        F.sum("c2").over(wp).alias("c2v"),
        F.coalesce(F.sum("c2").over(wb), F.lit(0).cast("long")).alias(
            "cb2"
        ),
    )
    # Exact products: c1 <= N fits decimal(18,0) to N < 1e18;
    # (2*cb2 + c2) <= 2N computes in long (exact to N < 2^62) and
    # widens to decimal(19,0); the product is decimal(38,0) -- the
    # q_winsorize/ks_pairs discipline (DuckDB promotes to HUGEINT).
    # Tie cube (ADVICE r10): decimal(18,0) factors keep the cube's
    # (38,0) result exact while t^3 < 1e38, i.e. tie groups to ~4.6e12
    # rows; past _MW_TIE_BOUND the assert_true fails the job LOUDLY
    # instead of the ANSI-off silent null that would propagate into z.
    t_raw = F.col("c1v") + F.col("c2v")
    t = t_raw + F.coalesce(
        F.assert_true(
            t_raw <= F.lit(_MW_TIE_BOUND),
            F.lit(
                "mann_whitney: tie group exceeds the exact decimal"
                f" cube bound ({_MW_TIE_BOUND} rows)"
            ),
        ).cast("long"),
        F.lit(0).cast("long"),
    )
    # Each value contributes its U term once through its leg-1 row
    # (c1 = 0 on leg-2 rows, so their product vanishes) and its tie
    # cube once through the FIRST row of its peer group (the leg-1
    # row when present, else the lone leg-2 row); non-first rows
    # yield NULL, which SUM skips.
    is_first = (F.col("c1") > 0) | (F.col("c1v") == F.lit(0))
    s = cum.groupBy("g1", "g2").agg(
        F.sum(
            F.col("c1").cast("decimal(18,0)")
            * (F.lit(2) * F.col("cb2") + F.col("c2v")).cast("decimal(19,0)")
        ).alias("u2"),
        F.sum(
            F.when(
                is_first,
                t.cast("decimal(18,0)")
                * t.cast("decimal(18,0)")
                * t.cast("decimal(18,0)")
                - t.cast("decimal(38,0)"),
            )
        ).alias("ts"),
    )
    # The per-row guard above bounds each GROUP's cube; the SUM of many
    # near-bound groups can still overflow decimal(38,0) to an ANSI-off
    # silent null (e.g. 10 groups of 4e12 ties = 6.4e38). Same trick at
    # the aggregate: ts + coalesce(assert_true(ts IS NOT NULL), 0)
    # leaves every in-range value untouched and turns the overflow null
    # into a loud failure before it propagates into z.
    ts_guarded = F.col("ts") + F.coalesce(
        F.assert_true(
            F.col("ts").isNotNull(),
            F.lit(
                "mann_whitney: aggregated tie-cube sum overflowed"
                " decimal(38,0)"
            ),
        ).cast("decimal(38,0)"),
        F.lit(0).cast("decimal(38,0)"),
    )
    s = s.withColumn("ts", ts_guarded)
    return s.join(F.broadcast(pairs), ["g1", "g2"]).select(
        F.col("g1").alias("grp1"),
        F.col("g2").alias("grp2"),
        "n1",
        "n2",
        (F.col("u2").cast("double") / 2.0).alias("u1"),
        F.round(F.expr(_MW_Z), 6).alias("z"),
        (F.abs(F.expr(_MW_Z)) > MW_Z_CRIT).alias("significant"),
    )


# --------------------------------------------------------------------------
# Deterministic subsampling confidence intervals: the scalable
# bootstrap. B half-sample replicas are carved by the BITS of one
# portable row hash (replica b keeps the rows whose hash bit b is
# set), so membership is reproducible in any engine, needs no RNG
# state, and the whole estimate is ONE mergeable aggregation -- the
# shape that survives 100 TB where resample-and-recompute bootstraps
# cannot. CI by Politis-Romano subsampling: quantiles of the replica
# means, deviations rescaled by sqrt(b/n) = sqrt(1/2).
# --------------------------------------------------------------------------

from ..functions.hashing import portable_hash64, portable_hash64_sql

#: Replica count: one per usable hash bit (the 60-bit portable hash
#: gives independent low bits; 32 keeps the aggregate width and the
#: order-statistics array fixed and tiny).
SS_REPLICAS = 32

#: sqrt(1/2) as a literal double (no libm near data): the subsampling
#: rescale sqrt(b/n) for half-sample replicas.
SS_SQRT_HALF = "0.7071067811865476"

#: Full-cohort mean over exact integers, one shared text.
_SS_MEAN = "(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"


def _subsample_oracle() -> str:
    """The DuckDB twin, generated over the replica index (the
    q_benford literal-generation discipline): same hash, same bit
    predicates, same exact integer sums, same sorted replica-mean
    fold and the same CI closed-form text."""
    aggs = ",\n             ".join(
        f"CAST(SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN cents"
        f" ELSE 0 END) AS BIGINT) AS s{b},"
        f" CAST(SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1"
        f" ELSE 0 END) AS BIGINT) AS c{b}"
        for b in range(SS_REPLICAS)
    )
    means = ", ".join(
        f"(CAST(s{b} AS DOUBLE) / CAST(c{b} AS DOUBLE))"
        for b in range(SS_REPLICAS)
    )
    return f"""
    WITH base AS (
      SELECT o_orderpriority AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             {portable_hash64_sql("o_orderkey")} AS h
      FROM orders
    ),
    g AS (
      SELECT grp,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS s,
             {aggs}
      FROM base GROUP BY 1
    ),
    r AS (
      SELECT grp, n, s, list_sort([{means}]) AS ms
      FROM g
    )
    SELECT grp, n,
           ROUND({_SS_MEAN}, 6) AS mean_cents,
           ROUND(ms[2], 6) AS rep_lo,
           ROUND(ms[{SS_REPLICAS - 1}], 6) AS rep_hi,
           ROUND({_SS_MEAN} - {SS_SQRT_HALF}
                 * (ms[{SS_REPLICAS - 1}] - {_SS_MEAN}), 6) AS ci_lo,
           ROUND({_SS_MEAN} - {SS_SQRT_HALF}
                 * (ms[2] - {_SS_MEAN}), 6) AS ci_hi
    FROM r
    """


@query("q_subsample_ci", oracle=_subsample_oracle())
def q_subsample_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cohort confidence interval for mean spend, by deterministic
    hash-bit subsampling: SS_REPLICAS half-sample replicas (replica b
    = rows whose portable-hash bit b is set), each contributing an
    exact (sum, count) pair from the SAME single aggregation pass;
    the CI rescales the outer replica-mean deviations by sqrt(1/2)
    (Politis-Romano subsampling with b = n/2), using the 2nd and
    (B-1)th order statistics (~6%/94% of 32 replicas).

    Why this shape at scale: a classical bootstrap resamples and
    re-aggregates B times -- B corpus passes, or corpus-sized resample
    state. Hash-bit replicas need ZERO extra passes: every row folds
    into its replicas' (sum, count) cells inside the one partial+final
    hash aggregation (2*B+2 mergeable cells per cohort, bytes at any
    corpus size), membership is a pure row-hash function -- no RNG
    state, reproducible across engines, stable under repartitioning
    -- and replicas are pairwise half-overlapping by construction,
    which subsampling theory (unlike the iid-resample bootstrap)
    prices in via the sqrt(b/n) rescale.

    Exactness: sums and counts are exact integers; replica means, the
    sorted order-statistics fold (sort_array/list_sort over 32
    doubles), and the CI closed form are shared IEEE texts -- every
    emitted double hash-compares. The sqrt(1/2) rescale is a literal,
    not libm. Replica emptiness is a non-issue by construction at any
    n >= ~hundreds (P(empty) = 2^-n); the division would surface as
    NULL, never a wrong number.

    tests/test_statistics.py recomputes replicas, means and the CI in
    pure Python (third-engine check), pins mean inside [ci_lo, ci_hi],
    ci_lo <= ci_hi, and that replica membership matches the hash bits.
    """
    orders = load_table(spark, sf_dir, "orders", spread=True)
    h = portable_hash64(F.col("o_orderkey"))
    base = orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        h.alias("h"),
    )
    bit = [
        (F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1)
        for b in range(SS_REPLICAS)
    ]
    aggs = [F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")]
    for b in range(SS_REPLICAS):
        aggs.append(
            F.sum(F.when(bit[b], F.col("cents")).otherwise(0)).alias(f"s{b}")
        )
        aggs.append(
            F.sum(F.when(bit[b], F.lit(1)).otherwise(0)).alias(f"c{b}")
        )
    g = base.groupBy("grp").agg(*aggs)
    return subsample_ci_tail(g)


def subsample_ci_tail(g: DataFrame) -> DataFrame:
    """q_subsample_ci's closed-form tail over a sufficient-statistics
    frame (grp, n, s, s0..c{B-1}) -- factored out so the streaming
    twin (streaming/subsample.py) evaluates the IDENTICAL Spark
    expressions over its state snapshots and bit-equals the batch
    output by construction."""
    means = ", ".join(
        f"(CAST(s{b} AS DOUBLE) / CAST(c{b} AS DOUBLE))"
        for b in range(SS_REPLICAS)
    )
    r = g.withColumn("ms", F.expr(f"sort_array(array({means}))"))
    lo_i, hi_i = 2, SS_REPLICAS - 1
    return r.select(
        "grp",
        "n",
        F.round(F.expr(_SS_MEAN), 6).alias("mean_cents"),
        F.round(F.expr(f"ms[{lo_i - 1}]"), 6).alias("rep_lo"),
        F.round(F.expr(f"ms[{hi_i - 1}]"), 6).alias("rep_hi"),
        F.round(
            F.expr(
                f"{_SS_MEAN} - {SS_SQRT_HALF} * (ms[{hi_i - 1}] - {_SS_MEAN})"
            ),
            6,
        ).alias("ci_lo"),
        F.round(
            F.expr(
                f"{_SS_MEAN} - {SS_SQRT_HALF} * (ms[{lo_i - 1}] - {_SS_MEAN})"
            ),
            6,
        ).alias("ci_hi"),
    )


# --------------------------------------------------------------------------
# Theil-Sen robust trend: the median of all pairwise slopes -- the
# outlier-proof complement of q_regression's OLS (one wild day cannot
# move it; breakdown point ~29%). Runs over the DAY-GRAIN aggregate,
# so the pair set is time-bounded (|days|^2 per series), never
# row-proportional; selection of the median slope is a deterministic
# rank over doubles computed identically in both engines, with an
# exact integer tie-break chain.
# --------------------------------------------------------------------------

#: Pairwise slope and residual texts, shared with the oracle.
_TS_SLOPE = "(CAST(dy AS DOUBLE) / CAST(dx AS DOUBLE))"
_TS_RESID = "(CAST(y AS DOUBLE) - slope * CAST(x AS DOUBLE))"


@query(
    "q_theil_sen",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST(date_diff('day', DATE '2024-01-01',
                            CAST(ts AS DATE)) AS BIGINT) AS x,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.event_type,
             b.y - a.y AS dy, b.x - a.x AS dx, a.x AS x1, b.x AS x2,
             {_TS_SLOPE.replace('dy', '(b.y - a.y)').replace('dx', '(b.x - a.x)')} AS slope
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.x < b.x
    ),
    ranked AS (
      SELECT event_type, slope,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY slope, dy, dx, x1, x2) AS r,
             COUNT(*) OVER (PARTITION BY event_type) AS np
      FROM pairs
    ),
    med AS (
      SELECT event_type, slope, np FROM ranked
      WHERE r = (np + 1) // 2
    ),
    resid AS (
      SELECT d.event_type, m.slope, m.np,
             {_TS_RESID} AS resid,
             row_number() OVER (
               PARTITION BY d.event_type
               ORDER BY {_TS_RESID}, d.x) AS r,
             COUNT(*) OVER (PARTITION BY d.event_type) AS nd
      FROM daily d JOIN med m ON m.event_type = d.event_type
    )
    SELECT event_type,
           CAST(nd AS BIGINT) AS n_days,
           CAST(np AS BIGINT) AS n_pairs,
           ROUND(slope, 6) AS slope,
           ROUND(resid, 6) AS intercept
    FROM resid WHERE r = (nd + 1) // 2
    """,
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily event volume per event type:
    the median pairwise slope over the day-grain counts, and the
    matching intercept as the median residual y - slope*x -- the
    trend estimate a single anomalous day cannot drag (contrast
    q_regression's OLS, which any heavy tail owns).

    The corpus collapses FIRST to (type, day-index, count) by one
    mergeable aggregation; all pair work happens on that domain-sized
    frame, so the pair set is |days|^2 per type -- time-bounded,
    independent of row volume (the q_ks_test posture). Slope doubles
    divide identical exact integers in both engines, so the rank order
    is identical; ties break by the exact integer chain (dy, dx, x1,
    x2) and the LOWER median is selected by rank (np+1)/2 -- both
    deterministic, shared with the oracle. The intercept pass ranks
    day residuals under the chosen slope the same way.

    Scale: for long horizons the |days|^2 pair grid grows -- the
    standard remedies (windowed Theil-Sen over trailing buckets, or
    the repeated-median variant per anchor day) keep the same collapse
    + domain-pair shape; swap the pair predicate. Counts never leave
    exact integers until the slope division.

    tests/test_statistics.py recomputes the median slope and intercept
    in pure Python over the same sort keys (third-engine check) and
    pins the robustness property: corrupting one day's count by 10x
    moves the OLS slope at least 2x (typically 3-10x at the test SF's
    single-digit daily counts) more than the Theil-Sen slope.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.datediff(
                F.to_date("ts"), F.to_date(F.lit("2024-01-01"))
            )
            .cast("long")
            .alias("x"),
        )
        .groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    # Checkpoint RESTORED (round 14, VERDICT r13 #1): the round-13
    # removal assumed ReuseExchange would serve the three daily
    # consumers (pair join a/b + residual side) plus the med broadcast
    # build, but the formatted plan shows THREE events scans and zero
    # ReusedExchange -- the broadcast subtree re-derives the collapse,
    # and the driver measured 0.87 min / 9.32 mean at local[32] vs
    # 0.46 prev. The day-grain frame is domain-sized (|types| x |days|
    # rows at any corpus size), so the copy is bytes; with the
    # checkpoint the events scan+collapse provably runs once
    # (plans/r14/q_theil_sen_after.txt: one scan).
    daily = daily.localCheckpoint(eager=False)
    return theil_sen_from_daily(daily)


def theil_sen_from_daily(daily: DataFrame) -> DataFrame:
    """q_theil_sen's post-collapse stages over a (event_type, x, y)
    day-grain frame -- factored out so the streaming twin
    (streaming/theil_sen.py) runs the IDENTICAL Spark expressions over
    its state snapshots and bit-equals the batch output by
    construction."""
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.x") < F.col("b.x")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (F.col("b.y") - F.col("a.y")).alias("dy"),
        (F.col("b.x") - F.col("a.x")).alias("dx"),
        F.col("a.x").alias("x1"),
        F.col("b.x").alias("x2"),
    ).withColumn("slope", F.expr(_TS_SLOPE))
    from pyspark.sql.window import Window

    wr = Window.partitionBy("event_type").orderBy(
        "slope", "dy", "dx", "x1", "x2"
    )
    wn = Window.partitionBy("event_type")
    ranked = pairs.select(
        "event_type",
        "slope",
        F.row_number().over(wr).alias("r"),
        F.count(F.lit(1)).over(wn).alias("np"),
    )
    med = ranked.filter(F.expr("r = (np + 1) DIV 2")).select(
        "event_type", "slope", "np"
    )
    resid = daily.join(F.broadcast(med), "event_type").withColumn(
        "resid", F.expr(_TS_RESID)
    )
    wr2 = Window.partitionBy("event_type").orderBy("resid", "x")
    ranked2 = resid.select(
        "event_type",
        "slope",
        "np",
        "resid",
        F.row_number().over(wr2).alias("r"),
        F.count(F.lit(1)).over(wn).alias("nd"),
    )
    return ranked2.filter(F.expr("r = (nd + 1) DIV 2")).select(
        "event_type",
        F.col("nd").cast("long").alias("n_days"),
        F.col("np").cast("long").alias("n_pairs"),
        F.round("slope", 6).alias("slope"),
        F.round("resid", 6).alias("intercept"),
    )
