"""Tier C extension: market-basket co-occurrence affinity (SURVEY.md
§2 north-star adjacency -- "what co-occurs with what" is the
item-item collaborative-filtering primitive, and on a training-data
corpus the same shape answers "which sources/tags co-appear in the
same shard" for contamination and leakage screens).

The operator is a bounded self-join: baskets (orders) are small by
construction, so enumerating within-basket pairs costs O(B^2/2) per
basket regardless of corpus size -- the same bounded-blocking argument
as the LSH near-dup family, with the ORDER as the block. Affinity is
cosine co / sqrt(n_i * n_j) plus lift co * N / (n_i * n_j), both exact
closed forms over integer counts.

Reference parity note: the reference script has no affinity operator
(its analytics stop at SQLite GROUP BY views); this module is part of
the mandated training-data extension surface, not a port.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table
from .registry import query

#: Minimum co-occurrence support: pairs seen in a single basket are
#: noise (their cosine is dominated by the rarity of the parts, not by
#: any real association), and the HAVING keeps the ranked output
#: data-proportional to genuinely repeated pairs.
MIN_CO = 2

#: Number of ranked pairs to emit.
TOP_PAIRS = 100

#: Shared affinity texts -- exact integer counts cast to double once,
#: then one IEEE tree per measure (sqrt and divide are correctly
#: rounded, so both engines produce bit-identical doubles and the
#: ORDER BY ... LIMIT cut selects the same pairs).
_COSINE = "CAST(co AS DOUBLE) / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"
_LIFT = (
    "(CAST(co AS DOUBLE) * CAST(nord AS DOUBLE))"
    " / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"
)


def basket_arrays(li: DataFrame) -> DataFrame:
    """(l_orderkey, ps: sorted distinct part array) -- ONE exchange on
    the basket key. Round 13: the pair enumeration used to be a
    DISTINCT (one exchange) followed by a self-join on the basket key
    (two more join-side exchanges, or one + a replay); collect_set
    dedups within the order during the SAME aggregation, and the
    basket-bounded pair space (TPC-H baskets <= 7 lines) explodes from
    the sorted array as a narrow map. Identical pair semantics: the
    array is sorted ascending and each element pairs with its
    successors, which IS the a.l_partkey < b.l_partkey join predicate
    over distinct (order, part) rows."""
    return (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
    )


def basket_pair_counts(arrs: DataFrame) -> DataFrame:
    """(part1, part2, co) with part1 < part2 -- counts of baskets
    containing both parts, from the basket-array frame."""
    pair_structs = F.expr(
        "flatten(transform(ps, (x, i) ->"
        " transform(slice(ps, i + 2, size(ps)),"
        " y -> struct(x AS part1, y AS part2))))"
    )
    return (
        arrs.select(F.explode(pair_structs).alias("pr"))
        .select("pr.part1", "pr.part2")
        .groupBy("part1", "part2")
        .agg(F.count(F.lit(1)).alias("co"))
    )


@query(
    "q_cooccur",
    oracle=f"""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    freq AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n
      FROM baskets GROUP BY 1
    ),
    tot AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS nord
      FROM baskets
    ),
    co AS (
      SELECT a.l_partkey AS part1, b.l_partkey AS part2,
             CAST(COUNT(*) AS BIGINT) AS co
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {MIN_CO}
    )
    SELECT part1, part2, co AS co_orders, f1.n AS n1, f2.n AS n2,
           ROUND({_COSINE}, 6) AS cosine,
           ROUND({_LIFT}, 6) AS lift
    FROM co
    JOIN freq f1 ON f1.l_partkey = co.part1
    JOIN freq f2 ON f2.l_partkey = co.part2
    CROSS JOIN tot
    ORDER BY {_COSINE} DESC, part1, part2
    LIMIT {TOP_PAIRS}
    """,
)
def q_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_PAIRS} part pairs by within-order cosine affinity, with
    lift -- the item-item co-occurrence primitive over lineitem
    baskets.

    Stages: (1) DISTINCT (order, part) collapses repeated lines -- one
    exchange that every later stage reuses or derives from; (2) the
    pair enumeration is a SELF-JOIN ON THE BASKET KEY, so its cost is
    sum(B^2/2) over basket sizes B -- bounded per basket by
    construction (TPC-H baskets are <= 7 lines; a hot PART never
    inflates it because the join key is the order, not the part);
    (3) pair counts hash-aggregate with map-side partials and a
    HAVING co >= {MIN_CO} support floor; (4) per-part frequencies are
    a dimension-sized frame joined back (broadcast at test SF; at
    100 TB it is still |parts| rows -- dim-sized -- and AQE picks the
    join strategy); (5) cosine and lift are shared IEEE texts over
    exact integer counts, so the TakeOrderedAndProject cut and the
    oracle's ORDER BY ... LIMIT select identical pairs with identical
    doubles (ties broken by the (part1, part2) total order).

    Scale: this is a-priori's support-counting pass expressed
    relationally. Nothing is all-pairs over the catalog -- the pair
    space is basket-bounded, the count aggregation is mergeable, and
    the only non-dim shuffles are the basket DISTINCT and the pair
    count. The top-k is a TakeOrderedAndProject (no global sort
    materialization).

    tests/test_basket.py recomputes the full ranked frame in pure
    Python at sf0.001 (third-engine check).
    """
    li = load_table(spark, sf_dir, "lineitem")
    # ONE basket-key exchange (basket_arrays); freq/tot re-derive from
    # the same aggregation exchange via ReuseExchange, and the pair
    # space explodes array-side -- no self-join at all (round 13; the
    # former DISTINCT + self-join shape paid the basket exchange plus
    # both join sides)
    arrs = basket_arrays(li)
    freq = (
        arrs.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = arrs.agg(F.count(F.lit(1)).alias("nord"))
    co = basket_pair_counts(arrs).filter(F.col("co") >= MIN_CO)
    scored = (
        co.join(
            F.broadcast(freq.withColumnsRenamed({"l_partkey": "part1", "n": "n1"})),
            "part1",
        )
        .join(
            F.broadcast(freq.withColumnsRenamed({"l_partkey": "part2", "n": "n2"})),
            "part2",
        )
        .crossJoin(F.broadcast(tot))
    )
    return (
        scored.withColumn("_cos", F.expr(_COSINE))
        .orderBy(F.col("_cos").desc(), "part1", "part2")
        .limit(TOP_PAIRS)
        .select(
            "part1",
            "part2",
            F.col("co").alias("co_orders"),
            "n1",
            "n2",
            F.round(F.col("_cos"), 6).alias("cosine"),
            F.round(F.expr(_LIFT), 6).alias("lift"),
        )
    )


# --------------------------------------------------------------------------
# Triangle counting + global clustering coefficient over the
# co-occurrence graph -- the graph-analytics primitive one step past
# connected components (q_dedup_clusters' pointer jumping): triangles
# measure cohesion, and their enumeration is the canonical test of
# whether a join plan survives graph skew. Edges are the q_cooccur
# pairs at the same support floor, so the graph derives from data in
# one bounded self-join.
# --------------------------------------------------------------------------

#: Shared global-clustering-coefficient text over exact counts:
#: 3 * triangles / wedges (every triangle closes exactly 3 wedges).
_GCC = "3.0 * CAST(n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)"


@query(
    "q_triangles",
    oracle=f"""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {MIN_CO}
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM edges
        UNION ALL SELECT v AS node FROM edges
      ) GROUP BY 1
    ),
    tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e2.u = e1.v
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges
      FROM deg
    ),
    ecnt AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges
    )
    SELECT agg.n_nodes, ecnt.n_edges, agg.n_wedges, tri.n_triangles,
           ROUND({_GCC}, 6) AS gcc
    FROM agg, ecnt, tri
    """,
)
def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-occurrence graph (edges = part
    pairs co-ordered in >= MIN_CO baskets): node/edge/wedge/triangle
    counts and the global clustering coefficient 3T/W.

    Triangles enumerate as the ordered 3-clique join: edges are stored
    once with u < v, so e1=(a,b) joined to e2=(b,c) yields only
    ascending paths a<b<c, and the closing join against e3=(a,c)
    counts each triangle EXACTLY once -- no /6 de-duplication pass,
    no symmetric edge doubling. Wedges come from the degree table
    (sum d*(d-1)/2, exact integers), and the coefficient is one
    shared IEEE division.

    Scale: the path join's cost is sum over nodes of d_in*d_out, and
    since round 9 the registered orientation is DEGREE order (each
    edge low-(degree, node) -> high, the comparator the round-8
    docstring documented): a hub then receives all its edges as
    targets, its out-degree stays bounded by its higher-degree
    neighbor count, and total path count is O(m^1.5) regardless of
    skew -- checked on a scrambled-label power-law graph by
    tests/test_scale_claims.py::test_degree_orientation_splits_hub_wedges
    (docs/SCALE.md round-9 table), where id order is uncorrelated with
    degree and the id-ordered join's wedge-path input is the quadratic
    hub term. The orientation cannot change the answer (any acyclic
    total order counts each triangle exactly once --
    tests/test_basket.py pins id == degree census equality), so the
    oracle is unchanged. All legs are hash equi-joins on node keys --
    shuffles carry (node, node) integer pairs, AQE handles residual
    skew. The edge derivation inherits
    q_cooccur's basket-bounded argument; everything downstream is
    edge-proportional, never basket-proportional.

    tests/test_basket.py brute-forces the triangle count from the
    Python-recomputed edge set (third-engine check) and pins the
    wedge identity.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # edge derivation shares q_cooccur's array-side pair enumeration
    # (one basket-key exchange, no self-join -- round 13)
    edges = (
        basket_pair_counts(basket_arrays(li))
        .filter(F.col("co") >= MIN_CO)
        .select(
            F.col("part1").alias("u"), F.col("part2").alias("v")
        )
    )
    return triangle_census(edges, orient="degree")


def _orient_edges(edges: DataFrame, orient: str) -> DataFrame:
    """Acyclic orientation of an undirected (u < v) edge set. "id"
    keeps the id order; "degree" re-orients each edge from the
    lower-(degree, node) endpoint to the higher -- the comparator that
    splits a hub's quadratic wedge space (tests/test_scale_claims.py;
    docs/SCALE.md round-9 table). Any total order counts
    each triangle exactly once, so the census is orientation-
    independent; only the closing join's input size changes."""
    if orient == "id":
        return edges
    if orient != "degree":
        raise ValueError(f"orient must be 'id' or 'degree': {orient}")
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e = edges.join(
        deg.withColumnsRenamed({"node": "u", "d": "du"}), "u"
    ).join(deg.withColumnsRenamed({"node": "v", "d": "dv"}), "v")
    # (d, node) lexicographic; u < v by id, so ties keep id order
    swap = (F.col("dv") < F.col("du")) | (
        (F.col("dv") == F.col("du")) & (F.col("v") < F.col("u"))
    )
    return e.select(
        F.when(swap, F.col("v")).otherwise(F.col("u")).alias("u"),
        F.when(swap, F.col("u")).otherwise(F.col("v")).alias("v"),
    )


def triangle_census(
    edges: DataFrame,
    orient: str = "degree",
    _oriented_only: bool = False,
) -> DataFrame:
    """Node/edge/wedge/triangle counts + global clustering coefficient
    for an undirected (u < v) edge frame. The wedge/degree statistics
    come from the UNDIRECTED set (orientation-independent by
    definition); the 3-clique join runs over the chosen acyclic
    orientation. ``_oriented_only`` exposes the oriented edge frame so
    tests/test_scale_claims.py can count the closing join's exact input
    size."""
    if not _oriented_only:
        # Lazy checkpoint back IN after the round-13 array-side pair
        # rewrite: edges now ends in the pair-count FINAL aggregation
        # over a 1.26M-row explode, and the census fans it out to six
        # consumers (deg twice, ecnt, three clique legs via oriented).
        # ReuseExchange replays only the exchange -- each consumer
        # re-ran the final aggregation + filter. The edge set itself
        # is tiny (support-floored pairs), so materializing it once
        # is strictly cheaper: same-session A/B min-of-4 noop 1.89 ->
        # 1.72 (edges) -> 1.67 (edges + oriented), and warm reps
        # stabilize (plain: 3.08/2.07 tail; checkpointed: ~1.7 flat).
        edges = edges.localCheckpoint(eager=False)
    oriented = _orient_edges(edges, orient)
    if _oriented_only:
        return oriented
    oriented = oriented.localCheckpoint(eager=False)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    agg = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2)
        .cast("long")
        .alias("n_wedges"),
    )
    ecnt = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    e1 = oriented.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = oriented.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = oriented.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        agg.crossJoin(F.broadcast(ecnt))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(F.expr(_GCC), 6).alias("gcc"),
        )
    )
