"""Tier C: similarity search over ARRAY<FLOAT> embeddings (SURVEY.md
§2.3 C3; north-star ANN ops).

The dot products stay entirely in the JVM: ``zip_with`` + ``aggregate``
higher-order expressions, accumulated in double left-to-right -- the
same fold order DuckDB's ``list_reduce`` uses, so cosine values are
bit-identical and every query here has a full oracle.

Scale posture:
- q_knn_cosine is the honest brute-force baseline: broadcast one query
  vector, narrow map for the score, TakeOrderedAndProject for top-k --
  no shuffle of the embedding column at all, scales linearly and
  embarrassingly parallel. This is the right plan even at 100 TB when
  recall must be 1.0.
- q_knn_per_label is the IVF shape: partition-local top-k (window over
  the bucket key) then a global merge of tiny per-bucket results.
- q_ann_lsh is the sublinear path: 8 random-hyperplane signs -> one
  16-way... 256-bucket hash; only the query's bucket is re-ranked.
  Hyperplanes are derived from the portable hash so the oracle builds
  the identical planes.
"""

from __future__ import annotations

import functools as _functools
import math as _math
import os
import weakref as _weakref
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import portable_unit_float_sql
from ..functions.vector import cosine_similarity, dot, norm
from ..tables import load_table
from .registry import query

QUERY_VEC_ID = 0
KNN_K = 20

# -- shared SQL fragments (DuckDB oracle side) -------------------------------

_DOT_SQL = (
    "list_reduce(list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), "
    "(acc, x) -> acc + x)"
)
_NORM_SQL = (
    "sqrt(list_reduce(list_transform({a}, x -> CAST(x AS DOUBLE) "
    "* CAST(x AS DOUBLE)), (acc, y) -> acc + y))"
)


def _cos_sql(a: str, b: str) -> str:
    return (
        f"{_DOT_SQL.format(a=a, b=b)} / "
        f"({_NORM_SQL.format(a=a)} * {_NORM_SQL.format(a=b)})"
    )


# --------------------------------------------------------------------------


@query(
    "q_knn_cosine",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings
               WHERE vec_id = {QUERY_VEC_ID})
    SELECT vec_id, label,
           ROUND({_cos_sql("embedding", "qv")}, 6) AS cos_sim
    FROM embeddings, q
    WHERE vec_id <> {QUERY_VEC_ID}
    ORDER BY cos_sim DESC, vec_id
    LIMIT {KNN_K}
    """,
)
def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (C3 baseline): broadcast query vector,
    JVM-side dot product, TakeOrderedAndProject -- no embedding shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qv")
    )
    return (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "label",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("qv")), 6
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(KNN_K)
    )


@query(
    "q_knn_per_label",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings
               WHERE vec_id = {QUERY_VEC_ID}),
    scored AS (
      SELECT vec_id, label,
             ROUND({_cos_sql("embedding", "qv")}, 6) AS cos_sim
      FROM embeddings, q
      WHERE vec_id <> {QUERY_VEC_ID}
    )
    SELECT label, vec_id, cos_sim, rn FROM (
      SELECT scored.*, row_number() OVER (
               PARTITION BY label ORDER BY cos_sim DESC, vec_id) AS rn
      FROM scored
    ) t WHERE rn <= 3
    """,
)
def q_knn_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed top-k (C3, the IVF shape): top-3 per label partition,
    then merge. Per-bucket state is tiny, so the global step is free;
    at 100 TB the buckets are the coarse quantizer cells."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qv")
    )
    scored = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "label",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("qv")), 6
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("label").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("label", "vec_id", "cos_sim", "rn")
    )


KNN_JOIN_N_QUERIES = 5
KNN_JOIN_K = 3


@query(
    "q_knn_join",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id < {KNN_JOIN_N_QUERIES}
    ),
    scored AS (
      SELECT q.query_id, e.vec_id, e.label,
             ROUND({_cos_sql("e.embedding", "q.qv")}, 6) AS cos_sim
      FROM embeddings e, q
      WHERE e.vec_id >= {KNN_JOIN_N_QUERIES}
    )
    SELECT query_id, vec_id, label, cos_sim, rn FROM (
      SELECT scored.*, row_number() OVER (
               PARTITION BY query_id
               ORDER BY cos_sim DESC, vec_id) AS rn
      FROM scored
    ) t WHERE rn <= {KNN_JOIN_K}
    """,
)
def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN JOIN (C3, the batch shape): a TABLE of query vectors -- not
    one literal -- against the corpus, exact top-k per query. This is
    the serving/auto-labeling form of similarity search (score a batch
    of prompts, label a batch of centroids, evaluate a batch of eval
    vectors) that the single-vector q_knn_cosine baseline can't
    express: one scan answers all Q queries.

    100 TB posture: the query batch broadcasts (Q rows x dim floats --
    MiB-class up to Q ~ 10k); the corpus never shuffles its embedding
    column. The per-corpus-row norm is hoisted into the pre-join
    projection so its fold runs once per ROW, not once per (row, query)
    pair -- the per-pair cost is exactly one dot fold. Embeddings are
    DROPPED before the rank exchange, and the row_number filter
    compiles to WindowGroupLimit, so each map task forwards at most
    Q*k narrow (query_id, vec_id, label, cos_sim) tuples into the
    final exchange: shuffle volume is O(partitions * Q * k),
    independent of corpus size (plan-pinned in tests/test_plans.py).
    """
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    q = emb.filter(F.col("vec_id") < KNN_JOIN_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        norm(F.col("embedding")).alias("qn"),
    )
    corpus = emb.filter(F.col("vec_id") >= KNN_JOIN_N_QUERIES).select(
        "vec_id",
        "label",
        "embedding",
        norm(F.col("embedding")).alias("cn"),
    )
    scored = corpus.crossJoin(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        "label",
        F.round(
            dot(F.col("embedding"), F.col("qv"))
            / (F.col("cn") * F.col("qn")),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNN_JOIN_K)
        .select("query_id", "vec_id", "label", "cos_sim", "rn")
    )


EMB_NEAR_DUP_THRESHOLD = 0.4


@query(
    "q_near_dedup_embedding",
    oracle=f"""
    SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2, a.label,
           ROUND({_cos_sql("a.embedding", "b.embedding")}, 6) AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE ROUND({_cos_sql("a.embedding", "b.embedding")}, 6)
          >= {EMB_NEAR_DUP_THRESHOLD}
    """,
)
def q_near_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup (C2/C3): label blocks bound the pair
    space (the coarse-quantizer trick); cosine >= threshold survives.
    The 100 TB variant that swaps the label for a data-independent LSH
    bucket id is wired as q_near_dedup_embedding_lsh below (the
    driver-certified form since round 6) -- same pair semantics, block
    sizes bounded by construction (expected n/2^R per band bucket, R
    the geometry dial; measured against this label-blocked form in
    docs/SCALE.md's round-6 blocking probe)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Per-vector norm hoisted out of the per-PAIR expression (same
    # rationale + bit-identical argument as q_near_dedup_embedding_lsh's
    # verify join below).
    sides = emb.select(
        "vec_id", "label", "embedding", norm(F.col("embedding")).alias("nn")
    )
    a, b = sides.alias("a"), sides.alias("b")
    pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    cos = F.round(
        dot(F.col("a.embedding"), F.col("b.embedding"))
        / (F.col("a.nn") * F.col("b.nn")),
        6,
    )
    return pairs.select(
        F.col("a.vec_id").alias("vec_id_1"),
        F.col("b.vec_id").alias("vec_id_2"),
        F.col("a.label").alias("label"),
        cos.alias("cos_sim"),
    ).filter(F.col("cos_sim") >= EMB_NEAR_DUP_THRESHOLD)


# --------------------------------------------------------------------------
# Random-hyperplane LSH ANN: 8 sign bits -> 256 buckets; search only the
# query's bucket. Hyperplane component (p, d) = portable unit float of
# "hp{p}_{d}", identical in both engines.
# --------------------------------------------------------------------------

N_PLANES = 8


def _cos_py(a: list[float], b: list[float]) -> float:
    """Driver-side cosine, same left-fold double accumulation as the
    ``zip_with``/``aggregate`` and ``list_reduce`` expressions -- used
    only on driver-sized inputs (a query vector vs N_CELLS centroids)."""
    import math

    dot = 0.0
    for x, y in zip(a, b):
        dot += x * y
    na = 0.0
    for x in a:
        na += x * x
    nb = 0.0
    for y in b:
        nb += y * y
    return dot / (math.sqrt(na) * math.sqrt(nb))


def _unit_float_py(s: str) -> float:
    """Driver-side twin of functions.hashing.portable_unit_float --
    byte-identical IEEE ops, so plane components computed here equal the
    md5-derived ones the oracle SQL generates on the fly."""
    import hashlib

    from ..functions.hashing import MERSENNE31 as P

    h = int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
    return (h % P) / (P / 2.0) - 1.0


def _planes_py(dim: int) -> list[list[float]]:
    return _planes_py_n(dim, N_PLANES)


#: sf_dir -> embedding dimensionality. The dimension is a TABLE
#: property (constant per dataset), not per-row data; in production it
#: comes from the catalog/config. Caching the one-row probe job here
#: keeps repeated query builds (bench reps, driver correctness +
#: parity runs) from paying a Spark job each call. Process-lifetime
#: cache, no invalidation: rewriting a table IN PLACE with a different
#: dim needs a new process (consistent with the catalog-property
#: framing -- a dim change is a schema change, not an append).
_DIM_CACHE: dict[str, int] = {}


def _embedding_dim(emb: DataFrame, sf_dir: str) -> int:
    if sf_dir not in _DIM_CACHE:
        _DIM_CACHE[sf_dir] = emb.select(F.size("embedding")).first()[0]
    return _DIM_CACHE[sf_dir]


@_functools.lru_cache(maxsize=256)
def _array_sql(values: tuple[float, ...]) -> str:
    """A flat double-array literal as SQL text. Values render via
    ``repr`` (shortest round-trip decimal; Double.parseDouble returns
    the identical double) with explicit DOUBLE casts so the parser
    yields DOUBLE, not DECIMAL. Non-finite values are rejected here,
    at the Python boundary: ``repr(inf)`` would render as a bare
    ``inf`` token that the SQL parser resolves as a COLUMN reference,
    turning a NaN-contaminated input (e.g. a bad embedding reaching
    the k-means trainer's means) into a baffling unresolved-column
    error far from the cause."""
    for v in values:
        if not _math.isfinite(v):
            raise ValueError(
                f"non-finite value {v!r} in array literal; upstream "
                "vectors must be cleaned before entering a plan"
            )
    return "array(" + ",".join(f"CAST({v!r} AS DOUBLE)" for v in values) + ")"


def _array_literal(values: tuple[float, ...]) -> Column:
    """``_array_sql`` wrapped as a Column at the call site. The TEXT is
    cached (pure Python, safe for the process lifetime); the Column is
    deliberately NOT -- a cached Column pins a py4j handle into one
    JVM, and if the gateway were ever torn down and recreated within a
    process the cache would serve stale handles as confusing py4j
    errors. Rebuilding from cached text is one ``F.expr`` round trip +
    a JVM-side parse per plan build -- milliseconds, vs the
    per-element ``F.lit`` expansion (one py4j call each) this layer
    exists to avoid."""
    return F.expr(_array_sql(values))


def _cos_expr_sql(emb: str, values: tuple[float, ...]) -> str:
    """SQL text for cosine_similarity(col, literal) -- the same
    zip_with/aggregate fold as functions.vector (identical ops in the
    same order, so results are bit-identical); exists so a chain over
    N centroids parses in ONE py4j call instead of ~10 Column calls
    per centroid."""
    arr = _array_sql(values)
    d = (
        f"aggregate(zip_with({emb}, {arr},"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    nrm = (
        f"sqrt(aggregate({emb}, CAST(0.0 AS DOUBLE),"
        " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )
    narr = (
        f"sqrt(aggregate({arr}, CAST(0.0 AS DOUBLE),"
        " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )
    return f"({d}) / (({nrm}) * ({narr}))"


def _plane_dot(emb: Column, plane: list[float]) -> Column:
    """dot(embedding, plane) with the plane inlined as literals.

    Computing the plane at plan-build time (instead of md5 per element
    per row) cut this operator ~5x; the hash derivation is identical, so
    oracle parity is untouched."""
    return F.aggregate(
        F.zip_with(
            emb,
            _array_literal(tuple(plane)),
            lambda x, y: x.cast("double") * y,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _bucket_col(emb: Column, dim: int) -> Column:
    b = None
    for p, plane in enumerate(_planes_py(dim)):
        bit = F.when(_plane_dot(emb, plane) > 0, 1 << p).otherwise(0)
        b = bit if b is None else b + bit
    return b


def _plane_dot_sql(emb: str, p: int) -> str:
    unit = portable_unit_float_sql(f"'hp{p}_' || CAST(i - 1 AS VARCHAR)")
    return (
        f"list_reduce(list_transform(generate_series(1, len({emb})), "
        f"i -> CAST({emb}[i] AS DOUBLE) * ({unit})), (acc, x) -> acc + x)"
    )


def _bucket_sql(emb: str) -> str:
    return " + ".join(
        f"(CASE WHEN ({_plane_dot_sql(emb, p)}) > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(N_PLANES)
    )


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse-quantize every vector to its nearest
# of N_CELLS seed centroids, probe only the query's cell, re-rank there.
# Centroid seeds are vec_ids 1..N_CELLS -- deterministic "training" both
# engines replicate exactly (a production build would k-means these).
# --------------------------------------------------------------------------

N_CELLS = 8
IVF_NPROBE = 2


#: Process-lifetime cache of driver-side artifact ROWS read from the
#: immutable testdata / committed fixtures (the _OPQ_FIXTURE_CACHE
#: catalog framing: keyed on what determines the bytes -- sf_dir for
#: testdata-derived rows, a constant for fixture-derived ones). Each
#: warm hit skips one collect JOB (~0.2 s: a full pass over the
#: single-row-group embeddings file) per query build (r13 opt).
#: Holds ROWS only; schemas live in tables._SCHEMA_CACHE (r14, ADVICE
#: r13). All plan-build caches in this module use unsynchronized
#: check-then-set: query builds run on the single driver thread (the
#: bench, parity harness, and driver contract all build serially), and
#: a concurrent rebuild would only be redundant work, never a corrupt
#: value, because entries are write-once derivations of immutable
#: inputs. Regeneration flows (tests rewriting fixtures in place) must
#: call tables.clear_plan_caches().
_DRIVER_ROWS_CACHE: dict[str, list] = {}


def _cached_rows(key: str | None, build) -> list:
    """Rows for ``key``, collected exactly once per process; with
    key=None (an unknown/foreign source) every call collects fresh."""
    if key is None:
        return build()
    if key not in _DRIVER_ROWS_CACHE:
        _DRIVER_ROWS_CACHE[key] = build()
    return _DRIVER_ROWS_CACHE[key]


def _nearest_cell_expr(cent_rows, session=None, cache_key=None) -> Column:
    """Nearest-seed-centroid id over ``embedding`` as ONE parsed
    expression: a ``least()`` of per-centroid ``named_struct('nc',
    -round(cos, 6), 'cell_id', i)`` structs, so the struct ordering
    breaks cosine ties toward the lowest cell id -- matching the
    oracle's ``row_number() ORDER BY cos DESC, cell_id``. Built as SQL
    text and parsed in one call: the per-centroid Column-API form cost
    ~10 py4j round trips per centroid per plan build (measured ~0.5 s
    of the q_ann_ivf line). ``cent_rows`` is a driver-side artifact
    (N_CELLS rows -- bytes at any scale). With ``session`` and
    ``cache_key`` (which must determine ``cent_rows``) the parsed
    Column is session-cached, skipping the ~0.15 s parse per warm
    build (r13 opt)."""

    def build() -> Column:
        return F.expr(
            "least("
            + ",".join(
                "named_struct('nc', -round("
                + _cos_expr_sql(
                    "embedding", tuple(float(v) for v in r["embedding"])
                )
                + f", 6), 'cell_id', {int(r['cell_id'])})"
                for r in cent_rows
            )
            + ")"
        ).getField("cell_id")

    if session is not None and cache_key is not None:
        return _cached_expr(session, f"ivfcell:{cache_key}", build)
    return build()


def _seed_centroid_rows(emb: DataFrame, cache_key: str | None = None) -> list:
    """The deterministic coarse quantizer: vec_ids 1..N_CELLS as seed
    centroids, sorted by cell id. Driver-side artifact (N_CELLS rows);
    a production build would ``train_ivf_centroids`` these instead --
    the seeds exist so the DuckDB oracle can reconstruct the identical
    quantizer from the table itself. ``cache_key`` (pass the sf_dir
    when ``emb`` is the testdata embeddings table) caches the rows for
    the process lifetime."""

    def build() -> list:
        rows = (
            emb.filter(F.col("vec_id").between(1, N_CELLS))
            .select(F.col("vec_id").alias("cell_id"), "embedding")
            .collect()
        )
        return sorted(rows, key=lambda r: r["cell_id"])

    return _cached_rows(
        f"ivfseeds:{cache_key}" if cache_key is not None else None, build
    )


@query(
    "q_ann_ivf",
    oracle=f"""
    WITH cents AS (
      SELECT vec_id AS cell_id, embedding AS cv FROM embeddings
      WHERE vec_id BETWEEN 1 AND {N_CELLS}
    ),
    assign AS (
      SELECT vec_id, label, embedding, cell_id FROM (
        SELECT e.vec_id, e.label, e.embedding, c.cell_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY ROUND({_cos_sql("e.embedding", "c.cv")}, 6) DESC,
                          c.cell_id) AS rn
        FROM embeddings e, cents c
      ) t WHERE rn = 1
    ),
    q AS (SELECT embedding AS qv FROM embeddings
          WHERE vec_id = {QUERY_VEC_ID}),
    qcells AS (
      SELECT c.cell_id
      FROM cents c, q
      ORDER BY ROUND({_cos_sql("q.qv", "c.cv")}, 6) DESC, c.cell_id
      LIMIT {IVF_NPROBE}
    )
    SELECT vec_id, label, cell_id,
           ROUND({_cos_sql("embedding", "qv")}, 6) AS cos_sim
    FROM assign, q
    WHERE cell_id IN (SELECT cell_id FROM qcells)
      AND vec_id <> {QUERY_VEC_ID}
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (C3 scale path): assign every vector to its nearest seed
    centroid in one narrow pass (centroids broadcast -- N_CELLS rows at
    any scale), then re-rank only the IVF_NPROBE cells nearest the query
    (~nprobe/N_CELLS of the data; nprobe is the recall/cost dial --
    recall asserted against brute force in tests/test_approx.py). The
    100 TB layout writes ``cell_id`` as a partition column so a probe is
    a partition-pruned scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    # The trained quantizer is a driver-side artifact (N_CELLS vectors --
    # bytes, not data): inlining it as literals makes assignment a pure
    # narrow projection -- no join, no shuffle of the embedding column.
    # Ties break toward the lowest cell id via the struct ordering,
    # matching the oracle's row_number ordering.
    seed_rows = _cached_rows(
        f"ivfseedq:{sf_dir}",
        lambda: emb.filter(
            F.col("vec_id").between(1, N_CELLS)
            | (F.col("vec_id") == QUERY_VEC_ID)
        )
        .select(F.col("vec_id").alias("cell_id"), "embedding")
        .collect(),
    )
    cent_rows = sorted(
        (r for r in seed_rows if r["cell_id"] != QUERY_VEC_ID),
        key=lambda r: r["cell_id"],
    )
    # ONE parsed expression for the whole nearest-centroid chain: the
    # per-centroid Column-API form cost ~10 py4j round trips per
    # centroid per plan build (measured ~0.5 s of the line).
    cell = _nearest_cell_expr(cent_rows, spark, f"seed:{sf_dir}")
    assign = emb.select("vec_id", "label", "embedding", cell.alias("cell_id"))
    # The probe list is a driver-side artifact, like the quantizer: rank
    # the N_CELLS centroids against the one query vector in Python (same
    # left-fold double arithmetic as the JVM/oracle expressions) and
    # inline the winning cell ids -- the probe then compiles to a
    # partition-prunable `cell_id IN (...)` filter, no join.
    qv_vals = [
        float(v)
        for r in seed_rows
        if r["cell_id"] == QUERY_VEC_ID
        for v in r["embedding"]
    ]
    qcells = [
        cid
        for cid, _ in sorted(
            (
                (
                    r["cell_id"],
                    round(
                        _cos_py(
                            qv_vals, [float(v) for v in r["embedding"]]
                        ),
                        6,
                    ),
                )
                for r in cent_rows
            ),
            key=lambda t: (-t[1], t[0]),
        )[:IVF_NPROBE]
    ]
    qv_lit = _array_literal(tuple(qv_vals))
    return (
        assign.filter(
            F.col("cell_id").isin(qcells)
            & (F.col("vec_id") != QUERY_VEC_ID)
        )
        .select(
            "vec_id",
            "label",
            "cell_id",
            F.round(
                cosine_similarity(F.col("embedding"), qv_lit), 6
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


#: Query-vector ids for the batch IVF probe join: disjoint from the
#: centroid seeds (1..N_CELLS) and from QUERY_VEC_ID so one table
#: serves all three roles deterministically in both engines.
ANN_JOIN_Q_LO = 9
ANN_JOIN_Q_HI = 13  # inclusive: 5 query vectors
ANN_JOIN_K = 3


@query(
    "q_ann_ivf_join",
    oracle=f"""
    WITH cents AS (
      SELECT vec_id AS cell_id, embedding AS cv FROM embeddings
      WHERE vec_id BETWEEN 1 AND {N_CELLS}
    ),
    assign AS (
      SELECT vec_id, label, embedding, cell_id FROM (
        SELECT e.vec_id, e.label, e.embedding, c.cell_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY ROUND({_cos_sql("e.embedding", "c.cv")}, 6) DESC,
                          c.cell_id) AS rn
        FROM embeddings e, cents c
        WHERE e.vec_id NOT BETWEEN {ANN_JOIN_Q_LO} AND {ANN_JOIN_Q_HI}
      ) t WHERE rn = 1
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id BETWEEN {ANN_JOIN_Q_LO} AND {ANN_JOIN_Q_HI}
    ),
    qprobe AS (
      SELECT query_id, cell_id FROM (
        SELECT q.query_id, c.cell_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY ROUND({_cos_sql("q.qv", "c.cv")}, 6) DESC,
                          c.cell_id) AS rn
        FROM q, cents c
      ) t WHERE rn <= {IVF_NPROBE}
    ),
    cand AS (
      SELECT p.query_id, a.vec_id, a.label, a.cell_id,
             ROUND({_cos_sql("a.embedding", "q.qv")}, 6) AS cos_sim
      FROM assign a
      JOIN qprobe p ON a.cell_id = p.cell_id
      JOIN q ON q.query_id = p.query_id
    )
    SELECT query_id, vec_id, label, cell_id, cos_sim, rn FROM (
      SELECT cand.*, row_number() OVER (
               PARTITION BY query_id
               ORDER BY cos_sim DESC, vec_id) AS rn
      FROM cand
    ) t WHERE rn <= {ANN_JOIN_K}
    """,
)
def q_ann_ivf_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch IVF probe JOIN (C3): the sublinear counterpart of
    q_knn_join -- a TABLE of query vectors, each re-ranking only its
    IVF_NPROBE nearest cells, as ONE equi-join on ``cell_id``. Where
    q_knn_join scores every (query, corpus) pair, this examines a
    corpus row only if its cell is probed by some query: candidate
    space ~ Q * nprobe * N/N_CELLS instead of Q * N.

    100 TB posture: cell assignment is the same shuffle-free narrow
    projection as q_ann_ivf (quantizer inlined as literals); the probe
    side -- per-query cell ranking -- is computed in-plan over the
    Q-row query table against the same literal centroid matrix
    (array_sort over (neg-cos, cell_id) structs, the identical
    tie-break as the oracle's row_number) and broadcasts as Q * nprobe
    rows. The join is a broadcast HASH join on cell_id -- over the
    at-rest ``ivf_cell_partitioned_layout`` the corpus side is
    partition-local, and only probed cells are even read. Per-corpus-
    row norm is hoisted; embeddings drop before the rank exchange,
    whose partial WindowGroupLimit caps it at Q*k narrow tuples per
    task (plan-pinned in tests/test_plans.py)."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    cent_rows = _seed_centroid_rows(emb, cache_key=sf_dir)
    is_query = F.col("vec_id").between(ANN_JOIN_Q_LO, ANN_JOIN_Q_HI)
    cell = _nearest_cell_expr(cent_rows, spark, f"seed:{sf_dir}")
    assign = emb.filter(~is_query).select(
        "vec_id",
        "label",
        "embedding",
        cell.alias("cell_id"),
        norm(F.col("embedding")).alias("cn"),
    )
    # Per-query probe cells as ONE parsed expression over the literal
    # centroid matrix: array_sort on (nc, cell_id) structs orders by
    # -round(cos, 6) then cell_id -- exactly the oracle's row_number
    # ORDER BY cos DESC, cell_id -- then slice keeps nprobe.
    probe_cells = F.expr(
        "transform(slice(array_sort(array("
        + ",".join(
            "named_struct('nc', -round("
            + _cos_expr_sql(
                "qv", tuple(float(v) for v in r["embedding"])
            )
            + f", 6), 'cell_id', {int(r['cell_id'])})"
            for r in cent_rows
        )
        + f")), 1, {IVF_NPROBE}), s -> s.cell_id)"
    )
    probe = (
        emb.filter(is_query)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            norm(F.col("embedding")).alias("qn"),
        )
        .select(
            "query_id",
            "qv",
            "qn",
            F.explode(probe_cells).alias("cell_id"),
        )
    )
    scored = assign.join(F.broadcast(probe), "cell_id").select(
        "query_id",
        "vec_id",
        "label",
        "cell_id",
        F.round(
            dot(F.col("embedding"), F.col("qv"))
            / (F.col("cn") * F.col("qn")),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= ANN_JOIN_K)
        .select("query_id", "vec_id", "label", "cell_id", "cos_sim", "rn")
    )


#: The persisted trained-quantizer artifact both engines read
#: (tools/train_quantizer.py; committed so the k-means float sums
#: can never drift).
_IVF_FIXTURE = str(
    Path(__file__).resolve().parents[2]
    / "fixtures"
    / "ivf_centroids.parquet"
)


def _ivf_fixture_rows(spark: SparkSession) -> list:
    """The committed trained-centroid fixture as (cell_id, embedding)
    rows, cell_id order -- process-lifetime cached (committed,
    immutable bytes; the opq_rotation_rows discipline)."""
    return _cached_rows(
        "ivf_fixture",
        lambda: sorted(
            spark.read.parquet(_IVF_FIXTURE)
            .select("cell_id", F.col("cv").alias("embedding"))
            .collect(),
            key=lambda r: r["cell_id"],
        ),
    )


@query(
    "q_ann_ivf_trained_join",
    oracle=f"""
    WITH cents AS (
      SELECT cell_id, cv FROM read_parquet('{_IVF_FIXTURE}')
    ),
    assign AS (
      SELECT vec_id, label, embedding, cell_id FROM (
        SELECT e.vec_id, e.label, e.embedding, c.cell_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY ROUND({_cos_sql("e.embedding", "c.cv")}, 6) DESC,
                          c.cell_id) AS rn
        FROM embeddings e, cents c
        WHERE e.vec_id NOT BETWEEN {ANN_JOIN_Q_LO} AND {ANN_JOIN_Q_HI}
      ) t WHERE rn = 1
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id BETWEEN {ANN_JOIN_Q_LO} AND {ANN_JOIN_Q_HI}
    ),
    qprobe AS (
      SELECT query_id, cell_id FROM (
        SELECT q.query_id, c.cell_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY ROUND({_cos_sql("q.qv", "c.cv")}, 6) DESC,
                          c.cell_id) AS rn
        FROM q, cents c
      ) t WHERE rn <= {IVF_NPROBE}
    ),
    cand AS (
      SELECT p.query_id, a.vec_id, a.label, a.cell_id,
             ROUND({_cos_sql("a.embedding", "q.qv")}, 6) AS cos_sim
      FROM assign a
      JOIN qprobe p ON a.cell_id = p.cell_id
      JOIN q ON q.query_id = p.query_id
    )
    SELECT query_id, vec_id, label, cell_id, cos_sim, rn FROM (
      SELECT cand.*, row_number() OVER (
               PARTITION BY query_id
               ORDER BY cos_sim DESC, vec_id) AS rn
      FROM cand
    ) t WHERE rn <= {ANN_JOIN_K}
    """,
)
def q_ann_ivf_trained_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch IVF probe JOIN over the TRAINED persisted quantizer --
    the production search API completing the round-10 trilogy
    (q_ann_ivf_trained single-query search, the at-rest
    cell-partitioned layout, and this: a TABLE of query vectors, each
    re-ranking only its IVF_NPROBE nearest trained cells, as ONE
    broadcast-hash equi-join on ``cell_id``).

    Plan shape is q_ann_ivf_join's verbatim -- quantizer inlined as
    literals so assignment is a narrow shuffle-free projection,
    per-query probe cells ranked in-plan over the literal centroid
    matrix (array_sort on (neg-cos, cell_id) structs, the oracle's
    row_number tie-break), per-corpus-row norm hoisted, embeddings
    dropped before the rank exchange whose partial WindowGroupLimit
    caps it at Q*k narrow tuples per task. The ONE difference is
    provenance: both engines read the centroids from
    ``fixtures/ivf_centroids.parquet`` (tools/train_quantizer.py's
    committed k-means artifact), so the driver certifies batch search
    over a quantizer that ships as a table. Recall vs the exact
    per-query top-k is gated in tests/test_approx.py."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    cent_rows = _ivf_fixture_rows(spark)
    is_query = F.col("vec_id").between(ANN_JOIN_Q_LO, ANN_JOIN_Q_HI)
    cell = _nearest_cell_expr(cent_rows, spark, "trained")
    assign = emb.filter(~is_query).select(
        "vec_id",
        "label",
        "embedding",
        cell.alias("cell_id"),
        norm(F.col("embedding")).alias("cn"),
    )
    probe_cells = F.expr(
        "transform(slice(array_sort(array("
        + ",".join(
            "named_struct('nc', -round("
            + _cos_expr_sql(
                "qv", tuple(float(v) for v in r["embedding"])
            )
            + f", 6), 'cell_id', {int(r['cell_id'])})"
            for r in cent_rows
        )
        + f")), 1, {IVF_NPROBE}), s -> s.cell_id)"
    )
    probe = (
        emb.filter(is_query)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            norm(F.col("embedding")).alias("qn"),
        )
        .select(
            "query_id",
            "qv",
            "qn",
            F.explode(probe_cells).alias("cell_id"),
        )
    )
    scored = assign.join(F.broadcast(probe), "cell_id").select(
        "query_id",
        "vec_id",
        "label",
        "cell_id",
        F.round(
            dot(F.col("embedding"), F.col("qv"))
            / (F.col("cn") * F.col("qn")),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= ANN_JOIN_K)
        .select("query_id", "vec_id", "label", "cell_id", "cos_sim", "rn")
    )


# --------------------------------------------------------------------------
# Trained-quantizer IVF: same search as q_ann_ivf but over centroids a
# real training run produced (spherical k-means, train_ivf_centroids),
# PERSISTED as a table both engines read -- the production IVF
# contract, where the quantizer is a versioned artifact that outlives
# any one session, not a convention reconstructible from the corpus.
# The fixture (fixtures/ivf_centroids.parquet; built by
# tools/train_quantizer.py on the sf0.01 embeddings, committed so the
# k-means' task-order float sums can never drift) measures mean
# best-cos 0.268 vs the seed quantizer's 0.194 -- tighter cells, so
# the same nprobe buys more recall (tests/test_approx.py pins it
# against brute force).
# --------------------------------------------------------------------------



@query(
    "q_ann_ivf_trained",
    oracle=f"""
    WITH cents AS (
      SELECT cell_id, cv FROM read_parquet('{_IVF_FIXTURE}')
    ),
    assign AS (
      SELECT vec_id, label, embedding, cell_id FROM (
        SELECT e.vec_id, e.label, e.embedding, c.cell_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY ROUND({_cos_sql("e.embedding", "c.cv")}, 6) DESC,
                          c.cell_id) AS rn
        FROM embeddings e, cents c
      ) t WHERE rn = 1
    ),
    q AS (SELECT embedding AS qv FROM embeddings
          WHERE vec_id = {QUERY_VEC_ID}),
    qcells AS (
      SELECT c.cell_id
      FROM cents c, q
      ORDER BY ROUND({_cos_sql("q.qv", "c.cv")}, 6) DESC, c.cell_id
      LIMIT {IVF_NPROBE}
    )
    SELECT vec_id, label, cell_id,
           ROUND({_cos_sql("embedding", "qv")}, 6) AS cos_sim
    FROM assign, q
    WHERE cell_id IN (SELECT cell_id FROM qcells)
      AND vec_id <> {QUERY_VEC_ID}
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
)
def q_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over the TRAINED, persisted quantizer (VERDICT r9 ask
    #5): identical plan shape to q_ann_ivf -- centroids collected
    driver-side (N_CELLS rows, bytes at any scale) and inlined as
    literals, so assignment is a pure narrow projection with no join
    and no shuffle of the embedding column; the probe list is ranked
    in Python with the same left-fold double arithmetic and compiles
    to a partition-prunable ``cell_id IN (...)`` filter. The ONE
    difference is provenance: both this plan and the DuckDB oracle
    read ``fixtures/ivf_centroids.parquet``, the artifact
    tools/train_quantizer.py persisted from ``train_ivf_centroids``
    -- so what the driver certifies is search over a quantizer that
    exists as a TABLE, the way a production index ships.

    Scale: quantizer training is sample-sized (k-means on a uniform
    sample), the artifact is k*dim doubles however large the corpus,
    and the full-corpus assignment pass stays the narrow
    O(N_CELLS*dim)-per-row projection measured in docs/SCALE.md --
    swapping better centroids into the same literal chain changes
    recall, not cost."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent_rows = _ivf_fixture_rows(spark)
    cell = _nearest_cell_expr(cent_rows, spark, "trained")
    assign = emb.select(
        "vec_id", "label", "embedding", cell.alias("cell_id")
    )
    qv_vals = [
        float(v)
        for r in _cached_rows(
            f"qv{QUERY_VEC_ID}:{sf_dir}",
            lambda: emb.filter(F.col("vec_id") == QUERY_VEC_ID)
            .select("embedding")
            .collect(),
        )
        for v in r["embedding"]
    ]
    qcells = _probe_cells(qv_vals, cent_rows, IVF_NPROBE)
    qv_lit = _array_literal(tuple(qv_vals))
    return (
        assign.filter(
            F.col("cell_id").isin(qcells)
            & (F.col("vec_id") != QUERY_VEC_ID)
        )
        .select(
            "vec_id",
            "label",
            "cell_id",
            F.round(
                cosine_similarity(F.col("embedding"), qv_lit), 6
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


#: Within-cell cosine at or above this marks a semantic duplicate.
#: Matches the synthetic corpus's near-dup band (EMB_NEAR_DUP_THRESHOLD):
#: a production text-embedding run would sit at ~0.9 (SemDeDup, Abbas et
#: al. 2023 use eps in the 0.03..0.5 1-cos range on OPT/CLIP spaces).
SEMANTIC_DEDUP_TAU = EMB_NEAR_DUP_THRESHOLD


#: j-block rows per scoring pass: bounds the within-cell score matrix
#: at _SEM_DEDUP_BLOCK x cell_members doubles (~80 MB at 2048 x 5000).
_SEM_DEDUP_BLOCK = 2048


def _score_cell_pairs(pdf, tau: float):
    """All near-threshold (lower-id, higher-id) cosines for ONE cell
    (applyInPandas body of q_semantic_dedup).

    BIT-EXACT CONTRACT: the JVM/oracle cosine is a left-to-right double
    fold -- aggregate(zip_with(a, b, (x,y) -> xd*yd), 0.0, +) over dims
    -- so this does NOT call np.dot (BLAS pairwise summation, different
    rounding): it runs dim sequential vectorized passes, accumulating
    products in the same order per pair, then one divide by the norm
    product (norms folded the same way). Same floats in, same IEEE ops
    in the same order, same doubles out; only the interpreted ~1 us
    per-step loop is replaced by numpy passes (the rolling-fingerprint
    trick). Pairs are emitted UNROUNDED with a 1e-6 margin below the
    threshold; the exact round(6)-then-filter happens JVM-side, so
    boundary semantics are decided by the same ROUND both engines run.
    """
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame(
        {
            "vec_id": np.array([], dtype="int64"),
            "cell_id": np.array([], dtype="int32"),
            "kept_by": np.array([], dtype="int64"),
            "cos_raw": np.array([], dtype="float64"),
        }
    )
    n = len(pdf)
    if n < 2:
        return empty
    pdf = pdf.sort_values("vec_id", kind="mergesort").reset_index(drop=True)
    ids = pdf["vec_id"].to_numpy()
    cell = int(pdf["cell_id"].iloc[0])
    e = np.stack(pdf["embedding"].map(np.asarray)).astype(np.float64)
    dim = e.shape[1]
    nacc = np.zeros(n)
    for d in range(dim):
        x = e[:, d]
        np.add(nacc, x * x, out=nacc)
    nn = np.sqrt(nacc)
    lo = float(tau) - 1e-6
    out = []
    for j0 in range(1, n, _SEM_DEDUP_BLOCK):
        j1 = min(j0 + _SEM_DEDUP_BLOCK, n)
        # Keepers are strictly lower-INDEX (sorted ids), so columns
        # >= j1 can never survive the mask: score only [0, j1) -- half
        # the FLOPs/peak memory over the full (block x n) matrix --
        # and accumulate in place (a fresh matrix per dim pass churned
        # ~dim x 80 MB of transient allocations). Pure subsetting +
        # identical per-element ops, so bit-exactness is untouched.
        acc = np.zeros((j1 - j0, j1))
        for d in range(dim):
            np.add(
                acc, e[j0:j1, d][:, None] * e[:j1, d][None, :], out=acc
            )
        cos = acc / (nn[j0:j1][:, None] * nn[None, :j1])
        jj, ii = np.nonzero(cos >= lo)
        keep = ii < (jj + j0)  # keeper strictly lower-id (sorted ids)
        jj, ii = jj[keep], ii[keep]
        if len(jj):
            out.append(
                pd.DataFrame(
                    {
                        "vec_id": ids[jj + j0],
                        "cell_id": np.full(len(jj), cell, dtype="int32"),
                        "kept_by": ids[ii],
                        "cos_raw": cos[jj, ii],
                    }
                )
            )
    return pd.concat(out, ignore_index=True) if out else empty


@query(
    "q_semantic_dedup",
    oracle=f"""
    WITH cents AS (
      SELECT vec_id AS cell_id, embedding AS cv FROM embeddings
      WHERE vec_id BETWEEN 1 AND {N_CELLS}
    ),
    assign AS (
      SELECT vec_id, embedding, cell_id FROM (
        SELECT e.vec_id, e.embedding, c.cell_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY ROUND({_cos_sql("e.embedding", "c.cv")}, 6) DESC,
                          c.cell_id) AS rn
        FROM embeddings e, cents c
      ) t WHERE rn = 1
    ),
    pairs AS (
      SELECT b.vec_id AS vec_id, b.cell_id AS cell_id,
             a.vec_id AS kept_by,
             ROUND({_cos_sql("a.embedding", "b.embedding")}, 6) AS cos_sim
      FROM assign a JOIN assign b
        ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
      WHERE ROUND({_cos_sql("a.embedding", "b.embedding")}, 6)
            >= {SEMANTIC_DEDUP_TAU}
    )
    SELECT vec_id, cell_id, kept_by, cos_sim FROM (
      SELECT vec_id, cell_id, kept_by, cos_sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, kept_by) AS rn
      FROM pairs
    ) t WHERE rn = 1
    """,
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (C2xC3 bridge; the SemDeDup recipe, Abbas et al.
    2023): coarse-quantize every embedding to its nearest of N_CELLS
    centroids in one narrow pass, then prune within-cell cosine
    duplicates -- pairwise similarity is only ever computed INSIDE a
    cell, never across the corpus. Emits the dedup manifest: one row
    per dropped vector with the surviving vector that evicted it
    (highest cosine; ties toward the lowest keeper id).

    Keep policy (one pass, deterministic): a vector is dropped iff some
    LOWER-id vector in its cell is tau-similar -- dominance pruning,
    the set difference from greedy-sequential leader clustering being
    that a dropped vector can still evict later ones. The transitive-
    closure alternative (cluster the tau-graph, keep one per component)
    is in-registry as q_dedup_clusters_lsh's pointer-jumping CC over
    the survivor graph; this one-pass form is the shape that needs no
    iteration at 100 TB.

    Scale: the quantizer is a driver artifact (N_CELLS rows; a
    production run trains it via train_ivf_centroids and scales
    N_CELLS ~ corpus/target_cell_size, so cell population -- and with
    it the per-cell pair space -- stays bounded). Assignment is a
    narrow projection (no join, no shuffle of the embedding column);
    each cell's members then group onto one task (one exchange keyed
    by cell_id -- at rest, cell_id is the natural partition column via
    plans/layout.py, making even that a partition-local group) and the
    pair scoring runs VECTORIZED inside applyInPandas: dim sequential
    numpy passes over the cell's pair matrix reproduce the JVM fold's
    left-to-right double accumulation bit-for-bit while replacing the
    interpreted ~1 us/step higher-order-function loop (the same
    k-vectorized-passes trick as the rolling-fingerprint operator;
    measured 4.1 s -> ~1 s on the sf0.1 headline line). Only pairs
    within 1e-6 of the threshold leave the Python stage -- the exact
    round-then-filter and the keeper rank stay JVM-side, so the Arrow
    output is survivor-sized, not pair-space-sized. Per-task memory is
    the (block x cell) score matrix, bounded by _SEM_DEDUP_BLOCK rows
    per pass; a production run sizes cells (n/C ~ 1000) so this stays
    in the tens of MB. Bench: the q_semantic_dedup headline line."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    return semantic_dedup_manifest(
        emb, _seed_centroid_rows(emb, cache_key=sf_dir)
    )


def semantic_dedup_manifest(emb: DataFrame, cent_rows: list) -> DataFrame:
    """The q_semantic_dedup pipeline over an ARBITRARY quantizer
    (``cent_rows``: anything indexable by 'cell_id'/'embedding' --
    Rows or dicts). The registered query feeds the deterministic seed
    quantizer so the DuckDB oracle can replicate it; production feeds
    ``train_ivf_centroids`` output via ``semantic_dedup_trained``."""
    assign = emb.select(
        "vec_id",
        "embedding",
        _nearest_cell_expr(cent_rows).alias("cell_id"),
    )
    return semantic_dedup_from_assigned(assign)


def semantic_dedup_from_assigned(assign: DataFrame) -> DataFrame:
    """The manifest pipeline from a PRE-ASSIGNED (vec_id, embedding,
    cell_id) relation -- the shape an at-rest
    ``plans.layout.ivf_cell_bucketed_layout`` table provides. Over a
    cell-bucketed table the grouped pair-scoring stage needs ZERO
    exchange (the bucketed scan's HashPartitioning satisfies the
    group's ClusteredDistribution; asserted in tests/test_plans.py);
    the registered query feeds it the on-the-fly assignment instead."""
    pairs = assign.groupBy("cell_id").applyInPandas(
        lambda pdf: _score_cell_pairs(pdf, SEMANTIC_DEDUP_TAU),
        schema=(
            "vec_id bigint, cell_id int, kept_by bigint, cos_raw double"
        ),
    )
    scored = pairs.select(
        "vec_id",
        "cell_id",
        "kept_by",
        F.round(F.col("cos_raw"), 6).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= SEMANTIC_DEDUP_TAU)
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cos_sim"), F.asc("kept_by")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def semantic_dedup_trained(
    emb: DataFrame,
    k: int = N_CELLS,
    iters: int = 5,
) -> DataFrame:
    """Production semantic dedup: k-means-train the quantizer
    (``train_ivf_centroids`` -- at 100 TB, on a uniform sample), then
    run the manifest pipeline over it. Not oracle-replicable (the
    trained centroids are float artifacts of the training run), so it
    is exercised by tests/test_approx.py rather than registered."""
    cents = train_ivf_centroids(emb, k=k, iters=iters)
    cent_rows = [
        {"cell_id": i, "embedding": c} for i, c in enumerate(cents)
    ]
    return semantic_dedup_manifest(emb, cent_rows)


LSH_PROBE_HAMMING = 2  # multi-probe width: buckets within this hamming


@query(
    "q_ann_lsh",
    oracle=f"""
    WITH bucketed AS (
      SELECT vec_id, label, embedding,
             ({_bucket_sql("embedding")}) AS bucket
      FROM embeddings
    ),
    q AS (SELECT embedding AS qv, bucket AS qbucket FROM bucketed
          WHERE vec_id = {QUERY_VEC_ID})
    SELECT vec_id, label, bucket,
           ROUND({_cos_sql("embedding", "qv")}, 6) AS cos_sim
    FROM bucketed, q
    WHERE bit_count(xor(bucket, qbucket)) <= {LSH_PROBE_HAMMING}
      AND vec_id <> {QUERY_VEC_ID}
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH (C3 scale path): bucket every vector
    by 8 hyperplane signs (narrow map), then re-rank only buckets within
    hamming LSH_PROBE_HAMMING of the query's bucket -- multi-probe LSH
    (a sign bit near zero margin flips easily, so neighboring buckets
    hold most of the missed neighbors; probing them buys recall without
    more tables). Candidate set is a fixed 37/256 = 14% of the data
    (1 + C(8,1) + C(8,2) buckets); recall vs brute force is
    asserted in tests/test_approx.py. The 100 TB layout writes `bucket`
    as a partition column so the probe is a 37-partition pruned scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = _embedding_dim(emb, sf_dir)
    bucketed = emb.select(
        "vec_id",
        "label",
        "embedding",
        _bucket_col(F.col("embedding"), dim).alias("bucket"),
    )
    q = bucketed.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qv"), F.col("bucket").alias("qbucket")
    )
    return (
        bucketed.crossJoin(F.broadcast(q))
        .filter(
            (
                F.bit_count(F.expr("bucket ^ qbucket"))
                <= LSH_PROBE_HAMMING
            )
            & (F.col("vec_id") != QUERY_VEC_ID)
        )
        .select(
            "vec_id",
            "label",
            "bucket",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("qv")), 6
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


# Banded hyperplane LSH for near-dup blocking: EMB_LSH_BANDS independent
# signatures of EMB_LSH_PLANES sign bits each (plane (band*R + r) reuses
# the same portable "hp{p}_{d}" derivation, so the oracle rebuilds the
# identical geometry). A pair is a candidate iff SOME band agrees on all
# its bits -- the same OR-of-ANDs composition as the minhash banding in
# dedup.py, which turns per-plane agreement p into 1-(1-p^R)^B recall.
EMB_LSH_BANDS = 8
EMB_LSH_PLANES = 4  # bits per band -> 2^4 = 16 buckets per band


@_functools.lru_cache(maxsize=8)
def _planes_sql(planes: tuple[tuple[float, ...], ...]) -> str:
    """The nested plane matrix as ONE SQL array-of-arrays literal,
    text cached per geometry at MODULE level (the matrix depends only
    on (dim, n_planes), and a cache decorated on a closure inside the
    query function would rebuild empty per call). Values render via
    ``repr`` (shortest round-trip decimal; Double.parseDouble returns
    the identical double) wrapped in CAST(... AS DOUBLE) -- see
    ``_array_sql`` -- so the parser yields DOUBLE, not DECIMAL:
    bit-for-bit the same literal a per-element ``F.lit`` path would
    produce, so oracle parity is untouched."""
    return "array(" + ",".join(_array_sql(p) for p in planes) + ")"


def _planes_literal(planes: tuple[tuple[float, ...], ...]) -> Column:
    """``_planes_sql`` parsed at the call site. ``F.lit`` on a nested
    list expands to one py4j call per element -- measured ~1.7 s of
    plan-BUILD time for 32x64 doubles, half the query's end-to-end
    line -- while ``F.expr`` over the cached rendered text is one
    round trip and a JVM-side parse per plan build. The Column itself
    is not cached (a cached Column pins a py4j handle into one JVM;
    see ``_array_literal``)."""
    return F.expr(_planes_sql(planes))


def _plane_dots_col(emb: Column, planes: list[list[float]]) -> Column:
    """Array of all B*R plane dots from ONE nested-array literal.

    ``planes`` (the full B*R plane list, md5-derived once by the
    caller) ships to the JVM as a single parsed literal (see
    ``_planes_literal``) -- one py4j call instead of B*R*dim individual
    ``F.lit`` scalars. Arithmetic per dot is identical to the per-plane
    ``zip_with``/``aggregate`` form (same fold, same casts), so oracle
    parity is untouched.

    IMPORTANT (plan-build cost, measured): alias this to its OWN column
    in a staging projection and derive the per-band sign bits from the
    column REFERENCE -- embedding this expression 32x (once per sign
    bit) made every plan BUILD pay ~2.5 s of py4j + analyzer walking of
    the duplicated literal-heavy tree, dwarfing the 1.4 s execution.
    Two-step selects keep each analyzed projection small; Catalyst's
    CollapseProject deliberately does not inline a non-cheap alias
    referenced many times."""
    return F.transform(
        _planes_literal(tuple(tuple(p) for p in planes)),
        lambda p: F.aggregate(
            F.zip_with(emb, p, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )


def _band_bucket_from_dots_sql(band: int) -> str:
    """Band bucket (R sign bits) off the staged ``_dots`` array column,
    as SQL text: the Column-API form (R chained F.when/+ calls per
    band) cost ~6 py4j round trips per bit -- rendered text is one
    ``selectExpr`` for ALL bands. Identical expression tree (F.when
    compiles to this CASE WHEN; same bit order, same INT literals)."""
    return " + ".join(
        f"(CASE WHEN _dots[{band * EMB_LSH_PLANES + r}] > 0"
        f" THEN {1 << r} ELSE 0 END)"
        for r in range(EMB_LSH_PLANES)
    )


def _planes_py_n(dim: int, n: int) -> list[list[float]]:
    return [
        [_unit_float_py(f"hp{p}_{d}") for d in range(dim)] for p in range(n)
    ]


def _band_bucket_sql(emb: str, band: int) -> str:
    return " + ".join(
        f"(CASE WHEN ({_plane_dot_sql(emb, band * EMB_LSH_PLANES + r)}) > 0"
        f" THEN {1 << r} ELSE 0 END)"
        for r in range(EMB_LSH_PLANES)
    )


def emb_lsh_candidate_pairs(emb: DataFrame, dim: int) -> DataFrame:
    """Banded hyperplane-LSH candidate pairs (vec_id_1 < vec_id_2),
    each emitted EXACTLY ONCE at its first agreeing band -- the core of
    q_near_dedup_embedding_lsh (that query's docstring carries the full
    shape/scale argument). EMB_LSH_BANDS is the recall dial,
    EMB_LSH_PLANES (R) the block-size dial (expected block n/2^R):
    R=4/B=8 fits this corpus's weak 0.4 threshold; a production
    cos>=0.9 run uses R=8..16 (docs/SCALE.md's historical embedding
    blocking section measured that regime)."""
    planes = _planes_py_n(dim, EMB_LSH_BANDS * EMB_LSH_PLANES)
    staged = emb.select(
        "vec_id",
        _plane_dots_col(F.col("embedding"), planes).alias("_dots"),
    )
    sigs = staged.selectExpr(
        "vec_id",
        *[
            f"({_band_bucket_from_dots_sql(b)}) AS b{b}"
            for b in range(EMB_LSH_BANDS)
        ],
    )
    # Lazy localCheckpoint: the signature projection (B*R inlined-
    # literal plane dots) is referenced by BOTH sides of all B branch
    # joins -- 2B copies in the logical plan. Without the cut, Catalyst
    # re-walks the literal-heavy expression tree on every plan build
    # (measured ~3 s of driver time per call at B=8, dim=64) and the
    # executor recomputes the dots per branch. The checkpoint
    # materializes (vec_id, b0..b{B-1}) -- (B+1)*8 bytes/vector, the
    # signature table you would persist at production scale anyway --
    # once, and every branch reads it. Lazy so explain-only tooling
    # never triggers execution; at cluster scale prefer reliable
    # checkpoint() (same pattern as contamination_bloom_from).
    sigs = sigs.localCheckpoint(eager=False)
    a, b = sigs.alias("a"), sigs.alias("b")
    branches = []
    for band in range(EMB_LSH_BANDS):
        # Condition as ONE parsed expression: the Column-API chain cost
        # ~2+band py4j round trips per branch (44 across B=8).
        cond = F.expr(
            f"a.b{band} = b.b{band} AND a.vec_id < b.vec_id"
            + "".join(
                f" AND a.b{prev} != b.b{prev}" for prev in range(band)
            )
        )
        branches.append(
            a.join(b, cond).selectExpr(
                "a.vec_id AS vec_id_1", "b.vec_id AS vec_id_2"
            )
        )
    return _functools.reduce(lambda x, y: x.unionByName(y), branches)


def emb_lsh_near_dup_pairs(emb: DataFrame, dim: int) -> DataFrame:
    """LSH-blocked embedding near-dup: candidates (above) + exact-cosine
    verify join, keeping cos >= EMB_NEAR_DUP_THRESHOLD. Norms are
    per-VECTOR, so compute them once on the 2 n-row sides (HOF fold
    over n rows) instead of per candidate pair -- same doubles
    bit-for-bit, ~20% off the end-to-end line at sf0.1. The dot stays
    the HOF fold deliberately: unrolling it into a flat 64-term expression measured
    3.5x SLOWER (kicks the stage out of WholeStageCodegen; see
    functions/vector.py module docstring)."""
    cand = emb_lsh_candidate_pairs(emb, dim)
    nrm = norm(F.col("embedding"))
    ea = emb.select(
        F.col("vec_id").alias("vec_id_1"),
        F.col("embedding").alias("va"),
        nrm.alias("na"),
    )
    eb = emb.select(
        F.col("vec_id").alias("vec_id_2"),
        F.col("embedding").alias("vb"),
        nrm.alias("nb"),
    )
    cos = F.round(
        dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
    )
    return (
        cand.join(ea, "vec_id_1")
        .join(eb, "vec_id_2")
        .select("vec_id_1", "vec_id_2", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= EMB_NEAR_DUP_THRESHOLD)
    )


@query(
    "q_near_dedup_embedding_lsh",
    oracle=f"""
    WITH sigs AS (
      SELECT vec_id, band,
             CASE {" ".join(
                 f"WHEN band = {b} THEN ({_band_bucket_sql('embedding', b)})"
                 for b in range(EMB_LSH_BANDS)
             )} END AS bucket
      FROM embeddings, unnest(range({EMB_LSH_BANDS})) AS t(band)
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2
      FROM sigs a JOIN sigs b
        ON a.band = b.band AND a.bucket = b.bucket
           AND a.vec_id < b.vec_id
    )
    SELECT vec_id_1, vec_id_2,
           ROUND({_cos_sql("ea.embedding", "eb.embedding")}, 6) AS cos_sim
    FROM cand
    JOIN embeddings ea ON ea.vec_id = vec_id_1
    JOIN embeddings eb ON eb.vec_id = vec_id_2
    WHERE ROUND({_cos_sql("ea.embedding", "eb.embedding")}, 6)
          >= {EMB_NEAR_DUP_THRESHOLD}
    """,
)
def q_near_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup blocked on banded hyperplane-LSH buckets
    (C2/C3): the 100 TB composition q_near_dedup_embedding's docstring
    promises, wired the way q_dedup_clusters_lsh composed the minhash
    survivors -- and the same OR-of-ANDs banding, just with hyperplane
    sign bits instead of minhash values.

    Shape (verify-on-survivors, with FIRST-AGREEING-BAND pair dedup):
    1. signatures: one narrow inlined-literal projection computes all
       B*R plane dots (no shuffle of the embedding column), emitting
       ONE row per vector carrying all B band buckets (b0..b{B-1});
    2. candidates: per-band self-joins, each keyed on that band's
       bucket, with the residual "no EARLIER band agrees"
       (a.b{b'} != b.b{b'} for b' < b) -- so every candidate pair is
       emitted EXACTLY ONCE, at its first agreeing band, and the
       DISTINCT exchange over the pair space disappears entirely. The
       unioned branches carry ids only, never vectors. (The previous
       explode + (band,bucket) join + DISTINCT shape shuffled every
       multi-band pair once per agreeing band and then the whole
       candidate set again to dedup -- measured 2.3x slower at sf0.1,
       and at 100 TB that distinct is a pair-count-proportional
       exchange this shape simply does not have.)
    3. verify: join the two embedding columns (+ precomputed norms)
       back onto the pairs and keep cosine >= threshold.

    The pair space is bounded by construction -- per band, sum over 2^R
    buckets of C(n_b, 2) -- instead of by a data-dependent label column
    whose block sizes nothing constrains. R is the block-size dial
    (expected block n/2^R), B the recall dial (1-(1-p^R)^B for per-plane
    agreement p = 1 - theta/pi). R=4/B=8 matches this corpus's weak
    0.4-cosine threshold (predicted ~0.75 recall at the boundary;
    measured 0.667 vs brute force, floored at 0.6 in
    tests/test_approx.py); a production near-dup threshold (cos >= 0.9,
    p ~ 0.86) runs R=8..16 for far smaller blocks at the same recall.

    Reference parity: near-dup semantics per SURVEY.md §2.3 C2; the
    oracle recomputes the identical md5-derived planes, so the result is
    bit-exact across engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = _embedding_dim(emb, sf_dir)
    return emb_lsh_near_dup_pairs(emb, dim)


# --------------------------------------------------------------------------
# Per-label centroid + outlier detection (embedding-quality op for a
# training-data pipeline: flag vectors far from their class centroid).
# Determinism across engines: float SUMs are order-dependent, so the
# centroid accumulates floor(component * 1e6) as exact int64 (identical
# in any order) and divides once at the end. The cosine fold then runs
# left-to-right in both engines (F.aggregate / list_reduce).
# --------------------------------------------------------------------------

CENTROID_SCALE = 1_000_000
OUTLIER_K = 5


@query(
    "q_centroid_outliers",
    oracle=f"""
    WITH ex AS (
      SELECT label, unnest(embedding) AS val,
             unnest(range(1, len(embedding) + 1)) AS pos
      FROM embeddings
    ),
    cent AS (
      SELECT label, pos,
             CAST(SUM(CAST(floor(CAST(val AS DOUBLE) * {CENTROID_SCALE})
                           AS BIGINT)) AS DOUBLE)
               / ({CENTROID_SCALE}.0 * COUNT(*)) AS c
      FROM ex GROUP BY label, pos
    ),
    cvec AS (
      SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label
    ),
    scored AS (
      SELECT e.vec_id, e.label,
             ROUND({_cos_sql("embedding", "cv")}, 6) AS cos_centroid
      FROM embeddings e JOIN cvec USING (label)
    )
    SELECT label, vec_id, cos_centroid, rn FROM (
      SELECT scored.*, row_number() OVER (
               PARTITION BY label
               ORDER BY cos_centroid ASC, vec_id) AS rn
      FROM scored
    ) t WHERE rn <= {OUTLIER_K}
    """,
)
def q_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 outliers per label by cosine distance to the label centroid
    (C3 embedding-quality op).

    Centroid build: posexplode -> (label, pos) hash-agg over quantized
    int64 components -- n*dim rows into the shuffle but partial
    aggregation collapses each map task to |labels|*dim rows, and the
    result (|labels| x dim) is tiny at any corpus size, so it
    BROADCASTS back onto the embeddings scan; the scoring pass never
    shuffles the vectors. Outlier top-k is a per-label window on the
    scored (narrow) rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "val")
    )
    cent = (
        ex.groupBy("label", "pos0")
        .agg(
            (
                F.sum(
                    F.floor(F.col("val").cast("double") * CENTROID_SCALE)
                ).cast("double")
                / (F.lit(float(CENTROID_SCALE)) * F.count("*"))
            ).alias("c")
        )
    )
    cvec = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos0", "c"))),
            lambda s: s.getField("c"),
        ).alias("cv")
    )
    scored = emb.join(F.broadcast(cvec), "label").select(
        "vec_id",
        "label",
        F.round(
            cosine_similarity(F.col("embedding"), F.col("cv")), 6
        ).alias("cos_centroid"),
    )
    w = Window.partitionBy("label").orderBy(
        F.asc("cos_centroid"), F.asc("vec_id")
    )
    return (
        scored.select(
            "label", "vec_id", "cos_centroid",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= OUTLIER_K)
    )


# --------------------------------------------------------------------------
# C3/C5: int8 embedding quantization with reconstruction-error audit.
# --------------------------------------------------------------------------

#: Error quantum for cross-engine-exact error accounting (nanounits).
QUANT_NANO = 1_000_000_000


@query(
    "q_quantize_embeddings",
    oracle=f"""
    WITH st AS (
      SELECT vec_id, label, embedding,
             list_max(list_transform(embedding,
                      x -> abs(CAST(x AS DOUBLE)))) AS am
      FROM embeddings
    ),
    sc AS (
      SELECT vec_id, label, embedding,
             CASE WHEN am = 0 THEN 1.0 ELSE am / 127.0 END AS scale
      FROM st
    ),
    ea AS (
      SELECT vec_id, label, len(embedding) AS n_elems,
             list_transform(embedding,
               x -> CAST(floor(abs(
                      floor(CAST(x AS DOUBLE) / scale + 0.5) * scale
                      - CAST(x AS DOUBLE)) * {QUANT_NANO} + 0.5)
                    AS BIGINT)) AS errs
      FROM sc
    ),
    pv AS (
      SELECT label, n_elems,
             CAST(list_sum(errs) AS BIGINT) AS err_nano,
             CAST(list_max(errs) AS BIGINT) AS mx_nano
      FROM ea
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           CAST(SUM(err_nano) AS BIGINT) AS sum_err_nano,
           CAST(SUM(err_nano) AS DOUBLE)
             / ({QUANT_NANO}.0 * CAST(SUM(n_elems) AS DOUBLE))
             AS avg_abs_err,
           CAST(MAX(mx_nano) AS DOUBLE) / {QUANT_NANO}.0 AS max_abs_err
    FROM pv
    GROUP BY label
    """,
)
def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column with a
    per-label reconstruction-error audit (the compression step a
    training pipeline runs before shipping embeddings to storage:
    4 bytes/dim -> 1 byte/dim + one float scale per vector).

    Per vector: scale = max|x|/127, q_i = floor(x_i/scale + 0.5) -- the
    explicit floor form, NOT round(), because round()'s half-even vs
    half-away behavior differs across engines. The whole pass is a
    narrow map (higher-order array ops, no explode); per-element
    reconstruction errors are quantized to integer nanounits BEFORE any
    summation, so the per-vector fold and the per-label SUM are exact
    integer arithmetic -- order-independent and bit-identical across
    engines and partitionings -- with single final divisions for the
    reported averages. At 100 TB only (label, two int64, count) rows
    cross the shuffle; partial aggregation collapses each map task to
    |labels| rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    xd = lambda x: x.cast("double")  # noqa: E731
    st = emb.select(
        "vec_id",
        "label",
        F.col("embedding").alias("v"),
        F.array_max(
            F.transform("embedding", lambda x: F.abs(xd(x)))
        ).alias("am"),
    )
    scale = F.when(F.col("am") == 0, F.lit(1.0)).otherwise(
        F.col("am") / F.lit(127.0)
    )
    sc = st.select("vec_id", "label", "v", scale.alias("scale"))
    errs = F.transform(
        "v",
        lambda x: F.floor(
            F.abs(
                F.floor(xd(x) / F.col("scale") + F.lit(0.5)) * F.col("scale")
                - xd(x)
            )
            * F.lit(QUANT_NANO)
            + F.lit(0.5)
        ).cast("long"),
    )
    ea = sc.select(
        "label", F.size("v").alias("n_elems"), errs.alias("errs")
    )
    pv = ea.select(
        "label",
        "n_elems",
        F.aggregate(
            "errs", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("err_nano"),
        F.array_max("errs").alias("mx_nano"),
    )
    return pv.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.sum("err_nano").alias("sum_err_nano"),
        (
            F.sum("err_nano").cast("double")
            / (F.lit(float(QUANT_NANO)) * F.sum("n_elems").cast("double"))
        ).alias("avg_abs_err"),
        (F.max("mx_nano").cast("double") / F.lit(float(QUANT_NANO))).alias(
            "max_abs_err"
        ),
    )


# --------------------------------------------------------------------------
# IVF quantizer training: distributed spherical k-means (Lloyd's).
# q_ann_ivf ships with deterministic seed centroids so its oracle is
# reproducible; this trainer is how the quantizer gets GOOD on a real
# corpus -- same plan shape per iteration as the assignment pass the
# query itself runs.
# --------------------------------------------------------------------------


def train_ivf_centroids(
    emb: DataFrame, k: int = N_CELLS, iters: int = 5
) -> list[list[float]]:
    """Spherical k-means for the IVF coarse quantizer.

    Per iteration: (1) assign -- nearest centroid by cosine via the
    same inlined-literal ``least(struct(...))`` expression q_ann_ivf
    uses, a NARROW projection (no join, the embedding column never
    shuffles); (2) update -- posexplode to (cell, pos) partial sums,
    k*dim rows out of the exchange, collected driver-side (bytes: the
    quantizer is a driver artifact by design) and L2-normalized.
    Empty cells keep their previous centroid. At 100 TB you run the
    same loop on a uniform sample (quantizer quality needs samples,
    not the corpus); the assignment pass stays full-scale and narrow.
    """
    seed_rows = (
        emb.filter(F.col("vec_id").between(1, k))
        .select("vec_id", "embedding")
        .collect()
    )
    cents = [
        [float(v) for v in r["embedding"]]
        for r in sorted(seed_rows, key=lambda r: r["vec_id"])
    ]

    def _norm(v: list[float]) -> list[float]:
        import math

        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v] if n > 0 else v

    for _ in range(iters):
        cell = F.least(
            *[
                F.struct(
                    (
                        -cosine_similarity(
                            F.col("embedding"),
                            _array_literal(tuple(cvec)),
                        )
                    ).alias("nc"),
                    F.lit(ci).alias("cell_id"),
                )
                for ci, cvec in enumerate(cents)
            ]
        ).getField("cell_id")
        # two selects: mixing the struct-field extraction with the
        # posexplode generator in one projection trips the analyzer
        # (struct aliases resolve to col1/col2 under Generate)
        sums = (
            emb.select(cell.alias("cell"), "embedding")
            .select("cell", F.posexplode("embedding"))
            .groupBy("cell", "pos")
            .agg(F.sum(F.col("col").cast("double")).alias("s"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in sums:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["s"]
        new_cents = []
        for ci, old in enumerate(cents):
            comp = by_cell.get(ci)
            if not comp:
                new_cents.append(old)  # empty cell: keep previous
                continue
            new_cents.append(_norm([comp[p] for p in sorted(comp)]))
        cents = new_cents
    return cents


def quantizer_quality(emb: DataFrame, cents: list[list[float]]) -> float:
    """Mean best-cosine over the corpus for a centroid set -- the
    spherical-k-means objective; higher is better."""
    best = F.greatest(
        *[
            cosine_similarity(
                F.col("embedding"), _array_literal(tuple(cvec))
            )
            for cvec in cents
        ]
    )
    return emb.agg(F.avg(best)).first()[0]


# --------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection: reduce array<float> embeddings
# from d to RP_DIMS dimensions with a fixed sign matrix. The classic
# front-end of every downstream vector op -- ANN, clustering, near-dup --
# because pairwise distances survive within (1 +- eps) while per-row
# bytes (and with them every downstream exchange) shrink d/RP_DIMS x.
# --------------------------------------------------------------------------

RP_DIMS = 16
#: 1/sqrt(RP_DIMS) -- exactly representable, so both engines' matrix
#: entries are the identical doubles +-0.25.
RP_SCALE = 0.25


def _rp_planes_py(dim: int, k: int = RP_DIMS) -> list[list[float]]:
    """The k x dim Achlioptas sign matrix (+-1/sqrt(k) entries), signs
    drawn from the portable md5 family (seed ``rp{p}_{d}``) so the
    DuckDB oracle regenerates the identical matrix on the fly."""
    return [
        [
            RP_SCALE if _unit_float_py(f"rp{p}_{d}") >= 0 else -RP_SCALE
            for d in range(dim)
        ]
        for p in range(k)
    ]


_RP_UNIT_SQL = portable_unit_float_sql(
    "'rp' || CAST(ps.p AS VARCHAR) || '_' || CAST(i - 1 AS VARCHAR)"
)
_RP_PS = (
    "SELECT unnest(["
    + ",".join(map(str, range(RP_DIMS)))
    + "]) AS p"
)


@query(
    "q_random_projection",
    oracle=f"""
    WITH ps AS ({_RP_PS})
    SELECT e.vec_id, ps.p AS out_dim,
           list_reduce(list_transform(generate_series(1, len(e.embedding)),
             i -> CAST(e.embedding[i] AS DOUBLE) *
                  (CASE WHEN ({_RP_UNIT_SQL}) >= 0
                        THEN {RP_SCALE} ELSE -{RP_SCALE} END)),
             (acc, x) -> acc + x) AS y
    FROM embeddings e CROSS JOIN ps
    ORDER BY e.vec_id, out_dim
    """,
)
def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random projection of every embedding to RP_DIMS dimensions,
    emitted as (vec_id, out_dim, y) rows.

    The matrix is the Achlioptas +-1/sqrt(k) sign matrix with signs
    drawn from the portable hash family, so the ORACLE REGENERATES THE
    ENTIRE MATRIX in SQL and the projected values themselves are
    hash-compared -- same cross-engine-exact dot machinery as the LSH
    family (left-fold double accumulation on both sides, +-0.25
    entries exactly representable). tests/test_approx.py pins the JL
    content: squared norms survive within the expected concentration.

    Scale shape: one narrow map per row -- the matrix ships as a single
    parsed literal (no per-element py4j cost, see _planes_literal), the
    k dots run inside one staged projection, and nothing shuffles
    except the final presentation sort. At 100 TB this is the step
    that makes the rest of the vector pipeline cheap: 64->16 dims cuts
    every downstream embedding exchange (kNN join replication, IVF
    build, semantic-dedup cell scoring) 4x for a bounded recall cost,
    and composes with q_quantize_embeddings (project THEN quantize) for
    the at-rest layout."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    dim = _embedding_dim(emb, sf_dir)
    planes = _rp_planes_py(dim, RP_DIMS)
    projected = emb.select(
        "vec_id",
        _plane_dots_col(F.col("embedding"), planes).alias("_y"),
    )
    return projected.select(
        "vec_id", F.posexplode("_y").alias("out_dim", "y")
    ).orderBy("vec_id", "out_dim")


# --------------------------------------------------------------------------
# Product quantization (the billion-scale ANN memory path): split the
# embedding into PQ_M contiguous subspaces and snap each to its nearest
# codeword from a TRAINED per-subspace codebook, so a 64-dim float
# vector stores as PQ_M uint8 codes -- 256 bytes -> 4 (64x) -- while
# asymmetric-distance search scans codes against per-query lookup
# tables. Completes the quantization family: q_quantize_embeddings
# (scalar), q_ann_ivf_trained (coarse cells), and this (residual-free
# PQ codes over the same shipped-artifact contract).
# --------------------------------------------------------------------------

#: PQ geometry: PQ_M subspaces x PQ_DSUB dims, PQ_KSUB codes each.
PQ_M = 4
PQ_DSUB = 16
PQ_KSUB = 16

#: The persisted PQ codebook both engines read
#: (tools/train_quantizer.py pq; committed so the k-means float sums
#: can never drift).
_PQ_FIXTURE = str(
    Path(__file__).resolve().parents[2]
    / "fixtures"
    / "pq_codebook.parquet"
)

#: Shared per-element squared-difference fold (index order, 0.0 seed):
#: the embedding elements are float32 promoted to double identically in
#: both engines, the codeword elements are the fixture's doubles, so
#: every term and the fold sum are bit-identical.
_PQ_D2_DUCK = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, {n}),"
    " i -> (CAST(e.embedding[cb.m * {d} + i] AS DOUBLE) - cb.cv[i])"
    " * (CAST(e.embedding[cb.m * {d} + i] AS DOUBLE) - cb.cv[i]))),"
    " (a, t) -> a + t)"
).format(n=PQ_DSUB + 1, d=PQ_DSUB)


def _pq_code_expr(
    m: int,
    codewords: list[tuple[int, tuple[float, ...]]],
    col: str = "embedding",
):
    """Nearest-codeword struct for subspace ``m`` as ONE parsed
    expression: least() over per-code named_structs of (round(d2, 6),
    code_id), mirroring the oracle's row_number ORDER BY d, code_id
    tie-break (the _nearest_cell_expr discipline). The squared
    distance is an index-ordered aggregate fold over
    zip_with(slice(``col``), literal codeword), 0.0-seeded -- the
    same float op sequence as the oracle's list_reduce. ``col`` is the
    vector column to encode (raw ``embedding``, or a staged rotated
    vector for OPQ)."""
    structs = []
    for code_id, cv in codewords:
        lits = ",".join(repr(float(v)) + "D" for v in cv)
        d2 = (
            f"aggregate(zip_with(slice({col}, {m * PQ_DSUB + 1},"
            f" {PQ_DSUB}), array({lits}),"
            " (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
            " 0D, (a, t) -> a + t)"
        )
        structs.append(
            f"named_struct('d', round({d2}, 6), 'code_id', {code_id})"
        )
    return F.expr(
        f"named_struct('m', {m}, 'best', least(" + ",".join(structs) + "))"
    )


@query(
    "q_pq_encode",
    oracle=f"""
    WITH cb AS (
      SELECT m, code_id, cv FROM read_parquet('{_PQ_FIXTURE}')
    ),
    d AS (
      SELECT e.vec_id, cb.m, cb.code_id,
             ROUND({_PQ_D2_DUCK}, 6) AS d
      FROM embeddings e CROSS JOIN cb
    )
    SELECT vec_id, m, code_id, d AS sq_err FROM (
      SELECT vec_id, m, code_id, d,
             row_number() OVER (
               PARTITION BY vec_id, m ORDER BY d, code_id) AS rn
      FROM d
    ) t WHERE rn = 1
    """,
)
def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding over the committed trained
    codebook: one output row per (vector, subspace) with the chosen
    code and its squared reconstruction error -- the codes table an
    ADC search scans in place of raw embeddings.

    Plan: the codebook inlines as literals (PQ_M x PQ_KSUB x PQ_DSUB
    doubles -- bytes at any corpus scale), so encoding is a NARROW
    shuffle-free projection: per subspace a least() over PQ_KSUB
    (round(d2, 6), code_id) structs, then one bounded x{PQ_M} Generate
    unpacks the per-subspace results to rows. No join, no exchange;
    the embedding column never leaves its scan task. The oracle reads
    the same parquet fixture (the q_ann_ivf_trained provenance
    contract) and breaks distance ties the same way.

    Exactness: module-constant discipline -- float32 elements promote
    to double identically in both engines, codeword doubles come from
    the shared fixture bytes, and both engines fold squared diffs in
    index order from a 0.0 seed, so the round(6) distances and the
    argmin hash-compare.

    Scale: 64x memory compression (PQ_M bytes of codes per 64-dim
    float32 vector) is the point -- a 100 TB embedding corpus's codes
    fit hot storage, and the per-row cost is PQ_M * PQ_KSUB * PQ_DSUB
    fused multiply-adds inside whole-stage codegen. Recodebooking is a
    fixture swap: better centroids change WHICH codes rows get, never
    what the scan costs. tests/test_pq.py pins fixture geometry,
    full-coverage encoding, and that the trained codebook beats the
    1-centroid baseline on reconstruction error per subspace.
    """
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    # the shared process-cached codebook artifact (r13 batch 6: the
    # inlined per-call collect here was two Spark jobs per plan build)
    by_m = pq_codebook_by_m(spark)
    subs = F.array(*[_pq_code_expr(m, by_m[m]) for m in sorted(by_m)])
    return emb.select(
        "vec_id", F.explode(subs).alias("e")
    ).select(
        "vec_id",
        F.col("e.m").alias("m"),
        F.col("e.best.code_id").alias("code_id"),
        F.col("e.best.d").alias("sq_err"),
    )


# --------------------------------------------------------------------------
# OPQ: optimized product quantization (Ge et al., CVPR'13) -- a learned
# orthonormal rotation applied before PQ coding, so variance and
# correlation redistribute across the subspaces and the same PQ_M bytes
# carry less reconstruction error. Trained offline by alternating
# codebook fitting with the orthogonal Procrustes solve
# (tools/train_quantizer.py opq); both artifacts are COMMITTED.
#
# Measured story -- an HONEST NEGATIVE on this corpus: training on
# sf0.01 cuts mean total sq_err 0.713977 -> 0.628851 (-11.9%) on the
# TRAINING set, but held-out SFs measure ratio ~1.02 (sf0.001: 402.7
# plain vs 412.9 OPQ; sf0.1: 1618.3 vs 1652.2) -- the gain is overfit
# of the 64x64 rotation to 2000 vectors, exactly what OPQ theory
# predicts here: the synthetic embeddings are near-ISOTROPIC (measured
# covariance: diag mean 0.0156, off-diag |c| <= 0.0011, eigenvalue
# spread 0.011-0.021), and a rotation-invariant distribution has no
# subspace-correlation structure for R to exploit. On real embedding
# corpora (which are strongly anisotropic -- the reason OPQ exists)
# the SAME committed-artifact pipeline pays; here the operator earns
# its place by exactness + shape: the rotation is a fixed narrow map,
# storage and ADC scan cost are byte-identical to plain PQ, and
# retraining R on a real corpus is a fixture swap.
# --------------------------------------------------------------------------

_OPQ_ROT_FIXTURE = str(
    Path(__file__).resolve().parents[2]
    / "fixtures"
    / "opq_rotation.parquet"
)
_OPQ_CB_FIXTURE = str(
    Path(__file__).resolve().parents[2]
    / "fixtures"
    / "opq_codebook.parquet"
)

#: Shared rotated-coordinate fold: rotated_j = dot(embedding, rv_j) in
#: index order from a 0.0 seed (rv_j = column j of the trained R).
_OPQ_ROT_DUCK = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, {n}),"
    " i -> CAST(e.embedding[i] AS DOUBLE) * r.rv[i])), (a, t) -> a + t)"
).format(n=PQ_M * PQ_DSUB + 1)

#: d2 fold over the ROTATED coordinates (doubles on both sides).
_OPQ_D2_DUCK = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, {n}),"
    " i -> (re.remb[cb.m * {d} + i] - cb.cv[i])"
    " * (re.remb[cb.m * {d} + i] - cb.cv[i]))), (a, t) -> a + t)"
).format(n=PQ_DSUB + 1, d=PQ_DSUB)


@query(
    "q_opq_encode",
    oracle=f"""
    WITH r AS (
      SELECT out_dim, rv FROM read_parquet('{_OPQ_ROT_FIXTURE}')
    ),
    cb AS (
      SELECT m, code_id, cv FROM read_parquet('{_OPQ_CB_FIXTURE}')
    ),
    re AS (
      SELECT e.vec_id,
             list({_OPQ_ROT_DUCK} ORDER BY r.out_dim) AS remb
      FROM embeddings e CROSS JOIN r
      GROUP BY e.vec_id
    ),
    d AS (
      SELECT re.vec_id, cb.m, cb.code_id,
             ROUND({_OPQ_D2_DUCK}, 6) AS d
      FROM re CROSS JOIN cb
    )
    SELECT vec_id, m, code_id, d AS sq_err FROM (
      SELECT vec_id, m, code_id, d,
             row_number() OVER (
               PARTITION BY vec_id, m ORDER BY d, code_id) AS rn
      FROM d
    ) t WHERE rn = 1
    """,
)
def q_opq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ encoding: rotate each embedding by the committed trained
    orthonormal R, then PQ-encode the rotated vector against the
    committed OPQ codebook -- one row per (vector, subspace) with the
    chosen code and its squared reconstruction error, exactly
    q_pq_encode's output shape for the same PQ_M bytes. On THIS
    synthetic corpus the error win is train-set-only (the honest
    negative in the block comment above: the embeddings are measured
    near-isotropic, so no rotation can pay out-of-sample);
    tests/test_pq.py pins R's orthonormality and the training-SF
    improvement that proves the alternating optimization optimized.

    Plan: the rotation inlines as ONE parsed array-of-folds expression
    (64 x 64 literal doubles -- bytes at any corpus scale) in its own
    STAGED projection, so the 64 rotated coordinates are computed once
    per row and the 64 downstream d2 references read the staged column
    (CollapseProject keeps a multiply-referenced non-cheap alias --
    the round-2 ingest lesson); then the same least()-over-structs
    nearest-code selection as q_pq_encode via the shared
    _pq_code_expr. Still a NARROW shuffle-free projection end to end:
    no join, no exchange, embedding never leaves its scan task.

    Exactness: the rotation fold (index order, 0.0 seed,
    float32->double promotion on the embedding side, fixture doubles
    on the R side) and the d2 fold share their op sequence with the
    oracle's list_reduce twins, so the round(6) distances and argmin
    hash-compare -- the q_pq_encode discipline, one stage earlier.

    Scale: identical to q_pq_encode -- the rotation adds d^2 fused
    multiply-adds per row inside whole-stage codegen (d=64: trivial),
    storage and ADC search cost are byte-identical, and on a real
    anisotropic corpus the error reduction buys recall at the same
    shortlist depth. At billion scale the rotation matrix is still
    bytes; re-training R is a fixture swap that never changes the
    scan shape.
    """
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    staged = opq_rotated_projection(emb, opq_rotation_rows(spark))
    by_m = opq_codebook_by_m(spark)
    subs = F.array(
        *[_pq_code_expr(m, by_m[m], col="remb") for m in sorted(by_m)]
    )
    return staged.select(
        "vec_id", F.explode(subs).alias("e")
    ).select(
        "vec_id",
        F.col("e.m").alias("m"),
        F.col("e.best.code_id").alias("code_id"),
        F.col("e.best.d").alias("sq_err"),
    )


#: Session-scoped PARSED-expression cache (VERDICT r12 ask #1: kill
#: the q_ann_opq plan-build tax). The round-5 rule -- cache expression
#: TEXT, never Columns, because a Column pins a py4j handle into one
#: JVM -- is exactly what keying the cache ON THE LIVE SESSION makes
#: safe to relax: when a session (and its gateway) goes away, its
#: WeakKeyDictionary entry goes with it, so a recreated gateway can
#: never be served a stale handle. Parsing the OPQ rotation literal
#: (64x64 doubles) measured ~0.8 s per call; the cached Column makes
#: every later plan build in the same session a dict hit.
_SESSION_EXPR_CACHE: "_weakref.WeakKeyDictionary[SparkSession, dict]" = (
    _weakref.WeakKeyDictionary()
)


def _cached_expr(spark: SparkSession, key: str, build) -> Column:
    """The parsed Column for ``key`` in this session, building (and
    parsing) it exactly once per session. ``build`` is a zero-arg
    callable returning the Column; keys must fully determine the
    expression text (fixture-derived expressions key on the fixture's
    module constant + any query-set discriminator)."""
    per_session = _SESSION_EXPR_CACHE.get(spark)
    if per_session is None:
        per_session = {}
        _SESSION_EXPR_CACHE[spark] = per_session
    if key not in per_session:
        per_session[key] = build()
    return per_session[key]


#: Process-lifetime cache of the committed OPQ fixture contents
#: (rotation rows / codebook) -- the _DIM_CACHE catalog framing:
#: fixtures are committed bytes, so re-running the collect job per
#: query call bought nothing but a Spark job (~0.2-0.3 s each).
_OPQ_FIXTURE_CACHE: dict[str, object] = {}


def opq_rotation_rows(spark: SparkSession) -> list:
    """The committed rotation as (out_dim, rv) rows, out_dim order --
    rv is R's column j, so rotated_j = dot(x, rv_j). Cached for the
    process lifetime: the fixture is committed, immutable bytes."""
    if "rot" not in _OPQ_FIXTURE_CACHE:
        _OPQ_FIXTURE_CACHE["rot"] = sorted(
            spark.read.parquet(_OPQ_ROT_FIXTURE).collect(),
            key=lambda r: int(r["out_dim"]),
        )
    return _OPQ_FIXTURE_CACHE["rot"]


def opq_codebook_by_m(spark: SparkSession):
    """The committed OPQ codebook as {m: [(code_id, codeword), ...]}
    (the pq_codebook_by_m shape over the rotated-space fixture).
    Process-lifetime cached like the rotation rows."""
    if "cb" not in _OPQ_FIXTURE_CACHE:
        cb_rows = sorted(
            spark.read.parquet(_OPQ_CB_FIXTURE).collect(),
            key=lambda r: (r["m"], r["code_id"]),
        )
        by_m: dict[int, list[tuple[int, tuple[float, ...]]]] = {}
        for r in cb_rows:
            by_m.setdefault(int(r["m"]), []).append(
                (int(r["code_id"]), tuple(float(v) for v in r["cv"]))
            )
        _OPQ_FIXTURE_CACHE["cb"] = by_m
    return _OPQ_FIXTURE_CACHE["cb"]


def opq_rotated_projection(emb: DataFrame, rot_rows) -> DataFrame:
    """(vec_id, remb): the rotated coordinates in a STAGED projection,
    so downstream consumers read the staged column instead of
    re-deriving it (CollapseProject keeps a multiply-referenced
    non-cheap alias).

    The d^2=4096-double matrix rides as DATA -- a one-row broadcast
    frame cross-joined to the scan -- not as plan text: the first cut
    inlined it as a 4096-literal array-of-folds expression, and every
    analyzer/optimizer pass over that tree cost ~0.3-0.5 s PER ACTION
    (the r12 watch item; text/Column caching only killed the parse,
    not the per-action tree walks). With the matrix in a
    LocalTableScan the expression is three nested higher-order
    functions of constant size, and the rotated fold is the identical
    float op sequence either way (zip_with in index order, 0.0 seed,
    float32 CAST to double on the embedding side, fixture doubles on
    the R side) -- so oracle parity is bit-for-bit untouched. The
    broadcast frame is session-cached; the cross join is a 1-row
    broadcast, the standard scalar-frame pattern."""
    spark = emb.sparkSession

    def build_df() -> DataFrame:
        matrix = [[float(v) for v in r["rv"]] for r in rot_rows]
        return spark.createDataFrame(
            [(matrix,)], "__opq_R array<array<double>>"
        )

    rot_df = _cached_expr(spark, "opq_rotation_df", build_df)
    return emb.crossJoin(F.broadcast(rot_df)).select(
        "vec_id",
        F.expr(
            "transform(__opq_R, rv -> aggregate(zip_with(embedding, rv,"
            " (x, y) -> CAST(x AS DOUBLE) * y), 0D, (a, t) -> a + t))"
        ).alias("remb"),
    )


def opq_rotate_py(qv: list[float], rot_rows) -> list[float]:
    """The rotation fold in Python, bit-identical to both engines'
    SQL folds (index order, 0.0 seed, float32->double promotion on the
    vector side -- the _pq_lut_py/_cos_py inlining discipline)."""
    out = []
    for r in rot_rows:
        rv = r["rv"]
        t = 0.0
        for i in range(len(rv)):
            t = t + float(qv[i]) * float(rv[i])
        out.append(t)
    return out


# --------------------------------------------------------------------------
# ADC search over the PQ codes -- the read path the q_pq_encode codes
# table exists for: a query never touches raw embeddings, only the
# PQ_M-byte codes plus a per-query lookup table of PQ_M x PQ_KSUB
# partial inner products against the committed codebook. Completes the
# PQ story the way q_ann_ivf_trained_join completes IVF's: encode
# (q_pq_encode), then search the encoded artifact.
# --------------------------------------------------------------------------

#: Shared per-subspace inner-product fold (index order, 0.0 seed)
#: between a query-vector slice and a codeword: the ADC lookup-table
#: entry. Both engines derive it from the same fixture bytes and the
#: same float32->double promotions, so the doubles are bit-identical.
_PQ_IP_DUCK = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, {n}),"
    " i -> CAST(q.qv[cb.m * {d} + i] AS DOUBLE) * cb.cv[i])),"
    " (a, t) -> a + t)"
).format(n=PQ_DSUB + 1, d=PQ_DSUB)


def _pq_lut_py(qv: list[float], m: int, cv: list[float]) -> float:
    """The oracle's _PQ_IP_DUCK fold in Python: left fold from a 0.0
    seed over index-ordered products. CPython floats are IEEE doubles
    with strict left-to-right evaluation, so the result is
    bit-identical to DuckDB's list_reduce (the _cos_py precedent,
    driver-certified since round 7)."""
    t = 0.0
    for i in range(PQ_DSUB):
        t = t + float(qv[m * PQ_DSUB + i]) * float(cv[i])
    return t


#: ADC shortlist size: the codes-only scan keeps the top-S candidates
#: per query, and only those S rows' raw embeddings are ever fetched
#: for the exact re-rank. The recall/cost dial of the PQ read path.
PQ_SHORTLIST = 64


def _probe_cells(qv: list[float], cent_rows, nprobe: int) -> list[int]:
    """The query's nprobe nearest cells, ranked driver-side with the
    oracle's exact tie-break -- (round(cos, 6) DESC, cell_id ASC).
    ``cent_rows`` carries (cell_id, embedding) rows. ONE shared
    implementation: this ranking is a cross-engine contract
    (q_ann_ivf_trained's oracle replicates it in SQL), so every probe
    site -- the trained IVF search, the at-rest layout probe, the
    registered pruned PQ search -- must rank identically or pruning
    silently turns into wrong answers."""
    return [
        cid
        for cid, _ in sorted(
            (
                (
                    int(r["cell_id"]),
                    round(_cos_py(qv, [float(v) for v in r["embedding"]]), 6),
                )
                for r in cent_rows
            ),
            key=lambda t: (-t[1], t[0]),
        )[:nprobe]
    ]


def _adc_lut_terms(qv: list[float], by_m) -> list[str]:
    """Per-subspace ADC lookup expressions for one query: each is an
    element_at() over a PQ_KSUB-literal array of _pq_lut_py doubles,
    indexed by the codes column c<m>. Shared by every ADC scan
    (in-query, at-rest, single-query layout probe) so the
    bit-exactness contract with the oracle's list_reduce has exactly
    one implementation."""
    terms = []
    for m in sorted(by_m):
        lits = ",".join(
            repr(_pq_lut_py(qv, m, list(cv))) + "D" for _, cv in by_m[m]
        )
        terms.append(f"element_at(array({lits}), c{m} + 1)")
    return terms

#: Shared exact inner-product fold for the re-rank leg (index order,
#: 0.0 seed) -- the SQL twin of functions.vector.dot.
_PQ_RERANK_IP_DUCK = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, {n}),"
    " i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))),"
    " (a, t) -> a + t)"
).format(n=PQ_M * PQ_DSUB + 1)


@query(
    "q_ann_pq",
    oracle=f"""
    WITH cb AS (
      SELECT m, code_id, cv FROM read_parquet('{_PQ_FIXTURE}')
    ),
    codes AS (
      SELECT vec_id, m, code_id FROM (
        SELECT e.vec_id, cb.m, cb.code_id,
               row_number() OVER (
                 PARTITION BY e.vec_id, cb.m
                 ORDER BY ROUND({_PQ_D2_DUCK}, 6), cb.code_id) AS rn
        FROM embeddings e CROSS JOIN cb
        WHERE e.vec_id NOT BETWEEN {ANN_JOIN_Q_LO} AND {ANN_JOIN_Q_HI}
      ) t WHERE rn = 1
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id BETWEEN {ANN_JOIN_Q_LO} AND {ANN_JOIN_Q_HI}
    ),
    lut AS (
      SELECT q.query_id, cb.m, cb.code_id,
             {_PQ_IP_DUCK} AS part
      FROM q CROSS JOIN cb
    ),
    scored AS (
      SELECT c.vec_id, l.query_id,
             ROUND(list_reduce(
               list_prepend(0.0, list(l.part ORDER BY l.m)),
               (a, t) -> a + t), 6) AS adc
      FROM codes c
      JOIN lut l ON l.m = c.m AND l.code_id = c.code_id
      GROUP BY c.vec_id, l.query_id
    ),
    shortlist AS (
      SELECT query_id, vec_id, adc FROM (
        SELECT query_id, vec_id, adc,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY adc DESC, vec_id) AS srn
        FROM scored
      ) t WHERE srn <= {PQ_SHORTLIST}
    ),
    rer AS (
      SELECT s.query_id, s.vec_id, s.adc,
             ROUND({_PQ_RERANK_IP_DUCK}, 6) AS ip
      FROM shortlist s
      JOIN embeddings e ON e.vec_id = s.vec_id
      JOIN q ON q.query_id = s.query_id
    )
    SELECT query_id, vec_id, adc, ip, rn FROM (
      SELECT query_id, vec_id, adc, ip,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY ip DESC, vec_id) AS rn
      FROM rer
    ) t WHERE rn <= {ANN_JOIN_K}
    """,
)
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ read path, complete: ADC shortlist over codes, exact re-rank
    over raw vectors. The same query table as q_ann_ivf_join is ranked
    against the corpus by approximate inner product computed from PQ_M
    codes and per-query lookup tables against the committed codebook;
    the top-PQ_SHORTLIST candidates per query -- and ONLY those -- get
    their raw embeddings fetched for an exact inner-product re-rank
    that emits the final top-k. This two-stage shape is the production
    PQ pipeline: the corpus scan never touches floats, and float
    fetches are bounded at |Q| * PQ_SHORTLIST rows regardless of
    corpus size.

    Plan: the corpus side is the q_pq_encode narrow projection kept
    COLUMNAR (one code column per subspace -- no Generate), and each
    query's lookup table inlines as PQ_M element_at()s over
    PQ_KSUB-literal arrays, so ADC-scoring all queries is one
    shuffle-free projection over the codes scan: per row, PQ_M * |Q|
    array indexings and a seeded PQ_M-term fold (left-to-right,
    matching the oracle's ordered list_reduce). The shortlist rank is
    the plan's only data-proportional exchange, entered by narrow
    (query_id, vec_id, adc) tuples with a partial WindowGroupLimit
    capping each task at |Q| * PQ_SHORTLIST rows. The re-rank is a
    broadcast join of that bounded shortlist back to the embeddings
    scan plus a |Q|-row broadcast for the query vectors; the exact dot
    product is the functions.vector.dot fold, shared as text with the
    oracle. Lookup-table doubles are computed driver-side in Python
    with the identical index-ordered 0.0-seeded fold as the oracle's
    SQL (_pq_lut_py), the proven _cos_py inlining discipline.

    Scale: this is the billion-vector read path -- the scan touches
    PQ_M bytes per vector instead of PQ_M * PQ_DSUB floats (64x), the
    lookup tables are |Q| * PQ_M * PQ_KSUB doubles of driver-side
    bytes at any corpus size, and recall is a (codebook, PQ_SHORTLIST)
    dial gated against exact search in tests/test_pq.py (the corpus is
    near-uniform -- the hardest ANN regime -- so the floor is modest
    but 2-3x the random-shortlist baseline). Composes with the IVF
    layout: cell-prune first, ADC-scan the survivors.
    """
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    by_m = pq_codebook_by_m(spark)
    is_query = F.col("vec_id").between(ANN_JOIN_Q_LO, ANN_JOIN_Q_HI)
    codes = pq_codes_projection(emb.filter(~is_query), by_m)
    # plan_cache_key (r13 opt): the LUT text depends only on the PQ
    # fixture + the sf_dir query vectors (both immutable), so warm
    # calls skip the query-vector collect job + render + parse --
    # measured 2.0 s of per-call plan-BUILD time (the q_ann_opq watch
    # item's fix, which q_ann_pq never received).
    return adc_search(codes, emb, by_m, plan_cache_key=f"pq:{sf_dir}")


#: Rotation fold over the QUERY vector (the q-side twin of
#: _OPQ_ROT_DUCK, which folds over e.embedding).
_OPQ_ROT_Q_DUCK = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, {n}),"
    " i -> CAST(q.qv[i] AS DOUBLE) * r.rv[i])), (a, t) -> a + t)"
).format(n=PQ_M * PQ_DSUB + 1)

#: ADC lookup-table fold over the ROTATED query coordinates.
_OPQ_IP_DUCK = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, {n}),"
    " i -> rq.rqv[cb.m * {d} + i] * cb.cv[i])), (a, t) -> a + t)"
).format(n=PQ_DSUB + 1, d=PQ_DSUB)


@query(
    "q_ann_opq",
    oracle=f"""
    WITH r AS (
      SELECT out_dim, rv FROM read_parquet('{_OPQ_ROT_FIXTURE}')
    ),
    cb AS (
      SELECT m, code_id, cv FROM read_parquet('{_OPQ_CB_FIXTURE}')
    ),
    re AS (
      SELECT e.vec_id,
             list({_OPQ_ROT_DUCK} ORDER BY r.out_dim) AS remb
      FROM embeddings e CROSS JOIN r
      WHERE e.vec_id NOT BETWEEN {ANN_JOIN_Q_LO} AND {ANN_JOIN_Q_HI}
      GROUP BY e.vec_id
    ),
    codes AS (
      SELECT vec_id, m, code_id FROM (
        SELECT re.vec_id, cb.m, cb.code_id,
               row_number() OVER (
                 PARTITION BY re.vec_id, cb.m
                 ORDER BY ROUND({_OPQ_D2_DUCK}, 6), cb.code_id) AS rn
        FROM re CROSS JOIN cb
      ) t WHERE rn = 1
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id BETWEEN {ANN_JOIN_Q_LO} AND {ANN_JOIN_Q_HI}
    ),
    rq AS (
      SELECT q.query_id,
             list({_OPQ_ROT_Q_DUCK} ORDER BY r.out_dim) AS rqv
      FROM q CROSS JOIN r
      GROUP BY q.query_id
    ),
    lut AS (
      SELECT rq.query_id, cb.m, cb.code_id,
             {_OPQ_IP_DUCK} AS part
      FROM rq CROSS JOIN cb
    ),
    scored AS (
      SELECT c.vec_id, l.query_id,
             ROUND(list_reduce(
               list_prepend(0.0, list(l.part ORDER BY l.m)),
               (a, t) -> a + t), 6) AS adc
      FROM codes c
      JOIN lut l ON l.m = c.m AND l.code_id = c.code_id
      GROUP BY c.vec_id, l.query_id
    ),
    shortlist AS (
      SELECT query_id, vec_id, adc FROM (
        SELECT query_id, vec_id, adc,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY adc DESC, vec_id) AS srn
        FROM scored
      ) t WHERE srn <= {PQ_SHORTLIST}
    ),
    rer AS (
      SELECT s.query_id, s.vec_id, s.adc,
             ROUND({_PQ_RERANK_IP_DUCK}, 6) AS ip
      FROM shortlist s
      JOIN embeddings e ON e.vec_id = s.vec_id
      JOIN q ON q.query_id = s.query_id
    )
    SELECT query_id, vec_id, adc, ip, rn FROM (
      SELECT query_id, vec_id, adc, ip,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY ip DESC, vec_id) AS rn
      FROM rer
    ) t WHERE rn <= {ANN_JOIN_K}
    """,
)
def q_ann_opq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OPQ read path, completing q_opq_encode the way q_ann_pq
    completes q_pq_encode: the corpus is coded in ROTATED coordinates
    (staged rotation projection -> the shared nearest-code selection
    over the committed OPQ codebook, columnar c0..c{PQ_M-1}), each
    query vector is rotated driver-side with the bit-identical Python
    fold (opq_rotate_py) before its ADC lookup tables are built, and
    the bounded exact re-rank runs on the ORIGINAL vectors -- an
    orthonormal rotation preserves inner products, so the rotated-space
    ADC approximates exactly the quantity the re-rank computes, and the
    output schema/semantics match q_ann_pq's line for line.

    Plan: q_ann_pq's shape plus one staged narrow projection (the
    rotation -- d^2 fused multiply-adds per corpus row inside
    whole-stage codegen, matrix literal parsed once); the ADC scan
    still touches PQ_M bytes per vector, the shortlist rank is the
    only data-proportional exchange, float fetches stay bounded at
    |Q| x PQ_SHORTLIST. On a real anisotropic corpus this buys recall
    at identical scan cost (the OPQ story); on THIS near-isotropic
    synthetic corpus the honest expectation is parity with q_ann_pq
    (docs/SCALE.md opqsweep), and the recall floor is gated in
    tests/test_pq.py alongside q_ann_pq's.

    Exactness: every stage's float fold is shared as text (or as the
    proven Python inlining twin) with the oracle -- the rotation folds
    (_OPQ_ROT_DUCK / _OPQ_ROT_Q_DUCK / opq_rotate_py), the rotated d2
    (_OPQ_D2_DUCK), the LUT partials (_OPQ_IP_DUCK / _pq_lut_py over
    rotated coordinates), and the exact re-rank dot
    (_PQ_RERANK_IP_DUCK / functions.vector.dot).
    """
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    rot_rows = opq_rotation_rows(spark)
    by_m = opq_codebook_by_m(spark)
    is_query = F.col("vec_id").between(ANN_JOIN_Q_LO, ANN_JOIN_Q_HI)
    staged = opq_rotated_projection(emb.filter(~is_query), rot_rows)
    codes = staged.select(
        "vec_id",
        *[
            _cached_expr(
                spark,
                f"opq_code_{m}",
                lambda m=m: _pq_code_expr(m, by_m[m], col="remb"),
            )["best"]["code_id"].alias(f"c{m}")
            for m in sorted(by_m)
        ],
    )
    return adc_search(
        codes, emb, by_m,
        qv_transform=lambda qv: opq_rotate_py(qv, rot_rows),
        plan_cache_key=f"opq:{sf_dir}",
    )


def pq_codebook_by_m(spark: SparkSession):
    """The committed codebook as {m: [(code_id, codeword), ...]} --
    the driver-side artifact every PQ stage inlines from.
    Process-lifetime cached (committed, immutable fixture bytes; the
    opq_codebook_by_m discipline -- caught by
    tests/test_build_caches.py: the per-call collect was two Spark
    jobs inside every q_ann_pq/q_pq_encode plan build)."""

    def build():
        cb_rows = sorted(
            spark.read.parquet(_PQ_FIXTURE).collect(),
            key=lambda r: (r["m"], r["code_id"]),
        )
        by_m: dict[int, list[tuple[int, tuple[float, ...]]]] = {}
        for r in cb_rows:
            by_m.setdefault(int(r["m"]), []).append(
                (int(r["code_id"]), tuple(float(v) for v in r["cv"]))
            )
        return by_m

    return _cached_rows("pq_codebook", build)


def pq_codes_projection(emb: DataFrame, by_m) -> DataFrame:
    """Corpus codes, columnar: each subspace's nearest-code expression
    only evaluates ITS PQ_KSUB codewords (no shared-array indexing, no
    duplicated subexpressions across columns). Shared by the in-query
    form and the at-rest ``pq_codes_layout`` writer."""
    return emb.select(
        "vec_id",
        *[
            _pq_code_expr(m, by_m[m])["best"]["code_id"].alias(f"c{m}")
            for m in sorted(by_m)
        ],
    )


#: Queries per inlined ADC projection (ADVICE r10): each query's lookup
#: table inlines PQ_M x PQ_KSUB double literals, so one projection over
#: |Q| queries carries |Q| x PQ_M x PQ_KSUB literals of plan text --
#: fine at the fixtures' |Q|=5, unbounded for a large query table.
#: Chunking caps every projection's plan/analysis cost at a constant;
#: chunks union over the same codes scan (each re-scan is the cheap
#: codes-only columnar pass, and a production run batches queries
#: anyway). Beyond ~10^4 queries the right tool is the broadcast-join
#: form (q_knn_join's shape), not literal inlining.
_ADC_QUERY_CHUNK = 64


def _adc_candidates(
    codes: DataFrame, per_q: list[str], extra=(), plan_cache_key=None
) -> DataFrame:
    """Explode the per-query ADC structs over the codes scan in
    _ADC_QUERY_CHUNK-bounded projections, unioned: plan text per
    projection stays constant in |Q|. ``extra`` names pass-through
    code columns (e.g. cell_id for the pruned layout form).
    ``plan_cache_key`` (optional) session-caches each chunk's parsed
    array literal -- the caller guarantees the key fully determines
    ``per_q`` (fixture + query set)."""
    if not per_q:
        raise ValueError(
            "ADC search got an empty query set (no vec_ids in the"
            f" query range {ANN_JOIN_Q_LO}..{ANN_JOIN_Q_HI}?)"
        )
    out = None
    for i in range(0, len(per_q), _ADC_QUERY_CHUNK):
        chunk = per_q[i : i + _ADC_QUERY_CHUNK]

        def build(chunk=chunk) -> Column:
            return F.expr("array(" + ",".join(chunk) + ")")

        arr = (
            _cached_expr(
                codes.sparkSession, f"adc:{plan_cache_key}:{i}", build
            )
            if plan_cache_key is not None
            else build()
        )
        c = codes.select(
            "vec_id", *extra, F.explode(arr).alias("s")
        )
        out = c if out is None else out.unionAll(c)
    return out


#: Rendered per-query ADC struct text, keyed by the caller's
#: plan_cache_key (which embeds fixture identity + sf_dir, i.e. the
#: query set). Pure Python strings, process lifetime -- the query
#: vectors come from the immutable driver testdata (the _DIM_CACHE
#: catalog framing), and caching them skips a collect job + the
#: per-query LUT fold/render on every warm call. Values are ALWAYS
#: list[str] of struct texts; the pruned layout form (which also
#: carries its probe-cell union) has its own cache below (r14, ADVICE
#: r13 -- one value shape per dict, no key-prefix conventions).
_ADC_LUT_TEXT_CACHE: dict[str, list] = {}

#: q_ann_pq_pruned's per-sf_dir plan artifacts: (per_q struct texts
#: WITH probe cells, sorted union of probed cell ids). Split from
#: _ADC_LUT_TEXT_CACHE so a pruned-style key can never hand adc_search
#: a tuple where it expects a list (ADVICE r13).
_PRUNED_PLAN_CACHE: dict[str, tuple[list, list]] = {}


def adc_search(
    codes: DataFrame,
    emb: DataFrame,
    by_m,
    qv_transform=None,
    plan_cache_key: str | None = None,
) -> DataFrame:
    """q_ann_pq's search stages over an arbitrary codes frame: ADC
    scoring via inlined per-query lookup tables, the shortlist rank,
    and the exact re-rank join-back against ``emb`` (which supplies
    both the raw vectors and the query table). Lookup tables inline in
    _ADC_QUERY_CHUNK-bounded projections so plan text stays constant
    however large the query table. ``qv_transform`` (optional) maps a
    query vector into the CODES' coordinate space before the lookup
    tables are built -- the OPQ rotation hook; the exact re-rank stays
    on the ORIGINAL vectors (an orthonormal rotation preserves inner
    products, so the ADC approximates the same quantity re-rank
    computes exactly). ``plan_cache_key`` (optional) caches both the
    rendered per-query struct text (process lifetime -- plain
    strings over immutable fixtures/testdata) and the parsed chunk
    Columns (session lifetime); callers must choose a key that fully
    determines (fixture, query set, qv_transform)."""
    is_query = F.col("vec_id").between(ANN_JOIN_Q_LO, ANN_JOIN_Q_HI)
    per_q = (
        _ADC_LUT_TEXT_CACHE.get(plan_cache_key)
        if plan_cache_key is not None
        else None
    )
    if per_q is None:
        q_rows = sorted(
            emb.filter(is_query).select("vec_id", "embedding").collect(),
            key=lambda r: r["vec_id"],
        )
        # Per-query ADC score: fold the PQ_M table lookups in subspace
        # order from a 0D seed -- the oracle's list_reduce shape.
        per_q = []
        for qr in q_rows:
            qv = [float(v) for v in qr["embedding"]]
            if qv_transform is not None:
                qv = qv_transform(qv)
            terms = _adc_lut_terms(qv, by_m)
            per_q.append(
                f"named_struct('query_id', CAST({int(qr['vec_id'])} AS BIGINT),"
                f" 'adc', round(aggregate(array({','.join(terms)}), 0D,"
                " (a, x) -> a + x), 6))"
            )
        if plan_cache_key is not None:
            _ADC_LUT_TEXT_CACHE[plan_cache_key] = per_q
    cand = _adc_candidates(
        codes, per_q, plan_cache_key=plan_cache_key
    ).select(
        F.col("s.query_id").alias("query_id"), "vec_id", F.col("s.adc").alias("adc")
    )
    ws = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("vec_id"))
    shortlist = (
        cand.withColumn("srn", F.row_number().over(ws))
        .filter(F.col("srn") <= PQ_SHORTLIST)
        .select("query_id", "vec_id", "adc")
    )
    qtab = emb.filter(is_query).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    rer = (
        emb.join(F.broadcast(shortlist), "vec_id")
        .join(F.broadcast(qtab), "query_id")
        .select(
            "query_id",
            "vec_id",
            "adc",
            F.round(dot(F.col("embedding"), F.col("qv")), 6).alias("ip"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("ip"), F.asc("vec_id"))
    return (
        rer.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= ANN_JOIN_K)
        .select("query_id", "vec_id", "adc", "ip", "rn")
    )


# --------------------------------------------------------------------------
# The composed production index, driver-certified (VERDICT r10 ask #6):
# PQ codes AT REST in cell_id=N/ partition directories keyed by the
# trained IVF quantizer -- the artifact plans/layout.pq_ivf_codes_layout
# writes -- searched with cell pruning at file-listing time. q_ann_pq
# proves the ADC arithmetic over in-query codes; this registers the read
# path a 100 TB deployment actually runs: build the layout, then scan
# ONLY the probed cells' code directories.
# --------------------------------------------------------------------------

#: Where the registered query materializes the composed IVF x PQ codes
#: layout (one subdirectory per source sf table). Built once per
#: SESSION and reused by later calls in the same session -- the build
#: is deterministic over the committed fixtures, so reuse is
#: bit-identical, and the bench's min-of-n reps measure the pruned
#: SEARCH path a deployment actually runs (the first call still
#: exercises the full build). A production build writes this ONCE and
#: amortizes it over every search (plans/layout.py).
_PQ_IVF_LAYOUT_ROOT = (
    Path(__file__).resolve().parents[2] / "spark-warehouse" / "pq_ivf_codes"
)
#: layout dirs already built by THIS session (keyed by full path,
#: which embeds the applicationId)
_PQ_IVF_BUILT: set[str] = set()


@query(
    "q_ann_pq_pruned",
    oracle=f"""
    WITH cb AS (
      SELECT m, code_id, cv FROM read_parquet('{_PQ_FIXTURE}')
    ),
    cents AS (
      SELECT cell_id, cv FROM read_parquet('{_IVF_FIXTURE}')
    ),
    assign AS (
      SELECT vec_id, cell_id FROM (
        SELECT e.vec_id, c.cell_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY ROUND({_cos_sql("e.embedding", "c.cv")}, 6) DESC,
                          c.cell_id) AS rn
        FROM embeddings e, cents c
        WHERE e.vec_id NOT BETWEEN {ANN_JOIN_Q_LO} AND {ANN_JOIN_Q_HI}
      ) t WHERE rn = 1
    ),
    codes AS (
      SELECT vec_id, m, code_id FROM (
        SELECT e.vec_id, cb.m, cb.code_id,
               row_number() OVER (
                 PARTITION BY e.vec_id, cb.m
                 ORDER BY ROUND({_PQ_D2_DUCK}, 6), cb.code_id) AS rn
        FROM embeddings e CROSS JOIN cb
        WHERE e.vec_id NOT BETWEEN {ANN_JOIN_Q_LO} AND {ANN_JOIN_Q_HI}
      ) t WHERE rn = 1
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id BETWEEN {ANN_JOIN_Q_LO} AND {ANN_JOIN_Q_HI}
    ),
    qprobe AS (
      SELECT query_id, cell_id FROM (
        SELECT q.query_id, c.cell_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY ROUND({_cos_sql("q.qv", "c.cv")}, 6) DESC,
                          c.cell_id) AS rn
        FROM q, cents c
      ) t WHERE rn <= {IVF_NPROBE}
    ),
    lut AS (
      SELECT q.query_id, cb.m, cb.code_id,
             {_PQ_IP_DUCK} AS part
      FROM q CROSS JOIN cb
    ),
    scored AS (
      SELECT c.vec_id, l.query_id, a.cell_id,
             ROUND(list_reduce(
               list_prepend(0.0, list(l.part ORDER BY l.m)),
               (x, t) -> x + t), 6) AS adc
      FROM codes c
      JOIN lut l ON l.m = c.m AND l.code_id = c.code_id
      JOIN assign a ON a.vec_id = c.vec_id
      JOIN qprobe p ON p.query_id = l.query_id AND p.cell_id = a.cell_id
      GROUP BY c.vec_id, l.query_id, a.cell_id
    ),
    shortlist AS (
      SELECT query_id, vec_id, cell_id, adc FROM (
        SELECT query_id, vec_id, cell_id, adc,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY adc DESC, vec_id) AS srn
        FROM scored
      ) t WHERE srn <= {PQ_SHORTLIST}
    ),
    rer AS (
      SELECT s.query_id, s.vec_id, s.cell_id, s.adc,
             ROUND({_PQ_RERANK_IP_DUCK}, 6) AS ip
      FROM shortlist s
      JOIN embeddings e ON e.vec_id = s.vec_id
      JOIN q ON q.query_id = s.query_id
    )
    SELECT query_id, vec_id, cell_id, adc, ip, rn FROM (
      SELECT query_id, vec_id, cell_id, adc, ip,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY ip DESC, vec_id) AS rn
      FROM rer
    ) t WHERE rn <= {ANN_JOIN_K}
    """,
)
def q_ann_pq_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN search over the AT-REST composed IVF x PQ index (VERDICT r10
    ask #6): the query builds the production artifact --
    ``plans.layout.pq_ivf_codes_layout``'s codes table, PQ codes in
    ``cell_id=N/`` partition directories keyed by the trained persisted
    quantizer, no embedding column anywhere in it -- then searches it
    the way a deployment would: every query vector probes only its
    IVF_NPROBE nearest trained cells, the scan's ``cell_id IN (...)``
    predicate prunes the other directories at FILE-LISTING time
    (PartitionFilters, pinned in tests/test_pq.py), the surviving
    cells' PQ_M-byte codes are ADC-scored against per-query lookup
    tables, and only the bounded top-PQ_SHORTLIST join-back ever
    touches raw floats for the exact inner-product re-rank.

    Plan: the layout write is the q_pq_encode narrow projection plus
    the q_ann_ivf_trained assignment projection (both inlined-literal,
    shuffle-free) partitioned by cell; the search reads the written
    parquet with a static isin() over the union of all probed cells
    (partition pruning), applies each query's own probe set as an
    array_contains over its literal cell list, and shares every stage
    downstream -- shortlist rank with partial WindowGroupLimit, exact
    re-rank as two broadcast joins -- with the driver-certified
    q_ann_pq. ADC lookup tables are driver-side Python folds
    (_pq_lut_py) bit-identical to the oracle's list_reduce; cell
    assignment and probe ranking replicate q_ann_ivf_trained's
    fixture-provenance contract, so the full value hash compares.

    Scale: this is the billion-vector operating point the IVF and PQ
    halves exist to compose -- directory pruning cuts the scan to
    ~nprobe/N_CELLS of the corpus at file-listing time, each surviving
    cell is 64x smaller than raw floats, and float fetches are bounded
    at |Q| x PQ_SHORTLIST regardless of corpus size. The layout is
    built ONCE PER SESSION and reused by later calls (VERDICT r11
    watch item #1: rebuild-per-call made the bench line measure mostly
    build; a deployment writes the layout once and serves reads, so
    min-of-n bench reps now time the pruned SEARCH path while the
    first call still exercises the full build -- the build is
    deterministic, so reuse returns bit-identical results and the
    DuckDB oracle is unchanged). docs/SCALE.md measures the <0.25x
    on-disk bytes and the recall/cost curve vs nprobe.
    """
    from ..plans.layout import pq_ivf_codes_layout

    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    # session-unique layout dir: the query WRITES, and every other
    # registered query is read-only -- two concurrent sessions (the
    # driver plus a local gate) racing one shared path would tear each
    # other's in-flight scans. applicationId is unique per session.
    # Stale sibling dirs from finished sessions are swept past a
    # one-day grace so repeated rounds/benches cannot accumulate
    # unbounded directories; every call TOUCHES its own dir (build or
    # reuse), so a live session's layout always has a fresh mtime and
    # the sweep can only hit sessions idle on this sf for >24h -- and
    # an idle session that resumes rebuilds before it scans (the dir
    # membership check below), so a swept layout is recreated, never
    # read missing. Residual window: a caller holding this query's
    # RETURNED DataFrame unexecuted for >24h across another session's
    # sweep; registered queries execute immediately, so this stays a
    # documented non-path.
    import shutil as _shutil
    import time as _time

    if _PQ_IVF_LAYOUT_ROOT.is_dir():
        _now = _time.time()
        _mine = f"-{spark.sparkContext.applicationId}"
        for _d in _PQ_IVF_LAYOUT_ROOT.iterdir():
            if (
                _d.is_dir()
                and not _d.name.endswith(_mine)
                and _now - _d.stat().st_mtime > 86400
            ):
                _shutil.rmtree(_d, ignore_errors=True)
    layout_dir = str(
        _PQ_IVF_LAYOUT_ROOT
        / f"{Path(sf_dir).name}-{spark.sparkContext.applicationId}"
    )
    # Reuse only a layout whose write COMPLETED (_SUCCESS marker) --
    # a sibling session's 24h sweep could be mid-rmtree on a dir that
    # still passes isdir, and trusting a half-deleted layout would
    # silently shrink the corpus (review finding, round 12; the old
    # rebuild-per-call was self-healing by construction). Any doubt ->
    # rebuild: the build is deterministic, so reuse vs rebuild is
    # bit-identical either way.
    reusable = False
    if layout_dir in _PQ_IVF_BUILT:
        try:
            reusable = os.path.exists(os.path.join(layout_dir, "_SUCCESS"))
            if reusable:
                os.utime(layout_dir)  # liveness heartbeat for the sweep
        except FileNotFoundError:
            reusable = False
    if not reusable:
        pq_ivf_codes_layout(spark, sf_dir, layout_dir, centroids="trained")
        _PQ_IVF_BUILT.add(layout_dir)

    by_m = pq_codebook_by_m(spark)
    is_query = F.col("vec_id").between(ANN_JOIN_Q_LO, ANN_JOIN_Q_HI)
    # Per-query struct text (probe cells + LUT) depends only on the
    # IVF/PQ fixtures + the sf_dir query vectors, all immutable: cache
    # it process-wide like adc_search's plan_cache_key path so warm
    # calls skip two collect jobs + the render (r13 opt; the q_ann_pq
    # fix applied to the pruned form, whose structs carry 'cells' and
    # so need their own key).
    pruned_key = sf_dir
    cached = _PRUNED_PLAN_CACHE.get(pruned_key)
    if cached is None:
        cent_rows = _ivf_fixture_rows(spark)
        q_rows = sorted(
            emb.filter(is_query).select("vec_id", "embedding").collect(),
            key=lambda r: r["vec_id"],
        )
        # Per-query probe cells, ranked driver-side with the oracle's
        # (round(cos, 6) DESC, cell_id) tie-break -- N_CELLS rows, bytes.
        per_q = []
        union_cells: set[int] = set()
        for qr in q_rows:
            qv = [float(v) for v in qr["embedding"]]
            qcells = _probe_cells(qv, cent_rows, IVF_NPROBE)
            union_cells.update(qcells)
            terms = _adc_lut_terms(qv, by_m)
            per_q.append(
                f"named_struct('query_id', CAST({int(qr['vec_id'])} AS BIGINT),"
                f" 'cells', array({','.join(str(c) for c in qcells)}),"
                f" 'adc', round(aggregate(array({','.join(terms)}), 0D,"
                " (a, x) -> a + x), 6))"
            )
        cached = (per_q, sorted(union_cells))
        _PRUNED_PLAN_CACHE[pruned_key] = cached
    per_q, union_cells_sorted = cached
    # The static union-of-probes predicate compiles to PartitionFilters:
    # unprobed cell directories are never even listed. Schema cached per
    # layout dir (written once per session, immutable after _SUCCESS) in
    # the shared path-keyed schema cache (tables._SCHEMA_CACHE -- same
    # concern, same store; ADVICE r13) so warm builds skip the
    # footer/partition-type inference (~80 ms).
    from ..tables import _SCHEMA_CACHE

    lay_schema = _SCHEMA_CACHE.get(layout_dir)
    if lay_schema is None:
        lay_schema = spark.read.parquet(layout_dir).schema
        _SCHEMA_CACHE[layout_dir] = lay_schema
    codes = (
        spark.read.schema(lay_schema).parquet(layout_dir)
        .filter(
            F.col("cell_id").isin(union_cells_sorted) & ~is_query
        )
    )
    cand = (
        _adc_candidates(
            codes, per_q, extra=("cell_id",), plan_cache_key=pruned_key
        )
        .filter(F.expr("array_contains(s.cells, cell_id)"))
        .select(
            F.col("s.query_id").alias("query_id"),
            "vec_id",
            "cell_id",
            F.col("s.adc").alias("adc"),
        )
    )
    ws = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("vec_id"))
    shortlist = (
        cand.withColumn("srn", F.row_number().over(ws))
        .filter(F.col("srn") <= PQ_SHORTLIST)
        .select("query_id", "vec_id", "cell_id", "adc")
    )
    qtab = emb.filter(is_query).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    rer = (
        emb.join(F.broadcast(shortlist), "vec_id")
        .join(F.broadcast(qtab), "query_id")
        .select(
            "query_id",
            "vec_id",
            "cell_id",
            "adc",
            F.round(dot(F.col("embedding"), F.col("qv")), 6).alias("ip"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("ip"), F.asc("vec_id"))
    return (
        rer.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= ANN_JOIN_K)
        .select("query_id", "vec_id", "cell_id", "adc", "ip", "rn")
    )
