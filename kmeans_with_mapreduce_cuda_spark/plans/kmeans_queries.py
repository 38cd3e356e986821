"""SURVEY.md §2.1 operator inventory as oracle-checked queries (O1-O14).

Each query is the Spark-first re-expression of one reference operator,
with a DuckDB ANSI-SQL twin.  The points relation is the deterministic
lineitem (quantity, extendedprice) projection (FIXTURES.md §1 analog).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_long, md5_long_sql
from ..operators.kmeans import assign_2d, update_2d
from ..sources.readers import points_from_lineitem_cached
from ..sources.writers import format_centroids
from .registry import (
    INIT_CENTROIDS_2D,
    K2D,
    POINTS_SQL,
    ROUND_CENT,
    assign_sql,
    cents_sql,
    query,
)

SEED = 42


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    # served from the materialized on-disk cache: the global-window id
    # projection runs once per fixture dir, not once per query
    return points_from_lineitem_cached(spark, sf_dir)


# --- O1: scan + row cap (kmeans_with_mapreduce-cuda.cu:52-70) --------------

@query(
    "o01_scan_limit",
    oracle=f"WITH points AS MATERIALIZED ({POINTS_SQL}) "
    "SELECT id, x, y FROM points ORDER BY id LIMIT 1000",
    doc="O1 scan: projection + deterministic first-N (NUM_INPUT row cap, "
    "config.cuh:12).  Pushdown check: only 3 lineitem columns are read.",
)
def o01_scan_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _points(spark, sf_dir).orderBy("id").limit(1000)


# --- O2: seeded k-sample (kmeans_with_mapreduce-cuda.cu:12-19) -------------

@query(
    "o02_seed_sample",
    oracle=f"WITH points AS MATERIALIZED ({POINTS_SQL}) "
    f"SELECT id, x, y FROM points ORDER BY {md5_long_sql('id', f'seed{SEED}:')}, id "
    "LIMIT 8",
    doc="O2 Forgy seeding, made deterministic + engine-portable: k rows by "
    "md5-order (fixes the reference RNG's inclusive bound and "
    "with-replacement draws, random_num_generator.hpp:17-28).",
)
def o02_seed_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _points(spark, sf_dir)
    return (
        p.select("id", "x", "y", md5_long("id", f"seed{SEED}:").alias("_k"))
        .orderBy("_k", "id")
        .limit(8)
        .drop("_k")
    )


# --- O3: squared-Euclidean distance expr (kmeans_mapreduce_core.cu:8-17) ---

_PX, _PY = 25.0, 60000.0

@query(
    "o03_distance_expr",
    oracle=f"WITH points AS MATERIALIZED ({POINTS_SQL}) "
    f"SELECT id, round((x - {_PX!r}) * (x - {_PX!r}) + (y - {_PY!r}) * (y - {_PY!r}), 2)"
    " AS dist FROM points WHERE id <= 20000",
    doc="O3 distance as a scalar column expression: (x1-x2)^2 + (y1-y2)^2, "
    "no sqrt -- float semantics of kmeans_mapreduce_core.cu:8-17.",
)
def o03_distance_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    # id <= 20000: gate-budget slice (the driver collects+hashes every
    # row; semantics are per-row, so a prefix checks them fully)
    p = _points(spark, sf_dir).where(F.col("id") <= 20000)
    dx, dy = F.col("x") - F.lit(_PX), F.col("y") - F.lit(_PY)
    return p.select("id", F.round(dx * dx + dy * dy, 2).alias("dist"))


# --- O4+O5: map stage -- nearest-centroid argmin (core.cu:21-44) -----------

@query(
    "o04_assign_argmin",
    oracle=f"WITH points AS MATERIALIZED ({POINTS_SQL}), cents AS {cents_sql(INIT_CENTROIDS_2D)} "
    + assign_sql() + " AND id <= 20000",
    doc="O4 map: per-point argmin over k broadcast centroid literals; ties "
    "to lowest cluster_id (strict < at kmeans_mapreduce_core.cu:27). "
    "Spark plan: pure projection, zero joins/shuffles; the oracle uses the "
    "independent cross-join+row_number formulation.",
)
def o04_assign_argmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    # id <= 20000: gate-budget slice (per-row semantics, see o03)
    return (
        assign_2d(_points(spark, sf_dir), INIT_CENTROIDS_2D)
        .where(F.col("id") <= 20000)
        .select("id", "x", "y", "cluster_id")
    )


@query(
    "o05_multi_emit",
    oracle=f"""
    WITH points AS MATERIALIZED ({POINTS_SQL}), cents AS {cents_sql(INIT_CENTROIDS_2D)}
    SELECT id, x, y, CAST(rn AS INTEGER) AS emit_rank, cluster_id FROM (
        SELECT p.id, p.x, p.y, c.cluster_id,
               ROW_NUMBER() OVER (
                   PARTITION BY p.id
                   ORDER BY (p.x - c.cx) * (p.x - c.cx)
                          + (p.y - c.cy) * (p.y - c.cy), c.cluster_id
               ) AS rn
        FROM points p CROSS JOIN cents c
        WHERE p.id <= 20000
    ) WHERE rn <= 2
    """,
    doc="O5 map fan-out generalized: the reference mapper writes into "
    "NUM_PAIRS fixed output slots per input row (kmeans_mapreduce_core."
    "cu:37-44, config.cuh:13); here each point EMITS TWO pairs -- its "
    "nearest and second-nearest centroid (soft assignment), via "
    "array_sort over (dist, cluster_id) structs + posexplode.  Narrow "
    "generator projection (no join, no shuffle); the oracle is the "
    "independent cross-join + row_number <= 2 formulation.",
)
def o05_multi_emit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import _dists_sql_2d

    p = _points(spark, sf_dir).where(F.col("id") <= 20000)
    dists = F.expr(_dists_sql_2d(INIT_CENTROIDS_2D, "x", "y"))
    pairs = F.transform(
        dists, lambda d, i: F.struct(d.alias("d"), i.cast("int").alias("c"))
    )
    top2 = F.slice(F.array_sort(pairs), 1, 2)
    return (
        p.select("id", "x", "y", F.posexplode(top2).alias("_pos", "_s"))
        .select(
            "id",
            "x",
            "y",
            (F.col("_pos") + 1).cast("int").alias("emit_rank"),
            F.col("_s.c").alias("cluster_id"),
        )
    )


# --- O4 n-D: nearest-centroid assignment over array<float> embeddings -----

_K_ND = 4

_ND_DIST = (
    "list_sum([ (z[1] - z[2]) * (z[1] - z[2]) FOR z IN list_zip(e.emb, c.cemb) ])"
)

_ND_ASSIGN_SQL = f"""
    WITH cents AS (
        SELECT CAST(vec_id AS INTEGER) AS cluster_id, embedding::DOUBLE[] AS cemb
        FROM embeddings WHERE vec_id < {_K_ND}
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    assigned AS (
        SELECT vec_id, emb, cluster_id FROM (
            SELECT e.vec_id, e.emb, c.cluster_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id ORDER BY {_ND_DIST}, c.cluster_id
                   ) AS rn
            FROM e CROSS JOIN cents c
        ) WHERE rn = 1
    )
"""


def _cents_nd(spark: SparkSession, sf_dir: str, k: int = _K_ND) -> list[list[float]]:
    """Deterministic n-D seed centroids: the embeddings of vec_id < k
    (tiny driver-side collect, the seeding boundary).  Memoized so
    o04/o09/o12-nd don't each pay the same ~0.3 s seed collect in one
    gate run.  Keyed on the embeddings' content because fixtures
    regenerate per round: a session spanning a regeneration must
    re-derive seeds from the new data, or the oracle (which always
    reads fresh) would see different centroids and report an opaque
    hash mismatch."""
    from ..sources.readers import fixture_memo, load_table

    def seeds() -> list[list[float]]:
        rows = (
            load_table(spark, sf_dir, "embeddings")
            .where(F.col("vec_id") < k)
            .orderBy("vec_id")
            .collect()
        )
        return [[float(v) for v in r["embedding"]] for r in rows]

    return fixture_memo(
        spark, sf_dir, ("embeddings",), ("cents_nd", sf_dir, k), seeds
    )


@query(
    "o04_assign_argmin_nd",
    oracle=_ND_ASSIGN_SQL + "SELECT vec_id, cluster_id FROM assigned",
    doc="O4 map stage generalized to n-D: nearest-centroid assignment over "
    "the 64-dim embedding column (k=4 centroids = embeddings of vec_id<4). "
    "Distance is a higher-order array expression (zip_with+aggregate), "
    "JVM-side; same ties-to-lowest-id semantics as the 2-D path.",
)
def o04_assign_argmin_nd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import assign_nd
    from ..sources.readers import load_table

    e = load_table(spark, sf_dir, "embeddings")
    return assign_nd(e, _cents_nd(spark, sf_dir)).select("vec_id", "cluster_id")


@query(
    "o09_centroid_update_nd",
    oracle=_ND_ASSIGN_SQL
    + "SELECT cluster_id, "
    + ", ".join(
        f"round(avg(emb[{i + 1}]), 6) AS c{i}" for i in range(64)
    )
    + ", CAST(count(*) AS BIGINT) AS n FROM assigned GROUP BY cluster_id",
    doc="O9 reduce generalized to n-D: per-cluster element-wise mean of the "
    "64-dim embeddings.  Spark projects each dim to a column first so the "
    "shuffle carries k x partitions rows (map-side combine), never the "
    "N x 64 explode a posexplode formulation would.",
)
def o09_centroid_update_nd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import assign_nd, update_nd
    from ..sources.readers import load_table

    e = load_table(spark, sf_dir, "embeddings")
    a = assign_nd(e, _cents_nd(spark, sf_dir))
    u = update_nd(a, dim=64)
    return u.selectExpr(
        "cluster_id",
        *[f"round(c{i}, 6) AS c{i}" for i in range(64)],
        "CAST(n AS BIGINT) AS n",
    )


# --- O6: shuffle sort by key (thrust::sort, core.cu:248) -------------------

@query(
    "o06_sort_by_key",
    oracle=f"""
    WITH points AS MATERIALIZED ({POINTS_SQL}), cents AS {cents_sql(INIT_CENTROIDS_2D)},
    assigned AS ({assign_sql()})
    SELECT id, cluster_id,
           ROW_NUMBER() OVER (ORDER BY cluster_id, id) AS pos
    FROM assigned WHERE id <= 20000
    """,
    doc="O6 shuffle-sort parity: global order by (key, id) exposed as a "
    "rank so the order-insensitive hash still checks ordering semantics. "
    "In the engine proper the sort is implicit in groupBy's shuffle; "
    "thrust::sort at kmeans_mapreduce_core.cu:248.",
)
def o06_sort_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    a = assign_2d(
        _points(spark, sf_dir).where(F.col("id") <= 20000), INIT_CENTROIDS_2D
    )
    w = Window.orderBy("cluster_id", "id")
    return a.select("id", "cluster_id", F.row_number().over(w).alias("pos"))


# --- O7: group boundaries == per-key counts (core.cu:71-107) ---------------

@query(
    "o07_group_counts",
    oracle=f"""
    WITH points AS MATERIALIZED ({POINTS_SQL}), cents AS {cents_sql(INIT_CENTROIDS_2D)},
    assigned AS ({assign_sql()})
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS n
    FROM assigned GROUP BY cluster_id
    """,
    doc="O7 segment index: per-cluster cardinalities (the reference's "
    "ClusterInfo start/len table, kmeans_mapreduce_core.cu:71-107, is "
    "exactly groupBy(key).count() modulo physical layout).",
)
def o07_group_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = assign_2d(_points(spark, sf_dir), INIT_CENTROIDS_2D)
    return a.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n"))


# --- O8/O9: reduce -- per-cluster mean (core.cu:54-69, 108-139) ------------

_UPDATE_SQL = f"""
    WITH points AS MATERIALIZED ({POINTS_SQL}), cents AS {cents_sql(INIT_CENTROIDS_2D)},
    assigned AS ({assign_sql()})
    SELECT cluster_id, round(avg(x), {ROUND_CENT}) AS cx,
           round(avg(y), {ROUND_CENT}) AS cy,
           CAST(count(*) AS BIGINT) AS n
    FROM assigned GROUP BY cluster_id
"""

@query(
    "o08_centroid_update",
    oracle=_UPDATE_SQL,
    doc="O8/O9 reduce: one full assign+update K-Means step -> new "
    "centroids.  Float means (the documented semantics, README.md:58), "
    "not the reference's racy block-partial mean (SURVEY.md §2.1). "
    "Spark's partial+final hash agg is the two-level tree reduction of "
    "kmeans_mapreduce_core.cu:108-139.",
)
def o08_centroid_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = assign_2d(_points(spark, sf_dir), INIT_CENTROIDS_2D)
    u = update_2d(a)
    return u.select(
        "cluster_id",
        F.round("cx", ROUND_CENT).alias("cx"),
        F.round("cy", ROUND_CENT).alias("cy"),
        F.col("n").cast("bigint").alias("n"),
    )


# --- O12: iteration -- two full steps, rounded between rounds --------------

def _iterated_sql(n_steps: int, id_cap: int | None = None) -> str:
    """n Lloyd steps as one SQL query (programmatically chained CTEs):
    round centroids to ROUND_CENT between rounds in BOTH engines so float
    drift cannot flip a boundary assignment.  Empty clusters keep the
    previous centroid (COALESCE against the prior round).  ``id_cap``
    bounds the input (both engines identically) for gate-budget depth
    variants -- two_steps stays full-size."""
    pts = POINTS_SQL
    if id_cap is not None:
        pts = f"SELECT * FROM ({POINTS_SQL}) WHERE id <= {id_cap}"
    ctes = [
        f"points AS MATERIALIZED ({pts})",
        f"cents0 AS (SELECT * FROM {cents_sql(INIT_CENTROIDS_2D)})",
    ]
    for i in range(1, n_steps):
        ctes.append(f"assign{i} AS ({assign_sql('points', f'cents{i - 1}')})")
        ctes.append(
            f"agg{i} AS (SELECT cluster_id, round(avg(x), {ROUND_CENT}) AS cx, "
            f"round(avg(y), {ROUND_CENT}) AS cy FROM assign{i} GROUP BY cluster_id)"
        )
        ctes.append(
            f"cents{i} AS (SELECT c.cluster_id, COALESCE(a.cx, c.cx) AS cx, "
            f"COALESCE(a.cy, c.cy) AS cy FROM cents{i - 1} c "
            f"LEFT JOIN agg{i} a ON c.cluster_id = a.cluster_id)"
        )
    ctes.append(
        f"assign{n_steps} AS ({assign_sql('points', f'cents{n_steps - 1}')})"
    )
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT cluster_id, round(avg(x), {ROUND_CENT}) AS cx,
           round(avg(y), {ROUND_CENT}) AS cy,
           CAST(count(*) AS BIGINT) AS n
    FROM assign{n_steps} GROUP BY cluster_id
    """
    )


def _iterated_spark(
    spark: SparkSession, sf_dir: str, n_steps: int, id_cap: int | None = None
) -> DataFrame:
    """Spark twin of :func:`_iterated_sql`: collect k rounded centroids
    between rounds (the reference's per-iteration driver boundary,
    kmeans_mapreduce_core.cu:250-251)."""
    p = _points(spark, sf_dir)
    if id_cap is not None:
        p = p.where(F.col("id") <= id_cap)
    cents = list(INIT_CENTROIDS_2D)
    for _ in range(n_steps - 1):
        u = update_2d(assign_2d(p, cents)).select(
            "cluster_id",
            F.round("cx", ROUND_CENT).alias("cx"),
            F.round("cy", ROUND_CENT).alias("cy"),
        )
        got = {int(r["cluster_id"]): (r["cx"], r["cy"]) for r in u.collect()}
        cents = [got.get(i, c) for i, c in enumerate(cents)]
    u = update_2d(assign_2d(p, cents))
    return u.select(
        "cluster_id",
        F.round("cx", ROUND_CENT).alias("cx"),
        F.round("cy", ROUND_CENT).alias("cy"),
        F.col("n").cast("bigint").alias("n"),
    )


@query(
    "o12_kmeans_two_steps",
    oracle=_iterated_sql(2),
    doc="O12 iterative refinement: two full Lloyd steps (assign -> mean -> "
    "re-assign -> mean), centroids rounded between rounds in both engines "
    "for cross-engine determinism.  The reference iterates a fixed 999x "
    "(config.cuh:11); the unchecked lloyd_2d exposes maxIter + tol.",
)
def o12_kmeans_two_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _iterated_spark(spark, sf_dir, 2)


@query(
    "o12_kmeans_five_steps",
    oracle=_iterated_sql(5, id_cap=10000),
    doc="O12 at depth: five chained Lloyd steps, SQL oracle generated "
    "programmatically (one CTE pair per round).  Exercises convergence "
    "behavior: by round 5 most centroids have locked so the oracle also "
    "checks empty-cluster retention (COALESCE) under drift.  Input bound "
    "to id <= 10000 in both engines: depth (5 chained rounds) is what "
    "this query verifies beyond two_steps, which stays full-size.",
)
def o12_kmeans_five_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _iterated_spark(spark, sf_dir, 5, id_cap=10000)


# --- O13: sink format (kmeans_with_mapreduce-cuda.cu:105-121) --------------

@query(
    "o13_sink_format",
    oracle=f"""
    WITH u AS ({_UPDATE_SQL})
    SELECT printf('Point: (%d,%d)', CAST(floor(cx) AS BIGINT),
                  CAST(floor(cy) AS BIGINT)) AS line
    FROM u
    """,
    doc="O13 sink: centroids formatted as the reference's 'Point: (x,y)' "
    "lines (operator<< at config.cuh:21-25); floor() in both engines "
    "because SQL casts round while Spark casts truncate.",
)
def o13_sink_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = o08_centroid_update(spark, sf_dir)
    return format_centroids(u, "cx", "cy", parity_ints=True)


# --- Elbow: SSE by k (model-selection instrumentation) ---------------------

def _sse_millions(points: DataFrame, cents, *lead: Column) -> DataFrame:
    """One row: the ``lead`` columns, then the SSE of ``points`` to their
    nearest of ``cents`` in millions, so cross-engine float-summation
    order cannot move the hash."""
    a = assign_2d(points, cents, keep_dist=True)
    return a.agg(
        *lead,
        F.round(F.sum("_mindist") / 1000000.0).cast("bigint").alias("sse_millions"),
    )


def _sse_sql_for(cents) -> str:
    return f"""
        SELECT CAST(round(sum(mind) / 1000000.0) AS BIGINT) FROM (
            SELECT min((p.x - c.cx) * (p.x - c.cx) + (p.y - c.cy) * (p.y - c.cy))
                AS mind
            FROM points p CROSS JOIN {cents_sql(cents)} c GROUP BY p.id
        )
    """


@query(
    "o14_sse_by_k",
    oracle=f"""
    WITH points AS MATERIALIZED ({POINTS_SQL})
    SELECT 4 AS k, ({_sse_sql_for(INIT_CENTROIDS_2D[:4])}) AS sse_millions
    UNION ALL
    SELECT 8 AS k, ({_sse_sql_for(INIT_CENTROIDS_2D)}) AS sse_millions
    """,
    doc="Elbow-curve instrumentation: SSE at k=4 vs k=8 (prefixes of the "
    "fixed centroid set) in one result -- the model-selection sweep a "
    "KMeans library exposes, fully oracle-checked.  More centroids can "
    "only lower SSE; the property is implied by the values.",
)
def o14_sse_by_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _points(spark, sf_dir)
    k4, k8 = (
        _sse_millions(p, INIT_CENTROIDS_2D[:k], F.lit(k).alias("k")) for k in (4, 8)
    )
    return k4.unionAll(k8)


# --- O3/O14: SSE objective (timing/quality instrumentation) ----------------

@query(
    "o14_sse",
    oracle=f"""
    WITH points AS MATERIALIZED ({POINTS_SQL}), cents AS {cents_sql(INIT_CENTROIDS_2D)}
    SELECT CAST(round(sum(mind) / 1000000.0) AS BIGINT) AS sse_millions FROM (
        SELECT min((p.x - c.cx) * (p.x - c.cx) + (p.y - c.cy) * (p.y - c.cy)) AS mind
        FROM points p CROSS JOIN cents c GROUP BY p.id
    )
    """,
    doc="Clustering objective: total SSE to nearest centroid, reported in "
    "millions so cross-engine float-summation order cannot move the hash.",
)
def o14_sse(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sse_millions(_points(spark, sf_dir), INIT_CENTROIDS_2D)


@query(
    "o14_silhouette",
    oracle=f"""
    WITH points AS MATERIALIZED ({POINTS_SQL}), cents AS {cents_sql(INIT_CENTROIDS_2D)},
    d AS (
        SELECT p.id, c.cluster_id,
               sqrt((p.x - c.cx) * (p.x - c.cx)
                    + (p.y - c.cy) * (p.y - c.cy)) AS dist,
               ROW_NUMBER() OVER (
                   PARTITION BY p.id
                   ORDER BY (p.x - c.cx) * (p.x - c.cx)
                            + (p.y - c.cy) * (p.y - c.cy), c.cluster_id
               ) AS rn
        FROM points p CROSS JOIN cents c
    ),
    ab AS (
        SELECT id,
               max(CASE WHEN rn = 1 THEN cluster_id END) AS cluster_id,
               max(CASE WHEN rn = 1 THEN dist END) AS a,
               max(CASE WHEN rn = 2 THEN dist END) AS b
        FROM d WHERE rn <= 2 GROUP BY id
    )
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS n,
           round(avg(CASE WHEN greatest(a, b) = 0 THEN 0.0
                          ELSE (b - a) / greatest(a, b) END), 6)
               AS mean_silhouette
    FROM ab GROUP BY cluster_id
    """,
    doc="Clustering-quality instrumentation beyond SSE: the simplified "
    "(centroid-based) silhouette -- a = Euclidean distance to the "
    "assigned centroid, b = distance to the nearest OTHER centroid, "
    "s = (b-a)/max(a,b), averaged per cluster.  True silhouette is "
    "O(n^2) point-to-point; the centroid form is THE variant that "
    "works at 100 TB because it rides the same literal-centroid "
    "shuffle-free projection as assignment (O4) plus one k-row "
    "aggregate -- the plan family of o14_sse.  Spark takes the two "
    "smallest of the k distances via array_sort on the literal "
    "distance array; the oracle independently derives them with a "
    "rn<=2 window over the cross join.  sqrt of identical doubles and "
    "the (b-a)/max division are bit-identical; the per-cluster mean "
    "is a float sum, so it rounds to 6.",
)
def o14_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import _argmin_sql, _dists_sql_2d

    p = _points(spark, sf_dir)
    d = p.withColumn(
        "_d2", F.expr(_dists_sql_2d(INIT_CENTROIDS_2D, "x", "y"))
    )
    d = d.select(
        F.expr(_argmin_sql("_d2")).alias("cluster_id"),
        F.sqrt(F.array_sort("_d2")[0]).alias("a"),
        F.sqrt(F.array_sort("_d2")[1]).alias("b"),
    )
    sil = F.when(F.greatest("a", "b") == 0.0, F.lit(0.0)).otherwise(
        (F.col("b") - F.col("a")) / F.greatest("a", "b")
    )
    return d.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(sil), 6).alias("mean_silhouette"),
    )


@query(
    "o14_calinski",
    oracle=f"""
    WITH points AS MATERIALIZED ({POINTS_SQL}), cents AS {cents_sql(INIT_CENTROIDS_2D)},
    assigned AS (
        SELECT id, x, y, cluster_id, mind FROM (
            SELECT p.id, p.x, p.y, c.cluster_id,
                   (p.x - c.cx) * (p.x - c.cx)
                       + (p.y - c.cy) * (p.y - c.cy) AS mind,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.id
                       ORDER BY (p.x - c.cx) * (p.x - c.cx)
                                + (p.y - c.cy) * (p.y - c.cy), c.cluster_id
                   ) AS rn
            FROM points p CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    per AS (
        SELECT cluster_id, count(*) AS nj,
               sum(CAST(x AS BIGINT)) AS sxj,
               sum(CAST(round(y * 100) AS BIGINT)) AS syj,
               sum(mind) AS wj
        FROM assigned GROUP BY cluster_id
    ),
    m AS (
        SELECT CAST(sum(nj) AS BIGINT) AS n,
               CAST(sum(sxj) AS BIGINT) AS sx,
               CAST(sum(syj) AS BIGINT) AS sy,
               CAST(round(sum(wj) / 1000000.0) AS BIGINT) AS w_millions,
               sum(nj * c.cx * c.cx) AS scx2, sum(nj * c.cx) AS scx1,
               sum(nj * c.cy * c.cy) AS scy2, sum(nj * c.cy) AS scy1
        FROM per JOIN cents c USING (cluster_id)
    ),
    b AS (
        SELECT n, w_millions,
               CAST(round((
                   ((scx2 - (2.0 * (CAST(sx AS DOUBLE) / n)) * scx1)
                    + n * ((CAST(sx AS DOUBLE) / n)
                           * (CAST(sx AS DOUBLE) / n)))
                   + ((scy2 - (2.0 * (CAST(sy AS DOUBLE) / 100.0 / n))
                           * scy1)
                      + n * ((CAST(sy AS DOUBLE) / 100.0 / n)
                             * (CAST(sy AS DOUBLE) / 100.0 / n)))
               ) / 1000000.0) AS BIGINT) AS b_millions
        FROM m
    )
    SELECT n, w_millions, b_millions,
           (CAST(b_millions AS DOUBLE) / {K2D - 1}.0)
               / (CAST(w_millions AS DOUBLE) / (n - {K2D}))
               AS ch_index
    FROM b
    """,
    doc="Calinski-Harabasz index over the fixed-centroid model: "
    "between-cluster dispersion B = sum_j n_j*||c_j - mean||^2 against "
    "within-cluster dispersion W (the SSE), as (B/(k-1))/(W/(n-k)).  "
    "Float discipline: the global mean comes from EXACT bigint "
    "coordinate sums (x integral, y in cents -- the rel_filter_agg "
    "idiom), so mean and per-cluster B terms are bit-identical; only "
    "the k-term and n-term float SUMS are order-sensitive and both are "
    "rounded to millions (the o14_sse contract), then the index is two "
    "IEEE divisions on those exact bigints -- emitted unrounded.  "
    "Plan: the O4 literal-centroid assignment (shuffle-free) + one "
    "k-row exchange with map-side partials; everything after is "
    "k-row-sized.  Reference parity face: O14's metric family "
    "(kmeans_with_mapreduce-cuda.cu timing span), extended like "
    "o14_sse/o14_silhouette.",
)
def o14_calinski(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = assign_2d(_points(spark, sf_dir), INIT_CENTROIDS_2D, keep_dist=True)
    per = a.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("nj"),
        F.sum(F.col("x").cast("bigint")).alias("sxj"),
        F.sum(F.round(F.col("y") * 100).cast("bigint")).alias("syj"),
        F.sum("_mindist").alias("wj"),
    )
    # B via expanded moments (sum nj*c^2, sum nj*c, global mean from
    # exact bigint sums): a direct "join per to a totals row" plan has
    # TWO consumers of the assignment lineage and scans + assigns the
    # corpus twice (the cdc_chunks v1 trap) -- the expansion folds
    # everything into ONE aggregation pass, single scan, plan-asserted.
    cx = F.lit(None).cast("double")
    cy = F.lit(None).cast("double")
    for i, (icx, icy) in enumerate(INIT_CENTROIDS_2D):
        cx = F.when(F.col("cluster_id") == i, F.lit(icx)).otherwise(cx)
        cy = F.when(F.col("cluster_id") == i, F.lit(icy)).otherwise(cy)
    m = per.agg(
        F.sum("nj").cast("bigint").alias("n"),
        F.sum("sxj").cast("bigint").alias("sx"),
        F.sum("syj").cast("bigint").alias("sy"),
        F.round(F.sum("wj") / 1000000.0).cast("bigint").alias("w_millions"),
        F.sum(F.col("nj") * cx * cx).alias("scx2"),
        F.sum(F.col("nj") * cx).alias("scx1"),
        F.sum(F.col("nj") * cy * cy).alias("scy2"),
        F.sum(F.col("nj") * cy).alias("scy1"),
    )
    mx = F.col("sx").cast("double") / F.col("n")
    my = F.col("sy").cast("double") / 100.0 / F.col("n")
    b_expr = (
        (F.col("scx2") - (F.lit(2.0) * mx) * F.col("scx1"))
        + F.col("n") * (mx * mx)
    ) + (
        (F.col("scy2") - (F.lit(2.0) * my) * F.col("scy1"))
        + F.col("n") * (my * my)
    )
    res = m.select(
        "n",
        "w_millions",
        F.round(b_expr / 1000000.0).cast("bigint").alias("b_millions"),
    )
    k = K2D
    ch = (F.col("b_millions").cast("double") / float(k - 1)) / (
        F.col("w_millions").cast("double") / (F.col("n") - k)
    )
    return res.select("n", "w_millions", "b_millions", ch.alias("ch_index"))


# --- O2 variant: deterministic farthest-point (k-means++-style) seeding ------

_FP_K = 4

def _fp_step_sql(prev_d: str, prev_c: str, out_d: str, out_c: str) -> str:
    """One maxmin step: fold the newest centroid into the running
    nearest-chosen distance, then take the farthest point (ties to
    lowest id)."""
    return f"""
    {out_d} AS (
        SELECT t.id, t.x, t.y,
               least(t.d, (t.x - c.cx) * (t.x - c.cx)
                        + (t.y - c.cy) * (t.y - c.cy)) AS d
        FROM {prev_d} t CROSS JOIN {prev_c} c
    ),
    {out_c} AS (SELECT x AS cx, y AS cy FROM {out_d} ORDER BY d DESC, id LIMIT 1)"""


_FP_ORACLE = (
    f"WITH points AS MATERIALIZED ({POINTS_SQL}),\n"
    "c0 AS (SELECT x AS cx, y AS cy FROM points ORDER BY id LIMIT 1),\n"
    "d1 AS (SELECT p.id, p.x, p.y, (p.x - c.cx) * (p.x - c.cx)"
    " + (p.y - c.cy) * (p.y - c.cy) AS d FROM points p CROSS JOIN c0 c),\n"
    "c1 AS (SELECT x AS cx, y AS cy FROM d1 ORDER BY d DESC, id LIMIT 1),"
    + _fp_step_sql("d1", "c1", "d2", "c2") + ","
    + _fp_step_sql("d2", "c2", "d3", "c3") + "\n"
    "SELECT CAST(0 AS INTEGER) AS cluster_id, cx, cy FROM c0\n"
    "UNION ALL SELECT CAST(1 AS INTEGER), cx, cy FROM c1\n"
    "UNION ALL SELECT CAST(2 AS INTEGER), cx, cy FROM c2\n"
    "UNION ALL SELECT CAST(3 AS INTEGER), cx, cy FROM c3"
)

@query(
    "o02_seed_farthest",
    oracle=_FP_ORACLE,
    doc="O2 upgraded: deterministic farthest-point (maxmin / k-means++-"
    "style) seeding, k=4 -- each step is one narrow scan ending in a "
    "max_by aggregate, exactly reproducible (no RNG), hash-checked "
    "against a chained-CTE SQL twin.  The principled replacement for "
    "the reference's wall-clock-seeded with-replacement draw "
    "(random_num_generator.hpp:17-28).",
)
def o02_seed_farthest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import seed_centroids_farthest

    # persist: the maxmin loop scans k times; the cached fixture is
    # already an 8-file parquet, so the persisted copy parallelizes
    # without an extra repartition shuffle
    pts = _points(spark, sf_dir).persist()
    try:
        cents = seed_centroids_farthest(pts, k=_FP_K)
    finally:
        pts.unpersist()
    return spark.createDataFrame(
        [(i, cx, cy) for i, (cx, cy) in enumerate(cents)],
        "cluster_id int, cx double, cy double",
    )


# --- O14 metric family: Davies-Bouldin index ---------------------------------

def _db_centroid_dists() -> list[tuple[int, int, float]]:
    """Pairwise Euclidean centroid distances, computed ONCE in Python
    with the same IEEE ops ((dx*dx + dy*dy) then sqrt) and baked as
    identical literals into BOTH the Spark expression and the oracle
    SQL -- the cross-engine question never arises."""
    import math

    out = []
    k = len(INIT_CENTROIDS_2D)
    for i in range(k):
        xi, yi = INIT_CENTROIDS_2D[i]
        for j in range(k):
            if i == j:
                continue
            xj, yj = INIT_CENTROIDS_2D[j]
            dx, dy = xi - xj, yi - yj
            out.append((i, j, math.sqrt(dx * dx + dy * dy)))
    return out


def _db_oracle() -> str:
    dm_rows = ", ".join(
        f"({i}, {j}, {d!r})" for i, j, d in _db_centroid_dists()
    )
    return f"""
    WITH points AS MATERIALIZED ({POINTS_SQL}), cents AS {cents_sql(INIT_CENTROIDS_2D)},
    lab AS (
        SELECT id, mind, cluster_id FROM (
            SELECT p.id, c.cluster_id,
                   (p.x - c.cx) * (p.x - c.cx)
                       + (p.y - c.cy) * (p.y - c.cy) AS mind,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.id
                       ORDER BY (p.x - c.cx) * (p.x - c.cx)
                                + (p.y - c.cy) * (p.y - c.cy), c.cluster_id
                   ) AS rn
            FROM points p CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    s AS (
        SELECT cluster_id, CAST(count(*) AS BIGINT) AS n,
               round(avg(sqrt(mind)), 6) AS scatter
        FROM lab GROUP BY cluster_id
    ),
    dm(i, j, d) AS (VALUES {dm_rows})
    SELECT si.cluster_id, si.n, si.scatter,
           max((si.scatter + sj.scatter) / dm.d) AS db_component
    FROM s si
    JOIN dm ON dm.i = si.cluster_id
    JOIN s sj ON sj.cluster_id = dm.j
    GROUP BY si.cluster_id, si.n, si.scatter
    ORDER BY si.cluster_id
    """


@query(
    "o14_davies_bouldin",
    oracle=_db_oracle(),
    doc="Davies-Bouldin index components, completing the O14 "
    "cluster-quality family (SSE, simplified silhouette, "
    "Calinski-Harabasz): per-cluster scatter s_i = mean distance to "
    "the assigned centroid, and DB_i = max over j != i of "
    "(s_i + s_j) / d(c_i, c_j) -- lower is better-separated.  Scale "
    "shape: scatter rides the same literal-centroid shuffle-free "
    "assignment projection as O4 plus one k-row aggregate; the "
    "max-ratio step is a k x (k-1) join of the k-row scatter table "
    "against a LITERAL pairwise centroid-distance relation (computed "
    "once in Python with the same IEEE ops and baked into BOTH "
    "engines, so d_ij is definitionally identical).  Float "
    "discipline: scatter is a multi-term float mean -> rounded 6 in "
    "both engines; the ratio arithmetic then runs on bit-identical "
    "rounded doubles and literal distances, so db_component is "
    "emitted UNROUNDED.",
)
def o14_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import _argmin_sql, _dists_sql_2d

    k = len(INIT_CENTROIDS_2D)
    p = _points(spark, sf_dir)
    d = p.withColumn(
        "_d2", F.expr(_dists_sql_2d(INIT_CENTROIDS_2D, "x", "y"))
    )
    a = d.select(
        F.expr(_argmin_sql("_d2")).alias("cluster_id"),
        F.sqrt(F.array_min("_d2")).alias("dist"),
    )
    s = a.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("dist"), 6).alias("scatter"),
    )
    # literal k x k distance matrix (0.0 on the diagonal, never read)
    dvals = {(i, j): dist for i, j, dist in _db_centroid_dists()}
    dmat = F.array(
        *[
            F.array(
                *[
                    F.lit(dvals.get((i, j), 0.0))
                    for j in range(k)
                ]
            )
            for i in range(k)
        ]
    )
    si = s.alias("si")
    sj = s.select(
        F.col("cluster_id").alias("j_id"),
        F.col("scatter").alias("j_scatter"),
    )
    pairs = si.crossJoin(F.broadcast(sj)).where(
        F.col("cluster_id") != F.col("j_id")
    )
    ratio = (F.col("scatter") + F.col("j_scatter")) / F.element_at(
        F.element_at(dmat, F.col("cluster_id") + 1),
        F.col("j_id") + 1,
    )
    return (
        pairs.select("cluster_id", "n", "scatter", ratio.alias("r"))
        .groupBy("cluster_id", "n", "scatter")
        .agg(F.max("r").alias("db_component"))
        .orderBy("cluster_id")
    )


# --- O2 at cluster scale: k-means|| (scalable k-means++) ---------------------

_KPP_L = 8           # oversampling factor per round (l in Bahmani et al.)
_KPP_M = 1_000_000   # md5-coin modulus: coin = md5 % M, uniform on [0, M)
#: structural bound on the per-round acceptance collect: expectation is
#: ~l accepted rows (sum of l*d2/total over points = l), so 64x l means
#: the acceptance probabilities are broken, not unlucky -- fail loudly
#: instead of pulling an unbounded set to the driver (VERDICT r6 item 6:
#: make the O(l) driver-traffic claim structural, not probabilistic).
_KPP_ACCEPT_CAP = 64 * _KPP_L


def _kpp_d2_sql(pts: str, cents: str, out: str) -> str:
    """Min integer distance^2 from every point to the center set."""
    return f"""{out} AS (
        SELECT p.id, p.xi, p.yi,
               min((p.xi - c.xi) * (p.xi - c.xi)
                   + (p.yi - c.yi) * (p.yi - c.yi)) AS d2
        FROM {pts} p CROSS JOIN {cents} c
        GROUP BY p.id, p.xi, p.yi
    )"""


def _kpp_accept_sql(d: str, t: str, salt: str, out: str) -> str:
    """Exact-integer Bernoulli accept: coin * total < l*M * d2 (hugeint)."""
    from ..functions.hashing import md5_long_sql

    coin = f"({md5_long_sql('d.id', salt)} % {_KPP_M})"
    return f"""{out} AS (
        SELECT d.id, d.xi, d.yi FROM {d} d, {t}
        WHERE CAST({coin} AS HUGEINT) * {t}.t
              < CAST({_KPP_L * _KPP_M} AS HUGEINT) * d.d2
    )"""


_KPP_ORACLE = (
    f"WITH points AS MATERIALIZED ({POINTS_SQL}),\n"
    "pts AS MATERIALIZED (SELECT id, x, y, CAST(round(x, 0) AS BIGINT) AS xi,"
    " CAST(round(y * 100, 0) AS BIGINT) AS yi FROM points"
    " WHERE id <= 20000),\n"
    f"c0 AS (SELECT id, xi, yi FROM pts ORDER BY {md5_long_sql('id', 'kpp0:')}, id LIMIT 1),\n"
    + _kpp_d2_sql("pts", "c0", "d1") + ",\n"
    "t1 AS (SELECT sum(d2) AS t FROM d1),\n"
    + _kpp_accept_sql("d1", "t1", "kpp1:", "a1") + ",\n"
    "c1 AS (SELECT * FROM c0 UNION ALL SELECT * FROM a1),\n"
    + _kpp_d2_sql("pts", "c1", "d2r") + ",\n"
    "t2 AS (SELECT sum(d2) AS t FROM d2r),\n"
    + _kpp_accept_sql("d2r", "t2", "kpp2:", "a2") + ",\n"
    "cand AS (SELECT * FROM c1 UNION ALL SELECT * FROM a2),\n"
    """assign AS (
        SELECT id, cand_id FROM (
            SELECT p.id, c.id AS cand_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.id
                       ORDER BY (p.xi - c.xi) * (p.xi - c.xi)
                              + (p.yi - c.yi) * (p.yi - c.yi), c.id
                   ) AS rn
            FROM pts p CROSS JOIN cand c
        ) WHERE rn = 1
    ),
    w AS (SELECT cand_id, CAST(count(*) AS BIGINT) AS weight
          FROM assign GROUP BY cand_id)
    SELECT w.cand_id, p.x, p.y, w.weight
    FROM w JOIN pts p ON p.id = w.cand_id
    ORDER BY w.weight DESC, w.cand_id
    LIMIT 8"""
)


@query(
    "o02_seed_kmeanspp",
    oracle=_KPP_ORACLE,
    doc="O2 at cluster scale: k-means|| (scalable k-means++, Bahmani et "
    "al. VLDB'12) made fully deterministic and engine-portable.  Each "
    "of 2 rounds computes every point's min distance^2 to the current "
    "center set and accepts points in PARALLEL with exact-integer "
    "Bernoulli(l*d2/total) coins: coords are lifted to exact bigints "
    "(quantity, cents), so d2 and total are exact; the md5 coin m in "
    "[0, 1e6) accepts iff m * total < l*1e6 * d2, compared in "
    "decimal/hugeint so no float ever enters the trial -- both engines "
    "accept IDENTICAL candidate sets at any scale.  The final step "
    "weights each candidate by the points it serves and emits the "
    "top-8 by weight -- the k-means|| reclustering input.  Contrast "
    "with o02_seed_farthest: farthest-point needs k sequential passes "
    "(one new center per scan); k-means|| needs O(rounds) passes "
    "independent of k, each selecting ~l centers in parallel -- the "
    "difference between 1000 barrier stages and 2 on a 100 TB corpus.  "
    "Scale shape per round: one shuffle-free projection over k center "
    "literals, one scalar sum to the driver, one filter collecting ~l "
    "rows -- driver traffic is O(l), never O(points).  Replaces the "
    "reference's wall-clock-seeded draw (random_num_generator.hpp:"
    "17-28) with the seeding you would actually run on a cluster.",
)
def o02_seed_kmeanspp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import iteration_confs

    p = _points(spark, sf_dir).where(F.col("id") <= 20000)
    pts = p.select(
        "id",
        "x",
        "y",
        F.round(F.col("x"), 0).cast("bigint").alias("xi"),
        F.round(F.col("y") * 100, 0).cast("bigint").alias("yi"),
    ).persist()
    # iteration confs (the lloyd_2d discipline, r10): each round bakes
    # fresh center literals into a throwaway plan and collects <= l+1
    # rows, so per-job AQE re-planning and Janino compiles buy nothing.
    with iteration_confs(spark):
        return _o02_seed_kmeanspp_body(spark, pts)


def _o02_seed_kmeanspp_body(spark: SparkSession, pts) -> DataFrame:
    try:
        r0 = (
            pts.select("id", "xi", "yi", md5_long("id", "kpp0:").alias("_k"))
            .orderBy("_k", "id")
            .limit(1)
            .collect()[0]
        )
        centers: list[tuple[int, int, int]] = [(r0["id"], r0["xi"], r0["yi"])]

        def d2_expr(cents: list[tuple[int, int, int]]):
            terms = [
                (F.col("xi") - F.lit(cx)) * (F.col("xi") - F.lit(cx))
                + (F.col("yi") - F.lit(cy)) * (F.col("yi") - F.lit(cy))
                for (_cid, cx, cy) in cents
            ]
            return F.least(*terms) if len(terms) > 1 else terms[0]

        for rnd in (1, 2):
            d2 = d2_expr(centers)
            total = int(pts.select(F.sum(d2).alias("t")).collect()[0]["t"])
            coin = md5_long("id", f"kpp{rnd}:") % _KPP_M
            accept = coin.cast("decimal(7,0)") * F.lit(total).cast(
                "decimal(19,0)"
            ) < F.lit(_KPP_L * _KPP_M).cast("decimal(7,0)") * d2.cast(
                "decimal(19,0)"
            )
            acc = (
                pts.where(accept)
                .select("id", "xi", "yi")
                .orderBy("id")
                .limit(_KPP_ACCEPT_CAP + 1)
                .collect()
            )
            if len(acc) > _KPP_ACCEPT_CAP:
                raise RuntimeError(
                    f"k-means|| round {rnd} accepted > {_KPP_ACCEPT_CAP} "
                    f"candidates (l={_KPP_L}; expectation ~l per round): "
                    "the Bernoulli acceptance is broken -- refusing to "
                    "collect an unbounded set to the driver"
                )
            centers += [(r["id"], r["xi"], r["yi"]) for r in acc]

        # weight step: nearest-candidate argmin (ties -> lowest cand id)
        # as an array_min over (d2, cand_id) structs -- one shuffle-free
        # projection + one small hash agg, the O4 assignment shape.
        structs = [
            F.struct(
                (
                    (F.col("xi") - F.lit(cx)) * (F.col("xi") - F.lit(cx))
                    + (F.col("yi") - F.lit(cy)) * (F.col("yi") - F.lit(cy))
                ).alias("d"),
                F.lit(cid).cast("bigint").alias("c"),
            )
            for (cid, cx, cy) in centers
        ]
        w = (
            pts.select(F.array_min(F.array(*structs))["c"].alias("cand_id"))
            .groupBy("cand_id")
            .agg(F.count("*").cast("bigint").alias("weight"))
        )
        coords = pts.select(F.col("id").alias("cand_id"), "x", "y")
        out = (
            w.join(F.broadcast(coords), "cand_id")
            .select("cand_id", "x", "y", "weight")
            .orderBy(F.desc("weight"), "cand_id")
            .limit(8)
        )
        # materialize before unpersist (the _eager contract): collect the
        # <= 8 result rows while the slice cache is still alive
        rows = out.collect()
    finally:
        pts.unpersist()
    return spark.createDataFrame(rows, "cand_id bigint, x double, y double, weight bigint")


# --- O12 at corpus scale: mini-batch k-means ---------------------------------

_MB_ROUNDS = 3   # refinement rounds (each sees an independent batch)
_MB_MOD = 4      # md5-coin modulus: ~1/4 of the corpus per batch


def _minibatch_sql() -> str:
    """Mini-batch k-means as chained CTEs: per round, a deterministic
    md5-coin batch (~25%) is assigned to the current centroids and the
    centroids take a BATCH-AGGREGATE step
    ``c' = (n_seen*c + nb*mean_batch) / (n_seen + nb)`` -- the
    distributed-friendly variant of Sculley's per-point SGD update
    (identical in expectation, order-independent, so it is expressible
    as one aggregation per round in any engine).  All means are rounded
    to ROUND_CENT between rounds (the o12 cross-engine contract);
    clusters absent from a batch keep centroid and count unchanged."""
    ctes = [
        f"points AS MATERIALIZED ({POINTS_SQL})",
        "cents0 AS (SELECT cluster_id, cx, cy, CAST(0 AS BIGINT) AS n "
        f"FROM {cents_sql(INIT_CENTROIDS_2D)})",
    ]
    for r in range(1, _MB_ROUNDS + 1):
        coin = md5_long_sql("id", f"mb{r}:")
        ctes.append(
            f"batch{r} AS (SELECT * FROM points WHERE {coin} % {_MB_MOD} = 0)"
        )
        ctes.append(f"assign{r} AS ({assign_sql(f'batch{r}', f'cents{r - 1}')})")
        ctes.append(
            f"agg{r} AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS nb, "
            f"round(avg(x), {ROUND_CENT}) AS mx, "
            f"round(avg(y), {ROUND_CENT}) AS my "
            f"FROM assign{r} GROUP BY cluster_id)"
        )
        ctes.append(
            f"cents{r} AS (SELECT c.cluster_id, "
            "CASE WHEN a.nb IS NULL THEN c.cx ELSE "
            f"round((c.n * c.cx + a.nb * a.mx) / (c.n + a.nb), {ROUND_CENT}) "
            "END AS cx, "
            "CASE WHEN a.nb IS NULL THEN c.cy ELSE "
            f"round((c.n * c.cy + a.nb * a.my) / (c.n + a.nb), {ROUND_CENT}) "
            "END AS cy, "
            "c.n + COALESCE(a.nb, CAST(0 AS BIGINT)) AS n "
            f"FROM cents{r - 1} c LEFT JOIN agg{r} a "
            "ON c.cluster_id = a.cluster_id)"
        )
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT cluster_id, cx, cy, n AS n_seen FROM cents{_MB_ROUNDS}"
    )


@query(
    "o12_kmeans_minibatch",
    oracle=_minibatch_sql(),
    doc="O12 at corpus scale: mini-batch k-means (Sculley, WWW'10) with "
    "the batch-AGGREGATE update -- each of 3 rounds samples ~25% of the "
    "corpus via a deterministic md5 Bernoulli coin (seeded per round, "
    "zero RNG state), assigns only the batch (shuffle-free literal-"
    "centroid projection, the O4 shape), and moves each centroid to the "
    "count-weighted mean of its history and the batch: "
    "c' = (n_seen*c + nb*mean_batch)/(n_seen + nb), n_seen += nb.  "
    "Sculley's per-point SGD step is ORDER-DEPENDENT (each point "
    "updates c before the next draws it), which no data-parallel engine "
    "can reproduce deterministically; the batch-aggregate form is the "
    "variant distributed systems actually run -- one hash aggregation "
    "per round, same convergence class, bit-reproducible.  Why it "
    "matters at 100 TB: a full Lloyd pass costs one corpus scan PER "
    "ITERATION; mini-batch cuts per-round cost to the batch fraction "
    "while the md5 coin keeps batches disjoint-in-expectation and "
    "re-derivable by any engine (no sampled-data materialization, no "
    "seed state to ship).  Update arithmetic is the same expression "
    "tree in both engines (bigint*double products, one sum, one "
    "division, round to ROUND_CENT), so centroids stay bit-identical "
    "round by round; clusters absent from a batch keep centroid and "
    "count (COALESCE, the o12 empty-cluster contract).  Reference "
    "parity: replaces the fixed 999 full passes (config.cuh:11) with "
    "the sublinear refinement you would run when one pass is hours.",
)
def o12_kmeans_minibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import iteration_confs

    p = _points(spark, sf_dir)
    # state rows: (cluster_id, cx, cy, n_seen) -- driver-side, k rows
    state: list[tuple[int, float, float, int]] = [
        (i, cx, cy, 0) for i, (cx, cy) in enumerate(INIT_CENTROIDS_2D)
    ]
    with iteration_confs(spark):
        state = _o12_minibatch_rounds(p, state)
    return spark.createDataFrame(
        state, "cluster_id int, cx double, cy double, n_seen bigint"
    )


def _o12_minibatch_rounds(p, state):
    """The mini-batch rounds, run under iteration_confs (the lloyd_2d
    discipline, r10): each round bakes the previous state into literal
    arrays and collects k rows -- per-job AQE re-planning and Janino
    compiles are throwaway overhead."""
    for r in range(1, _MB_ROUNDS + 1):
        cents = [(cx, cy) for (_i, cx, cy, _n) in state]
        batch = p.where(md5_long("id", f"mb{r}:") % _MB_MOD == 0)
        agg = (
            assign_2d(batch, cents)
            .groupBy("cluster_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("nb"),
                F.round(F.avg("x"), ROUND_CENT).alias("mx"),
                F.round(F.avg("y"), ROUND_CENT).alias("my"),
            )
        )
        # previous state as literal arrays indexed by cluster_id: the
        # update expression evaluates IN SPARK (same tree as the oracle
        # CTE; driver-side Python arithmetic would round half-to-even
        # where SQL rounds half-away -- the float-discipline landmine)
        idx = F.col("cluster_id").cast("int") + 1
        prev_cx = F.element_at(F.array(*[F.lit(s[1]) for s in state]), idx)
        prev_cy = F.element_at(F.array(*[F.lit(s[2]) for s in state]), idx)
        prev_n = F.element_at(
            F.array(*[F.lit(s[3]).cast("bigint") for s in state]), idx
        )
        upd = agg.select(
            "cluster_id",
            F.round(
                (prev_n * prev_cx + F.col("nb") * F.col("mx"))
                / (prev_n + F.col("nb")),
                ROUND_CENT,
            ).alias("cx"),
            F.round(
                (prev_n * prev_cy + F.col("nb") * F.col("my"))
                / (prev_n + F.col("nb")),
                ROUND_CENT,
            ).alias("cy"),
            (prev_n + F.col("nb")).alias("n"),
        )
        got = {int(row["cluster_id"]): row for row in upd.collect()}
        state = [
            (i, got[i]["cx"], got[i]["cy"], int(got[i]["n"]))
            if i in got
            else (i, cx0, cy0, n0)
            for (i, cx0, cy0, n0) in state
        ]
    return state
