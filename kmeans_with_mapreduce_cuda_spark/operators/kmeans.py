"""K-Means primitive layer: each reference MapReduce stage as an explicit,
oracle-checkable DataFrame transformation.

Reference pipeline per iteration (kmeans_mapreduce_core.cu:237-259):
  map: nearest-centroid assignment           (:21-35)   -> assign_2d/assign_nd
  shuffle: thrust sort by cluster_id         (:248)     -> implicit in groupBy
  segment index: per-key [start,len)         (:71-107)  -> implicit (hash agg)
  reduce: per-cluster sum/mean               (:108-139) -> update_2d / update_nd
  driver loop x ITERATIONS                   (:237)     -> lloyd_2d / lloyd_nd

Each job has one implementation, shared by the 2-D and n-D names: one
argmin (_argmin_sql), one assignment (_assign), one single-statement
step (_step_sql), one driver loop (_lloyd) and one Forgy seeding
(_forgy).

Physical shape (why this scales to 100 TB):
- Centroids are k literal values baked into a projection -- the "broadcast"
  is the query plan itself.  Assignment is a pure narrow map: zero joins,
  zero shuffles, whole-stage codegen end to end.
- The only shuffle per iteration is the groupBy(cluster_id) update, which
  does map-side partial aggregation (Spark's analog of the reference's
  shared-memory block reduction, :108-139) so the shuffle carries
  k * num_partitions rows, not N.
- Per iteration exactly k rows cross to the driver -- same boundary as the
  reference's per-iteration cluster_info D2H copy (:250-251).

Semantics choices (SURVEY.md §2.1 fine print): float means (the documented
algorithm, README.md:43-61, not the racy block-partial reduce), ties to the
lowest cluster_id (strict < at :27), empty clusters keep the previous
centroid, seeded deterministic init (not the wall-clock RNG with its
inclusive-bound off-by-one, random_num_generator.hpp:17-28).
"""

from __future__ import annotations

import math
from collections.abc import Callable, Sequence
from contextlib import contextmanager
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import stable_sample_key

#: 2-D centroids: ordered list of (x, y); index == cluster_id.
Centroids2D = Sequence[tuple[float, float]]
#: n-D centroids: ordered list of coordinate vectors; index == cluster_id.
CentroidsND = Sequence[Sequence[float]]


# ---------------------------------------------------------------------------
# Map stage: nearest-centroid assignment (O3 + O4)
# ---------------------------------------------------------------------------

@contextmanager
def iteration_confs(spark):
    """Loop-tuned session confs for the iterative path: AQE off (its
    per-job re-planning costs ~0.15 s and buys nothing on a k-row
    shuffle), a narrow reduce stage (post-combine the shuffle carries
    k rows per map partition; 32 reduce tasks for 15 keys is pure task-
    launch overhead), and whole-stage codegen OFF: every iteration bakes
    new centroid literals into the plan, so each Janino compile
    (~0.3 s) is thrown away after one job -- expression-level codegen
    alone runs the 600k-row pass at the same speed without the per-
    iteration compile.  Restores prior values on exit.  Measured on
    sf0.1: 0.62 -> 0.33 s/iteration cold (warm same-trajectory runs hit
    the Janino cache either way).

    Session-global by design (Spark confs are session state), so two
    rules guard it (r10 verdict item 7): the session must not plan
    unrelated queries concurrently during the window (true for every
    harness/gate/bench entry point -- all single-threaded), and nesting
    is made SAFE rather than forbidden -- an inner ``iteration_confs``
    becomes a no-op, so the OUTERMOST exit restores the true pre-loop
    values instead of an inner exit "restoring" the loop confs as if
    they were user state (the bug a naive save/restore has under
    nesting, exception paths included).
    """
    already = getattr(spark, "_iteration_confs_active", False)
    if already:
        yield
        return
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    old_ws = spark.conf.get("spark.sql.codegen.wholeStage")
    spark._iteration_confs_active = True
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try:
        yield
    finally:
        spark._iteration_confs_active = False
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        spark.conf.set("spark.sql.codegen.wholeStage", old_ws)


def _argmin_sql(arr: str) -> str:
    """0-based INT index of the smallest element of the distance array
    ``arr``: the nearest centroid, ties to the lowest id
    (array_position finds the first occurrence == the reference's
    strict ``<`` at kmeans_mapreduce_core.cu:27)."""
    return f"CAST(array_position({arr}, array_min({arr})) - 1 AS INT)"


def _assign(
    points: DataFrame, dists_sql: str, out: str, keep_dist: bool
) -> DataFrame:
    d = points.withColumn("_dists", F.expr(dists_sql))
    d = d.withColumn(out, F.expr(_argmin_sql("_dists")))
    if keep_dist:
        d = d.withColumn("_mindist", F.array_min("_dists"))
    return d.drop("_dists")


def _dists_sql_2d(centroids: Centroids2D, x: str, y: str) -> str:
    """Literal distance-array expression as ONE SQL string: a k=15 loop
    of Python Column algebra costs ~100 py4j round trips per iteration;
    one expr() parse is ~free.  CAST(repr AS DOUBLE) round-trips the
    exact double (plain SQL decimals would parse as DECIMAL type)."""
    terms = ",".join(
        f"((`{x}` - CAST({float(cx)!r} AS DOUBLE)) * (`{x}` - CAST({float(cx)!r} AS DOUBLE))"
        f" + (`{y}` - CAST({float(cy)!r} AS DOUBLE)) * (`{y}` - CAST({float(cy)!r} AS DOUBLE)))"
        for cx, cy in centroids
    )
    return f"array({terms})"


def assign_2d(
    points: DataFrame,
    centroids: Centroids2D,
    x: str = "x",
    y: str = "y",
    out: str = "cluster_id",
    keep_dist: bool = False,
) -> DataFrame:
    """Assign each point to its nearest centroid (squared Euclidean).

    The k distances are one literal array expression and the argmin
    ties to the lowest id (_argmin_sql).  Narrow transformation: no
    shuffle.
    """
    return _assign(points, _dists_sql_2d(centroids, x, y), out, keep_dist)


def _dists_sql_nd(centroids: CentroidsND, feats: str) -> str:
    """n-D literal distance-array as ONE SQL string over a pre-cast
    array<double> column ``feats``.

    Same zip_with/aggregate fold as functions.distance.sq_dist_arrays
    (identical float addition order -> bit-identical results), but
    rendered as SQL text: the Column-API formulation costs ~k*dim py4j
    round trips per plan build (~0.8 s for k=8, dim=64 before a single
    row moves); one parse is JVM-side and ~free.  Measured: build
    0.84 -> 0.25 s, exec unchanged.  (An explicit k*dim-term polynomial
    expansion was measured WORSE on both axes -- the 3000-node tree
    slows analysis and evaluation; keep the HOF form.)
    """
    entries = []
    for c in centroids:
        lits = ",".join(f"CAST({float(v)!r} AS DOUBLE)" for v in c)
        entries.append(
            f"aggregate(zip_with(`{feats}`, array({lits}),"
            " (p, q) -> (p-q)*(p-q)),"
            " CAST(0.0 AS DOUBLE), (acc, v) -> acc+v)"
        )
    return f"array({','.join(entries)})"


def assign_nd(
    points: DataFrame,
    centroids: CentroidsND,
    features: str = "embedding",
    out: str = "cluster_id",
    keep_dist: bool = False,
) -> DataFrame:
    """n-D variant over an array<float/double> column (embeddings table)."""
    e = points.withColumn("_e", F.col(features).cast("array<double>"))
    return _assign(e, _dists_sql_nd(centroids, "_e"), out, keep_dist).drop("_e")


# ---------------------------------------------------------------------------
# Reduce stage: per-cluster mean (O7 + O8/O9)
# ---------------------------------------------------------------------------

def update_2d(
    assigned: DataFrame, x: str = "x", y: str = "y", cluster: str = "cluster_id"
) -> DataFrame:
    """groupBy(cluster).agg(avg, count): Spark's partial+final hash
    aggregation IS the reference's two-level block reduction
    (kmeans_mapreduce_core.cu:108-139) -- map-side combine shrinks the
    shuffle to k rows per partition.
    """
    return assigned.groupBy(cluster).agg(
        F.avg(x).alias("cx"), F.avg(y).alias("cy"), F.count(F.lit(1)).alias("n")
    )


def update_nd(
    assigned: DataFrame,
    dim: int,
    features: str = "embedding",
    cluster: str = "cluster_id",
) -> DataFrame:
    """Per-cluster element-wise mean of an array column.

    Projects each dimension to its own column first so the aggregation is
    a plain multi-column avg with map-side combine -- the shuffle carries
    k * partitions rows of d doubles, never the N x d explode that a
    posexplode formulation would pay.

    Driver-side economy: expressions are passed as string batches
    (selectExpr / dict-agg), not per-dim Column objects -- for dim=64
    that is ~4 py4j round trips instead of ~200 (measured ~0.5 s of
    plan-build per call at dim=64).
    """
    proj = assigned.selectExpr(
        f"`{cluster}`", f"CAST(`{features}` AS ARRAY<DOUBLE>) AS _e"
    ).selectExpr(
        f"`{cluster}`", *[f"_e[{i}] AS _f{i}" for i in range(dim)]
    )
    agged = proj.groupBy(cluster).agg(
        {**{f"_f{i}": "avg" for i in range(dim)}, "*": "count"}
    )
    return agged.selectExpr(
        f"`{cluster}`",
        *[f"`avg(_f{i})` AS c{i}" for i in range(dim)],
        "`count(1)` AS n",
    )


# ---------------------------------------------------------------------------
# One step + driver loop (O12)
# ---------------------------------------------------------------------------

def _step_sql(src: str, cols: str, dists: str, avgs: str) -> str:
    """One assign+update iteration as a single SQL statement: the same
    expressions as _assign + update_* (same literal distance array, same
    _argmin_sql, same avg/count), so the result is bit-identical -- but
    the per-iteration driver cost is ONE spark.sql parse instead of ~10
    py4j DataFrame-building round trips, which is the measured
    difference between 2.3 s and 2.0 s for the birch-10k 20-iteration
    parity run (the per-job floor, NOTES.md)."""
    return f"""
        SELECT cluster_id, {avgs}, count(1) AS n
        FROM (SELECT {cols}, {_argmin_sql("d")} AS cluster_id
              FROM (SELECT {cols}, {dists} AS d FROM {src}))
        GROUP BY cluster_id
    """


def _step_sql_2d(view: str, centroids: Centroids2D, x: str, y: str) -> str:
    return _step_sql(
        view,
        f"`{x}`, `{y}`",
        _dists_sql_2d(centroids, x, y),
        f"avg(`{x}`) AS cx, avg(`{y}`) AS cy",
    )


def _step_sql_nd(
    view: str, centroids: CentroidsND, dim: int, features: str
) -> str:
    return _step_sql(
        f"(SELECT CAST(`{features}` AS ARRAY<DOUBLE>) AS _e FROM {view})",
        "_e",
        _dists_sql_nd(centroids, "_e"),
        ",".join(f"avg(_e[{i}]) AS c{i}" for i in range(dim)),
    )


def _lloyd(
    points: DataFrame,
    init: CentroidsND,
    max_iter: int,
    tol: float,
    step_sql: Callable[[str, list], str],
) -> list[tuple[float, ...]]:
    """Lloyd's iterations with an actual convergence test (the reference's
    README documents one but the loop is a fixed 999 rounds,
    config.cuh:11 vs README.md:20-22 -- we expose both maxIter and tol).

    ``points`` is cached by the caller (device-resident analog,
    kmeans_mapreduce_core.cu:232-235); each iteration re-bakes the k new
    centroid literals into the plan, so lineage stays one stage deep and
    needs no checkpointing.  ``step_sql(view, centroids)`` renders one
    iteration (_step_sql), whose rows are (cluster_id, coords..., n):
    one job and k rows to the driver per iteration.  Empty clusters
    keep their previous centroid.
    """
    spark = points.sparkSession
    cents = [tuple(map(float, c)) for c in init]
    # The view is deliberately NOT dropped afterwards: dropTempView on a
    # view over a cached DataFrame invalidates the cache's materialized
    # buffers even though the registration survives -- every subsequent
    # pass over ``points`` (this loop's next call, the caller's own
    # queries) re-scans the source, measured 0.17 -> 0.7 s/iteration at
    # sf0.1, permanently.  The per-object name makes re-registration
    # idempotent; the leaked catalog entry is metadata only.
    view = f"_lloyd_pts_{id(points)}"
    points.createOrReplaceTempView(view)
    with iteration_confs(spark):
        for _ in range(max_iter):
            rows = spark.sql(step_sql(view, cents)).collect()
            got = {int(r[0]): r[1:-1] for r in rows}
            new = [got.get(i, c) for i, c in enumerate(cents)]
            shift = max(math.dist(n, c) for n, c in zip(new, cents))
            cents = new
            if shift <= tol:
                break
    return cents


def lloyd_2d(
    points: DataFrame,
    init: Centroids2D,
    max_iter: int = 20,
    tol: float = 1e-6,
    x: str = "x",
    y: str = "y",
) -> list[tuple[float, float]]:
    """2-D Lloyd loop over columns ``x``, ``y`` (see _lloyd)."""
    return _lloyd(points, init, max_iter, tol, partial(_step_sql_2d, x=x, y=y))


def lloyd_nd(
    points: DataFrame,
    init: CentroidsND,
    max_iter: int = 20,
    tol: float = 1e-6,
    features: str = "embedding",
) -> list[list[float]]:
    """n-D Lloyd loop over an array column (see _lloyd)."""
    step = partial(_step_sql_nd, dim=len(init[0]), features=features)
    return [list(c) for c in _lloyd(points, init, max_iter, tol, step)]


def sse_2d(
    points: DataFrame, centroids: Centroids2D, x: str = "x", y: str = "y"
) -> float:
    """Sum of squared distances to assigned centroids (Lloyd's monotone
    objective -- the property tests assert it never increases)."""
    a = assign_2d(points, centroids, x, y, keep_dist=True)
    return float(a.agg(F.sum("_mindist")).collect()[0][0])


# ---------------------------------------------------------------------------
# Seeding (O2)
# ---------------------------------------------------------------------------

def _forgy(points: DataFrame, k: int, seed: int, key: str, *cols) -> list:
    """Deterministic Forgy init: k rows by md5-order of the key column --
    uniform-ish, seeded, WITHOUT replacement, and reproducible across
    engines (replaces random_num_generator.hpp:17-28; fixes its inclusive
    upper bound and with-replacement draws, SURVEY.md §2.1).  Returns
    the picked rows, ``cols`` first.
    """
    return (
        points.select(*cols, key, stable_sample_key(key, seed).alias("_k"))
        .orderBy("_k", key)
        .limit(k)
        .collect()
    )


def seed_centroids_2d(
    points: DataFrame, k: int, seed: int = 42, key: str = "id", x: str = "x", y: str = "y"
) -> list[tuple[float, float]]:
    """Forgy seeding over columns ``x``, ``y`` (see _forgy)."""
    return [
        (float(r[0]), float(r[1])) for r in _forgy(points, k, seed, key, x, y)
    ]


def seed_centroids_farthest(
    points: DataFrame,
    k: int,
    key: str = "id",
    x: str = "x",
    y: str = "y",
) -> list[tuple[float, float]]:
    """Deterministic farthest-point (maxmin) init -- the k-means++ idea
    with the weighted RNG draw replaced by the argmax, so it is exactly
    reproducible and SQL-oracle-checkable (k-means++ picks ~the same
    spread in expectation; MLlib's k-means|| is the sampled scale-out
    variant).  Start = lowest-key row; each step picks the point
    farthest from its nearest chosen centroid, ties to the lowest key.

    Cost: k narrow scans, each ending in one max_by aggregate (partial
    agg -> 1 row per partition -> 1 row to the driver).  Nothing but k
    rows ever leaves the executors, so the 100 TB path is k passes over
    a cached projection.  The loop runs under ``iteration_confs`` --
    the lloyd_2d discipline (r10): every pass bakes fresh centroid
    literals into a throwaway plan and ends in a 1-row aggregate, so
    per-pass AQE re-planning and Janino compiles are pure overhead.
    """
    with iteration_confs(points.sparkSession):
        first = points.select(key, x, y).orderBy(key).limit(1).collect()[0]
        cents: list[tuple[float, float]] = [(float(first[x]), float(first[y]))]
        for _ in range(k - 1):
            d = points.withColumn("_d", F.expr(_dists_sql_2d(cents, x, y)))
            best = d.select(
                F.expr(
                    f"max_by(struct(`{x}`, `{y}`), "
                    f"struct(array_min(_d), -`{key}`))"
                ).alias("s")
            ).collect()[0]["s"]
            cents.append((float(best[x]), float(best[y])))
    return cents


def seed_centroids_nd(
    points: DataFrame, k: int, seed: int = 42, key: str = "vec_id", features: str = "embedding"
) -> list[list[float]]:
    """Forgy seeding over an array column (see _forgy)."""
    feats = F.col(features).cast("array<double>")
    return [[float(v) for v in r[0]] for r in _forgy(points, k, seed, key, feats)]
