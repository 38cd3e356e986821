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
step (_step_sql), one driver loop (_iterate) and one Forgy seeding
(_forgy).  lloyd_2d has a second step for integer points (_GridStep)
that follows the SQL step's trajectory bit for bit.

Physical shape (why this scales to 100 TB):
- Centroids are k literal values baked into a projection -- the "broadcast"
  is the query plan itself.  Assignment is a pure narrow map: zero joins,
  zero shuffles, whole-stage codegen end to end.
- The only shuffle per iteration is the groupBy(cluster_id) update, which
  does map-side partial aggregation (Spark's analog of the reference's
  shared-memory block reduction, :108-139) so the shuffle carries
  k * num_partitions rows, not N.
- Per iteration of the SQL step exactly k rows cross to the driver --
  same boundary as the reference's per-iteration cluster_info D2H copy
  (:250-251).

Integer points (lloyd_2d over integral x/y with no NULLs, at most
HELD_POINTS_MAX points and max|coord| * n < 2**53; Birch data is
integer) take the grid step: Kanungo et al.'s filtering (TPAMI 2002) on
a fixed 128 x 128 grid over the bounding box, with every point held on
the driver (the analog of the reference's device-resident points,
kmeans_mapreduce_core.cu:232-235).
- Prep, once per call, 2 jobs and no shuffle: a guard aggregate
  (count, NULLs, bounding box) and one toArrow fetch of every point.
  Per-cell sums, counts and point bounding boxes are numpy (a stable
  sort by cell, then reduceat).
- Selection, per iteration on the driver: a cell is owned when one
  centroid beats every other at all 4 corners of the cell's point
  bounding box by a 2**-40 relative margin.  d_i - d_j is affine in
  the point, so the corners decide the whole box, and the margin
  covers double rounding on both sides.  Owned cells add their sums
  wholesale.  The points of the other, ambiguous cells are assigned in
  numpy with the SQL step's operation order and first-minimum ties.
- Exactness: below 2**53 every partial sum of integers is exact in a
  double, so Spark's double-accumulated avg(long) equals
  float(int_sum) / n.  Same assignments, same means: the same
  trajectory as the SQL step.
- Bound: larger inputs, and a fetch that does not match the guard's
  count and bounding box, take the SQL step for the whole fit.

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

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from ..functions.hashing import stable_sample_key
from ..session import pinned_confs

#: 2-D centroids: ordered list of (x, y); index == cluster_id.
Centroids2D = Sequence[tuple[float, float]]
#: n-D centroids: ordered list of coordinate vectors; index == cluster_id.
CentroidsND = Sequence[Sequence[float]]


# ---------------------------------------------------------------------------
# Map stage: nearest-centroid assignment (O3 + O4)
# ---------------------------------------------------------------------------

_ITERATION_CONFS = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.codegen.wholeStage": "false",
}


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
    if getattr(spark, "_iteration_confs_active", False):
        yield
        return
    spark._iteration_confs_active = True
    try:
        with pinned_confs(spark, _ITERATION_CONFS):
            yield
    finally:
        spark._iteration_confs_active = False


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
    keep_dist: bool = False,
) -> DataFrame:
    """Assign each (x, y) point to its nearest centroid (squared
    Euclidean) as ``cluster_id``.

    The k distances are one literal array expression and the argmin
    ties to the lowest id (_argmin_sql).  Narrow transformation: no
    shuffle.
    """
    return _assign(points, _dists_sql_2d(centroids, "x", "y"), "cluster_id", keep_dist)


def _dists_sql_nd(centroids: CentroidsND, feats: str) -> str:
    """n-D literal distance-array as ONE SQL string over a pre-cast
    array<double> column ``feats``.

    A zip_with/aggregate fold of the squared differences in dimension
    order (the float addition order every n-D distance here uses), but
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
    out: str = "cluster_id",
    keep_dist: bool = False,
) -> DataFrame:
    """n-D variant over the array<float/double> ``embedding`` column."""
    e = points.withColumn("_e", F.col("embedding").cast("array<double>"))
    return _assign(e, _dists_sql_nd(centroids, "_e"), out, keep_dist).drop("_e")


# ---------------------------------------------------------------------------
# Reduce stage: per-cluster mean (O7 + O8/O9)
# ---------------------------------------------------------------------------

def update_2d(assigned: DataFrame) -> DataFrame:
    """groupBy(cluster_id).agg(avg(x), avg(y), count): Spark's
    partial+final hash aggregation IS the reference's two-level block
    reduction (kmeans_mapreduce_core.cu:108-139) -- map-side combine
    shrinks the shuffle to k rows per partition.
    """
    return assigned.groupBy("cluster_id").agg(
        F.avg("x").alias("cx"), F.avg("y").alias("cy"), F.count(F.lit(1)).alias("n")
    )


def update_nd(assigned: DataFrame, dim: int) -> DataFrame:
    """Per-``cluster_id`` element-wise mean of the ``embedding`` array.

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
        "`cluster_id`", "CAST(`embedding` AS ARRAY<DOUBLE>) AS _e"
    ).selectExpr(
        "`cluster_id`", *[f"_e[{i}] AS _f{i}" for i in range(dim)]
    )
    agged = proj.groupBy("cluster_id").agg(
        {**{f"_f{i}": "avg" for i in range(dim)}, "*": "count"}
    )
    return agged.selectExpr(
        "`cluster_id`",
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


def _step_sql_nd(view: str, centroids: CentroidsND, dim: int) -> str:
    return _step_sql(
        f"(SELECT CAST(`embedding` AS ARRAY<DOUBLE>) AS _e FROM {view})",
        "_e",
        _dists_sql_nd(centroids, "_e"),
        ",".join(f"avg(_e[{i}]) AS c{i}" for i in range(dim)),
    )


def _null_coords(cols: Sequence[str]) -> ValueError:
    return ValueError(
        f"points have NULL values in column(s) {', '.join(cols)}; "
        "drop or fill them before clustering"
    )


def _iterate(
    init: CentroidsND, max_iter: int, tol: float, step: Callable[[list], dict]
) -> list[tuple[float, ...]]:
    """Lloyd's iterations with an actual convergence test (the reference's
    README documents one but the loop is a fixed 999 rounds,
    config.cuh:11 vs README.md:20-22 -- we expose both maxIter and tol).

    ``step(centroids)`` maps each non-empty cluster id to its new
    centroid; empty clusters keep their previous centroid.
    """
    cents = [tuple(map(float, c)) for c in init]
    for _ in range(max_iter):
        got = step(cents)
        new = [got.get(i, c) for i, c in enumerate(cents)]
        shift = max(math.dist(n, c) for n, c in zip(new, cents))
        cents = new
        if shift <= tol:
            break
    return cents


def _sql_step(
    points: DataFrame, step_sql: Callable[[str, list], str], cols: Sequence[str]
) -> Callable[[list], dict]:
    """One Lloyd step as one Spark job: ``step_sql(view, centroids)``
    renders the iteration (_step_sql), whose k rows (cluster_id,
    coords..., n) are all that crosses to the driver.  A NULL
    coordinate leaves its point without a nearest centroid, which shows
    up as a NULL cluster_id row."""
    spark = points.sparkSession
    # The view is deliberately NOT dropped afterwards: dropTempView on a
    # view over a cached DataFrame invalidates the cache's materialized
    # buffers even though the registration survives -- every subsequent
    # pass over ``points`` (this loop's next call, the caller's own
    # queries) re-scans the source, measured 0.17 -> 0.7 s/iteration at
    # sf0.1, permanently.  The per-object name makes re-registration
    # idempotent; the leaked catalog entry is metadata only.
    view = f"_lloyd_pts_{id(points)}"
    points.createOrReplaceTempView(view)

    def step(cents: list) -> dict:
        rows = spark.sql(step_sql(view, cents)).collect()
        if any(r[0] is None for r in rows):
            raise _null_coords(cols)
        return {int(r[0]): r[1:-1] for r in rows}

    return step


def _lloyd(
    points: DataFrame,
    init: CentroidsND,
    max_iter: int,
    tol: float,
    step_sql: Callable[[str, list], str],
    cols: Sequence[str],
) -> list[tuple[float, ...]]:
    """Lloyd's loop (_iterate) with the SQL step (_sql_step) over the
    point columns ``cols``: one job and k rows to the driver per
    iteration.

    ``points`` is cached by the caller (device-resident analog,
    kmeans_mapreduce_core.cu:232-235); each iteration re-bakes the k new
    centroid literals into the plan, so lineage stays one stage deep and
    needs no checkpointing.
    """
    with iteration_confs(points.sparkSession):
        return _iterate(init, max_iter, tol, _sql_step(points, step_sql, cols))


# ---------------------------------------------------------------------------
# Exact grid-filtered step for integer 2-D points (O12 fast path)
# ---------------------------------------------------------------------------

#: 2**GRID_BITS cells per axis over the bounding box.  On 1M
#: Birch-shaped points (kmbench seeds 1-10, 10 iterations) 128 x 128 has
#: 5.9-8.8k occupied cells, 3.0-9.7 % of the points sit in ambiguous
#: cells per iteration, and the driver spends 56-90 ms on the cell
#: aggregate and 115-176 ms on the 10 steps.  64 x 64: 6.0-18.8 %
#: ambiguous, 115-197 ms; 256 x 256: 1.4-4.8 %, but its 4x the cells
#: take 299-571 ms.
GRID_BITS = 7
_GRID = 1 << GRID_BITS
#: A cell is owned when its owner wins at every corner by more than this
#: fraction of the competitor's largest corner distance.  A computed
#: squared distance is within 2**-51 of the exact one, relatively, so
#: 2**-40 covers the rounding at the corners and at every point inside
#: with a factor of ~2**9 to spare.
_OWN_MARGIN = 2.0**-40
#: Most points the grid step holds on the driver: x and y as doubles,
#: 16 bytes each, so 32 MB (the prep peaks at ~57 bytes a point besides
#: the fetched Arrow table).  Larger inputs take the SQL step.
HELD_POINTS_MAX = 1 << 21
#: Integer sums below 2**53 are exact in a double, so Spark's
#: double-accumulated avg(long) equals float(int_sum) / n.
_EXACT = 1 << 53


class _GridStep:
    """One exact Lloyd step for integer 2-D points from per-cell sums,
    plus the points of the cells it cannot decide.

    ``px``, ``py`` are every point's int64 coordinates and ``cell`` its
    grid cell id.
    """

    def __init__(self, px, py, cell):
        # cell ids fit 16 bits (GRID_BITS <= 8), where numpy's stable sort
        # is a radix sort
        order = np.argsort(cell.astype(np.uint16), kind="stable")
        px, py, cell = px[order], py[order], cell[order]
        # points by cell: occupied cell i's are the n[i] from _first[i] on
        self._first = np.flatnonzero(np.diff(cell, prepend=-1))
        self._n = np.diff(self._first, append=len(cell)).astype(np.float64)
        # int64 sums, below 2**53 (the guard), so exact as doubles too
        self._sx, self._sy = (
            np.add.reduceat(v, self._first).astype(np.float64) for v in (px, py)
        )
        # the 4 corners of each cell's point bounding box, shape (cells, 4)
        x0, x1, y0, y1 = (
            f.reduceat(v, self._first).astype(np.float64)
            for v in (px, py)
            for f in (np.minimum, np.maximum)
        )
        self._cx = np.stack([x0, x0, x1, x1], axis=1)
        self._cy = np.stack([y0, y1, y0, y1], axis=1)
        self._hx, self._hy = px.astype(np.float64), py.astype(np.float64)

    def __call__(self, cents: list) -> dict:
        c = np.asarray(cents, dtype=np.float64)
        dx = self._cx[:, :, None] - c[:, 0]
        dy = self._cy[:, :, None] - c[:, 1]
        d = dx * dx + dy * dy  # (cells, 4 corners, k)
        owner = d[:, 0, :].argmin(axis=1)
        d_own = np.take_along_axis(d, owner[:, None, None], axis=2)
        beats = d - d_own > _OWN_MARGIN * d.max(axis=1, keepdims=True)
        beats[np.arange(len(owner)), :, owner] = True
        owned = beats.all(axis=(1, 2))
        k = len(c)
        o = owner[owned]
        sx = np.bincount(o, self._sx[owned], k)
        sy = np.bincount(o, self._sy[owned], k)
        n = np.bincount(o, self._n[owned], k)
        px, py = self._points(~owned)
        lab = _nearest(px, py, c)
        sx += np.bincount(lab, px, k)
        sy += np.bincount(lab, py, k)
        n += np.bincount(lab, minlength=k)
        return {
            i: (float(sx[i] / n[i]), float(sy[i] / n[i]))
            for i in np.flatnonzero(n).tolist()
        }

    def _points(self, cells):
        """x and y of the held points of the cells in mask ``cells``."""
        size = self._n[cells].astype(np.int64)
        end = np.cumsum(size)
        at = np.arange(end[-1] if len(end) else 0) + np.repeat(
            self._first[cells] - (end - size), size
        )
        return self._hx[at], self._hy[at]


def _nearest(px, py, c):
    """Nearest centroid per point with _dists_sql_2d's operation order
    and _argmin_sql's first-minimum ties: bit for bit Spark's choice."""
    best = np.full(len(px), np.inf)
    lab = np.zeros(len(px), dtype=np.int64)
    for i, (cx, cy) in enumerate(c):
        dx = px - cx
        dy = py - cy
        d = dx * dx + dy * dy
        np.putmask(lab, d < best, i)
        np.minimum(best, d, out=best)
    return lab


def _grid_step(points: DataFrame, x: str, y: str) -> Callable[[list], dict] | None:
    """The prep of the grid step: two jobs over ``points``, a guard
    aggregate and one fetch of every point.  None when the input does
    not qualify (more than HELD_POINTS_MAX points, or a coordinate bound
    times n reaches 2**53, so sums could round) or the fetched rows do
    not match the guard (the input changed between the two jobs)."""
    n, nulls, x0, x1, y0, y1 = points.selectExpr(
        "count(1)",
        f"count_if(`{x}` IS NULL OR `{y}` IS NULL)",
        f"min(`{x}`)",
        f"max(`{x}`)",
        f"min(`{y}`)",
        f"max(`{y}`)",
    ).collect()[0]
    if nulls:
        raise _null_coords((x, y))
    if n == 0:
        return lambda cents: {}
    if n > HELD_POINTS_MAX or max(abs(x0), abs(x1), abs(y0), abs(y1)) * n >= _EXACT:
        return None
    got = points.selectExpr(
        f"CAST(`{x}` AS BIGINT) AS x", f"CAST(`{y}` AS BIGINT) AS y"
    ).toArrow()
    px, py = got["x"].to_numpy(), got["y"].to_numpy()
    # a NULL reads as NaN, which fails the bounding box test
    if len(px) != n or (px.min(), px.max(), py.min(), py.max()) != (x0, x1, y0, y1):
        return None
    wx, wy = (x1 - x0) // _GRID + 1, (y1 - y0) // _GRID + 1
    return _GridStep(px, py, (px - x0) // wx * _GRID + (py - y0) // wy)


def lloyd_2d(
    points: DataFrame,
    init: Centroids2D,
    max_iter: int = 20,
    tol: float = 1e-6,
    x: str = "x",
    y: str = "y",
) -> list[tuple[float, float]]:
    """2-D Lloyd loop over columns ``x``, ``y`` (see _lloyd).

    Integral ``x``/``y`` with at most HELD_POINTS_MAX points and
    ``max|coord| * n < 2**53`` take the exact grid-filtered step
    (_GridStep) instead of the SQL step: same trajectory bit for bit,
    a fraction of the per-point work.
    """
    types = {f.name: f.dataType for f in points.schema.fields}
    if max_iter > 0 and all(isinstance(types.get(c), IntegralType) for c in (x, y)):
        with iteration_confs(points.sparkSession):
            step = _grid_step(points, x, y)
        if step is not None:
            return _iterate(init, max_iter, tol, step)
    return _lloyd(points, init, max_iter, tol, partial(_step_sql_2d, x=x, y=y), (x, y))


def lloyd_nd(
    points: DataFrame,
    init: CentroidsND,
    max_iter: int = 20,
) -> list[list[float]]:
    """n-D Lloyd loop over the ``embedding`` array column (see _lloyd),
    stopping early once no centroid moves more than 1e-6."""
    step = partial(_step_sql_nd, dim=len(init[0]))
    return [list(c) for c in _lloyd(points, init, max_iter, 1e-6, step, ("embedding",))]


def sse_2d(points: DataFrame, centroids: Centroids2D) -> float:
    """Sum of squared distances to assigned centroids (Lloyd's monotone
    objective -- the property tests assert it never increases)."""
    a = assign_2d(points, centroids, keep_dist=True)
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
    points: DataFrame, k: int, seed: int = 42
) -> list[tuple[float, float]]:
    """Forgy seeding over columns ``x``, ``y`` keyed on ``id`` (see _forgy)."""
    return [
        (float(r[0]), float(r[1])) for r in _forgy(points, k, seed, "id", "x", "y")
    ]


def seed_centroids_farthest(
    points: DataFrame, k: int
) -> list[tuple[float, float]]:
    """Deterministic farthest-point (maxmin) init -- the k-means++ idea
    with the weighted RNG draw replaced by the argmax, so it is exactly
    reproducible and SQL-oracle-checkable (k-means++ picks ~the same
    spread in expectation; MLlib's k-means|| is the sampled scale-out
    variant).  Start = lowest-``id`` row; each step picks the (x, y)
    point farthest from its nearest chosen centroid, ties to the lowest
    ``id``.

    Cost: k narrow scans, each ending in one max_by aggregate (partial
    agg -> 1 row per partition -> 1 row to the driver).  Nothing but k
    rows ever leaves the executors, so the 100 TB path is k passes over
    a cached projection.  The loop runs under ``iteration_confs`` --
    the lloyd_2d discipline (r10): every pass bakes fresh centroid
    literals into a throwaway plan and ends in a 1-row aggregate, so
    per-pass AQE re-planning and Janino compiles are pure overhead.
    """
    with iteration_confs(points.sparkSession):
        first = points.select("id", "x", "y").orderBy("id").limit(1).collect()[0]
        cents: list[tuple[float, float]] = [(float(first["x"]), float(first["y"]))]
        for _ in range(k - 1):
            d = points.withColumn("_d", F.expr(_dists_sql_2d(cents, "x", "y")))
            best = d.select(
                F.expr(
                    "max_by(struct(`x`, `y`), struct(array_min(_d), -`id`))"
                ).alias("s")
            ).collect()[0]["s"]
            cents.append((float(best["x"]), float(best["y"])))
    return cents


def seed_centroids_nd(points: DataFrame, k: int) -> list[list[float]]:
    """Forgy seeding (seed 42) over the ``embedding`` array column,
    ordered by ``vec_id`` (see _forgy)."""
    feats = F.col("embedding").cast("array<double>")
    return [[float(v) for v in r[0]] for r in _forgy(points, k, 42, "vec_id", feats)]
