"""The exact grid-filtered Lloyd step for integer 2-D points.

``lloyd_2d`` on integral columns must follow the SQL step's trajectory
bit for bit: every case asserts exact tuple equality with ``_lloyd``
driven by ``_step_sql_2d``, and that the grid step (not the SQL step)
produced it.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pyarrow.compute as pc
import pytest

from kmeans_with_mapreduce_cuda_spark.operators import kmeans
from kmeans_with_mapreduce_cuda_spark.operators.kmeans import (
    _lloyd,
    _step_sql_2d,
    lloyd_2d,
    seed_centroids_2d,
)
from kmeans_with_mapreduce_cuda_spark.sources import read_points_text

from test_birch_parity import K, write_birch_like


@pytest.fixture
def sql_steps(monkeypatch):
    """Counts SQL steps made (_sql_step calls) during the test."""
    made = []
    real = kmeans._sql_step

    def spy(*args):
        made.append(args)
        return real(*args)

    monkeypatch.setattr(kmeans, "_sql_step", spy)
    return made


def sql_lloyd(df, init, max_iter, tol, x="x", y="y"):
    return _lloyd(df, init, max_iter, tol, partial(_step_sql_2d, x=x, y=y), (x, y))


def assert_identical(df, init, sql_steps, max_iter=10, tol=-1.0, x="x", y="y"):
    got = lloyd_2d(df, init, max_iter, tol, x, y)
    assert not sql_steps, "the grid step was not taken"
    want = sql_lloyd(df, init, max_iter, tol, x, y)
    assert got == want
    return got


def frame(spark, xy, types="bigint"):
    rows = [(int(a), int(b)) for a, b in xy]
    return spark.createDataFrame(rows, f"x {types}, y {types}")


def blobs(n, seed, k=K, offset=0):
    rng = np.random.default_rng(seed)
    centers = rng.uniform(100_000, 900_000, size=(k, 2))
    xy = centers[rng.integers(0, k, size=n)] + rng.normal(0, 20_000, (n, 2))
    return np.clip(np.rint(xy), 0, 1_000_000).astype(np.int64) + offset


@pytest.fixture(scope="module")
def birch_points(spark, tmp_path_factory):
    path = tmp_path_factory.mktemp("grid") / "birch_like.txt"
    write_birch_like(path, n=20_000, seed=11)
    df = read_points_text(spark, str(path)).cache()
    assert df.count() == 20_000
    yield df
    df.unpersist()


@pytest.mark.parametrize("seed", [1, 42])
def test_birch_like_trajectory_is_identical(birch_points, sql_steps, seed):
    init = seed_centroids_2d(birch_points, k=K, seed=seed)
    assert_identical(birch_points, init, sql_steps, max_iter=12)


@pytest.mark.parametrize("types", ["int", "bigint", "smallint"])
def test_integral_column_types(spark, sql_steps, types):
    xy = blobs(3_000, seed=3, k=5) // 40  # fits smallint
    init = [tuple(map(float, p)) for p in xy[:5]]
    assert_identical(frame(spark, xy, types), init, sql_steps)


def test_negative_coordinates(spark, sql_steps):
    xy = blobs(4_000, seed=5, k=6, offset=-600_000)
    assert (xy < 0).any() and (xy > 0).any()
    init = [tuple(map(float, p)) for p in xy[:6]]
    assert_identical(frame(spark, xy), init, sql_steps)


def test_points_equidistant_from_two_centroids(spark, sql_steps):
    """Every point on x=5 is exactly as far from (0, y) as from
    (10, y): the tie must go to the lower id, as in the SQL step."""
    xy = [(5, y) for y in range(-50, 50)] + [(x, 0) for x in range(0, 11)]
    init = [(0.0, 0.0), (10.0, 0.0), (5.0, 1000.0)]
    got = assert_identical(frame(spark, xy), init, sql_steps, max_iter=3)
    assert got[0] != init[0] and got[1] != init[1]


def test_boundary_through_cell_corners(spark, sql_steps):
    """Cells 2 wide: the bisector x = 1 of (3, 1) and (-1, 1) runs
    through two corners of the cell at the origin, whose other corners
    the higher id wins.  The points on it tie and go to the lower id,
    so no centroid owns the cell."""
    xy = [(0, 0), (1, 0), (0, 1), (1, 1), (255, 255)]
    init = [(3.0, 1.0), (-1.0, 1.0), (255.0, 255.0)]
    got = assert_identical(frame(spark, xy), init, sql_steps, max_iter=1)
    assert got[:2] == [(1.0, 0.5), (0.0, 0.5)]


def test_coincident_centroids(spark, sql_steps):
    xy = blobs(2_000, seed=9, k=3)
    c = tuple(map(float, xy[0]))
    init = [c, c, tuple(map(float, xy[1])), c]
    assert_identical(frame(spark, xy), init, sql_steps)
    got = lloyd_2d(frame(spark, xy), init, max_iter=1)
    assert got[1] == c and got[3] == c  # the lower id wins every tie


def test_far_away_empty_cluster(spark, sql_steps):
    xy = blobs(2_000, seed=13, k=4)
    init = [tuple(map(float, p)) for p in xy[:4]] + [(1e9, -1e9)]
    got = assert_identical(frame(spark, xy), init, sql_steps)
    assert got[-1] == (1e9, -1e9)


def test_all_points_in_one_cell(spark, sql_steps):
    """A bounding box of span 0: one cell, every point the same."""
    xy = [(7, -3)] * 50
    init = [(0.0, 0.0), (7.0, -2.0), (100.0, 100.0)]
    got = assert_identical(frame(spark, xy), init, sql_steps)
    assert got[1] == (7.0, -3.0)


def test_fewer_points_than_clusters(spark, sql_steps):
    xy = [(1, 2), (300, 400), (-5, 6)]
    init = [(0.0, 0.0), (1.0, 1.0), (2.0, 2.0), (300.0, 0.0), (9.0, 9.0)]
    assert_identical(frame(spark, xy), init, sql_steps)


def test_zero_iterations_and_empty_input(spark, sql_steps):
    init = [(1.0, 2.0), (3.0, 4.0)]
    df = frame(spark, [(1, 1), (5, 5)])
    assert lloyd_2d(df, init, max_iter=0) == init
    sql_steps.clear()
    empty = df.where("false")
    assert_identical(empty, init, sql_steps)
    assert lloyd_2d(empty, init) == init


def test_early_stop_on_tol(spark, sql_steps, monkeypatch):
    steps = []
    real = kmeans._GridStep.__call__
    monkeypatch.setattr(
        kmeans._GridStep, "__call__", lambda self, c: steps.append(1) or real(self, c)
    )
    xy = blobs(3_000, seed=17, k=4)
    init = [tuple(map(float, p)) for p in xy[:4]]
    assert_identical(frame(spark, xy), init, sql_steps, max_iter=100, tol=1.0)
    assert 1 < len(steps) < 100


def test_sums_that_could_round_take_the_sql_step(spark, sql_steps):
    """max|coord| * n >= 2**53: the grid step would have to trust
    rounded sums, so the SQL step runs instead."""
    xy = [(2**50 + i, -(2**50) - i) for i in range(16)]
    init = [(2.0**50, -(2.0**50)), (2.0**50 + 8, -(2.0**50) - 8)]
    got = lloyd_2d(frame(spark, xy), init, max_iter=2)
    assert len(sql_steps) == 1
    assert got == sql_lloyd(frame(spark, xy), init, 2, 1e-6)


def test_double_columns_take_the_sql_step(spark, sql_steps):
    df = spark.createDataFrame([(1.0, 2.0), (3.0, 4.0)], "x double, y double")
    lloyd_2d(df, [(0.0, 0.0), (5.0, 5.0)], max_iter=2)
    assert len(sql_steps) == 1


@pytest.mark.parametrize("types", ["bigint", "double"])
def test_null_coordinate_raises_value_error(spark, types):
    """Both steps name the coordinate columns instead of failing on
    int(None)."""
    cast = int if types == "bigint" else float
    rows = [(cast(1), cast(2)), (None, cast(4)), (cast(5), cast(6))]
    df = spark.createDataFrame(rows, f"px {types}, py {types}")
    with pytest.raises(ValueError, match="px, py"):
        lloyd_2d(df, [(0.0, 0.0), (5.0, 5.0)], max_iter=3, x="px", y="py")


def test_jobs_and_held_bound_contract(birch_points, spark, monkeypatch, sql_steps):
    """A warm call is 2 jobs, the guard aggregate and one fetch of every
    point, whatever the seed: 3 stages, the guard's partial and final
    aggregate and the fetch.  Up to HELD_POINTS_MAX points take the grid
    step; one point more takes the SQL step, with the same result."""
    n = birch_points.count()
    sc = spark.sparkContext
    for seed in (5, 6):
        init = seed_centroids_2d(birch_points, k=K, seed=seed)
        lloyd_2d(birch_points, init, max_iter=1)  # warm
        group = f"lloyd-grid-audit-{seed}"
        sc.setJobGroup(group, "count grid jobs")
        try:
            got = lloyd_2d(birch_points, init, max_iter=10, tol=-1.0)
        finally:
            sc.setJobGroup(None, None)
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
        assert (len(jobs), len(stages)) == (2, 3), (seed, jobs, stages)
        assert not sql_steps
        assert got == sql_lloyd(birch_points, init, 10, -1.0)
        sql_steps.clear()

    monkeypatch.setattr(kmeans, "HELD_POINTS_MAX", n)
    assert lloyd_2d(birch_points, init, max_iter=10, tol=-1.0) == got
    assert not sql_steps
    monkeypatch.setattr(kmeans, "HELD_POINTS_MAX", n - 1)
    assert lloyd_2d(birch_points, init, max_iter=10, tol=-1.0) == got
    assert len(sql_steps) == 1


@pytest.mark.parametrize(
    "change",
    [
        lambda t: t.slice(1),  # one row fewer than the guard counted
        lambda t: t.set_column(0, "x", pc.add(t["x"], 1)),  # another bounding box
    ],
    ids=["count", "bbox"],
)
def test_fetch_that_disagrees_with_the_guard_takes_the_sql_step(
    birch_points, monkeypatch, sql_steps, change
):
    """The input changed between the guard and the fetch: the SQL step
    runs the whole fit."""
    frame_type = type(birch_points)
    real = frame_type.toArrow
    monkeypatch.setattr(frame_type, "toArrow", lambda self: change(real(self)))
    init = seed_centroids_2d(birch_points, k=K, seed=5)
    got = lloyd_2d(birch_points, init, max_iter=10, tol=-1.0)
    assert len(sql_steps) == 1
    assert got == sql_lloyd(birch_points, init, 10, -1.0)
