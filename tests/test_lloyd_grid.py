"""The exact grid-filtered Lloyd step for integer 2-D points.

``lloyd_2d`` on integral columns must follow the SQL step's trajectory
bit for bit: every case asserts exact tuple equality with ``_lloyd``
driven by ``_step_sql_2d``, and that the grid step (not the SQL step)
produced it.
"""

from __future__ import annotations

from functools import partial

import numpy as np
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
    """Prep is 2 jobs, every further job is one fetch, and there are
    no more fetches than iterations.  With the held-point bound cut
    down, the loop hands over to the SQL step with the same result."""
    fetches = []
    real_fetch = kmeans._GridStep._fetch

    def spy(self, missing, near):
        fetches.append(int(self._n[missing].sum()))
        return real_fetch(self, missing, near)

    monkeypatch.setattr(kmeans._GridStep, "_fetch", spy)
    init = seed_centroids_2d(birch_points, k=K, seed=5)
    lloyd_2d(birch_points, init, max_iter=1)  # warm

    sc = spark.sparkContext
    fetches.clear()
    sc.setJobGroup("lloyd-grid-audit", "count grid jobs")
    try:
        got = lloyd_2d(birch_points, init, max_iter=10, tol=-1.0)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("lloyd-grid-audit")
    assert 1 <= len(fetches) <= 10
    assert len(jobs) == 2 + len(fetches), (jobs, fetches)
    assert not sql_steps

    want = sql_lloyd(birch_points, init, 10, -1.0)
    assert got == want
    for bound in (0, fetches[0] + 1):
        monkeypatch.setattr(kmeans, "HELD_POINTS_MAX", bound)
        sql_steps.clear()
        assert lloyd_2d(birch_points, init, max_iter=10, tol=-1.0) == want
        assert len(sql_steps) == 1, bound


@pytest.mark.parametrize(
    "ids",
    [
        [63, 64, 200, kmeans._GRID**2 - 1],  # words holding bit 63 alone
        list(range(kmeans._GRID**2)),  # every word all ones
    ],
)
def test_cell_filter_selects_exactly_its_cells(spark, ids):
    cells = spark.range(kmeans._GRID**2).selectExpr("id AS cell")
    got = [r[0] for r in cells.where(kmeans._cell_filter(np.array(ids))).collect()]
    assert sorted(got) == ids


def test_look_ahead_fetches_once(birch_points, monkeypatch, sql_steps):
    """The look-ahead fetches the cells that later boundaries will reach
    together with the ambiguous ones, so on the Birch-like blobs one
    fetch serves every iteration."""
    held = []  # points held after each fetch
    real_fetch = kmeans._GridStep._fetch

    def spy(self, missing, near):
        ok = real_fetch(self, missing, near)
        held.append(len(self._hx))
        return ok

    monkeypatch.setattr(kmeans._GridStep, "_fetch", spy)
    init = seed_centroids_2d(birch_points, k=K, seed=5)
    got = lloyd_2d(birch_points, init, max_iter=10, tol=-1.0)
    assert not sql_steps
    assert got == sql_lloyd(birch_points, init, 10, -1.0)
    assert len(held) == 1, held
