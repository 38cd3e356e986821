"""K-Means property + golden tests (SURVEY.md §5's designed strategy --
the reference has no test suite, only a non-reproducible golden file).

Golden: a NumPy Lloyd's implementation with identical semantics
(squared-Euclidean, ties to lowest cluster_id, float means, empty cluster
keeps previous centroid) must produce the same centroids as lloyd_2d.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from kmeans_with_mapreduce_cuda_spark.operators.kmeans import (
    assign_2d,
    lloyd_2d,
    lloyd_nd,
    seed_centroids_2d,
    seed_centroids_nd,
    sse_2d,
    update_2d,
)
from kmeans_with_mapreduce_cuda_spark.sources.readers import (
    load_table,
    points_from_lineitem,
)

from conftest import SF_DIR


@pytest.fixture(scope="module")
def points(spark):
    return points_from_lineitem(spark, SF_DIR).cache()


@pytest.fixture(scope="module")
def xy(points):
    pdf = points.select("x", "y").toPandas()
    return np.column_stack([pdf["x"].to_numpy(), pdf["y"].to_numpy()])


def numpy_lloyd(xy: np.ndarray, init, max_iter: int, tol: float = 1e-6):
    """Reference Lloyd's with our documented semantics."""
    cents = np.array(init, dtype=np.float64)
    for _ in range(max_iter):
        d = ((xy[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        lab = d.argmin(axis=1)  # argmin takes first (lowest id) on ties
        new = cents.copy()
        for i in range(len(cents)):
            m = lab == i
            if m.any():
                new[i] = xy[m].mean(axis=0)
        shift = np.sqrt(((new - cents) ** 2).sum(axis=1)).max()
        cents = new
        if shift <= tol:
            break
    return cents


INIT4 = [(10.0, 20000.0), (25.0, 50000.0), (40.0, 80000.0), (15.0, 95000.0)]


def test_golden_vs_numpy(points, xy):
    got = np.array(lloyd_2d(points, INIT4, max_iter=8))
    exp = numpy_lloyd(xy, INIT4, max_iter=8)
    assert np.allclose(got, exp, rtol=1e-9, atol=1e-6), f"\n{got}\nvs\n{exp}"


def test_sse_monotone(points):
    cents = INIT4
    prev = sse_2d(points, cents)
    for _ in range(5):
        cents = lloyd_2d(points, cents, max_iter=1)
        cur = sse_2d(points, cents)
        assert cur <= prev + 1e-6
        prev = cur


def test_every_point_assigned_once(points):
    n = points.count()
    a = assign_2d(points, INIT4)
    assert a.count() == n
    counts = update_2d(a).agg(F.sum("n")).collect()[0][0]
    assert counts == n
    bad = a.where((F.col("cluster_id") < 0) | (F.col("cluster_id") >= len(INIT4)))
    assert bad.count() == 0


def test_centroids_within_bbox(points):
    cents = lloyd_2d(points, INIT4, max_iter=5)
    row = points.agg(
        F.min("x"), F.max("x"), F.min("y"), F.max("y")
    ).collect()[0]
    for cx, cy in cents:
        assert row[0] <= cx <= row[1]
        assert row[2] <= cy <= row[3]


def test_permutation_invariance(points, spark):
    """Row order must not change the result (the reference's thrust sort
    is non-stable for the same reason)."""
    shuffled = points.orderBy(F.md5(F.col("id").cast("string")))
    a = lloyd_2d(points, INIT4, max_iter=1)
    b = lloyd_2d(shuffled, INIT4, max_iter=1)
    assert np.allclose(np.array(a), np.array(b), rtol=1e-9)


def test_empty_cluster_keeps_previous(points):
    """A centroid far outside the bounding box gets no points and must
    survive unchanged."""
    far = (1e9, 1e9)
    cents = INIT4 + [far]
    new = lloyd_2d(points, cents, max_iter=1)
    assert new[-1] == far


def test_tie_breaks_to_lowest_id(spark):
    """Two coincident centroids: every point must go to the lower id
    (strict < at kmeans_mapreduce_core.cu:27)."""
    df = spark.range(10).select(
        F.col("id"),
        (F.col("id") * 1.0).alias("x"),
        (F.col("id") * 2.0).alias("y"),
    )
    a = assign_2d(df, [(5.0, 10.0), (5.0, 10.0)])
    assert a.where(F.col("cluster_id") != 0).count() == 0


def test_seed_deterministic(points):
    s1 = seed_centroids_2d(points, k=5, seed=7)
    s2 = seed_centroids_2d(points, k=5, seed=7)
    s3 = seed_centroids_2d(points, k=5, seed=8)
    assert s1 == s2
    assert s1 != s3
    assert len(set(s1)) == 5  # without replacement


def test_lloyd_nd_embeddings(spark):
    emb = load_table(spark, SF_DIR, "embeddings").cache()
    init = seed_centroids_nd(emb, k=4)
    cents = lloyd_nd(emb, init, max_iter=3)
    assert len(cents) == 4
    assert all(len(c) == 64 for c in cents)
    assert all(math.isfinite(v) for c in cents for v in c)


def test_mllib_parity_with_primitive_path(spark):
    """Library layer sanity: MLlib KMeans on embeddings reaches an SSE in
    the same ballpark as the primitive lloyd_nd (same k, both seeded) and
    assigns every row."""
    from kmeans_with_mapreduce_cuda_spark.operators.kmeans_mllib import (
        fit_kmeans,
        predict_kmeans,
    )
    from kmeans_with_mapreduce_cuda_spark.operators.kmeans import (
        assign_nd,
        seed_centroids_nd,
        lloyd_nd,
    )

    emb = load_table(spark, SF_DIR, "embeddings").cache()
    n = emb.count()
    k = 8

    res = fit_kmeans(emb, k=k, max_iter=10)
    assert len(res.centroids) == k and len(res.centroids[0]) == 64
    assert res.sse > 0 and res.iterations >= 1

    pred = predict_kmeans(res.model, emb)
    assert pred.count() == n

    init = seed_centroids_nd(emb, k=k)
    prim = lloyd_nd(emb, init, max_iter=10)
    a = assign_nd(emb, prim, keep_dist=True)
    prim_sse = a.agg(F.sum("_mindist")).collect()[0][0]
    ratio = res.sse / prim_sse
    assert 0.5 < ratio < 2.0, (res.sse, prim_sse)


def test_assign_k1_and_empty_input(spark, points):
    """Degenerate shapes: k=1 assigns everything to cluster 0; an empty
    input yields an empty assignment and a step that keeps all centroids."""
    one = assign_2d(points, [(0.0, 0.0)])
    assert one.where(F.col("cluster_id") != 0).count() == 0

    empty = points.where(F.lit(False))
    assert assign_2d(empty, INIT4).count() == 0
    assert lloyd_2d(empty, INIT4, max_iter=1) == [tuple(c) for c in INIT4]


def test_lloyd_zero_iterations_returns_init(points):
    assert lloyd_2d(points, INIT4, max_iter=0) == [tuple(c) for c in INIT4]


def test_seed_farthest_properties(spark):
    """Farthest-point seeds: deterministic, distinct, inside the bbox,
    and better-spread than the md5-sample seeding (that's the point)."""
    from pyspark.sql import functions as F

    from kmeans_with_mapreduce_cuda_spark.operators.kmeans import (
        seed_centroids_2d,
        seed_centroids_farthest,
    )
    from kmeans_with_mapreduce_cuda_spark.sources import points_from_lineitem

    pts = points_from_lineitem(spark, SF_DIR).cache()
    got = seed_centroids_farthest(pts, k=4)
    assert got == seed_centroids_farthest(pts, k=4)  # deterministic
    assert len(set(got)) == 4
    lo = pts.agg(F.min("x"), F.min("y"), F.max("x"), F.max("y")).collect()[0]
    for cx, cy in got:
        assert lo[0] <= cx <= lo[2] and lo[1] <= cy <= lo[3]

    def min_pair_d2(cs):
        return min(
            (a[0] - b[0]) ** 2 + (a[1] - b[1]) ** 2
            for i, a in enumerate(cs)
            for b in cs[i + 1 :]
        )

    rnd = seed_centroids_2d(pts, k=4, seed=42)
    assert min_pair_d2(got) >= min_pair_d2(rnd)
    pts.unpersist()


def test_mllib_model_save_load_roundtrip(spark, tmp_path):
    from pyspark.ml.clustering import KMeansModel

    from kmeans_with_mapreduce_cuda_spark.operators.kmeans_mllib import (
        fit_kmeans,
        predict_kmeans,
    )

    emb = load_table(spark, SF_DIR, "embeddings").limit(500).cache()
    res = fit_kmeans(emb, k=5, max_iter=5)
    path = str(tmp_path / "km_model")
    res.model.write().overwrite().save(path)
    back = KMeansModel.load(path)
    assert [list(c) for c in back.clusterCenters()] == res.centroids
    a = predict_kmeans(res.model, emb).select("vec_id", "cluster_id").collect()
    b = predict_kmeans(back, emb).select("vec_id", "cluster_id").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    emb.unpersist()


def test_kmeanspp_weights_partition_the_slice(spark):
    """k-means|| invariants: the selected candidates' weights are a
    partition of the (full-table-at-sf0.001) point slice -- every point
    is served by exactly one candidate -- and the selection is
    deterministic across invocations."""
    from conftest import SF_DIR
    from kmeans_with_mapreduce_cuda_spark.plans.kmeans_queries import (
        o02_seed_kmeanspp,
    )
    from kmeans_with_mapreduce_cuda_spark.sources.readers import (
        points_from_lineitem_cached,
    )

    n_slice = (
        points_from_lineitem_cached(spark, SF_DIR)
        .where(F.col("id") <= 20000)
        .count()
    )
    a = o02_seed_kmeanspp(spark, SF_DIR).collect()
    b = o02_seed_kmeanspp(spark, SF_DIR).collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]
    assert 1 <= len(a) <= 8
    assert all(r["weight"] >= 1 for r in a)
    # the emitted rows are the top-8 of the candidate set; their weights
    # cannot exceed the slice, and when the whole candidate set fits in
    # the limit they must partition the slice EXACTLY (every point is
    # served by exactly one candidate)
    total_w = sum(r["weight"] for r in a)
    assert total_w <= n_slice
    if len(a) < 8:
        assert total_w == n_slice


def test_kmeanspp_acceptance_collect_is_structurally_bounded(spark, monkeypatch):
    """The per-round acceptance collect carries a structural cap (limit +
    loud error), not just the probabilistic O(l) expectation: with the
    cap patched below the real acceptance count the query must refuse
    rather than silently truncate or pull the full set to the driver."""
    from conftest import SF_DIR
    import kmeans_with_mapreduce_cuda_spark.plans.kmeans_queries as kq

    monkeypatch.setattr(kq, "_KPP_ACCEPT_CAP", 0)
    with pytest.raises(RuntimeError, match="k-means\\|\\| round"):
        kq.o02_seed_kmeanspp(spark, SF_DIR)


def test_seed_farthest_query_releases_cache_on_error(spark, monkeypatch):
    """o02_seed_farthest persists its points for the k-pass loop and
    must unpersist them when the seeding fails, not only on success."""
    from conftest import SF_DIR
    import kmeans_with_mapreduce_cuda_spark.operators.kmeans as km
    import kmeans_with_mapreduce_cuda_spark.plans.kmeans_queries as kq

    def fail_after_filling_cache(pts, k):
        pts.count()
        raise RuntimeError("seeding failed")

    monkeypatch.setattr(km, "seed_centroids_farthest", fail_after_filling_cache)
    cached = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="seeding failed"):
        kq.o02_seed_farthest(spark, SF_DIR)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached


def test_iteration_confs_nesting_and_exception_restore(spark):
    """iteration_confs must restore the TRUE pre-loop confs when nested
    (r10 verdict item 7): an inner use is a no-op and only the outermost
    exit restores, including on the exception path -- a naive
    save/restore would have the inner exit reinstate the LOOP confs as
    if they were user state."""
    from kmeans_with_mapreduce_cuda_spark.operators.kmeans import (
        iteration_confs,
    )

    before_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    before_sp = spark.conf.get("spark.sql.shuffle.partitions")
    with iteration_confs(spark):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        # a sentinel no iteration_confs window would set: the inner
        # enter must not overwrite it and the inner exit must not
        # restore over it
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        with iteration_confs(spark):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
    assert spark.conf.get("spark.sql.adaptive.enabled") == before_aqe
    assert spark.conf.get("spark.sql.shuffle.partitions") == before_sp

    class Boom(Exception):
        pass

    try:
        with iteration_confs(spark):
            with iteration_confs(spark):
                raise Boom()
    except Boom:
        pass
    assert spark.conf.get("spark.sql.adaptive.enabled") == before_aqe
    assert spark.conf.get("spark.sql.shuffle.partitions") == before_sp
