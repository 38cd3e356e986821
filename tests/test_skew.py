"""Skew handling: the reference sizes one reduction grid per cluster
(its "Loading Balancing", kmeans_mapreduce_core.cu:195-207 /
README.md:55-58).  Spark's analog is AQE skew-join splitting --
oversized shuffle partitions split into parallel subtasks at runtime --
asserted here end-to-end, next to salted_topk, the explicit salted
two-stage top-k for hot keys.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kmeans_with_mapreduce_cuda_spark.session import pinned_confs
from kmeans_with_mapreduce_cuda_spark.sources.readers import load_table

from conftest import SF_DIR_MED


def test_aqe_splits_skewed_join_partition(spark):
    """90% of the fact side lands on one join key; AQE must mark the
    sort-merge join skew-handled (``skew=true``) in the final plan.

    Two scale-down knobs make the fixture trigger what a 100 TB run
    triggers naturally: thresholds shrunk to fixture size, and the
    input repartitioned to several map tasks FIRST -- AQE splits a
    skewed reduce partition by mapper ranges, so a single-mapper
    shuffle (one small parquet scan task) can never be split.
    forceOptimizeSkewedJoin because the downstream agg means the split
    introduces an extra shuffle, which AQE otherwise declines.
    """
    li = load_table(spark, SF_DIR_MED, "lineitem")
    skewed = li.repartition(8).select(
        F.when(F.rand(7) < 0.9, F.lit(1))
        .otherwise(F.col("l_orderkey"))
        .alias("k"),
        "l_extendedprice",
    )
    right = li.select(F.col("l_orderkey").alias("k"), "l_quantity").limit(5000)
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    with pinned_confs(spark, confs):
        j = skewed.join(right, "k").agg(F.sum("l_extendedprice"))
        j.collect()  # AQE decides at runtime -> inspect the FINAL plan
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan


def test_cap_hot_keys_boundary_report_and_plan(spark):
    """A key with exactly max_n rows is kept; one with max_n + 1 is
    dropped and reported with its count; the drop is a broadcast
    left-anti join; max_n=None keeps every row and reports nothing,
    with the same (key, n_col) columns."""
    from kmeans_with_mapreduce_cuda_spark.operators.skew import cap_hot_keys

    rows = [("edge", i) for i in range(3)] + [("hot", i) for i in range(4)]
    df = spark.createDataFrame(rows + [("cold", 0)], "k string, v int")

    kept, capped = cap_hot_keys(df, "k", 3)
    # planned before any action, with auto-broadcast off: only the
    # helper's own hint can broadcast
    with pinned_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert sorted(r["k"] for r in kept.collect()) == ["cold"] + ["edge"] * 3
    assert capped.columns == ["k", "n"]
    assert [tuple(r) for r in capped.collect()] == [("hot", 4)]

    kept, capped = cap_hot_keys(df, "k", None, n_col="n_docs")
    assert sorted(map(tuple, kept.collect())) == sorted(map(tuple, df.collect()))
    assert capped.columns == ["k", "n_docs"]
    assert capped.count() == 0


def test_minhash_lsh_bucket_cap_bounds_hot_band(spark):
    """Synthetic hot band: 60 identical boilerplate docs collide on
    every band key.  Uncapped, they alone emit 60*59/2 = 1770 pairs;
    with max_bucket=20 every boilerplate band key is excluded, the pair
    set stays bounded, and the capped keys are reported.  Distinct
    near-dup docs in small buckets must still pair."""
    from kmeans_with_mapreduce_cuda_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    boiler = [(i, "all rights reserved footer text common to every page")
              for i in range(60)]
    near = [
        (1000, "the quick brown fox jumps over the lazy dog tonight"),
        (1001, "the quick brown fox jumps over the lazy dog today"),
    ]
    d = spark.createDataFrame(boiler + near, "doc_id bigint, text string")

    res = minhash_lsh_pairs(d, max_bucket=20)
    try:
        pairs = res.pairs.collect()
        capped = res.capped_buckets.collect()
    finally:
        for dep in res.deps:
            dep.unpersist()

    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    # the hot bucket contributed nothing: no boilerplate-boilerplate pair
    assert not any(a < 60 and b < 60 for a, b in got), sorted(got)[:5]
    # the near-dup pair survives (its band buckets are size 2)
    assert (1000, 1001) in got
    # every capped key reports its true cardinality (60 > 20)
    assert capped and all(r["n_docs"] == 60 for r in capped)

    # uncapped control: quadratic blowup really was there
    res2 = minhash_lsh_pairs(d, max_bucket=None)
    try:
        n_uncapped = res2.pairs.count()
        assert res2.capped_buckets.count() == 0
    finally:
        for dep in res2.deps:
            dep.unpersist()
    assert n_uncapped >= 1770


def test_cross_corpus_cap_agrees_with_mirrored_oracle_when_firing(spark):
    """The bug-class-2 regression test for dedup_cross_corpus: 1200
    identical boilerplate REF docs push every boilerplate band key past
    the gate cap (1000), so the delta boilerplate doc must pair with
    NOTHING -- in BOTH engines, because the ref-side cap is mirrored in
    the oracle's per-band count<=cap CTEs.  Before the mirror, the
    oracle would emit 1200 boilerplate pairs here and the hash check
    would (correctly) explode.  The distinct near-dup delta pair still
    comes through."""
    import tempfile

    import duckdb

    from gate import compare, oracle
    from kmeans_with_mapreduce_cuda_spark.plans import REGISTRY

    boiler = "all rights reserved footer text common to every page"
    rows = (
        [(i, boiler, "en", "srcR") for i in range(1200)]
        + [
            (1300, "the quick brown fox jumps over the lazy dog tonight",
             "en", "srcR"),
            (2000, boiler, "en", "src0"),
            (2001, "the quick brown fox jumps over the lazy dog today",
             "en", "src0"),
        ]
    )
    d = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string"
    )
    q = REGISTRY["dedup_cross_corpus"]
    with tempfile.TemporaryDirectory() as tmp:
        d.coalesce(2).write.parquet(f"{tmp}/documents.parquet")
        got = q.fn(spark, tmp)
        cols, data = got.columns, [tuple(r) for r in got.collect()]
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS "
            f"SELECT * FROM '{tmp}/documents.parquet/*.parquet'"
        )
        ocols, odata = oracle(con, q.oracle)
    assert compare(cols, data, ocols, odata) is None
    pairs = {(a, b) for a, b, _ in data}
    assert (2001, 1300) in pairs
    assert not any(a == 2000 for a, _ in pairs), sorted(pairs)[:5]
    """Same guard on the hyperplane-sign buckets: many copies of one
    vector direction form a hot bucket; max_bucket excludes it while an
    isolated near-parallel pair in another bucket still emerges."""
    from kmeans_with_mapreduce_cuda_spark.operators.similarity import (
        lsh_bucket_pairs,
    )

    dim = 8
    hot = [(i, [1.0] * dim) for i in range(40)]
    other = [
        (500, [1.0, -1.0] * (dim // 2)),
        (501, [0.9, -1.1] * (dim // 2)),
    ]
    e = spark.createDataFrame(hot + other, "vec_id bigint, embedding array<double>")

    capped = lsh_bucket_pairs(e, n_planes=3, seed=7, max_bucket=10).collect()
    got = {(r["vec_a"], r["vec_b"]) for r in capped}
    assert not any(a < 40 and b < 40 for a, b in got), sorted(got)[:5]
    assert (500, 501) in got

    uncapped = lsh_bucket_pairs(e, n_planes=3, seed=7, max_bucket=None).count()
    assert uncapped >= 40 * 39 // 2


def test_salted_topk_equals_plain_window_on_pathological_skew(spark):
    """salted_topk must return EXACTLY the plain-window top-k on a
    pathologically skewed input (one key holding ~95% of rows) --
    mergeability of top-k under a total order, the property the
    rel_topk_salted oracle relies on."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from kmeans_with_mapreduce_cuda_spark.operators.skew import salted_topk

    # hot key 'h' with 9500 rows, cold keys with 100 each; value has
    # deliberate ties so the unique-id tiebreaker is load-bearing
    df = spark.range(10000).select(
        F.when(F.col("id") < 9500, F.lit("h"))
        .otherwise(F.concat(F.lit("c"), (F.col("id") % 5).cast("string")))
        .alias("key"),
        F.col("id").alias("rid"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    order = [F.col("v").desc(), F.col("rid")]
    got = salted_topk(df, "key", order, k=5, n_salt=8, salt_on="rid")
    w = Window.partitionBy("key").orderBy(*order)
    exp = (
        df.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 5)
    )
    g = sorted(map(tuple, got.select("key", "rid", "v", "rank").collect()))
    e = sorted(map(tuple, exp.select("key", "rid", "v", "rank").collect()))
    assert g == e
    assert len(g) == 5 * 6  # hot key + 5 cold keys, k rows each


def _brute_skyline(pts):
    """Strict-dominance skyline, O(n^2) reference."""
    out = []
    for i, (x, y) in enumerate(pts):
        dominated = any(
            ox >= x and oy >= y and (ox > x or oy > y) for ox, oy in pts
        )
        if not dominated:
            out.append((i, x, y))
    return sorted(out)


def test_skyline_2d_matches_brute_force_with_ties_and_dups(spark):
    """Two-phase mergeable skyline == quadratic reference, on a point
    set engineered with duplicate frontier points, x-ties, and a long
    dominated tail."""
    import random

    from kmeans_with_mapreduce_cuda_spark.operators.skew import skyline_2d

    rng = random.Random(42)
    pts = [(rng.randrange(0, 40), rng.randrange(0, 40)) for _ in range(300)]
    pts += [(50, 1), (50, 1), (1, 50), (1, 50)]  # duplicated frontier pts
    pts += [(40, i) for i in range(10)]  # x-tie column: only max-y lives

    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)], ["id", "x", "y"]
    )
    got = sorted(
        (r["id"], r["x"], r["y"])
        for r in skyline_2d(df, x="x", y="y", salt_on="id").collect()
    )
    assert got == _brute_skyline(pts)


def test_skyline_2d_every_bucket_count(spark):
    """Mergeability must hold for any bucketing: 1 bucket (pure global)
    and 64 buckets (more buckets than frontier points) agree."""
    import random

    from kmeans_with_mapreduce_cuda_spark.operators.skew import skyline_2d

    rng = random.Random(7)
    pts = [(rng.randrange(0, 25), rng.randrange(0, 25)) for _ in range(150)]
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)], ["id", "x", "y"]
    )
    want = _brute_skyline(pts)
    for n_salt in (1, 64):
        got = sorted(
            (r["id"], r["x"], r["y"])
            for r in skyline_2d(
                df, x="x", y="y", salt_on="id", n_salt=n_salt
            ).collect()
        )
        assert got == want, n_salt


def test_skyline_2d_fractional_axes(spark):
    """Regression (ADVICE r4): a RANGE +1 offset over the raw x axis
    reads as "x' >= x+1", which silently skips dominators with
    x' in (x, x+1) on fractional axes.  The dense_rank axis makes the
    strict-greater frame exact for any numeric type: (0.5, 1.0) is
    dominated by (0.7, 2.0) and must NOT survive."""
    import random

    from kmeans_with_mapreduce_cuda_spark.operators.skew import skyline_2d

    rng = random.Random(13)
    pts = [(0.5, 1.0), (0.7, 2.0), (0.9, 0.4)]
    pts += [
        (rng.random() * 3, rng.random() * 3) for _ in range(200)
    ]  # sub-unit spacing everywhere
    pts += [(2.25, 2.25), (2.25, 2.25)]  # duplicated fractional frontier pt
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)], ["id", "x", "y"]
    )
    got = sorted(
        (r["id"], r["x"], r["y"])
        for r in skyline_2d(df, x="x", y="y", salt_on="id").collect()
    )
    assert got == _brute_skyline(pts)
    assert (0, 0.5, 1.0) not in got


def test_asof_twins_row_identical_on_hot_keyed_fixture(spark):
    """rel_asof_join (JVM union + window-carry) and udf_cogroup_asof
    (pandas merge_asof per cogroup) share one oracle at gate scale; this
    pins the documented 'window formulation is the fallback' claim on a
    fixture the gate cannot produce: one user holding ~50% of all events
    (the skew class where the cogroup path's per-group memory becomes
    the difference), plus every NULL/tie class -- NaT clicks, NaT
    purchases, same-ts click ties, click-only and purchase-only users.
    The two formulations must stay row-identical; the plans must differ
    exactly as documented (window vs FlatMapCoGroupsInPandas)."""
    import datetime as dt
    import random
    import tempfile

    from kmeans_with_mapreduce_cuda_spark.plans.pipeline import (
        udf_cogroup_asof,
    )
    from kmeans_with_mapreduce_cuda_spark.plans.relational import (
        rel_asof_join,
    )

    rng = random.Random(808)
    t0 = dt.datetime(2024, 3, 1)
    rows = []
    eid = 0

    def emit(uid, ts, etype):
        nonlocal eid
        eid += 1
        rows.append((eid, ts, uid, etype, 0.0, None))

    # user 1: ~50% of all events, dense ties (offsets drawn from a
    # small grid so many clicks/purchases collide on the same second)
    for _ in range(1000):
        ts = t0 + dt.timedelta(seconds=rng.randrange(0, 500))
        emit(1, ts, "click" if rng.random() < 0.7 else "purchase")
    # the cold tail: 49 users with ~20 events each
    for uid in range(2, 51):
        for _ in range(rng.randrange(10, 30)):
            ts = t0 + dt.timedelta(seconds=rng.randrange(0, 5000))
            emit(uid, ts, "click" if rng.random() < 0.5 else "purchase")
    # NULL/edge classes: NaT clicks (invisible), NaT purchases (row
    # kept, NULL cid), a click-only user, a purchase-only user, and a
    # user whose ONLY click is NaT (purchases must get NULL, not the
    # NaT click's id)
    emit(1, None, "click")
    emit(1, None, "purchase")
    emit(60, t0, "click")
    emit(61, t0, "purchase")
    emit(62, None, "click")
    emit(62, t0 + dt.timedelta(seconds=10), "purchase")

    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        df.repartition(8).write.parquet(f"{d}/events.parquet")
        win = rel_asof_join(spark, d)
        cog = udf_cogroup_asof(spark, d)
        win_rows = sorted(
            (r.pid, r.user_id, r.cid) for r in win.collect()
        )
        cog_rows = sorted(
            (r.pid, r.user_id, r.cid) for r in cog.collect()
        )
        win_plan = win._jdf.queryExecution().executedPlan().toString()
        cog_plan = cog._jdf.queryExecution().executedPlan().toString()

    assert win_rows == cog_rows
    n_purch = sum(1 for r in rows if r[3] == "purchase")
    assert len(win_rows) == n_purch  # left join: every purchase kept
    # the NaT-only-click user resolves to NULL in both formulations
    assert [c for (p, u, c) in win_rows if u == 62] == [None]
    # per-group memory is the only difference: same rows, different
    # physical strategy
    assert "Window" in win_plan and "FlatMapCoGroupsInPandas" not in win_plan
    assert "FlatMapCoGroupsInPandas" in cog_plan
