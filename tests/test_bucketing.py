"""Bucketed (hash-clustered) tables: the write-time co-located join.

The scale argument: a fact-to-fact join on a repeated key (orders x
lineitem on orderkey, points x assignments on point id, ...) shuffles
BOTH sides every run.  Bucketing pays that shuffle once at write time;
every later join on the bucket key reads co-located bucket files and
the plan contains NO Exchange at all.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kmeans_with_mapreduce_cuda_spark.session import pinned_confs
from kmeans_with_mapreduce_cuda_spark.sources import (
    load_table,
    write_bucketed_table,
)

from conftest import SF_DIR


@pytest.fixture(scope="module")
def bucketed(spark):
    o = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    write_bucketed_table(o, "b_orders", "o_orderkey", num_buckets=4)
    write_bucketed_table(li, "b_lineitem", "l_orderkey", num_buckets=4)
    yield
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def _joined(spark):
    o = spark.table("b_orders")
    li = spark.table("b_lineitem")
    return o.join(li, o.o_orderkey == li.l_orderkey).groupBy(
        "o_orderpriority"
    ).agg(F.round(F.sum("l_extendedprice"), 2).alias("rev"))


def test_bucketed_join_has_no_shuffle(spark, bucketed):
    # force the sort-merge path (a broadcast would hide the bucketing)
    with pinned_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        plan = _joined(spark)._jdf.queryExecution().executedPlan().toString()
        join_part = plan.split("HashAggregate")[-1]  # below the final agg
        assert "Exchange hashpartitioning" not in join_part, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_bucketed_join_matches_plain_join(spark, bucketed):
    got = {
        r["o_orderpriority"]: r["rev"] for r in _joined(spark).collect()
    }
    o = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    exp = {
        r["o_orderpriority"]: r["rev"]
        for r in o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("rev"))
        .collect()
    }
    assert got == exp


def test_bucketed_full_outer_join_no_shuffle(spark, bucketed):
    """Full outer joins can't broadcast, so at scale both fact sides
    ALWAYS shuffle -- unless they're storage-bucketed on the join key,
    which makes even the outer join exchange-free (the rel_join_outer
    scale path)."""
    o = spark.table("b_orders")
    li = spark.table("b_lineitem")
    outer = o.join(li, o.o_orderkey == li.l_orderkey, "full_outer").select(
        "o_orderkey", "l_orderkey", "o_orderpriority", "l_quantity"
    )
    plan = outer._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert "FullOuter" in plan, plan
    # correctness vs the plain-table outer join
    po = load_table(spark, SF_DIR, "orders")
    pl = load_table(spark, SF_DIR, "lineitem")
    exp = (
        po.join(pl, po.o_orderkey == pl.l_orderkey, "full_outer")
        .selectExpr("count(*) AS n", "count(o_orderkey) AS no",
                    "count(l_orderkey) AS nl")
        .collect()[0]
    )
    got = outer.selectExpr(
        "count(*) AS n", "count(o_orderkey) AS no", "count(l_orderkey) AS nl"
    ).collect()[0]
    assert tuple(got) == tuple(exp)


def test_bucket_pruning_single_key_scan(spark, bucketed):
    """Filtering on the bucket key reads only the matching bucket file
    (numFiles pruned: 1 of 4)."""
    # the planner drops bucketed scans when nothing downstream uses the
    # clustering; force it on so pruning applies to the bare filter too
    conf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    with pinned_confs(spark, {conf: "false"}):
        df = spark.table("b_lineitem").where(F.col("l_orderkey") == 7)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount: 1 out of 4" in plan, plan


def test_rel_bucketed_join_registry_query_plan_and_memo(spark):
    """The REGISTRY query (r10): the only Exchanges in the plan are
    ABOVE the aggregate (the 5-group hash repartition + the final
    order-by range partition -- both over <=5 rows per partition); the
    join subtree below the partial HashAggregate is Exchange-free over
    a SortMergeJoin of co-located bucketed scans, with no
    BroadcastExchange anywhere (the merge hint pins it).  The bucket
    write is memoized per (session, fixture)."""
    from kmeans_with_mapreduce_cuda_spark.plans import REGISTRY
    from kmeans_with_mapreduce_cuda_spark.sources.readers import (
        _FIXTURE_MEMO,
        fixture_memo_drop,
    )

    fixture_memo_drop("bucketed_join")
    df = REGISTRY["rel_bucketed_join"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    join_part = plan.split("HashAggregate")[-1]  # below the partial agg
    assert "Exchange" not in join_part, plan
    assert plan.count("Exchange") == 2, plan  # 5-group agg + orderBy only
    assert "SortMergeJoin" in join_part, plan
    assert "BroadcastExchange" not in plan, plan
    assert join_part.count("Bucketed: true") == 2, plan
    held = _FIXTURE_MEMO["bucketed_join"]
    assert held.key is not None  # servable, not an un-stat-able build
    tables = held.value
    # memo hit: second invocation reuses the same catalog tables
    # without clearing/rewriting them
    df2 = REGISTRY["rel_bucketed_join"].fn(spark, SF_DIR)
    assert _FIXTURE_MEMO["bucketed_join"].value == tables
    assert _FIXTURE_MEMO["bucketed_join"] is held  # served, not rebuilt
    assert {tuple(r) for r in df2.collect()} == {tuple(r) for r in df.collect()}


def test_rel_schema_evolution_nulls_exactly_on_pre_evolution_rows(spark):
    from kmeans_with_mapreduce_cuda_spark.plans import REGISTRY

    rows = REGISTRY["rel_schema_evolution"].fn(spark, SF_DIR).collect()
    assert rows, "fixture slice should be non-empty"
    for r in rows:
        if r["o_orderkey"] < 1000:
            assert r["priority"] is None
        else:
            assert r["priority"] is not None
