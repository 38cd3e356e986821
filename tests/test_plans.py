"""Physical-plan audits: the scale claims in docstrings, asserted.

These read ``explain(formatted)`` output -- if a refactor sneaks a
shuffle into the assign path or un-broadcasts a dimension join, these
fail before any benchmark regresses.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kmeans_with_mapreduce_cuda_spark.operators.kmeans import assign_2d, update_2d
from kmeans_with_mapreduce_cuda_spark.plans import REGISTRY
from kmeans_with_mapreduce_cuda_spark.session import pinned_confs
from kmeans_with_mapreduce_cuda_spark.sources.readers import load_table, points_xy

from conftest import SF_DIR

INIT4 = [(10.0, 20000.0), (25.0, 50000.0), (40.0, 80000.0), (15.0, 95000.0)]


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_assign_is_shuffle_free(spark):
    """The map stage must be a pure projection: no join, no exchange."""
    plan = plan_of(assign_2d(points_xy(spark, SF_DIR), INIT4))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "* Project" in plan  # '*' prefix == whole-stage codegen


def test_kmeans_step_single_shuffle(spark):
    """One iteration = exactly one exchange (the k-row update shuffle)
    with a partial_avg below it (map-side combine)."""
    import re

    plan = plan_of(update_2d(assign_2d(points_xy(spark, SF_DIR), INIT4)))
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n_exchanges == 1, plan
    assert "partial_avg" in plan, plan


def test_lloyd_sql_step_plan_matches_dataframe_step(spark):
    """The single-SQL iteration statement the lloyd loops actually run
    (_step_sql_2d) must plan exactly like the DataFrame step: no join,
    one exchange, map-side combine.  Guards against the SQL twin
    silently drifting into a worse physical shape."""
    import re

    from kmeans_with_mapreduce_cuda_spark.operators.kmeans import (
        _step_sql_2d,
    )

    pts = points_xy(spark, SF_DIR)
    pts.createOrReplaceTempView("_plan_audit_pts")
    try:
        plan = plan_of(
            spark.sql(_step_sql_2d("_plan_audit_pts", INIT4, "x", "y"))
        )
    finally:
        spark.catalog.dropTempView("_plan_audit_pts")
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n_exchanges == 1, plan
    assert "partial_avg" in plan, plan
    assert "Join" not in plan, plan


def test_scan_prunes_columns(spark):
    """points_xy projects 2 of 11 lineitem columns; the parquet ReadSchema
    must contain only those."""
    plan = plan_of(points_xy(spark, SF_DIR))
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read, plan
    line = read[0]
    assert "l_quantity" in line and "l_extendedprice" in line
    assert "l_orderkey" not in line and "l_shipdate" not in line


def test_filter_pushdown_reaches_scan(spark):
    """rel_filter_agg's shipdate predicate must appear in PushedFilters."""
    plan = plan_of(REGISTRY["rel_filter_agg"].fn(spark, SF_DIR))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "l_shipdate" in pushed[0], plan


def test_dimension_join_broadcasts(spark):
    """nation/region joins must be BroadcastHashJoin, never sort-merge."""
    plan = plan_of(REGISTRY["rel_join_broadcast"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_topk_similarity_broadcasts_queries(spark):
    """sim_topk_bruteforce must broadcast the 3-row query side."""
    plan = plan_of(REGISTRY["sim_topk_bruteforce"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_range_join_is_equi_join(spark):
    """The banded range join must compile to a hash/merge EQUI join on
    (user, bucket), not a nested-loop inequality join."""
    plan = plan_of(REGISTRY["rel_range_join"].fn(spark, SF_DIR))
    assert "NestedLoop" not in plan, plan


def test_events_filter_pushdown(spark):
    """Predicate on a rebuilt-timestamp table still pushes the
    event_type filter to the scan."""
    e = load_table(spark, SF_DIR, "events").where(F.col("event_type") == "click")
    plan = plan_of(e)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "event_type" in pushed[0], plan


def test_approx_distinct_within_rsd(spark):
    """HLL++ at rsd=0.02 must land within 5% of the exact count; the
    query emits that claim as a boolean so the oracle can hash-check it."""
    from kmeans_with_mapreduce_cuda_spark.plans import REGISTRY

    rows = REGISTRY["rel_approx_distinct"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["approx_within_5pct"] is True, r
        assert r["exact_orders"] > 0, r


def test_udtf_shingles_matches_jvm_expression(spark):
    """The Python UDTF and the JVM-side shingle expression agree row-set
    for row-set (same tokenization contract)."""
    from pyspark.sql import functions as F

    from kmeans_with_mapreduce_cuda_spark.functions.text import word_shingles
    from kmeans_with_mapreduce_cuda_spark.plans import REGISTRY
    from kmeans_with_mapreduce_cuda_spark.sources import load_table

    got = (
        REGISTRY["udtf_shingles"].fn(spark, SF_DIR)
        .select("doc_id", "pos", "shingle")
        .collect()
    )
    d = load_table(spark, SF_DIR, "documents").where(F.col("doc_id") < 100)
    exp = d.select(
        "doc_id", F.posexplode(word_shingles("text")).alias("pos", "shingle")
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, exp))


def test_udtf_polymorphic_analyze_contract(spark):
    """The analyze() half of top_terms: the schema WIDENS with the
    constant n (term_1..term_n), a non-constant n is rejected at plan
    time, and NULL text drops the outer row through the LATERAL."""
    import pytest
    from pyspark.errors import AnalysisException

    from kmeans_with_mapreduce_cuda_spark.functions.udtfs import (
        register_udtfs,
    )

    register_udtfs(spark)
    spark.createDataFrame(
        [(1, "b a b"), (2, None)], "id bigint, txt string"
    ).createOrReplaceTempView("_tt_docs")
    five = spark.sql(
        "SELECT t.* FROM _tt_docs d, LATERAL top_terms(d.txt, 5) t "
        "WHERE d.id = 1"
    )
    assert five.columns == [f"term_{i}" for i in range(1, 6)] + [
        "n_distinct_terms"
    ]
    row = five.collect()[0]
    assert (row["term_1"], row["term_2"], row["term_3"]) == ("b", "a", None)
    assert row["n_distinct_terms"] == 2
    # NULL text: eval yields nothing -> the LATERAL drops the row
    assert (
        spark.sql(
            "SELECT t.* FROM _tt_docs d, LATERAL top_terms(d.txt, 2) t"
        ).count()
        == 1
    )
    with pytest.raises(AnalysisException):
        spark.sql(
            "SELECT t.* FROM _tt_docs d, LATERAL top_terms(d.txt, d.id) t"
        ).collect()


def test_udtf_table_arg_sessions_boundary_and_flush(spark):
    """gap_sessions edge semantics: a gap of EXACTLY 30 minutes stays
    in-session (the rule is strictly greater, matching
    rel_sessionize_batch), one microsecond past it breaks, span_s is
    the microsecond floor -- and the class handles key changes inside
    one instance (flush-and-reset in eval), so correctness does not
    depend on Spark's partition-to-instance assignment."""
    from kmeans_with_mapreduce_cuda_spark.functions.udtfs import (
        GapSessionsUDTF,
        register_udtfs,
    )

    register_udtfs(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.createDataFrame(
        [
            (1, 10, "2024-01-01 00:00:00"),
            (1, 11, "2024-01-01 00:30:00"),          # exactly 30m: same
            (1, 12, "2024-01-01 01:00:00.000001"),   # 30m + 1us: breaks
            (2, 20, "2024-01-01 05:00:00"),
        ],
        "user_id bigint, event_id bigint, ts string",
    ).selectExpr(
        "user_id", "event_id", "CAST(ts AS TIMESTAMP) AS ts"
    ).createOrReplaceTempView("_gs_events")
    got = {
        r["user_id"]: r
        for r in spark.sql(
            """
            SELECT s.* FROM gap_sessions(
                TABLE(SELECT user_id, event_id, ts FROM _gs_events)
                PARTITION BY user_id ORDER BY (ts, event_id)
            ) s
            """
        ).collect()
    }
    assert (got[1]["n_events"], got[1]["n_sessions"]) == (3, 2)
    assert got[1]["span_s"] == 3600  # floor(3600.000001 s)
    assert (got[2]["n_events"], got[2]["n_sessions"], got[2]["span_s"]) == (
        1,
        1,
        0,
    )

    # Direct-instance multi-key feed: two users through ONE instance.
    from datetime import datetime

    inst = GapSessionsUDTF.func()
    t0 = datetime(2024, 1, 1)
    rows = [
        {"user_id": None, "ts": t0},  # NULL key is a real group
        {"user_id": None, "ts": datetime(2024, 1, 1, 0, 5)},
        {"user_id": 1, "ts": t0},
        {"user_id": 1, "ts": datetime(2024, 1, 1, 2)},
        {"user_id": 2, "ts": t0},
    ]
    out = [r for row in rows for r in (inst.eval(row) or [])]
    out += list(inst.terminate())
    assert out == [(None, 2, 1, 300), (1, 2, 2, 7200), (2, 1, 1, 0)]


def test_nullsafe_join_keeps_equi_join_plan(spark):
    """EqualNullSafe must plan as a hash/sort-merge equi join -- the
    `(a = b OR both NULL)` rewrite would fall to nested-loop, which is
    exactly the degradation this query documents against."""
    plan = plan_of(REGISTRY["rel_nullsafe_join"].fn(spark, SF_DIR))
    assert "NestedLoop" not in plan, plan
    assert any(
        j in plan
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    ), plan


def test_timezone_convert_dst_boundary(spark):
    """The DST cases the January fixture can't exercise: EST (-300) vs
    EDT (-240), and the spring-forward instant pair around
    2024-03-10 07:00 UTC where New York wall time jumps 01:59:59 ->
    03:00:00 (02:xx does not exist)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.createDataFrame(
        [
            (1, "2024-01-15 12:00:00"),
            (2, "2024-07-15 12:00:00"),
            (3, "2024-03-10 06:59:59"),
            (4, "2024-03-10 07:00:00"),
        ],
        "id bigint, s string",
    ).select("id", F.col("s").cast("timestamp").alias("ts"))
    nyc = F.convert_timezone(F.lit("UTC"), F.lit("America/New_York"), "ts")
    off = F.unix_seconds(nyc.cast("timestamp")) - F.unix_seconds("ts")
    got = {
        r["id"]: (r["nyc_s"], r["offset_min"])
        for r in df.select(
            "id",
            F.date_format(nyc, "yyyy-MM-dd HH:mm:ss").alias("nyc_s"),
            F.floor(off / 60).cast("bigint").alias("offset_min"),
        ).collect()
    }
    assert got[1] == ("2024-01-15 07:00:00", -300)
    assert got[2] == ("2024-07-15 08:00:00", -240)
    assert got[3] == ("2024-03-10 01:59:59", -300)
    assert got[4] == ("2024-03-10 03:00:00", -240)


def test_window_count_distinct_stays_jvm_side(spark):
    """The running-distinct composition must plan as a JVM Window over
    collect_set -- no Python eval node -- and exist precisely because
    Spark rejects a native DISTINCT aggregate in a window frame."""
    import pytest
    from pyspark.errors import AnalysisException
    from pyspark.sql import Window

    plan = plan_of(REGISTRY["rel_window_count_distinct"].fn(spark, SF_DIR))
    assert "Window" in plan, plan
    assert "EvalPython" not in plan and "ArrowEval" not in plan, plan

    e = load_table(spark, SF_DIR, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    with pytest.raises(AnalysisException):
        e.select(F.count_distinct("event_type").over(w)).collect()


def test_q5_join_chain_plan(spark):
    """Six-table chain: nation/region arrive via BroadcastExchange, the
    region filter pushes into its scan, and the fact side never
    broadcast-explodes."""
    plan = plan_of(REGISTRY["rel_join_chain_q5"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    pushed = [
        ln
        for ln in plan.splitlines()
        if "PushedFilters" in ln and "r_name" in ln
    ]
    assert any("EqualTo(r_name,ASIA)" in ln for ln in pushed), plan


def test_grouping_sets_single_expand_single_shuffle(spark):
    """GROUPING SETS = one Expand (x3 replication) + one aggregate
    exchange -- not one query per set."""
    import re

    plan = plan_of(REGISTRY["rel_grouping_sets"].fn(spark, SF_DIR))
    assert len(re.findall(r"^\(\d+\) Expand", plan, re.MULTILINE)) == 1, plan
    assert (
        len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE)) == 1
    ), plan


def test_count_distinct_multi_uses_expand(spark):
    """Two DISTINCT aggregates -> one Expand-based plan, no self-join."""
    plan = plan_of(REGISTRY["rel_count_distinct_multi"].fn(spark, SF_DIR))
    assert "Expand" in plan, plan
    assert "Join" not in plan, plan


def test_farthest_seed_step_is_narrow(spark):
    """Each maxmin step: scan -> project -> partial/final max_by agg;
    no join, and only the final single-row exchange."""
    import re

    from kmeans_with_mapreduce_cuda_spark.operators.kmeans import _dists_sql_2d
    from kmeans_with_mapreduce_cuda_spark.sources import points_from_lineitem

    pts = points_from_lineitem(spark, SF_DIR)
    d = pts.withColumn("_d", F.expr(_dists_sql_2d(INIT4[:2], "x", "y")))
    step = d.select(
        F.expr("max_by(struct(x, y), struct(array_min(_d), -id))").alias("s")
    )
    plan = plan_of(step)
    assert "Join" not in plan, plan
    assert "partial_max_by" in plan, plan


def test_observe_metrics_single_pass(spark):
    """df.observe: pipeline health metrics (row count, null count, sum)
    ride along the main action -- no second scan.  The pattern for
    validating a 100 TB ingest without doubling its cost."""
    from pyspark.sql import Observation

    li = load_table(spark, SF_DIR, "lineitem")
    obs = Observation("ingest")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("null_qty"),
    )
    n = observed.where(F.col("l_quantity") > 0).count()
    assert obs.get["rows"] >= n
    assert obs.get["null_qty"] == 0


def test_approx_percentile_close_to_exact(spark):
    rows = REGISTRY["rel_approx_percentile"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["approx_within_2pct"] is True, r
        assert r["approx_in_range"] is True, r
        assert r["exact_p50"] > 0, r


def test_lsh_pairs_join_is_equi_on_bucket(spark):
    """sim_lsh_pairs must plan an equi-join keyed on the bucket (the id
    inequality and the cosine threshold ride along as join/filter
    conditions) -- never a cartesian/BNL join."""
    plan = plan_of(REGISTRY["sim_lsh_pairs"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    ), plan


def test_corpus_clean_single_shuffle(spark):
    """pipe_corpus_clean: the dedup window is the only exchange; every
    language/quality gate is a narrow projection above one scan."""
    import re

    plan = plan_of(REGISTRY["pipe_corpus_clean"].fn(spark, SF_DIR))
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n_exchanges == 1, plan
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE))
    assert n_scans == 1, plan


def test_stream_static_join_broadcasts_dimension(spark):
    """The stream-static join must broadcast the customer x nation
    dimension (stateless enrichment), keeping the stream side free of a
    co-partitioning exchange before the stateful agg."""
    from kmeans_with_mapreduce_cuda_spark.sources.readers import load_table
    from kmeans_with_mapreduce_cuda_spark.streaming import (
        enriched_counts_stream,
        read_events_stream,
    )

    dim = (
        load_table(spark, SF_DIR, "customer")
        .join(
            load_table(spark, SF_DIR, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(F.col("c_custkey").alias("user_id"), "n_name")
    )
    sdf = enriched_counts_stream(read_events_stream(spark, SF_DIR), dim)
    # streaming plans can't be explained pre-start; audit the analyzed
    # logical plan for the broadcast hint surviving analysis
    logical = sdf._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in logical and "broadcast" in logical.lower(), logical


def test_ngram_freq_topk_is_take_ordered(spark):
    """text_ngram_freq: global top-20 must compile to
    TakeOrderedAndProject (per-partition top-k + tiny driver merge), not
    an unpartitioned Window rank over the whole vocabulary -- the only
    Exchange allowed is the hash-partitioned count aggregation, never a
    SinglePartition collapse."""
    plan = plan_of(REGISTRY["text_ngram_freq"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert "SinglePartition" not in plan, plan
    # the rank Window must sit ABOVE the TakeOrdered (20 rows), not below
    tree = plan.split("== Physical Plan ==")[1].split("(1) Scan")[0]
    assert tree.index("Window") < tree.index("TakeOrderedAndProject"), plan


def test_multi_emit_is_narrow_generate(spark):
    """o05_multi_emit: the fan-out is a generator projection straight
    over the materialized points fixture -- no join, no shuffle at all
    (the id-window Exchange the plan used to carry is now paid once at
    fixture-cache build, not per query).  The reference's NUM_PAIRS
    slots cost zero coordination, and so does Generate."""
    import re

    plan = plan_of(REGISTRY["o05_multi_emit"].fn(spark, SF_DIR))
    assert "Join" not in plan, plan
    assert "Generate" in plan, plan
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n_exchanges == 0, plan
    assert "Window" not in plan, plan


def test_runtime_bloom_filter_injection(spark):
    """Runtime bloom-filter join pruning: a selective filter on the dim
    side injects a bloom_filter_agg / might_contain pair so the FACT
    scan drops non-joining rows before the shuffle.  This is the 100 TB
    play for selective fact-dim joins too big to broadcast: the filter
    ships a few MB sketch instead of shuffling the full fact side.
    Thresholds are forced for the tiny fixture (Spark's defaults only
    fire at 10 GB+ application-side scans -- exactly where it matters)."""
    from kmeans_with_mapreduce_cuda_spark.sources import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with pinned_confs(spark, confs):
        o = load_table(spark, SF_DIR, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, SF_DIR, "lineitem")
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy(
            "o_orderstatus"
        ).count()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan


def test_lloyd_runs_one_job_per_iteration(spark):
    """The scale contract of the iteration loop, asserted physically:
    each Lloyd iteration is exactly ONE Spark job (assign+combine+k-row
    reduce+collect), so per-iteration driver traffic is k rows and
    total job count is linear in iterations -- no hidden extra actions
    (recaching, size estimation, view re-materialization) sneak in."""
    from kmeans_with_mapreduce_cuda_spark.operators.kmeans import lloyd_2d

    pts = points_xy(spark, SF_DIR).repartition(4).cache()
    pts.count()
    init = [(10.0, 20000.0), (25.0, 50000.0), (40.0, 80000.0)]
    lloyd_2d(pts, init, max_iter=1, tol=0.0)  # warm; view already exists

    sc = spark.sparkContext
    sc.setJobGroup("lloyd-audit", "count jobs per iteration")
    try:
        lloyd_2d(pts, init, max_iter=5, tol=0.0)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("lloyd-audit")
    assert len(jobs) == 5, jobs
    pts.unpersist()


def test_lloyd_nd_sql_step_plan_is_narrow(spark):
    """The n-D single-SQL iteration (dim=64): no join, exactly one
    exchange, map-side partial aggregation -- same physical contract as
    the 2-D step."""
    import re

    from kmeans_with_mapreduce_cuda_spark.operators.kmeans import (
        _step_sql_nd,
    )
    from kmeans_with_mapreduce_cuda_spark.sources import load_table

    e = load_table(spark, SF_DIR, "embeddings")
    e.createOrReplaceTempView("_plan_audit_emb")
    cents = [[float(i * 64 + j) for j in range(64)] for i in range(4)]
    plan = plan_of(
        spark.sql(_step_sql_nd("_plan_audit_emb", cents, 64))
    )
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n_exchanges == 1, plan
    assert "partial_avg" in plan, plan
    assert "Join" not in plan, plan


def test_minhash_lsh_skew_cap_is_broadcast_anti_join(spark):
    """The hot-band skew cap (round-2 verdict item) must stay in the
    plan: band keys above MAX_BAND_BUCKET are excluded via a BROADCAST
    anti-join before the banded self-join.  This cap costs ~1 s at
    sf0.1 (BASELINE.md records it as intentional) and is what keeps a
    boilerplate-heavy corpus from pinning the join on one task at 100
    TB -- do not "optimize" it away.  Asserted on the operator's own
    plan: the registry query wraps it in _eager, whose returned plan is
    a materialized local scan."""
    from kmeans_with_mapreduce_cuda_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from kmeans_with_mapreduce_cuda_spark.sources import load_table

    res = minhash_lsh_pairs(load_table(spark, SF_DIR, "documents"))
    try:
        plan = plan_of(res.pairs)
        assert "LeftAnti" in plan, plan
        assert "BroadcastHashJoin" in plan, plan
        # and the candidate generation itself must still be an
        # equi-join, never a cartesian product over documents
        assert "CartesianProduct" not in plan, plan
    finally:
        for d in res.deps:
            d.unpersist()


def test_sim_ann_ivf_candidates_join_is_equi_on_cell(spark):
    """IVF ANN candidate generation must equi-join on cell_id (hash
    join with the exploded nprobe probe list broadcast), never a
    cartesian / nested loop over the full vector table -- the property
    that keeps it sublinear at 100 TB.  Audited on the operator itself:
    the GATE query's plan additionally contains a deliberate 3-row-
    broadcast nested loop for its exact-recall claim side, which is the
    bounded reference twin, not the ANN path."""
    from kmeans_with_mapreduce_cuda_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
    )
    from kmeans_with_mapreduce_cuda_spark.sources import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    indexed, cents = build_ivf_index(emb, n_cells=8, max_iter=2)
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    plan = plan_of(ivf_topk(indexed, cents, queries, k=5, nprobe=2))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "cell_id" in plan, plan


def test_asof_join_has_no_join_operator(spark):
    """The as-of join is implemented as union + ONE window pass (carry
    the last order forward), not as a range join: the plan must contain
    a window and NO join operator at all -- the formulation that avoids
    the cartesian blowup a naive t1<=t2 join plans at scale."""
    import re

    plan = plan_of(REGISTRY["rel_asof_join"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(r"\bWindow\b", plan), plan


def test_salted_join_is_sort_merge_on_key_and_salt(spark):
    """rel_salted_join's claims: no broadcast (salting one would be
    pointless), a spill-safe sort-merge join (shuffle_hash OOMs building
    the replicated dim at probe scale) whose keys include the salt
    column so a hot key spreads across reducers."""
    plan = plan_of(REGISTRY["rel_salted_join"].fn(spark, SF_DIR))
    assert "SortMergeJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "_salt" in plan, plan


def test_semantic_dedup_pairs_join_is_equi_on_cell(spark):
    """dedup_semantic_clustered must never degrade to a cartesian /
    nested-loop pair generation: the K-Means cell id is the equi key
    and the vec_a < vec_b ordering is a post-join filter."""
    from kmeans_with_mapreduce_cuda_spark.plans.pipeline import (
        _semantic_dedup_build,
    )

    out, _, assigned = _semantic_dedup_build(spark, SF_DIR)
    try:
        plan = plan_of(out)
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "cell_id" in plan, plan
    finally:
        assigned.unpersist()


def test_semantic_dedup_capped_excludes_hot_cells_via_broadcast_anti(spark):
    """dedup_semantic_capped's skew guard shape: oversized cells leave
    the quadratic join through a BROADCAST anti-join (the hot-key list
    is tiny at any scale), and the pair join stays equi on cell_id."""
    from kmeans_with_mapreduce_cuda_spark.plans.pipeline import (
        _semantic_dedup_build,
    )

    out, capped, assigned = _semantic_dedup_build(spark, SF_DIR, max_cell=62)
    try:
        plan = plan_of(out)
        assert "LeftAnti" in plan, plan
        # the anti join must be broadcast, never a shuffled SMJ
        assert "BroadcastHashJoin" in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        # capped cells come back as data, not silently dropped
        assert capped.columns == ["cell_id", "n"]
    finally:
        assigned.unpersist()


def test_semantic_recursive_subassign_is_literal_projection(spark):
    """dedup_semantic_recursive's stage-2 shape: sub-centroids are
    COLLECTED (<= k * _SEMANTIC_SUB_K rows by construction) and baked
    into a CASE of literal distance arrays, so the sub-assignment is a
    projection -- the final plan must carry NO Window operator (a
    fan-out join + per-vector argmin window would) and no cartesian
    anywhere; the two cap exclusions (top cells, sub-cells) are
    broadcast anti-joins."""
    from kmeans_with_mapreduce_cuda_spark.plans.pipeline import (
        _semantic_recursive_build_uncached,
    )

    out, deps, _ = _semantic_recursive_build_uncached(spark, SF_DIR)
    try:
        plan = plan_of(out)
        assert "Window" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "LeftAnti" in plan, plan
        assert "BroadcastHashJoin" in plan, plan
        # all three kinds present at gate scale: the sub-cap genuinely
        # fires (capped_subcell) and kept sub-cells still pair (subpair)
        kinds = {r["kind"] for r in out.select("kind").distinct().collect()}
        assert kinds == {"pair", "subpair", "capped_subcell"}, kinds
    finally:
        for d in deps:
            d.unpersist()


def test_cogroup_asof_plan_is_flatmap_cogroups_in_pandas(spark):
    """udf_cogroup_asof must exercise the cogrouped-map surface: the
    physical plan carries FlatMapCoGroupsInPandas (both sides shuffled
    on user_id, one Arrow crossing per cogroup) -- not a join that
    Catalyst happened to pick."""
    plan = plan_of(REGISTRY["udf_cogroup_asof"].fn(spark, SF_DIR))
    assert "FlatMapCoGroupsInPandas" in plan, plan


def test_cogroup_asof_edge_cases(spark):
    """NULL/empty classes the fixture lacks: a user with purchases but
    no clicks gets NULL cid; a NaT purchase keeps its row with NULL
    cid; a NaT click is invisible; click-only users emit nothing."""
    from kmeans_with_mapreduce_cuda_spark.plans.pipeline import (
        udf_cogroup_asof,
    )
    import datetime as dt
    import tempfile

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: click before purchase + NaT click (ignored)
        (1, t0, 1, "click", 0.0, None),
        (2, None, 1, "click", 0.0, None),
        (3, t0 + dt.timedelta(minutes=5), 1, "purchase", 1.0, None),
        # user 2: purchases only -> NULL cid
        (4, t0, 2, "purchase", 1.0, None),
        # user 2: NaT purchase -> row kept, NULL cid
        (5, None, 2, "purchase", 1.0, None),
        # user 3: clicks only -> no output
        (6, t0, 3, "click", 0.0, None),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(f"{d}/events.parquet")
        got = {
            (r.pid, r.user_id): r.cid
            for r in udf_cogroup_asof(spark, d).collect()
        }
    assert got == {(3, 1): 1, (4, 2): None, (5, 2): None}


def test_sampleby_fractional_contract(spark):
    """The interior-fraction path of df.sampleBy that the oracle-checked
    boundary query cannot cover: same seed -> identical sample; the
    per-stratum size concentrates around fraction*n (binomial, 6-sigma
    band); absent strata never leak through."""
    from conftest import SF_DIR
    from kmeans_with_mapreduce_cuda_spark.sources.readers import load_table

    e = load_table(spark, SF_DIR, "events")
    frac = {"click": 0.5, "purchase": 0.25}
    a = e.sampleBy("event_type", frac, seed=11).groupBy("event_type").count()
    b = e.sampleBy("event_type", frac, seed=11).groupBy("event_type").count()
    ra = {r["event_type"]: r["count"] for r in a.collect()}
    rb = {r["event_type"]: r["count"] for r in b.collect()}
    assert ra == rb  # same-seed determinism
    assert set(ra) <= set(frac)  # absent strata dropped
    n = {
        r["event_type"]: r["count"]
        for r in e.groupBy("event_type").count().collect()
    }
    for t, f in frac.items():
        mu = f * n[t]
        sigma = (n[t] * f * (1 - f)) ** 0.5
        assert abs(ra.get(t, 0) - mu) <= 6 * sigma, (t, ra.get(t, 0), mu)


def test_contamination_broadcasts_benchmark_shingles(spark):
    """text_contamination's 100 TB shape: the benchmark shingle set is
    the broadcast side; the corpus side must not shuffle for the
    overlap join (its only exchange is the per-doc count aggregation)."""
    from kmeans_with_mapreduce_cuda_spark.plans.pipeline import (
        _contamination_build,
    )

    out, corpus = _contamination_build(spark, SF_DIR)
    try:
        plan = plan_of(out)
        assert "BroadcastHashJoin" in plan, plan
    finally:
        corpus.unpersist()


def test_dedup_survivors_delete_is_broadcast_anti_join(spark):
    """dedup_survivors' 100 TB shape: the duplicate set (pair members
    only) broadcasts; the corpus-side scan joins LeftAnti with no
    Exchange on the corpus side."""
    plan = plan_of(REGISTRY["dedup_survivors"].fn(spark, SF_DIR))
    assert "LeftAnti" in plan, plan
    assert "Broadcast" in plan, plan
    assert "Exchange hashpartitioning(doc_id" not in plan, plan


def test_funnel_has_no_cartesian(spark):
    """rel_funnel stage-chains equi-joins on user_id -- never a
    nested-loop/cartesian product."""
    plan = plan_of(REGISTRY["rel_funnel"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_quality_classifier_is_shuffle_free(spark):
    """pipe_quality_classifier: inference must be a pure projection --
    the 16-entry weight table is a literal array compiled into the
    expression, so the plan carries no Exchange and no Join of any
    kind (the 'broadcast IS the plan' pattern)."""
    plan = plan_of(REGISTRY["pipe_quality_classifier"].fn(spark, SF_DIR))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_vocab_build_topk_is_take_ordered(spark):
    """pipe_vocab_build: the top-256 cut must compile to
    TakeOrderedAndProject over the count aggregation -- the full
    vocabulary must never collapse into a single-partition sort; the
    id/coverage windows run over the 256 survivors only (above the
    TakeOrdered in the tree)."""
    plan = plan_of(REGISTRY["pipe_vocab_build"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    tree = plan.split("== Physical Plan ==")[1].split("(1) Scan")[0]
    assert tree.index("Window") < tree.index("TakeOrderedAndProject"), plan


def test_boilerplate_strip_shuffles_digests_not_text(spark):
    """text_boilerplate_strip: every Exchange in the plan must partition
    on either the md5 digest (ck) or doc_id -- never on the raw chunk
    string -- so shuffle row width is bounded by the 32-char digest
    regardless of segment width."""
    import re

    plan = plan_of(REGISTRY["text_boilerplate_strip"].fn(spark, SF_DIR))
    parts = re.findall(r"hashpartitioning\(([a-zA-Z_0-9#]+)", plan)
    assert parts, plan
    for key in parts:
        assert key.startswith(("ck#", "doc_id#")), (key, parts)


def test_lsh_verified_keeps_cap_and_equi_joins(spark):
    """dedup_lsh_verified composes the capped LSH candidate stage with
    the exact-Jaccard verify joins: the hot-band anti-join cap must
    survive the composition, and every join in the verify stage must be
    an equi-join on doc ids -- no cartesian anywhere in the two-stage
    plan.  Audits the SAME lazy frame the gate query materializes
    (plans.pipeline.lsh_verified_plan), not a private re-construction."""
    from kmeans_with_mapreduce_cuda_spark.plans.pipeline import (
        lsh_verified_plan,
    )
    from kmeans_with_mapreduce_cuda_spark.sources import load_table

    out, deps = lsh_verified_plan(load_table(spark, SF_DIR, "documents"))
    try:
        plan = plan_of(out)
        assert "LeftAnti" in plan, plan          # the skew cap survives
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
    finally:
        for dep in deps:
            dep.unpersist()


def test_gopher_rules_is_shuffle_free(spark):
    """text_gopher_rules is a map-only quality pass: every rule is a
    per-row expression, so the plan must contain no exchange and no
    join -- at 100 TB it fuses with the scan."""
    plan = plan_of(REGISTRY["text_gopher_rules"].fn(spark, SF_DIR))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_merge_upsert_is_single_full_outer_join(spark):
    """rel_merge_upsert applies the whole change batch in ONE full outer
    sort-merge join co-partitioned on the key (matched-update,
    matched-delete, insert, carry-over all resolved by the same join),
    and column pruning must reach the target scan -- a MERGE that reads
    all order columns for a 2-column rewrite is wrong."""
    plan = plan_of(REGISTRY["rel_merge_upsert"].fn(spark, SF_DIR))
    assert plan.count("SortMergeJoin FullOuter") == 1, plan
    assert "CartesianProduct" not in plan, plan
    assert "struct<o_orderkey:bigint,o_totalprice:double>" in plan, plan


def test_scd2_single_exchange_on_custkey(spark):
    """rel_scd2's lag window, run-id window, per-run group-by and lead
    window must all REUSE one hash partitioning on o_custkey (grouping
    keys are a superset; window partitions equal) -- exactly one real
    exchange in the plan.  History-building that re-shuffles per stage
    would move the fact table four times at scale."""
    import re

    plan = plan_of(REGISTRY["rel_scd2"].fn(spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "hashpartitioning(o_custkey" in plan, plan


def test_cross_corpus_join_is_banded_equi_with_ref_cap(spark):
    """dedup_cross_corpus candidate generation must equi-join on the
    band key (never cartesian over documents) and keep the ref-side
    hot-band cap as a broadcast anti-join, same contract as the
    self-join variant."""
    from kmeans_with_mapreduce_cuda_spark.operators.dedup import (
        minhash_cross_pairs,
    )

    d = load_table(spark, SF_DIR, "documents")
    res = minhash_cross_pairs(
        d.where(F.col("source") == "src0"),
        d.where(F.col("source") != "src0"),
    )
    try:
        plan = plan_of(res.pairs)
        assert "CartesianProduct" not in plan, plan
        assert "LeftAnti" in plan, plan
        assert "BroadcastHashJoin" in plan, plan
    finally:
        for dep in res.deps:
            dep.unpersist()


def test_tokenizer_apply_encode_is_shuffle_free(spark):
    """pipe_tokenizer_apply's returned plan must be the literal-map
    encode projection only: the vocabulary was collected driver-side
    (256 rows by construction), so the encode pass has no exchange and
    no join -- the centroid-literal pattern applied to tokenization."""
    plan = plan_of(REGISTRY["pipe_tokenizer_apply"].fn(spark, SF_DIR))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_global_shuffle_window_is_sharded(spark):
    """pipe_global_shuffle: the permutation must never compile to a
    global-ORDER-BY row_number (one task receiving the entire sort).
    The window partitions by shard -- the plan's only exchange is a
    hash partitioning on shard, with no SinglePartition collapse and
    no range-partitioned global sort."""
    plan = plan_of(REGISTRY["pipe_global_shuffle"].fn(spark, SF_DIR))
    assert "SinglePartition" not in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert "hashpartitioning(shard" in plan, plan


def test_unigram_logprob_scoring_joins_are_broadcast(spark):
    """text_unigram_logprob: every token joins the 256-row vocab (and
    the 1-row total/coverage aggregates) via BROADCAST joins -- a token
    term must never key an exchange on the scoring side, or stopword
    skew would melt a 100 TB run.  Allowed exchanges: the
    vocabulary-bounded count aggregation and the per-doc mean."""
    plan = plan_of(REGISTRY["text_unigram_logprob"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    # the scoring-side token stream must never shuffle-join on term
    # (the vocab COUNT agg partitions by term -- that one is bounded
    # by vocabulary size and map-side-combined, so it is fine):
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan


def test_fuzzy_blocked_is_capped_equi_join(spark):
    """dedup_fuzzy_blocked: pairing must be an equi-join on the block
    key (never a cartesian/nested-loop pair explosion) and the hot-block
    cap must survive as a broadcast anti-join before pairing -- the same
    contract the LSH candidate paths assert."""
    plan = plan_of(REGISTRY["dedup_fuzzy_blocked"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "LeftAnti" in plan, plan


def test_silhouette_is_projection_plus_single_exchange(spark):
    """o14_silhouette must ride the assignment plan family: the per-point
    a/b distances are a shuffle-free literal-centroid projection (no
    join), and the only exchange is the k-row per-cluster aggregate
    with a map-side partial below it."""
    import re

    plan = plan_of(REGISTRY["o14_silhouette"].fn(spark, SF_DIR))
    assert "Join" not in plan, plan
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n_exchanges == 1, plan
    assert "partial_" in plan, plan


def test_cdc_chunks_shuffles_tokens_once_then_digests(spark):
    """dedup_cdc_chunks: the token stream crosses the wire exactly once
    (the doc-partitioned prefix-sum window); after chunk assembly every
    Exchange partitions on the 32-char chunk digest or doc_id -- the
    chunk TEXT never shuffles.  No joins except the digest-count
    equi-join (no cartesian)."""
    import re

    plan = plan_of(REGISTRY["dedup_cdc_chunks"].fn(spark, SF_DIR))
    # single lineage: the cross-corpus doc count is a window, not a
    # self-join of two aggregates (which would scan + chunk twice)
    assert "Join" not in plan, plan
    # one scan node (it appears twice in formatted output: tree + detail)
    assert plan.count("Location: InMemoryFileIndex") == 1, plan
    parts = re.findall(r"hashpartitioning\(([a-zA-Z_0-9#]+)", plan)
    assert parts, plan
    for key in parts:
        assert key.startswith(("doc_id#", "chunk_hash#")), (key, parts)
    # two windows: the doc-partitioned prefix-sum and the digest count;
    # chunk assembly rides the first one's partitioning
    assert len(re.findall(r"\+- Window ", plan)) == 2, plan


def test_topk_salted_is_two_bounded_windows(spark):
    """rel_topk_salted: stage 1 must partition by (event_type, _salt) --
    spreading a hot key over n_salt tasks -- and stage 2 by event_type
    alone over the k*n_salt survivors.  Both windows should carry a
    WindowGroupLimit (rank-limit pushdown) so neither task buffers an
    unbounded partition."""
    import re

    plan = plan_of(REGISTRY["rel_topk_salted"].fn(spark, SF_DIR))
    parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert any("event_type" in p and "_salt" in p for p in parts), parts
    assert any("event_type" in p and "_salt" not in p for p in parts), parts
    assert len(re.findall(r"\+- Window ", plan)) == 2, plan
    assert "WindowGroupLimit" in plan, plan


def test_pq_adc_is_literal_projection_plus_take_ordered(spark):
    """sim_pq_adc scoring: codebook and query LUT are baked in as
    literals, so the plan is scan -> project -> TakeOrderedAndProject.
    No join, no exchange other than the top-k's single-partition
    gather of per-partition heads."""
    plan = plan_of(REGISTRY["sim_pq_adc"].fn(spark, SF_DIR))
    assert "Join" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "hashpartitioning" not in plan, plan


def test_sft_format_is_map_side_only(spark):
    """pipe_sft_format: record rendering must be a pure projection --
    the only exchange is the output sort's range partitioning."""
    import re

    plan = plan_of(REGISTRY["pipe_sft_format"].fn(spark, SF_DIR))
    assert "Join" not in plan, plan
    assert "hashpartitioning" not in plan, plan
    assert len(re.findall(r"\+- Exchange ", plan)) == 1, plan  # the sort


def test_char_entropy_partial_aggregates_before_shuffle(spark):
    """text_char_entropy: the (doc, char) count must partial-aggregate
    map-side (post-combine rows ~ alphabet x docs, not chars), and no
    join appears anywhere."""
    plan = plan_of(REGISTRY["text_char_entropy"].fn(spark, SF_DIR))
    assert "Join" not in plan, plan
    assert "partial_count" in plan, plan


def test_calinski_is_single_pass(spark):
    """o14_calinski: B via expanded moments must fold into ONE
    aggregation pass over the assignment projection -- a totals-join
    formulation scans + assigns the corpus twice (measured 5x slower
    at the 10x probe)."""
    plan = plan_of(REGISTRY["o14_calinski"].fn(spark, SF_DIR))
    assert "Join" not in plan, plan
    assert plan.count("Location: InMemoryFileIndex") == 1, plan
    assert "partial_sum" in plan, plan


def test_arrow_scalar_udf_uses_arrow_eval(spark):
    """udf_arrow_scalar must plan as ArrowEvalPython (Arrow record-batch
    transfer), never BatchEvalPython (row pickling)."""
    plan = plan_of(REGISTRY["udf_arrow_scalar"].fn(spark, SF_DIR))
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_anomaly_zscore_broadcasts_stats(spark):
    """rel_anomaly_zscore: the k-row stats side must broadcast -- a
    shuffled join here would re-partition the corpus for a 5-row
    lookup."""
    plan = plan_of(REGISTRY["rel_anomaly_zscore"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_span_corruption_single_lineage(spark):
    """pipe_span_corruption renders input AND target in one grouped
    aggregation: single scan, no joins, one prefix-sum window riding
    one doc-partitioned exchange."""
    import re

    plan = plan_of(REGISTRY["pipe_span_corruption"].fn(spark, SF_DIR))
    assert "Join" not in plan, plan
    assert plan.count("Location: InMemoryFileIndex") == 1, plan
    assert len(re.findall(r"\+- Window ", plan)) == 1, plan


def test_dpo_pairs_single_aggregation_no_window(spark):
    """pipe_dpo_pairs claims argmax/argmin via ONE map-side-combined
    aggregation: no window sort, no join, single scan."""
    plan = plan_of(REGISTRY["pipe_dpo_pairs"].fn(spark, SF_DIR))
    assert "Window" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("Location: InMemoryFileIndex") == 1, plan


def test_pagerank_reuses_persisted_edge_list(spark):
    """rel_pagerank's per-round join must read the degree-annotated
    edge list from the cache (InMemoryTableScan), not re-derive the
    orders x lineitem join each round."""
    from kmeans_with_mapreduce_cuda_spark.operators.graph import (
        pagerank_int,
    )

    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 1)], ["src", "dst"]
    )
    res = pagerank_int(edges, iters=2)
    try:
        # ranks is a checkpointed leaf; the round plan that PRODUCED it
        # is gone, so assert on a fresh round built the same way.
        ed = res.deps[0]  # the persisted degree-annotated edge list
        nxt = ed.join(res.ranks, ed.src == res.ranks.node)
        plan = plan_of(nxt)
        assert "InMemoryTableScan" in plan, plan
    finally:
        for dep in res.deps:
            dep.unpersist()


def test_connected_components_reuses_persisted_edge_list(spark):
    """connected_components' per-round join must read the symmetric
    edge list from the cache pre-partitioned on the join key
    (InMemoryTableScan, no re-shuffle of the edge side per round) --
    the same discipline as rel_pagerank.  The operator releases its
    internal cache before returning, so the assertion rebuilds the
    round plan the way the loop does."""
    import pyspark.sql.functions as F

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], ["doc_a", "doc_b"]
    )
    sym = (
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(
            edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .repartition("src")
        .persist()
    )
    try:
        labels = (
            sym.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("comp", F.col("node"))
            .localCheckpoint(eager=True)
        )
        rnd = sym.join(labels, sym.src == labels.node).select(
            F.col("dst").alias("node"), "comp"
        )
        plan = plan_of(rnd)
        assert "InMemoryTableScan" in plan, plan
        # the only exchange hashed on src is the one INSIDE the cached
        # relation; the round plan must not re-shuffle the edge side
        cached_at = plan.index("InMemoryRelation")
        assert "Exchange hashpartitioning(src" not in plan[:cached_at], plan
    finally:
        sym.unpersist()


def test_sql_udf_inlines_no_python_eval(spark):
    """udf_sql_scalar: SQL-language UDFs must inline at analysis --
    no Python eval node of any kind, aggregation still codegen'd."""
    plan = plan_of(REGISTRY["udf_sql_scalar"].fn(spark, SF_DIR))
    assert "EvalPython" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_session_variable_folds_and_pushes_down(spark):
    """rel_session_vars: the variable reference must fold to a literal
    so the quantity predicate reaches the parquet scan."""
    plan = plan_of(REGISTRY["rel_session_vars"].fn(spark, SF_DIR))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "l_quantity" in pushed[0], plan


def test_arrow_grouped_plans_as_flatmap_groups_in_arrow(spark):
    """udf_arrow_grouped must plan as FlatMapGroupsInArrow (raw Arrow
    group transfer), not FlatMapGroupsInPandas."""
    plan = plan_of(REGISTRY["udf_arrow_grouped"].fn(spark, SF_DIR))
    assert "FlatMapGroupsInArrow" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan


def test_mad_robust_broadcasts_group_medians(spark):
    """rel_mad_robust: both median tables are k-row; they must come
    back to the event stream as broadcast joins, never sort-merge."""
    plan = plan_of(REGISTRY["rel_mad_robust"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_spatial_radius_join_is_equi_hash_join(spark):
    """rel_spatial_radius_join: grid blocking must produce an EQUI join
    on cell keys -- never a nested-loop/cartesian distance join."""
    plan = plan_of(REGISTRY["rel_spatial_radius_join"].fn(spark, SF_DIR))
    assert "NestedLoop" not in plan, plan
    assert "Cartesian" not in plan, plan


def test_triangles_no_cartesian(spark):
    """rel_triangles: wedge + closing joins must be equi hash/merge
    joins, never a cartesian product."""
    plan = plan_of(REGISTRY["rel_triangles"].fn(spark, SF_DIR))
    assert "Cartesian" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan


def test_shard_manifest_window_is_partitioned(spark):
    """pipe_shard_manifest: the running byte sum must partition by
    source -- a single-partition global window would serialize the
    corpus through one task."""
    plan = plan_of(REGISTRY["pipe_shard_manifest"].fn(spark, SF_DIR))
    assert "SinglePartition" not in plan, plan


def test_time_weighted_avg_single_exchange_on_type(spark):
    """rel_time_weighted_avg's lead window and final aggregate must
    reuse ONE hash partitioning on event_type -- re-shuffling a
    billions-of-rows series between the window and the agg would move
    the fact table twice."""
    import re

    plan = plan_of(REGISTRY["rel_time_weighted_avg"].fn(spark, SF_DIR))
    # the only allowed extra is the rangepartitioning sort of the
    # 5-row result; the data-scale series must hash-exchange ONCE
    assert len(re.findall(r"Arguments: hashpartitioning", plan)) == 1, plan
    assert "hashpartitioning(event_type" in plan, plan


def test_chisq_margins_broadcast(spark):
    """rel_chisq_independence joins the margin tables broadcast-side:
    the cell table never re-shuffles for the joins."""
    plan = plan_of(REGISTRY["rel_chisq_independence"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_dpp_join_prunes_partitions(spark):
    """rel_dpp_prune_join's executed plan must carry a dynamic-pruning
    subquery on the fact's partition column (the scan-eliminator the
    query exists to demonstrate) that reuses the dim broadcast rather
    than running a separate filtering job."""
    df = REGISTRY["rel_dpp_prune_join"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    # the pruning subquery must ride the broadcast exchange (zero extra
    # jobs), not the fallback standalone-subquery path
    assert "SubqueryAdaptiveBroadcast" in plan or "SubqueryBroadcast" in plan, plan
    assert "PartitionFilters" in plan, plan


def test_dpp_semijoin_filter_prunes_partitions(spark):
    """rel_dpp_semijoin_filter's IN-subquery must execute as a LeftSemi
    broadcast join whose dynamic-pruning subquery rides the dim
    broadcast and reaches the fact scan's PartitionFilters -- the
    filter-shaped twin of test_dpp_join_prunes_partitions."""
    df = REGISTRY["rel_dpp_semijoin_filter"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan
    assert "dynamicpruning" in plan.lower(), plan
    assert "SubqueryAdaptiveBroadcast" in plan or "SubqueryBroadcast" in plan, plan
    assert "PartitionFilters" in plan, plan


def test_registry_schema_policy_no_complex_output_columns():
    """Driver-hashability policy over the WHOLE registry: no checked
    query may emit a top-level list/struct/map/union column.  The
    driver's pandas canonicalizer sorts and hashes cell values, and
    list cells raise ``TypeError: unhashable type`` -- the class that
    produced r5's only red row (pipe_tokenizer_apply's bare
    ``array<int>`` ids; now a space-joined string).  Checked against
    the ORACLE's DESCRIBE output (DuckDB, sf0.001 views, no execution):
    oracle and Spark schemas must match for the hash gate anyway, so
    the oracle side is the cheap, execution-free proxy -- streaming
    and iterative queries are covered without draining them."""
    from gate import duck

    from kmeans_with_mapreduce_cuda_spark.plans import REGISTRY

    con = duck(SF_DIR)
    offenders = []
    for name, q in REGISTRY.items():
        if q.oracle is None:
            continue  # rows-only checks never hash cell values
        for col, typ, *_ in con.execute(f"DESCRIBE {q.oracle}").fetchall():
            t = typ.upper()
            if "[]" in t or "STRUCT" in t or "MAP(" in t or "UNION" in t:
                offenders.append((name, col, typ))
    assert not offenders, (
        "queries emitting driver-unhashable top-level columns: "
        f"{offenders}"
    )


def test_bloom_filter_join_injects_might_contain(spark):
    """rel_bloom_filter_join's point is the INJECTED shape: under the
    confs the query pins, the fact-side scan must carry a
    might_contain(xxhash64(l_orderkey)) filter fed by a
    bloom_filter_agg on the selective side -- row-level runtime
    pruning, not just a plain shuffle join."""
    from kmeans_with_mapreduce_cuda_spark.plans.relational import (
        _bloom_join_plan,
        bloom_confs_pinned,
    )

    with bloom_confs_pinned(spark):
        plan = plan_of(_bloom_join_plan(spark, SF_DIR))
    assert "might_contain" in plan, plan
    assert "bloom_filter_agg" in plan, plan
    # transparent semantics: with defaults (no injection), same rows
    baseline = _bloom_join_plan(spark, SF_DIR)
    assert "might_contain" not in plan_of(baseline)

    # The gate query bounds its driver materialization (r8 verdict):
    # top-100 via orderBy+limit must plan as TakeOrderedAndProject
    # (per-partition heaps merged on the driver, never a global sort),
    # and the bloom must still be injected underneath the top-k.
    with bloom_confs_pinned(spark):
        bounded = plan_of(
            _bloom_join_plan(spark, SF_DIR)
            .orderBy(F.desc("sum_qty"), F.asc("l_orderkey"))
            .limit(100)
        )
    assert "TakeOrderedAndProject" in bounded, bounded
    assert "might_contain" in bounded, bounded
    # no GLOBAL sort: a plain orderBy would plan a range-partitioning
    # exchange; the SMJ's own within-partition Sorts are fine.
    assert "rangepartitioning" not in bounded, bounded


def test_observe_metrics_is_a_side_channel_not_a_second_pass(spark):
    """rel_observe_metrics must compute its accounting inside the same
    pass as the query: the observed plan carries CollectMetrics and NO
    aggregate Exchange beyond what the query itself has (here: none --
    a filtered scan), and the returned metrics equal a direct
    aggregation of the same slice."""
    from pyspark.sql import Observation

    from kmeans_with_mapreduce_cuda_spark.sources.readers import load_table

    li = load_table(spark, SF_DIR, "lineitem").where(F.col("l_quantity") < 25)
    obs = Observation()
    observed = li.observe(obs, F.count(F.lit(1)).alias("n_rows"))
    plan = plan_of(observed)
    assert "CollectMetrics" in plan, plan
    assert "Exchange" not in plan, plan

    got = REGISTRY["rel_observe_metrics"].fn(spark, SF_DIR).first()
    direct = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("q"),
        F.max("l_orderkey").alias("m"),
    ).first()
    assert got["n_rows"] == direct["n"]
    assert got["sum_qty"] == direct["q"]
    assert got["max_orderkey"] == direct["m"]


def test_asof_nearest_edge_cases(spark):
    """NULL/tie classes for the nearest-direction asof: equidistant
    clicks tie to the EARLIER one; a same-ts click wins at gap 0; a
    NaT purchase keeps its row with NULL match even when later clicks
    exist; a click-after-only purchase matches FORWARD (positive gap);
    a click-only user emits nothing; a no-click user gets NULL."""
    import datetime as dt
    import tempfile

    from kmeans_with_mapreduce_cuda_spark.plans.relational import (
        rel_asof_nearest,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)  # noqa: E731
    rows = [
        # user 1: clicks at +-10s of the purchase -> tie -> earlier (id 1)
        (1, s(0), 1, "click", 0.0, None),
        (2, s(20), 1, "click", 0.0, None),
        (3, s(10), 1, "purchase", 1.0, None),
        # user 2: same-ts click wins at gap 0 over a closer-after click
        (4, s(0), 2, "click", 0.0, None),
        (5, s(1), 2, "click", 0.0, None),
        (6, s(0), 2, "purchase", 1.0, None),
        # user 3: only a LATER click -> forward match, positive gap
        (7, s(100), 3, "click", 0.0, None),
        (8, s(0), 3, "purchase", 1.0, None),
        # user 4: NaT purchase, real clicks exist -> NULL match
        (9, s(0), 4, "click", 0.0, None),
        (10, None, 4, "purchase", 1.0, None),
        # user 5: purchases only -> NULL; user 6: clicks only -> no row
        (11, s(0), 5, "purchase", 1.0, None),
        (12, s(0), 6, "click", 0.0, None),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(f"{d}/events.parquet")
        got = {
            r["pid"]: (r["cid"], r["gap_us"])
            for r in rel_asof_nearest(spark, d).collect()
        }
    assert got == {
        3: (1, -10_000_000),
        6: (4, 0),
        8: (7, 100_000_000),
        10: (None, None),
        11: (None, None),
    }


def test_asof_nearest_matches_brute_force_on_random_fixture(spark):
    """Randomized (seeded) cross-check of the window formulation
    against an independent per-purchase brute force: 600 events over
    12 users with dense second-grid ties, NaT rows, click-only and
    purchase-only users.  Covers orders of prev/next interleaving the
    curated edge-case test cannot enumerate."""
    import datetime as dt
    import random
    import tempfile

    from kmeans_with_mapreduce_cuda_spark.plans.relational import (
        rel_asof_nearest,
    )

    rng = random.Random(4242)
    t0 = dt.datetime(2024, 6, 1)
    rows = []
    for eid in range(1, 601):
        uid = rng.randrange(1, 13)
        ts = (
            None
            if rng.random() < 0.03
            else t0 + dt.timedelta(seconds=rng.randrange(0, 120))
        )
        et = "click" if rng.random() < 0.55 else "purchase"
        rows.append((eid, ts, uid, et, 0.0, None))

    # brute force: collapse clicks per (user, ts) to max id, then per
    # purchase pick min (abs gap, cts)
    clicks = {}
    for eid, ts, uid, et, _, _ in rows:
        if et == "click" and ts is not None:
            key = (uid, ts)
            clicks[key] = max(clicks.get(key, 0), eid)
    by_user = {}
    for (uid, ts), cid in clicks.items():
        by_user.setdefault(uid, []).append((ts, cid))
    expect = {}
    for eid, ts, uid, et, _, _ in rows:
        if et != "purchase":
            continue
        if ts is None or uid not in by_user:
            expect[eid] = (None, None)
            continue
        best = min(
            by_user[uid], key=lambda c: (abs((c[0] - ts).total_seconds()), c[0])
        )
        gap = int((best[0] - ts).total_seconds() * 1_000_000)
        expect[eid] = (best[1], gap)

    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        df.repartition(6).write.parquet(f"{d}/events.parquet")
        got = {
            r["pid"]: (r["cid"], r["gap_us"])
            for r in rel_asof_nearest(spark, d).collect()
        }
    assert got == expect


def test_order_by_all_is_a_merge_heap_not_a_global_sort(spark):
    """rel_order_by_all's doc claims the plan shape: the ORDER BY ALL +
    LIMIT must compile to TakeOrderedAndProject (per-partition heaps
    merged on the driver), never a full Sort + Exchange."""
    plan = plan_of(REGISTRY["rel_order_by_all"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


def test_range_search_is_window_free_single_pass(spark):
    """sim_range_search's doc claims the plan shape: a radius query is
    one broadcast-join + filter pass over the corpus -- NO Window (the
    top-k differentiator), NO shuffle exchange (only the broadcast of
    the 3-row query side), so the scan parallelizes with zero
    coordination at any corpus size."""
    plan = plan_of(REGISTRY["sim_range_search"].fn(spark, SF_DIR))
    assert "Window" not in plan, plan
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_ivf_recall_eval_consistent_with_ann_claim(spark):
    """sim_ivf_recall_eval's exact recall must be consistent with the
    claim-checked family: every query answered (3 rows), n_hits in
    [0, 5], recall == n_hits/5 exactly, and the fixed-cell nprobe=2
    route recovers at least one exact neighbor per query on the
    fixture (the pruning actually works)."""
    rows = REGISTRY["sim_ivf_recall_eval"].fn(spark, SF_DIR).collect()
    assert len(rows) == 3
    for r in rows:
        assert 0 <= r["n_hits"] <= 5
        assert r["recall"] == r["n_hits"] / 5
        assert r["n_hits"] >= 1, rows


def test_limit_offset_folds_into_one_take_ordered(spark):
    """rel_limit_offset's doc claims the plan shape: ORDER BY + LIMIT 15
    OFFSET 10 must fold into ONE TakeOrderedAndProject carrying
    limit+offset=25 and the offset -- per-partition bounded heaps, no
    range-partitioned global sort, no second pass."""
    plan = plan_of(REGISTRY["rel_limit_offset"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan, plan
    import re

    args = re.search(r"TakeOrderedAndProject[\s\S]*?Arguments: (\d+),.*?, (\d+)\n", plan)
    assert args and args.group(1) == "25" and args.group(2) == "10", plan


def test_join_hints_steer_strategy_without_changing_results(spark):
    """rel_join_hints' contract: each join-strategy hint yields its
    named physical operator, and all strategies return identical rows
    (hints steer the planner, never the semantics)."""
    from kmeans_with_mapreduce_cuda_spark.plans.relational import (
        _JOIN_HINT_BODY,
    )
    from kmeans_with_mapreduce_cuda_spark.sources.readers import (
        register_views,
    )

    register_views(spark, SF_DIR)
    results = {}
    for hint, expect in [
        ("/*+ BROADCAST(n) */ ", "BroadcastHashJoin"),
        ("/*+ MERGE(n) */ ", "SortMergeJoin"),
        ("/*+ SHUFFLE_HASH(n) */ ", "ShuffledHashJoin"),
    ]:
        df = spark.sql(_JOIN_HINT_BODY.format(hint=hint))
        assert expect in plan_of(df), (hint, plan_of(df))
        results[hint] = sorted(tuple(r) for r in df.collect())
    vals = list(results.values())
    assert vals[0] == vals[1] == vals[2]


def test_bm25_scorer_is_explode_free_two_scans(spark):
    """text_bm25_topk's doc claims the plan shape: per-term tf is an
    in-row size(filter(...)) projection -- NO Generate/explode node,
    no data-scale shuffle (the only exchange feeds the 1-row stats
    broadcast), and the top-10 cut is a TakeOrderedAndProject heap."""
    plan = plan_of(REGISTRY["text_bm25_topk"].fn(spark, SF_DIR))
    assert "Generate" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan, plan
