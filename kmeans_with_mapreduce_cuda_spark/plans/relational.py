"""Relational breadth queries (SURVEY.md §2.2): filters, joins, window
functions, grouping sets, set ops, string/date/JSON functions -- the
categories the reference lacks entirely, free in Spark, each with a
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import pinned_confs
from ..sources.readers import load_table
from .registry import query


def pos_cents(col: str):
    """Exact integer cents from a POSITIVE 2-decimal double column,
    BigDecimal-free.

    ``F.round(x*100).cast("bigint")`` is exact but routes every row
    through Spark's HALF_UP Decimal path -- an allocation per value,
    measured ~40%% of TPC-H Q1's wall-clock at sf0.1 (0.47 s vs
    0.34 s).  For positive inputs ``CAST(x*100 + 0.5 AS BIGINT)``
    computes the same function entirely inside whole-stage codegen
    (multiply, add, truncating cast): x carries exactly 2 decimals, so
    x*100 lands within ~1e-10 of its integer N, and N +/- 1e-10 + 0.5
    truncates to N.  Verified value-equal to the round() idiom across
    all of lineitem at sf0.1 (0 mismatching rows) and re-verified by
    every consuming query's oracle hash at sf0.001/0.01/0.1 + 10x.
    POSITIVE ONLY: double->bigint CAST truncates toward zero, so the
    +0.5 trick mis-rounds negatives -- keep round() for columns that
    can go negative (c_acctbal, margins).  The ORACLE side stays
    ``round(x*100)``: DuckDB's double->bigint cast rounds rather than
    truncates, so the explicit round is the portable spelling there
    (rel_filter_agg's docstring has the full cents contract)."""
    return (F.col(col) * 100 + F.lit(0.5)).cast("bigint")


# --- Filter + aggregate (TPC-H Q1 shape) -----------------------------------

@query(
    "rel_filter_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_base_price,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                AS DOUBLE) / 10000.0 AS sum_disc_price,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*)
               AS avg_qty,
           CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 / count(*) AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Filter + multi-aggregate grouping (TPC-H Q1 shape).  The filter "
    "and the 6-column projection both push into the parquet scan.  "
    "Money aggregates EXACTLY as integer CENTS (the fixture's prices "
    "and discounts carry 2 decimals): a plain double sum over millions "
    "of ~1e4-magnitude prices accumulates order-dependent error past "
    "the cent (measured diverging from DuckDB at the 10x probe on the "
    "rollup grand total), DECIMAL sums fix it but cost ~2x (measured), "
    "while bigint sums run at native codegen speed and are exact; "
    "emission is one or two IEEE divisions on identical operands -- "
    "bit-identical across engines, hence UNROUNDED (registry float "
    "discipline).  ANSI mode (Spark 4 default) makes a cents overflow "
    "fail loudly; past ~9e16 cents per group switch to DECIMAL.  The "
    "round(x*100)-then-cast idiom is REQUIRED: Spark casts double->"
    "bigint by truncation, DuckDB by rounding -- rounding first makes "
    "the value integral so both agree.",
)
def rel_filter_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("bigint")
    price_c = pos_cents("l_extendedprice")
    disc_c = pos_cents("l_discount")
    n = F.count(F.lit(1))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            (F.sum(price_c).cast("double") / 100.0).alias("sum_base_price"),
            (
                F.sum(price_c * (F.lit(100) - disc_c)).cast("double")
                / 10000.0
            ).alias("sum_disc_price"),
            (F.sum(qty).cast("double") / n).alias("avg_qty"),
            (F.sum(disc_c).cast("double") / 100.0 / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


# --- Broadcast (dimension) join chain ---------------------------------------

@query(
    "rel_join_broadcast",
    oracle="""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(avg(c.c_acctbal), 4) AS avg_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    doc="Dimension-join chain: nation/region are broadcast (tiny dims -> "
    "BroadcastHashJoin, no shuffle of the fact side).  The reference's "
    "only 'join' is the broadcast argmin of O4.",
)
def rel_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name")
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
        )
    )


# --- Large shuffle join (fact-to-fact) --------------------------------------

@query(
    "rel_join_shuffle",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS DOUBLE) / 10000.0 AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY o.o_orderpriority
    """,
    doc="Fact-to-fact equi-join: both sides shuffle on the key "
    "(sort-merge/shuffled-hash chosen by AQE); filter pushes below the "
    "join on the orders side.",
)
def rel_join_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            # Exact-cents revenue (rel_filter_agg contract): the raw
            # double sum is order-dependent and diverges past the cent
            # at ~1e13 per-group magnitude (rel_salted_join failed the
            # 100x probe on exactly this shape).
            (
                F.sum(
                    pos_cents("l_extendedprice")
                    * (F.lit(100) - pos_cents("l_discount"))
                ).cast("double")
                / 10000.0
            ).alias("revenue"),
        )
    )


@query(
    "rel_join_outer",
    oracle="""
    SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey,
           c.c_nationkey,
           o.n_orders,
           o.total_price
    FROM (SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS c_nationkey
          FROM customer WHERE c_nationkey < 13) c
    FULL OUTER JOIN (
          SELECT o_custkey,
                 CAST(count(*) AS BIGINT) AS n_orders,
                 round(sum(o_totalprice), 2) AS total_price
          FROM orders GROUP BY o_custkey) o
      ON c.c_custkey = o.o_custkey
    """,
    doc="FULL OUTER join with null-producing rows on BOTH sides: "
    "customers of nations 0-12 against per-customer order rollups.  "
    "Customers with no orders surface null aggregates; orders whose "
    "customer sits in nations >= 13 surface a null c_nationkey.  "
    "Physical shape: both sides shuffle on custkey (outer joins cannot "
    "broadcast the preserved side); the pre-join groupBy shrinks the "
    "orders side to one row per customer before the join shuffle.",
)
def rel_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_nationkey") < 13)
        .select("c_custkey", F.col("c_nationkey").cast("bigint"))
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )
    return c.join(o, c.c_custkey == o.o_custkey, "full_outer").select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        "c_nationkey",
        "n_orders",
        "total_price",
    )


# --- Semi / anti joins -------------------------------------------------------

@query(
    "rel_join_semi_anti",
    oracle="""
    SELECT 'with_orders' AS side, CAST(count(*) AS BIGINT) AS n FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'without_orders' AS side, CAST(count(*) AS BIGINT) AS n FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="Left-semi and left-anti joins (EXISTS / NOT EXISTS).",
)
def rel_join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    semi = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("with_orders").alias("side"), "n")
    )
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("without_orders").alias("side"), "n")
    )
    return semi.unionAll(anti)


@query(
    "rel_nullsafe_join",
    oracle="""
    WITH l AS (
        SELECT nullif(user_id % 10, 7) AS k,
               CAST(count(*) AS BIGINT) AS n_clicks
        FROM events WHERE event_type = 'click' GROUP BY 1
    ),
    r AS (
        SELECT nullif(user_id % 10, 7) AS k,
               CAST(count(*) AS BIGINT) AS n_views
        FROM events WHERE event_type = 'view' GROUP BY 1
    )
    SELECT coalesce(l.k, r.k) AS k, l.n_clicks, r.n_views
    FROM l FULL JOIN r ON l.k IS NOT DISTINCT FROM r.k
    """,
    doc="NULL-SAFE equality as a JOIN KEY (eqNullSafe / <=> == ANSI IS "
    "NOT DISTINCT FROM): per-key click vs view counts full-outer "
    "joined where one key bucket is deliberately NULLed (nullif(uid%10"
    ", 7)) -- under plain `=` the NULL groups silently drop from the "
    "inner match and surface as two dangling outer rows; under <=> "
    "they MATCH, which is the semantics reconciliation joins on "
    "nullable business keys need.  Completes rel_null_semantics, "
    "which checks <=> only as a scalar predicate.  Plan matters as "
    "much as the result: EqualNullSafe is still an equi-join key, so "
    "Catalyst keeps a hash/sort-merge join (plan-asserted no "
    "nested-loop) -- naively rewriting <=> as `(a = b OR (a IS NULL "
    "AND b IS NULL))` would degrade to BroadcastNestedLoopJoin.",
)
def rel_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    key = F.nullif(F.col("user_id") % 10, F.lit(7))
    left = (
        e.where(F.col("event_type") == "click")
        .groupBy(key.alias("k"))
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    right = (
        e.where(F.col("event_type") == "view")
        .groupBy(key.alias("k"))
        .agg(F.count(F.lit(1)).alias("n_views"))
    )
    return left.join(
        right, left["k"].eqNullSafe(right["k"]), "full"
    ).select(
        F.coalesce(left["k"], right["k"]).alias("k"),
        "n_clicks",
        "n_views",
    )


# --- Window functions --------------------------------------------------------

@query(
    "rel_window_topk",
    oracle="""
    SELECT c_custkey, o_orderkey, o_totalprice, rank FROM (
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY c.c_custkey
                   ORDER BY o.o_totalprice DESC, o.o_orderkey
               ) AS rank
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    ) WHERE rank <= 3
    """,
    doc="Window top-k per group (row_number over partitioned desc order, "
    "deterministic tie-break on the key).",
)
def rel_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("c_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .select("c_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
    )


@query(
    "rel_window_lag",
    oracle="""
    SELECT user_id, event_id, gap_s FROM (
        SELECT user_id, event_id,
               CAST(date_diff('second',
                    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                    ts) AS BIGINT) AS gap_s
        FROM events
    ) WHERE gap_s IS NOT NULL
    """,
    doc="lag() over event time per user -- inter-event gaps.  The "
    "reference's adjacent-row compare (kmeans_mapreduce_core.cu:82) is "
    "this same primitive over the sorted shuffle output.",
)
def rel_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap = (F.unix_timestamp("ts") - F.unix_timestamp(prev)).cast("bigint")
    return (
        e.select("user_id", "event_id", gap.alias("gap_s"))
        .where(F.col("gap_s").isNotNull())
    )


# --- As-of join ----------------------------------------------------------------

@query(
    "rel_asof_join",
    oracle="""
    WITH p AS (SELECT event_id AS pid, user_id,
                      date_trunc('microseconds', ts) AS pts,
                      ts IS NULL AS pts_null
               FROM events WHERE event_type = 'purchase'),
    c0 AS (SELECT user_id, date_trunc('microseconds', ts) AS cts,
                  max(event_id) AS cid
           FROM events
           WHERE event_type = 'click' AND ts IS NOT NULL
           GROUP BY 1, 2)
    SELECT p.pid, p.user_id,
           CASE WHEN p.pts_null THEN NULL ELSE c0.cid END AS cid
    FROM p ASOF LEFT JOIN c0
      ON p.user_id = c0.user_id AND p.pts >= c0.cts
    """,
    doc="As-of join: for each purchase, the most recent click of the same "
    "user at-or-before it.  Spark has no ASOF JOIN; the scalable "
    "formulation is union-both-sides + one window pass (sort once, carry "
    "the last right-side row forward) -- never a per-purchase "
    "all-prior-clicks expansion.  Ties: latest ts, then highest click "
    "id.  The oracle is DuckDB's NATIVE ASOF LEFT JOIN over clicks "
    "pre-collapsed to max(event_id) per (user, ts) -- exactly the tie "
    "rule -- which keeps the oracle linear too (the original windowed "
    "all-prior-pairs oracle was quadratic in per-user density and "
    "out-spilled the 100x fixture's disk; verified row-identical to it "
    "at sf0.01 before the swap).  NULL-ts fidelity: DuckDB's ASOF "
    "matches a NULL left timestamp to the LATEST right row, where the "
    "old c.cts <= p.pts predicate yields no match -- the CASE nulls "
    "the cid for NULL pts and NULL-cts clicks are filtered, so the "
    "rewrite is semantically identical to the old oracle on every "
    "NULL class, not just on fixtures that happen to lack NULL ts.  "
    "The NULL flag is computed BEFORE the join (pts_null in the CTE): "
    "DuckDB 1.0's ASOF rewrites post-join references to the left key, "
    "so 'p.pts IS NULL' after the join evaluates FALSE even when pts "
    "is NULL -- verified empirically; the pre-join flag sidesteps it.",
)
def rel_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("eid"), F.lit(1).alias("side")
    )
    # NULL-ts clicks are dropped BEFORE the union (the oracle's
    # c0 filter, the cogroup twin's dropna): NULLS FIRST ordering would
    # otherwise carry a NULL-ts click's eid into any purchase with no
    # real prior click.  A NULL-pts purchase then needs no special
    # case -- it sorts before every real-ts click, so its prefix holds
    # no click and the carry is NULL, matching the oracle's CASE.
    c = e.where(
        (F.col("event_type") == "click") & F.col("ts").isNotNull()
    ).select(
        "user_id", "ts", F.col("event_id").alias("eid"), F.lit(0).alias("side")
    )
    u = p.unionAll(c)
    # clicks (side 0) sort before purchases at equal ts -> '<=' semantics;
    # within clicks, (ts, eid) ascending so 'last' is the tie-winner.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "eid")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = F.last(
        F.when(F.col("side") == 0, F.col("eid")), ignorenulls=True
    ).over(w)
    return (
        u.withColumn("cid", carried)
        .where(F.col("side") == 1)
        .select(F.col("eid").alias("pid"), "user_id", "cid")
    )


@query(
    "rel_asof_tolerance",
    oracle="""
    WITH p AS (SELECT event_id AS pid, user_id,
                      date_trunc('microseconds', ts) AS pts,
                      ts IS NULL AS pts_null
               FROM events WHERE event_type = 'purchase'),
    c0 AS (SELECT user_id, date_trunc('microseconds', ts) AS cts,
                  max(event_id) AS cid
           FROM events
           WHERE event_type = 'click' AND ts IS NOT NULL
           GROUP BY 1, 2)
    SELECT p.pid, p.user_id,
           CASE WHEN p.pts_null OR c0.cts < p.pts - INTERVAL 30 MINUTE
                THEN NULL ELSE c0.cid END AS cid,
           CASE WHEN p.pts_null OR c0.cts < p.pts - INTERVAL 30 MINUTE
                THEN NULL
                ELSE CAST(date_diff('microsecond', c0.cts, p.pts) // 1000000
                          AS BIGINT)
           END AS gap_s
    FROM p ASOF LEFT JOIN c0
      ON p.user_id = c0.user_id AND p.pts >= c0.cts
    """,
    doc="ASOF with a TOLERANCE window (pandas merge_asof's `tolerance`, "
    "kdb's wj bound): the most recent click at-or-before each purchase "
    "counts only within 30 minutes -- staler attributions become NULL, "
    "with the attribution gap in seconds emitted for matches.  The "
    "tolerance NEEDS no second join or range expansion in either "
    "engine: the unbounded as-of match is found first (Spark: the same "
    "union + window-carry single pass as rel_asof_join, carrying the "
    "click (ts, id) struct; oracle: native ASOF LEFT JOIN over the "
    "max-id-per-ts pre-collapse), then one CASE nulls matches older "
    "than the bound -- correct because if the LATEST prior click is "
    "outside the window, every prior click is.  gap_s is an exact "
    "integer microsecond difference floored to seconds in both engines "
    "(no float).  NULL classes follow rel_asof_join (pre-join pts_null "
    "flag; NULL-ts clicks filtered).",
)
def rel_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("eid"), F.lit(1).alias("side")
    )
    c = e.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("eid"), F.lit(0).alias("side")
    )
    u = p.unionAll(c)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "eid")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = F.last(
        F.when(F.col("side") == 0, F.struct("ts", "eid")), ignorenulls=True
    ).over(w)
    in_window = (
        F.col("ts").isNotNull()
        & F.col("_c.ts").isNotNull()
        & (F.col("_c.ts") >= F.col("ts") - F.expr("INTERVAL 30 MINUTES"))
    )
    # exact integer floor division of the microsecond gap in BOTH
    # engines (date_diff('second') would count boundary CROSSINGS, which
    # differs on sub-second components) -- no float enters the value.
    gap = F.expr(
        "CAST((unix_micros(ts) - unix_micros(_c.ts)) DIV 1000000 AS BIGINT)"
    )
    return (
        u.withColumn("_c", carried)
        .where(F.col("side") == 1)
        .select(
            F.col("eid").alias("pid"),
            "user_id",
            F.when(in_window, F.col("_c.eid")).alias("cid"),
            F.when(in_window, gap).alias("gap_s"),
        )
    )


# --- Range join (banded) --------------------------------------------------------

@query(
    "rel_range_join",
    oracle="""
    WITH v AS (SELECT user_id, date_trunc('microseconds', ts) AS vts
               FROM events WHERE event_type = 'view'),
    p AS (SELECT user_id, date_trunc('microseconds', ts) AS pts
          FROM events WHERE event_type = 'purchase')
    SELECT v.user_id AS user_id, CAST(count(*) AS BIGINT) AS n_pairs
    FROM v JOIN p ON p.user_id = v.user_id
                 AND p.pts > v.vts AND p.pts <= v.vts + INTERVAL 1 HOUR
    GROUP BY v.user_id
    """,
    doc="Temporal range join: (view, purchase) pairs of the same user "
    "within one hour.  Spark-side uses band bucketing -- each view lands "
    "in its hour bucket and the next (2 rows), purchases in one; the join "
    "is then a plain equi-join on (user, bucket) + exact range filter. "
    "Turns an inequality join into a shuffle-hash join whose fan-out is "
    "bounded by the band width: the pattern that survives 100 TB.",
)
def rel_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    hour = 3600
    v = e.where(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("vts"),
        F.explode(
            F.array(
                F.floor(F.unix_timestamp("ts") / hour),
                F.floor(F.unix_timestamp("ts") / hour) + 1,
            )
        ).alias("bucket"),
    )
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("pts"),
        F.floor(F.unix_timestamp("ts") / hour).alias("bucket"),
    )
    return (
        v.join(p, (v.user_id == p.p_user) & (v.bucket == p.bucket))
        .where(
            (F.col("pts") > F.col("vts"))
            & (F.col("pts") <= F.col("vts") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# --- Scalar subquery --------------------------------------------------------------

@query(
    "rel_subquery_scalar",
    oracle="""
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rich
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
    GROUP BY c_mktsegment
    """,
    doc="Scalar subquery: customers above the global average balance, by "
    "segment.  Spark side stays declarative (broadcast the 1-row agg and "
    "cross join) -- no collect of the scalar to the driver.",
)
def rel_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    avg_bal = c.agg(F.avg("c_acctbal").alias("_avg"))
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("_avg"))
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_rich"))
    )


# --- Grouping sets / rollup --------------------------------------------------

@query(
    "rel_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_price,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP grouping sets (subtotals + grand total; NULL marks the "
    "rolled-up level in both engines).  The grand-total money sum "
    "aggregates exactly as integer CENTS -- the plain double sum "
    "measurably diverged from DuckDB past the cent at the 10x probe "
    "(1.8e11 magnitude; order-dependent float accumulation); see "
    "rel_filter_agg for the cents contract.",
)
def rel_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    price_c = pos_cents("l_extendedprice")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        (F.sum(price_c).cast("double") / 100.0).alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "rel_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(avg(l_discount), 6) AS avg_disc,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE grouping sets: all 2^2 grouping combinations.",
)
def rel_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("n"),
    )


# --- Set operations ----------------------------------------------------------

@query(
    "rel_set_ops",
    oracle="""
    WITH buyers AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
    rich AS (SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000)
    SELECT 'intersect' AS op, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT custkey FROM buyers INTERSECT SELECT custkey FROM rich)
    UNION ALL
    SELECT 'except' AS op, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT custkey FROM rich EXCEPT SELECT custkey FROM buyers)
    UNION ALL
    SELECT 'union' AS op, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT custkey FROM buyers UNION SELECT custkey FROM rich)
    """,
    doc="Set operations: INTERSECT / EXCEPT / UNION (distinct semantics).",
)
def rel_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey")
    ).distinct()
    rich = load_table(spark, sf_dir, "customer").where(
        F.col("c_acctbal") > 5000
    ).select(F.col("c_custkey").alias("custkey"))

    def one(op: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(op).alias("op"), "n"
        )

    return (
        one("intersect", o.intersect(rich))
        .unionAll(one("except", rich.exceptAll(o).distinct()))
        .unionAll(one("union", o.union(rich).distinct()))
    )


# --- SQL-interface parity: one ANSI string, two engines -----------------------

_ANSI_Q3 = """
    SELECT o.o_orderkey AS orderkey,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS DOUBLE) / 10000.0 AS revenue,
           c.c_mktsegment AS mktsegment
    FROM customer c, orders o, lineitem l
    WHERE c.c_custkey = o.o_custkey
      AND l.l_orderkey = o.o_orderkey
      AND o.o_orderstatus = 'O'
    GROUP BY o.o_orderkey, c.c_mktsegment
    ORDER BY revenue DESC, o.o_orderkey
    LIMIT 10
"""

@query(
    "rel_ansi_sql_verbatim",
    oracle=_ANSI_Q3,
    doc="SQL-interface parity (TPC-H Q3 shape): the IDENTICAL ANSI string "
    "runs on spark.sql() and on DuckDB -- the engine's SQL surface, not "
    "just the DataFrame API, matches the oracle dialect verbatim.",
)
def rel_ansi_sql_verbatim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(_ANSI_Q3)


# Revenue in exact bigint cents (the rel_filter_agg contract): the
# raw double sum is summation-ORDER-dependent, so even a verbatim
# string diverges across engines past ~1e13 per-group magnitude.  The
# round-then-cast spelling is the portable exact idiom (DuckDB's
# double->bigint cast rounds, Spark's truncates; explicit round()
# agrees everywhere).
_ANSI_GROUP_BY_ALL = """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                AS DOUBLE) / 10000.0 AS revenue,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    WHERE l_quantity >= 25
    GROUP BY ALL
"""


@query(
    "rel_group_by_all",
    oracle=_ANSI_GROUP_BY_ALL,
    doc="Modern-ANSI surface: GROUP BY ALL (group on every non-aggregate "
    "select item) -- the identical string runs on spark.sql() and "
    "DuckDB.  Semantics equal to the explicit GROUP BY, plan identical "
    "(Catalyst expands ALL during analysis).",
)
def rel_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(_ANSI_GROUP_BY_ALL)


# --- Pivot --------------------------------------------------------------------

@query(
    "rel_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN l_linestatus = 'F' THEN
                    CAST(round(l_extendedprice * 100) AS BIGINT) END)
                AS DOUBLE) / 100.0 AS rev_f,
           CAST(sum(CASE WHEN l_linestatus = 'O' THEN
                    CAST(round(l_extendedprice * 100) AS BIGINT) END)
                AS DOUBLE) / 100.0 AS rev_o
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Pivot: revenue by returnflag spread across linestatus columns "
    "(df.pivot with an explicit value list -- never let pivot scan for "
    "distinct values at scale; the oracle is the CASE-sum expansion).",
)
def rel_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Exact-cents pivot cells (rel_filter_agg contract): per-cell sums
    # reach ~1.5e13 at the 100x probe scale, past the double sum's
    # cent-exactness -- aggregate bigint cents, divide once.
    p = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            (
                F.sum(pos_cents("l_extendedprice")).cast("double") / 100.0
            ).alias("rev")
        )
    )
    return p.select(
        "l_returnflag",
        F.col("F").alias("rev_f"),
        F.col("O").alias("rev_o"),
    )


# --- Percentiles / histogram ----------------------------------------------------

@query(
    "rel_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Exact interpolated percentiles per group, SORT-BASED: rank each "
    "row in its group (disk-spilling window sort), keep only the <=2 "
    "anchor rows per (group, percentile) at positions floor/ceil of "
    "h = (n-1)p+1, and interpolate.  Spark's `percentile` aggregate "
    "buffers EVERY group value in one task's heap map -- measured "
    "OOMing a default 1 GB session at 6M rows (10x probe, this round) "
    "-- while the window sort spills, so this formulation is the only "
    "exact percentile that survives data-scale groups.  (At 100 TB "
    "still prefer approx_percentile -- t-digest, mergeable, one "
    "map-side pass -- when 0.1% error is acceptable: rel_approx_"
    "percentile.)  Matches DuckDB quantile_cont at round(4).",
)
def rel_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    wr = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wn = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    e = ranked.select(
        "l_returnflag",
        "v",
        "rn",
        "n",
        F.explode(F.array(F.lit(0.5), F.lit(0.9))).alias("p"),
    ).withColumn("h", (F.col("n") - 1) * F.col("p") + 1)
    anchors = e.where(
        (F.col("rn") == F.floor("h")) | (F.col("rn") == F.ceil("h"))
    )
    interp = anchors.groupBy("l_returnflag", "p").agg(
        F.first("h").alias("h"),
        F.max(F.when(F.col("rn") == F.floor("h"), F.col("v"))).alias("v_lo"),
        F.max(F.when(F.col("rn") == F.ceil("h"), F.col("v"))).alias("v_hi"),
    )
    val = F.col("v_lo") + (F.col("v_hi") - F.col("v_lo")) * (
        F.col("h") - F.floor("h")
    )
    return (
        interp.withColumn("val", val)
        .groupBy("l_returnflag")
        .agg(
            F.round(
                F.max(F.when(F.col("p") == 0.5, F.col("val"))), 4
            ).alias("p50"),
            F.round(
                F.max(F.when(F.col("p") == 0.9, F.col("val"))), 4
            ).alias("p90"),
        )
    )


@query(
    "rel_histogram",
    oracle="""
    SELECT CAST(floor(l_quantity / 10) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(l_discount), 6) AS avg_disc
    FROM lineitem GROUP BY 1
    """,
    doc="Width-10 histogram over quantity: floor-division binning "
    "(portable, pushdown-friendly; one shuffle of #bins rows).",
)
def rel_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.floor(F.col("l_quantity") / 10).cast("bigint").alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
    )


# --- Batch sessionization ---------------------------------------------------

@query(
    "rel_sessionize_batch",
    oracle="""
    WITH e AS (SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts
               FROM events),
    g AS (
        SELECT user_id, event_id, ts,
               CASE WHEN ts - lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                    ) > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        FROM e
    ),
    s AS (
        SELECT user_id, ts,
               sum(brk) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS sid
        FROM g
    )
    SELECT user_id, CAST(sid AS BIGINT) AS session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS VARCHAR)
               AS session_start_s
    FROM s GROUP BY user_id, sid
    """,
    doc="Sessionization as a batch query: 30-min-gap breaks via lag, "
    "session ids via running sum, one group-by -- the same gap rule as "
    "the gap_sessions UDTF.",
)
def rel_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")  # naive-ts parity
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    brk = (
        F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
        > 30 * 60 * 1_000_000
    ).cast("int")
    g = e.select("user_id", "event_id", "ts", F.coalesce(brk, F.lit(0)).alias("brk"))
    sid = F.sum("brk").over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = g.withColumn("sid", sid)
    return s.groupBy("user_id", F.col("sid").cast("bigint").alias("session_id")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start_s"),
    )


# --- String / date / JSON functions -----------------------------------------

@query(
    "rel_string_funcs",
    oracle="""
    SELECT doc_id,
           upper(substr(text, 1, 12)) AS head,
           CAST(length(text) AS BIGINT) AS len,
           CAST(length(replace(text, ' ', '')) AS BIGINT) AS len_nospace,
           source || ':' || lang AS tag
    FROM documents WHERE doc_id < 200
    """,
    doc="String functions: upper/substr/length/replace/concat.",
)
def rel_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return d.select(
        "doc_id",
        F.upper(F.substring("text", 1, 12)).alias("head"),
        F.length("text").cast("bigint").alias("len"),
        F.length(F.regexp_replace("text", " ", "")).cast("bigint").alias("len_nospace"),
        F.concat_ws(":", "source", "lang").alias("tag"),
    )


@query(
    "rel_date_funcs",
    oracle="""
    SELECT CAST(strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS VARCHAR)
               AS hour_str,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Date/time functions: truncate-to-hour aggregation over the events "
    "table (timestamps stringified identically in both engines).",
)
def rel_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DuckDB timestamps are naive; render ours in UTC regardless of the
    # caller session's timezone so hour-truncation/strings agree.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_str"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


@query(
    "rel_timezone_convert",
    oracle="""
    SELECT event_id,
           CAST(strftime(ts, '%Y-%m-%d %H:%M:%S') AS VARCHAR) AS utc_s,
           CAST(strftime(ts AT TIME ZONE 'UTC'
                            AT TIME ZONE 'America/New_York',
                         '%Y-%m-%d %H:%M:%S') AS VARCHAR) AS nyc_s,
           CAST((epoch(ts AT TIME ZONE 'UTC'
                          AT TIME ZONE 'America/New_York')
                 - epoch(ts)) // 60 AS BIGINT) AS offset_min
    FROM events WHERE event_id < 2000
    """,
    doc="Timezone conversion (convert_timezone / AT TIME ZONE): events "
    "stored as UTC instants rendered as America/New_York wall time, "
    "plus the applied UTC offset in minutes -- the event-localization "
    "surface every reporting pipeline needs.  Spark's convert_timezone "
    "returns TIMESTAMP_NTZ (wall time), DuckDB's double AT TIME ZONE "
    "does the identical instant->wall mapping through the same IANA "
    "tzdata; the offset is derived by re-reading the wall time as a "
    "UTC instant and differencing integer seconds (exact -- offsets "
    "are whole minutes).  The fixture's January window pins EST (-300)"
    "; the DST-crossing behavior (EDT -240, spring-forward gap) is "
    "unit-pinned in tests/test_plans.py since no boundary falls inside "
    "the fixture.  Scale shape: a per-row projection, no shuffle, "
    "fuses with the scan.",
)
def rel_timezone_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    # UTC pin BEFORE construction: date_format resolves the session zone
    # at analysis time, and the NTZ->instant offset reading needs it.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    e = load_table(spark, sf_dir, "events").where(F.col("event_id") < 2000)
    nyc = F.convert_timezone(
        F.lit("UTC"), F.lit("America/New_York"), F.col("ts")
    )
    # NTZ read back as a UTC instant (session tz is pinned) so the
    # offset is an integer-seconds difference of two instants.
    off = (
        F.unix_seconds(nyc.cast("timestamp"))
        - F.unix_seconds(F.col("ts"))
    )
    return e.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("utc_s"),
        F.date_format(nyc, "yyyy-MM-dd HH:mm:ss").alias("nyc_s"),
        F.floor(off / 60).cast("bigint").alias("offset_min"),
    )


@query(
    "rel_identifier_clause",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM events WHERE event_id < 5000 GROUP BY event_type
    """,
    doc="IDENTIFIER() clause (Spark 4): table and column names bound "
    "from parameter markers -- the injection-safe templating surface "
    "for dynamic object references (multi-tenant table fan-out, "
    "metric-column selection), completing rel_parameterized_sql which "
    "binds only VALUES.  IDENTIFIER(:t) resolves at analysis time to "
    "a real catalog reference, so pushdown/pruning see the static "
    "plan; the oracle is that resolved static query.  Integer-cents "
    "money discipline as everywhere.",
)
def rel_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(IDENTIFIER(:val_col) * 100, 0)
                             AS BIGINT)) AS BIGINT) AS total_cents
        FROM IDENTIFIER(:tbl)
        WHERE IDENTIFIER(:key_col) < 5000
        GROUP BY event_type
        """,
        args={"tbl": "events", "val_col": "value", "key_col": "event_id"},
    )


@query(
    "rel_json_funcs",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1
    """,
    doc="JSON extraction from the events.props string column.",
)
def rel_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.get_json_object("props", "$.k").cast("bigint").alias("k")
    ).agg(F.count(F.lit(1)).alias("n"))


# --- Array functions over embeddings ----------------------------------------

@query(
    "rel_array_funcs",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INTEGER) AS dim,
           round(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
           round(list_sum(embedding::DOUBLE[]), 4) AS vec_sum
    FROM embeddings WHERE vec_id < 100
    """,
    doc="Array functions: size / element access / element sum over the "
    "array<float> embedding column (higher-order AGGREGATE, no UDF).",
)
def rel_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 100)
    emb = F.col("embedding").cast("array<double>")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(emb.getItem(0), 6).alias("first_val"),
        F.round(
            F.aggregate(emb, F.lit(0.0), lambda acc, v: acc + v), 4
        ).alias("vec_sum"),
    )


# --- Grouping sets (explicit set list; ROLLUP/CUBE are its sugar) -------------

_GROUPING_SETS_SQL = """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_price,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""

@query(
    "rel_grouping_sets",
    oracle=_GROUPING_SETS_SQL,
    doc="GROUPING SETS with an explicit set list -- the general form that "
    "ROLLUP/CUBE desugar to; the IDENTICAL ANSI string runs on both "
    "engines.  One Expand + one aggregate: rows are replicated "
    "#sets times map-side, so at 100 TB prefer the smallest set list "
    "over CUBE's 2^n explosion.",
)
def rel_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(_GROUPING_SETS_SQL)


# --- Multi-column DISTINCT aggregates ----------------------------------------

@query(
    "rel_count_distinct_multi",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Two DISTINCT aggregates over different columns in one query "
    "(Catalyst plans an Expand: each row replicated per distinct "
    "column, then two-phase dedup+count -- one shuffle, no self-join).",
)
def rel_count_distinct_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "rel_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           TRUE AS approx_within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="approx_count_distinct (HyperLogLog++, rsd=0.02) next to the "
    "exact count.  The sketch is mergeable -- partial sketches combine "
    "map-side, so the shuffle carries one ~kB sketch per partition "
    "instead of the distinct key stream: THE cardinality path at "
    "100 TB.  rsd=0.02: tighter precision grows the sketch (and its "
    "merge cost) superlinearly -- measured 3.4 s vs 25 s at rsd=0.01 "
    "for the same sf0.1 input.  The raw estimate differs across "
    "engines by design, so the gate checks the engine-portable CLAIM: "
    "the exact count plus a boolean asserting the sketch landed within "
    "5% of it (the oracle states TRUE; a drifting sketch hash-fails).",
)
def rel_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
    ).select(
        "l_returnflag",
        "exact_orders",
        (
            F.abs(F.col("approx_orders") - F.col("exact_orders"))
            <= 0.05 * F.col("exact_orders")
        ).alias("approx_within_5pct"),
    )


@query(
    "rel_hll_sketch_union",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS union_within_5pct
    FROM events GROUP BY event_type
    """,
    doc="Mergeable-sketch rollup: per-(event_type, day) DataSketches HLL "
    "sketches of user_id (hll_sketch_agg), then hll_union_agg collapses "
    "each type's daily sketches into one estimate -- the pattern that "
    "makes 100 TB distinct-counting reusable: daily sketches are built "
    "once (kB each), persisted, and any date range or coarser rollup "
    "is a cheap union of sketches instead of a re-scan of raw events.  "
    "Differs from rel_approx_distinct (one-shot approx_count_distinct): "
    "here the sketch itself is a first-class, re-aggregable column.  "
    "Raw estimates are engine-specific, so the gate checks the claim: "
    "exact distinct count + a boolean asserting the unioned estimate "
    "landed within 5% (default lgConfigK=12 gives ~1.6% rsd).  Scale "
    "shape: both aggregations partial-combine map-side; the shuffle "
    "carries one sketch per (type, day, partition), never user ids.",
)
def rel_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_day = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    rolled = per_day.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return exact.join(F.broadcast(rolled), "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("union_within_5pct"),
    )


@query(
    "rel_bitmap_distinct",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users
    FROM events GROUP BY event_type
    """,
    doc="EXACT distinct counting via bitmap rollup: user ids map to "
    "(bucket, bit) positions, bitmap_construct_agg builds one bitmap "
    "per (event_type, bucket), bitmap_or_agg unions buckets and "
    "bitmap_count reads the answer.  Unlike the HLL pair "
    "(rel_approx_distinct / rel_hll_sketch_union) the result is exact, "
    "so the gate hash-checks the VALUE against count(DISTINCT) -- no "
    "claim booleans needed.  This is the materialized-bitmap pattern "
    "for 100 TB: per-(day, bucket) bitmaps are mergeable partial "
    "aggregates (built map-side, persisted once, re-unioned per "
    "rollup), and the shuffle carries fixed-width bitmap bytes instead "
    "of the raw id stream -- dense-id workloads get exactness at "
    "sketch-like cost.  Bucketing contract (bug found by the oracle on "
    "first probe): a bucket is a DISJOINT 32k id range, so bitmaps OR "
    "together only WITHIN a bucket (here: across days) and the final "
    "distinct count is the SUM of per-bucket counts -- OR-ing bitmaps "
    "of different buckets collapses ids that share a bit position.",
)
def rel_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_day_bucket = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("d"),
        F.expr("bitmap_bucket_number(user_id)").alias("bkt"),
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias(
            "bm"
        )
    )
    per_bucket = per_day_bucket.groupBy("event_type", "bkt").agg(
        F.expr("bitmap_count(bitmap_or_agg(bm))").alias("cnt")
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum("cnt").alias("distinct_users")
    )


# --- Multi-join chain (TPC-H Q5 shape) ----------------------------------------

@query(
    "rel_join_chain_q5",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS DOUBLE) / 10000.0 AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA' AND o.o_orderstatus = 'F'
    GROUP BY n.n_name
    """,
    doc="Six-table join chain (TPC-H Q5 shape: local-supplier revenue by "
    "nation).  Catalyst reorders freely; the two fact-to-fact hops "
    "(orders-lineitem, lineitem-supplier) shuffle, the three dimension "
    "hops broadcast, and both filters push into their scans -- the plan "
    "shape that decides whether a 100 TB star query is one shuffle or "
    "five.",
)
def rel_join_chain_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        c.join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            s,
            (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(n, n.n_nationkey == c.c_nationkey)
        .join(r, (r.r_regionkey == n.n_regionkey) & (r.r_name == "ASIA"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            (
                F.sum(
                    pos_cents("l_extendedprice")
                    * (F.lit(100) - pos_cents("l_discount"))
                ).cast("double")
                / 10000.0
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --- Correlated scalar subquery ----------------------------------------------

@query(
    "rel_correlated_scalar",
    oracle="""
    SELECT p_type, CAST(count(*) AS BIGINT) AS n_premium,
           round(max(p_retailprice), 2) AS max_price
    FROM part p
    WHERE p_retailprice > (
        SELECT avg(p2.p_retailprice) FROM part p2 WHERE p2.p_type = p.p_type
    )
    GROUP BY p_type
    """,
    doc="Correlated scalar subquery: parts priced above their "
    "type's average.  Catalyst decorrelates this into an aggregate + "
    "self-join -- the DataFrame side writes that rewrite explicitly "
    "(groupBy type -> broadcast join back), which is also the only "
    "shape that works at 100 TB (one pass, no per-row subquery).",
)
def rel_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    avg_by_type = p.groupBy(F.col("p_type").alias("_t")).agg(
        F.avg("p_retailprice").alias("_avg")
    )
    return (
        p.join(F.broadcast(avg_by_type), p.p_type == F.col("_t"))
        .where(F.col("p_retailprice") > F.col("_avg"))
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_premium"),
            F.round(F.max("p_retailprice"), 2).alias("max_price"),
        )
    )


# --- VARIANT (semi-structured) JSON ------------------------------------------

@query(
    "rel_json_variant",
    oracle="""
    SELECT CAST(floor(CAST(json_extract(props, '$.k') AS BIGINT) / 10)
                AS BIGINT) AS k_bin,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(value), 4) AS avg_value
    FROM events GROUP BY 1
    """,
    doc="Semi-structured path via VARIANT: parse_json once into Spark's "
    "binary variant encoding, then typed variant_get extraction -- "
    "unlike per-access get_json_object string re-parsing "
    "(rel_json_funcs), the parse cost is paid once per row however "
    "many fields are read: the JSON-heavy-ingest pattern at 100 TB.",
)
def rel_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "long")
    return e.groupBy(
        F.floor(k / 10).cast("bigint").alias("k_bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


# --- Built-in session windows -------------------------------------------------

@query(
    "rel_session_window",
    oracle="""
    WITH e AS (SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts
               FROM events),
    g AS (
        SELECT user_id, event_id, ts,
               CASE WHEN ts - lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                    ) >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        FROM e
    ),
    s AS (
        SELECT user_id, ts,
               sum(brk) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS sid
        FROM g
    )
    SELECT user_id,
           CAST(strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS VARCHAR)
               AS session_start_s,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
    """,
    doc="Native session windows: groupBy(session_window(ts, '30 min')) "
    "-- Spark's built-in gap-merge aggregation (one shuffle, sessions "
    "merged inside the agg; usable unchanged on a stream).  Oracle: the "
    "lag/running-sum CTE with the matching boundary rule (an event at "
    "EXACTLY gap distance starts a new session: windows are [start, "
    "end)), vs rel_sessionize_batch's strict-> break -- both "
    "formulations, both checked.",
)
def rel_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")  # naive-ts parity
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("win")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start_s"
            ),
            "n_events",
        )
    )


# --- Conditional aggregation over a join (TPC-H Q14 shape) --------------------

@query(
    "rel_conditional_agg_q14",
    oracle="""
    SELECT 100.0 * (CAST(sum(CASE WHEN p.p_type = 'PROMO'
                       THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                            * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
                       END) AS DOUBLE)
                 / CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                            * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                        AS DOUBLE))
               AS promo_revenue_pct,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    """,
    doc="Conditional aggregation over a join (TPC-H Q14 shape: promo "
    "revenue share).  part broadcasts; the CASE folds into the partial "
    "aggregate, so the answer is one row computed map-side + one "
    "single-row combine.",
)
def rel_conditional_agg_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = F.broadcast(load_table(spark, sf_dir, "part"))
    rev = pos_cents("l_extendedprice") * (
        F.lit(100) - pos_cents("l_discount")
    )
    promo = F.when(F.col("p_type") == "PROMO", rev)
    return li.join(p, p.p_partkey == li.l_partkey).agg(
        (
            F.lit(100.0)
            * (F.sum(promo).cast("double") / F.sum(rev).cast("double"))
        ).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "rel_approx_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5) + 0.000001, 2)
               AS exact_p50,
           TRUE AS approx_within_2pct,
           TRUE AS approx_in_range
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="approx_percentile (mergeable quantile sketch) next to the exact "
    "percentile.  Exact per-group percentiles materialize the sorted "
    "group; the sketch merges map-side in fixed memory -- the quantile "
    "path at 100 TB.  The raw estimate differs across engines by "
    "design, so the gate checks the engine-portable CLAIM: the exact "
    "interpolated median (Spark percentile == DuckDB quantile_cont) "
    "plus booleans asserting the sketch landed within 2% of exact and "
    "inside the group's [min, max] (the oracle states TRUE).",
)
def rel_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr(
            "approx_percentile(l_extendedprice, 0.5, 10000)"
        ).alias("approx_p50"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_p50"),
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
    ).select(
        "l_returnflag",
        # +1e-6 before rounding: the interpolated median can land within
        # one double ulp of a .xx5 round boundary, and Spark's a+(b-a)/2
        # vs DuckDB's (a+b)/2 then round to different cents.  The nudge
        # (>> ulp, << the 0.005 quantum) puts both engines on the same
        # side; it only changes the output where the unnudged result was
        # engine-dependent anyway.
        F.round(F.col("exact_p50") + F.lit(0.000001), 2).alias("exact_p50"),
        (
            F.abs(F.col("approx_p50") - F.col("exact_p50"))
            <= 0.02 * F.col("exact_p50")
        ).alias("approx_within_2pct"),
        F.col("approx_p50").between(F.col("lo"), F.col("hi")).alias(
            "approx_in_range"
        ),
    )


# --- Range-frame windows ------------------------------------------------------

@query(
    "rel_window_range_frame",
    oracle="""
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_last_hour,
           round(sum(value) OVER w, 4) AS sum_last_hour
    FROM (SELECT event_id, user_id, value, epoch_us(ts) AS us
          FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY us
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    doc="RANGE-framed window (vs ROWS): per-user trailing-1-hour count "
    "and sum -- the frame is defined by the ORDER-BY VALUE distance, so "
    "ties (same timestamp) share one frame.  Ordering is INTEGER "
    "MICROSECONDS in both engines (Spark unix_micros, DuckDB epoch_us): "
    "an earlier integer-seconds-vs-fractional-epoch pairing diverged at "
    "sf0.1, where sub-second timestamps land rows on different sides of "
    "the 3600 s frame boundary after truncation.",
)
def rel_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.round(F.sum("value").over(w), 4).alias("sum_last_hour"),
    )


@query(
    "rel_window_count_distinct",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, event_type,
               date_trunc('microseconds', ts) AS ts
        FROM events WHERE user_id < 40 AND ts IS NOT NULL
    ),
    m AS (
        SELECT user_id, event_id, ts,
               CASE WHEN event_type IS NOT NULL
                     AND row_number() OVER (
                        PARTITION BY user_id, event_type
                        ORDER BY ts, event_id
                    ) = 1 THEN 1 ELSE 0 END AS first_occ
        FROM e
    )
    SELECT user_id, event_id,
           CAST(sum(first_occ) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
           ) AS INTEGER) AS n_types_so_far
    FROM m
    """,
    doc="Running COUNT(DISTINCT) over a window -- an aggregate Spark "
    "does NOT support natively in window frames (DISTINCT_WINDOW_"
    "FUNCTION_UNSUPPORTED) -- expressed as the standard composition "
    "size(collect_set(x) OVER w): per user, how many distinct event "
    "types have been seen up to each event.  The oracle states the "
    "equivalent first-occurrence-marker running sum (rows <= r contain "
    "k distinct types iff k first-occurrences precede r), which is "
    "also the composition to REACH FOR when the distinct domain is "
    "unbounded: collect_set holds the running set per frame "
    "evaluation, fine for a 5-value type column, quadratic-memory for "
    "high-cardinality ones.  (ts, event_id) is a total order so every "
    "prefix is deterministic.  NULL rule pinned explicitly (round-7 "
    "advisor): collect_set DROPS a NULL event_type, so the oracle's "
    "first-occurrence marker requires event_type IS NOT NULL -- a "
    "NULL-typed row still appears as an output row but contributes "
    "nothing to the running distinct count, in BOTH engines.",
)
def rel_window_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").where(
        (F.col("user_id") < 40) & F.col("ts").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        F.size(F.collect_set("event_type").over(w)).alias("n_types_so_far"),
    )


# --- Window rank-function suite --------------------------------------------

@query(
    "rel_window_rank_funcs",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cdist
    FROM orders
    WHERE o_orderkey < 2000
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey)
    """,
    doc="Rank-function suite over one window: rank, dense_rank, "
    "ntile(4), percent_rank, cume_dist per order-priority partition.  "
    "The (o_totalprice DESC, o_orderkey) order is a total order, so "
    "every rank is deterministic; floats rounded in both engines.",
)
def rel_window_rank_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 2000)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


# --- Unpivot / melt ----------------------------------------------------------

@query(
    "rel_unpivot",
    oracle="""
    UNPIVOT (
        SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
        FROM lineitem WHERE l_orderkey < 100
    )
    ON l_quantity, l_discount, l_tax
    INTO NAME measure VALUE val
    """,
    doc="Unpivot (wide -> long): three numeric lineitem measures melted "
    "to (measure, val) rows -- the inverse of rel_pivot.  Narrow "
    "transformation (a generator projection, no shuffle; row count x3).",
)
def rel_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") < 100)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax")
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "measure",
        "val",
    )


# --- Null semantics ----------------------------------------------------------

@query(
    "rel_null_semantics",
    oracle="""
    WITH t AS (
        SELECT c_custkey,
               CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal
        FROM customer
    )
    SELECT c_custkey,
           round(coalesce(bal, -1.0), 2) AS bal_or_default,
           CAST(bal IS NULL AS BOOLEAN) AS is_missing,
           round(nullif(bal, 0.0), 2) AS bal_nonzero,
           CAST(bal IS NOT DISTINCT FROM NULL AS BOOLEAN) AS null_safe_eq_null
    FROM t
    """,
    doc="Null semantics: COALESCE, NULLIF, IS NULL, and null-safe "
    "equality (Spark <=> / eqNullSafe == ANSI IS NOT DISTINCT FROM) "
    "over a derived nullable column -- three-valued logic handled "
    "identically in both engines.",
)
def rel_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    bal = F.when(F.col("c_acctbal") < 0, None).otherwise(F.col("c_acctbal"))
    t = c.select("c_custkey", bal.alias("bal"))
    return t.select(
        "c_custkey",
        F.round(F.coalesce(F.col("bal"), F.lit(-1.0)), 2).alias("bal_or_default"),
        F.col("bal").isNull().alias("is_missing"),
        F.round(F.nullif(F.col("bal"), F.lit(0.0)), 2).alias("bal_nonzero"),
        F.col("bal").eqNullSafe(F.lit(None).cast("double")).alias(
            "null_safe_eq_null"
        ),
    )


# --- Statistical aggregates --------------------------------------------------

@query(
    "rel_stats_agg",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 6) AS sd_qty,
           round(var_pop(l_quantity), 6) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 3) AS covar_qty_price,
           round(covar_pop(l_discount, l_tax), 8) AS covar_disc_tax
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Statistical aggregates per return flag: sample/population "
    "stddev+variance, Pearson correlation, sample/population "
    "covariance.  Both engines use numerically-stable one-pass "
    "formulations whose partial-merge order differs, so computed floats "
    "are rounded with per-column precision scaled to magnitude.",
)
def rel_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_pop("l_quantity"), 6).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "corr_qty_price"
        ),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 3).alias(
            "covar_qty_price"
        ),
        F.round(F.covar_pop("l_discount", "l_tax"), 8).alias("covar_disc_tax"),
    )


#: freqItems support for rel_stat_freq_items: chosen to SPLIT the 25
#: p_brand values non-trivially at every gate scale (12/11/5 brands pass
#: at sf0.001/0.01/0.1) -- a support that kept or dropped everything
#: would make the containment check vacuous.
_FREQ_SUPPORT = 0.041


@query(
    "rel_stat_freq_items",
    oracle=f"""
    SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts
    FROM part GROUP BY p_brand
    HAVING count(*) > {_FREQ_SUPPORT} * (SELECT count(*) FROM part)
    """,
    doc="df.stat.freqItems checked EXACTLY despite being an approximate "
    "one-pass sketch: Karp-Papadimitriou-Shenker guarantees the result "
    "is a SUPERSET of every item with frequency > support*n (false "
    "positives allowed, false negatives never), so intersecting the "
    "sketch output with the exact per-item counts and filtering at "
    "count > support*n is deterministically equal to the plain "
    "GROUP BY ... HAVING oracle -- if Spark's sketch ever dropped a "
    "truly-frequent item the hash would catch it.  The threshold "
    "multiply is the same double op in both engines.  Scale shape: the "
    "sketch is one pass + a driver-sized summary (1/support counters); "
    "the exact count is one hash agg; the candidate list (<= 25 rows) "
    "broadcasts.",
)
def rel_stat_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    n_total = p.count()
    cand = p.stat.freqItems(["p_brand"], support=_FREQ_SUPPORT).select(
        F.explode("p_brand_freqItems").alias("p_brand")
    )
    exact = p.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_parts"))
    return (
        exact.join(F.broadcast(cand), "p_brand")
        .where(F.col("n_parts") > F.lit(_FREQ_SUPPORT) * F.lit(float(n_total)))
        .select("p_brand", "n_parts")
    )


_CT_LANGS = ("de", "en", "es", "fr", "zh")


@query(
    "rel_stat_crosstab",
    oracle=f"""
    SELECT source AS source_lang,
           {", ".join(
               f"CAST(count(*) FILTER (lang = '{lg}') AS BIGINT) AS n_{lg}"
               for lg in _CT_LANGS
           )}
    FROM documents GROUP BY source
    """,
    doc="df.stat.crosstab (pairwise contingency table): documents "
    "source x lang counts, 20 rows x 5 language columns.  crosstab is "
    "EXACT (one groupBy on the pair + a driver-side pivot of the "
    "distinct column values), so unlike freqItems it hash-checks "
    "directly; the oracle states it as FILTERed counts.  The language "
    "column set is pinned (_CT_LANGS) rather than discovered so the "
    "output schema is fixture-stable; crosstab's cell type is string "
    "in Spark -- cast back to bigint.  Scale caveat in the doc is the "
    "API's own: the pivoted column count is the DISTINCT cardinality "
    "of the second column, so crosstab is for bounded-domain pairs "
    "(use the plain groupBy for unbounded ones).",
)
def rel_stat_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ct = d.stat.crosstab("source", "lang")
    # crosstab only emits columns for lang values PRESENT in the data;
    # a pinned-domain contract means an absent value is a zero count
    # (and on an empty corpus, every domain column is absent).
    present = set(ct.columns)
    return ct.select(
        "source_lang",
        *[
            (F.col(f"`{lg}`") if lg in present else F.lit(0))
            .cast("bigint")
            .alias(f"n_{lg}")
            for lg in _CT_LANGS
        ],
    )


@query(
    "rel_stat_sampleby",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM events WHERE event_type = 'click' GROUP BY event_type
    """,
    doc="df.sampleBy (stratified sampling) at its DETERMINISTIC boundary "
    "fractions: fraction 1.0 keeps a stratum bit-exactly (rand in "
    "[0,1) < 1.0 always), 0.0 and absent strata drop out -- so the "
    "sampled frame with {click: 1.0, view: 0.0} equals WHERE "
    "event_type = 'click' and hash-checks against an exact oracle, "
    "seed-independent.  The INTERIOR fractions are Bernoulli draws "
    "from Spark's seeded XORShift -- not reproducible in any other "
    "engine by design -- so their contract (same-seed determinism, "
    "binomial concentration per stratum) is pinned by "
    "tests/test_plans.py::test_sampleby_fractional_contract instead; "
    "integer cents keep the checked aggregate exact (the tpch_q1 "
    "discipline).  Scale shape: sampleBy is a stateless per-row "
    "filter -- no shuffle, fully pushdown-friendly.",
)
def rel_stat_sampleby(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    s = e.sampleBy("event_type", {"click": 1.0, "view": 0.0}, seed=7)
    return s.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("total_cents"),
    )


# --- Map-typed columns -------------------------------------------------------

@query(
    "rel_map_funcs",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
           CAST(len(json_keys(props)) AS INTEGER) AS n_keys,
           CAST(list_aggregate(list_sort(json_keys(props)), 'string_agg', ',')
                AS VARCHAR) AS keys_sorted
    FROM events
    WHERE event_id < 500
    """,
    doc="Map-typed column surface: events.props parsed to "
    "map<string,bigint> (from_json), then element_at, size(map_keys) "
    "and sorted-key join -- the oracle reaches the same values through "
    "DuckDB's JSON functions, checking the map semantics end to end.",
)
def rel_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").where(F.col("event_id") < 500)
    m = F.from_json("props", "map<string,bigint>")
    t = e.select("event_id", m.alias("m"))
    return t.select(
        "event_id",
        F.element_at("m", "k").alias("k_val"),
        F.size(F.map_keys("m")).alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys("m")), ",").alias("keys_sorted"),
    )


# --- EXISTS / IN predicate subqueries (null-aware anti join) -----------------

_EXISTS_SQL = """
    SELECT 'exists' AS op, CAST(count(*) AS BIGINT) AS n
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    UNION ALL
    SELECT 'not_exists' AS op, CAST(count(*) AS BIGINT) AS n
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    UNION ALL
    SELECT 'not_in_nullable' AS op, CAST(count(*) AS BIGINT) AS n
    FROM customer
    WHERE c_custkey NOT IN (
        SELECT CASE WHEN o_totalprice < 20000 THEN NULL ELSE o_custkey END
        FROM orders WHERE o_orderpriority = '1-URGENT')
    UNION ALL
    SELECT 'not_in_filtered' AS op, CAST(count(*) AS BIGINT) AS n
    FROM customer
    WHERE c_custkey NOT IN (
        SELECT o_custkey FROM orders
        WHERE o_orderpriority = '1-URGENT' AND o_totalprice >= 20000)
"""


@query(
    "rel_exists_subquery",
    oracle=_EXISTS_SQL,
    doc="Predicate subqueries, verbatim ANSI on both engines: EXISTS / "
    "NOT EXISTS (semi/anti join rewrites) and the NOT IN three-valued-"
    "logic trap -- a subquery producing any NULL makes NOT IN return "
    "zero rows (x <> NULL is unknown), so 'not_in_nullable' counts 0 "
    "while the null-filtered twin counts the true anti set.  Spark "
    "plans the nullable case as a null-aware anti join; the oracle "
    "checks the semantics, the plan audit checks the operator.",
)
def rel_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(_EXISTS_SQL)


# --- Recursive CTE -----------------------------------------------------------

_RECURSIVE_SQL = """
    WITH RECURSIVE months(m) AS (
        SELECT 1
        UNION ALL
        SELECT m + 1 FROM months WHERE m < 12
    )
    SELECT m.m AS month,
           CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(coalesce(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)), 0)
                AS DOUBLE) / 100.0 AS revenue
    FROM months m
    LEFT JOIN orders o ON CAST(month(o.o_orderdate) AS INTEGER) = m.m
    GROUP BY m.m
"""


@query(
    "rel_recursive_cte",
    oracle=_RECURSIVE_SQL,
    doc="Recursive CTE (Spark 4 WITH RECURSIVE), verbatim ANSI on both "
    "engines: a 12-row month generator produced by the recursion, LEFT "
    "JOINed to orders so months with no orders still appear -- the "
    "iterative-union surface (org charts, BOM walks, series generation) "
    "the reference could never express.",
)
def rel_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(_RECURSIVE_SQL)


# --- LATERAL correlated subquery ---------------------------------------------

_LATERAL_SQL = """
    SELECT c.c_custkey, l.o_orderkey, round(l.o_totalprice, 2) AS top_price
    FROM customer c, LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 1
    ) l
    WHERE c.c_custkey < 200
"""


@query(
    "rel_lateral_subquery",
    oracle=_LATERAL_SQL,
    doc="LATERAL correlated subquery, verbatim ANSI on both engines: "
    "top-priced order per customer via a per-row ORDER BY ... LIMIT 1 "
    "subquery -- the 'for each row, run a query' surface.  Catalyst "
    "decorrelates it into a join + windowed rank rather than executing "
    "per-row (same result as rel_window_topk's formulation, different "
    "SQL surface).",
)
def rel_lateral_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


# --- Manual skew salting (round 4) ------------------------------------------

@query(
    "rel_salted_join",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS DOUBLE) / 10000.0 AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    doc="Manual salted join: the fact side gets a deterministic salt "
    "(xxhash64(key) mod 8), the dim side is replicated 8x with an "
    "exploded salt sequence, and the join runs on (key, salt) -- a hot "
    "key's rows spread over 8 reducer partitions instead of one.  "
    "Result is identical to the plain join (oracle = unsalted SQL).  "
    "This is the portable fallback when AQE skew-join can't fire "
    "(e.g. a skewed key under an aggregation that defeats the "
    "post-shuffle split, or engines/DSv2 paths without AQE); "
    "operators/skew.py demonstrates the AQE-native path on the same "
    "shape.  The 8x dim replication is the price -- only worth it when "
    "the dim is small relative to the hot key's row count, which is "
    "exactly the 100 TB skew regime.  The merge (sort-merge) hint keeps "
    "the demo honest (no broadcast: salting a broadcast join would be "
    "pointless) AND spill-safe: a shuffle_hash hint here must build an "
    "in-memory hash map of the x8-replicated dim per partition, and "
    "OOMed at the 5x-replicated probe scale (sf0.5, 6M build rows) -- "
    "sort-merge spills to disk instead, the only safe default when the "
    "salted build side is itself data-scale.",
)
def rel_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_salt = 8
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "_salt", F.pmod(F.xxhash64("l_orderkey"), F.lit(n_salt)).cast("int")
    )
    o = load_table(spark, sf_dir, "orders").withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    return (
        li.join(
            o.hint("merge"),
            (li.l_orderkey == o.o_orderkey) & (li._salt == o._salt),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            # Exact-cents revenue (the rel_filter_agg contract): the
            # raw double sum diverged from DuckDB past the cent at the
            # 100x probe (~6e13 per-group magnitude, order-dependent
            # float error -- the round-4 landmine class).  The bigint
            # SUM itself is exact and deterministic; the per-group mass
            # in cents*(100-disc_cents) units is ~6e17 at 100x -- PAST
            # 2^53 -- so the final double is NOT cent-exact, but the
            # guarantee we rely on is cross-engine EQUALITY: both
            # engines cast the identical integer to double with the
            # same IEEE round-to-nearest.  Overflow headroom: ~6e17
            # per group at 100x vs 9.2e18 bigint max (~15x), and ANSI
            # mode (pinned in session.py) makes any overflow loud --
            # past ~9e17 cents-units per group, switch to DECIMAL.
            (
                F.sum(
                    pos_cents("l_extendedprice")
                    * (F.lit(100) - pos_cents("l_discount"))
                ).cast("double")
                / 10000.0
            ).alias("revenue"),
        )
    )


@query(
    "rel_retention",
    oracle="""
    WITH su AS (SELECT user_id, min(date_trunc('week', ts)) AS cw
                FROM events WHERE event_type = 'signup' GROUP BY user_id),
    act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS aw
            FROM events),
    j AS (SELECT s.user_id, s.cw, a.aw
          FROM act a JOIN su s ON a.user_id = s.user_id
          WHERE a.aw >= s.cw)
    SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', cw, aw) / 7 AS BIGINT) AS week_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM j GROUP BY cw, date_diff('day', cw, aw) / 7
    """,
    doc="Weekly cohort retention: users cohorted by the week of their "
    "first signup event, counted as retained in every later week they "
    "show ANY activity.  The other classic product-analytics shape "
    "(with rel_funnel): distinct per-user week activity, one equi-join "
    "on user_id against the cohort table, grouped count-distinct.  "
    "Both engines truncate weeks to Monday (date_trunc('week')); the "
    "cohort label is formatted, so the drain pins nothing extra -- "
    "same UTC-session exposure as rel_date_funcs.  At 100 TB the "
    "distinct-activity projection collapses the event volume to "
    "users x weeks BEFORE the join -- the join input is bounded by "
    "the calendar, not the event count.",
)
def rel_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    su = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.date_trunc("week", "ts")).alias("cw"))
    )
    act = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("aw")
    ).distinct()
    j = act.join(su, "user_id").where(F.col("aw") >= F.col("cw"))
    offset = (
        F.datediff(F.to_date("aw"), F.to_date("cw")) / 7
    ).cast("bigint")
    return (
        j.groupBy(
            F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
            offset.alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@query(
    "rel_constraints",
    oracle="""
    SELECT 'orphan_lineitem' AS chk, CAST(count(*) AS BIGINT) AS n_violations
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IS NULL
    UNION ALL
    SELECT 'dup_orderkey', CAST(count(*) AS BIGINT) FROM
        (SELECT o_orderkey FROM orders GROUP BY o_orderkey
         HAVING count(*) > 1) d
    UNION ALL
    SELECT 'null_custkey', CAST(count(*) AS BIGINT) FROM orders
    WHERE o_custkey IS NULL
    UNION ALL
    SELECT 'bad_discount', CAST(count(*) AS BIGINT) FROM lineitem
    WHERE l_discount < 0 OR l_discount > 1
    """,
    doc="Data-quality constraint audit (the expectations gate a pipeline "
    "runs before training or publishing): referential integrity "
    "(orphan fact rows via anti-join), key uniqueness (grouped "
    "HAVING), null checks, and domain-range checks -- one row per "
    "constraint with its violation count, all-zeros = pass.  Scale "
    "shape: the FK check is the only join and it is an anti-join on "
    "the key (sort-merge/broadcast as sizes dictate); everything else "
    "is a scan-side aggregate.  The hash check pins EXACT violation "
    "counts, so a fixture regression that introduced bad rows would "
    "surface as a value diff, not silence.",
)
def rel_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    orphan = li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
    dup = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )
    row = lambda df, name: df.agg(  # noqa: E731
        F.lit(name).alias("chk"), F.count(F.lit(1)).alias("n_violations")
    )
    return (
        row(orphan, "orphan_lineitem")
        .unionAll(row(dup, "dup_orderkey"))
        .unionAll(row(o.where(F.col("o_custkey").isNull()), "null_custkey"))
        .unionAll(
            row(
                li.where(
                    (F.col("l_discount") < 0) | (F.col("l_discount") > 1)
                ),
                "bad_discount",
            )
        )
    )


@query(
    "rel_resample",
    oracle="""
    WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS h,
               round(avg(value), 6) AS v
        FROM events WHERE user_id < 5 GROUP BY user_id, date_trunc('hour', ts)
    ),
    span AS (SELECT user_id, min(h) AS h0, max(h) AS h1
             FROM hourly GROUP BY user_id),
    grid AS (SELECT user_id,
                    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
             FROM span),
    j AS (SELECT g.user_id, g.h, hr.v
          FROM grid g LEFT JOIN hourly hr
            ON hr.user_id = g.user_id AND hr.h = g.h)
    SELECT user_id, CAST(epoch(h) AS BIGINT) AS hour_epoch,
           last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS v_filled,
           v IS NULL AS gap
    FROM j
    """,
    doc="Time-series resample + gap fill: per-user hourly means on a "
    "DENSE hourly grid between each user's first and last event, "
    "missing hours forward-filled from the last observation (the "
    "hypertable/time_bucket_gapfill workload class).  Pure relational: "
    "sequence() explodes the calendar per user (bounded by span, not "
    "event count), a left equi-join attaches observations, and "
    "last(ignoreNulls) over an ordered window carries values forward. "
    "Hours compare as instants (epoch seconds) -- no tz-dependent "
    "formatting.  Bounded to user_id < 5 because the dense grid is "
    "output-scale; at 100 TB the same plan runs per-entity with the "
    "grid partitioned by user.",
)
def rel_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 5)
    hourly = (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.round(F.avg("value"), 6).alias("v"))
    )
    span = hourly.groupBy("user_id").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = span.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("h"),
    )
    j = grid.join(hourly, ["user_id", "h"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        F.unix_timestamp("h").alias("hour_epoch"),
        F.last("v", ignorenulls=True).over(w).alias("v_filled"),
        F.col("v").isNull().alias("gap"),
    )


# --- Ordered string aggregation (LISTAGG) --------------------------------------

@query(
    "rel_listagg",
    oracle="""
    SELECT r.r_name,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
           CAST(count(*) AS BIGINT) AS n_nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    doc="Ordered string aggregation: Spark 4's ANSI LISTAGG ... WITHIN "
    "GROUP (ORDER BY ...) vs DuckDB's ordered string_agg.  The "
    "explicit WITHIN GROUP order is what makes a concatenation "
    "aggregate deterministic and therefore hash-checkable -- unordered "
    "listagg concatenates in partition-arrival order and would differ "
    "run to run.  Group count is bounded by regions, so the aggregate "
    "state is tiny regardless of corpus size.",
)
def rel_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    n.createOrReplaceTempView("_la_nation")
    r.createOrReplaceTempView("_la_region")
    return spark.sql(
        """
        SELECT r.r_name,
               listagg(n.n_name, ',') WITHIN GROUP (ORDER BY n.n_name)
                   AS nations,
               count(*) AS n_nations
        FROM _la_nation n JOIN _la_region r
          ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
        """
    )


# --- ANSI try_* arithmetic ------------------------------------------------------

@query(
    "rel_try_arith",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_quantity = 25.0 THEN NULL
                ELSE l_extendedprice / (l_quantity - 25.0) END AS ratio,
           CASE WHEN l_linenumber % 2 = 0
                THEN TRY_CAST(CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)
                              AS INTEGER)
                ELSE TRY_CAST('n/a' AS INTEGER) END AS parsed_qty,
           CASE WHEN l_orderkey = 0 THEN 9223372036854775807
                ELSE CAST(NULL AS BIGINT) END AS overflowed
    FROM lineitem WHERE l_orderkey < 2000
    """,
    doc="ANSI-mode error-safe arithmetic: try_divide (divide-by-zero -> "
    "NULL instead of the ANSI runtime error), try_cast on mixed "
    "well/mal-formed strings, and try_add at bigint overflow (NULL "
    "for every orderkey > 0; the orderkey-0 rows add zero and "
    "legitimately survive -- a genuinely data-dependent overflow "
    "boundary).  Spark 4 runs ANSI mode by default, "
    "where plain division by zero THROWS -- try_* is the idiom that "
    "keeps dirty-data pipelines total; the oracle mirrors each with "
    "explicit CASE guards.  The surviving division is emitted "
    "unrounded (one IEEE op on identical doubles).",
)
def rel_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 2000)
    parsed_src = F.when(
        F.col("l_linenumber") % 2 == 0,
        F.col("l_quantity").cast("bigint").cast("string"),
    ).otherwise(F.lit("n/a"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(
            F.col("l_extendedprice"), F.col("l_quantity") - 25.0
        ).alias("ratio"),
        parsed_src.try_cast("int").alias("parsed_qty"),
        F.try_add(
            F.lit(9223372036854775807).cast("bigint"),
            F.col("l_orderkey").cast("bigint"),
        ).alias("overflowed"),
    )


# --- MERGE / CDC upsert ---------------------------------------------------------

@query(
    "rel_merge_upsert",
    oracle="""
    WITH src AS (
        SELECT o_orderkey AS key,
               CASE WHEN o_orderkey % 13 = 0 THEN 'D' ELSE 'U' END AS op,
               o_totalprice * 1.1 AS new_price
        FROM orders
        WHERE o_orderkey % 13 = 0 OR o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey + 1000000000 AS key, 'I' AS op,
               o_totalprice AS new_price
        FROM orders WHERE o_orderkey % 11 = 0
    ),
    m AS (
        SELECT coalesce(t.o_orderkey, s.key) AS o_orderkey,
               t.o_totalprice, s.op, s.new_price
        FROM orders t FULL OUTER JOIN src s ON t.o_orderkey = s.key
    )
    SELECT o_orderkey,
           CASE WHEN op IN ('U', 'I') THEN new_price
                ELSE o_totalprice END AS o_totalprice,
           CASE WHEN op = 'I' THEN 'insert'
                WHEN op = 'U' THEN 'update'
                ELSE 'keep' END AS action
    FROM m
    WHERE op IS NULL OR op <> 'D'
    """,
    doc="MERGE INTO semantics as one copy-on-write pass (no table-format "
    "dependency): a deterministic change batch (updates for "
    "orderkey%7, deletes for %13 -- delete wins on overlap -- inserts "
    "at %11 with shifted keys) applied to the orders table via ONE "
    "full outer join on the key: matched+D drops, matched+U rewrites, "
    "unmatched source inserts, unmatched target carries over.  This is "
    "exactly how Delta/Iceberg execute MERGE under the hood; at 100 TB "
    "the join is sort-merge co-partitioned on the key (or broadcast "
    "when the delta is small -- AQE decides from the source's runtime "
    "size), and only affected FILES are rewritten when paired with "
    "partition/file pruning on the source's key range.  The updated "
    "price is one IEEE multiply -- emitted unrounded (registry float "
    "discipline).",
)
def rel_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "orders")
    upd_del = t.where(
        (F.col("o_orderkey") % 13 == 0) | (F.col("o_orderkey") % 7 == 0)
    ).select(
        F.col("o_orderkey").alias("key"),
        F.when(F.col("o_orderkey") % 13 == 0, "D").otherwise("U").alias("op"),
        (F.col("o_totalprice") * 1.1).alias("new_price"),
    )
    ins = t.where(F.col("o_orderkey") % 11 == 0).select(
        (F.col("o_orderkey") + 1000000000).alias("key"),
        F.lit("I").alias("op"),
        F.col("o_totalprice").alias("new_price"),
    )
    src = upd_del.unionByName(ins)
    m = t.select("o_orderkey", "o_totalprice").join(
        src, t["o_orderkey"] == src["key"], "full_outer"
    )
    return m.where(F.col("op").isNull() | (F.col("op") != "D")).select(
        F.coalesce(F.col("o_orderkey"), F.col("key")).alias("o_orderkey"),
        F.when(F.col("op").isin("U", "I"), F.col("new_price"))
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        F.when(F.col("op") == "I", "insert")
        .when(F.col("op") == "U", "update")
        .otherwise("keep")
        .alias("action"),
    )


# --- SCD Type-2 history build ---------------------------------------------------

@query(
    "rel_scd2",
    oracle="""
    WITH h AS (
        SELECT o_custkey, o_orderpriority AS prio, o_orderdate, o_orderkey,
               lag(o_orderpriority) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS prev
        FROM orders
    ),
    runs AS (
        SELECT o_custkey, prio, o_orderdate,
               sum(CASE WHEN prev IS NULL OR prev <> prio THEN 1 ELSE 0 END)
                   OVER (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey
                         ROWS UNBOUNDED PRECEDING) AS run_id
        FROM h
    ),
    col AS (
        SELECT o_custkey, prio, run_id,
               strftime(min(o_orderdate), '%Y-%m-%d') AS valid_from
        FROM runs GROUP BY o_custkey, prio, run_id
    )
    SELECT o_custkey, prio AS o_orderpriority, valid_from,
           lead(valid_from) OVER (
               PARTITION BY o_custkey ORDER BY run_id) AS valid_to,
           CAST(lead(valid_from) OVER (
               PARTITION BY o_custkey ORDER BY run_id) IS NULL
               AS BOOLEAN) AS is_current
    FROM col
    """,
    doc="Slowly-changing-dimension type 2: each customer's order-priority "
    "history collapsed into [valid_from, valid_to) versions.  Classic "
    "gaps-and-islands: lag() marks change points, a running sum numbers "
    "the runs, a per-run group-by takes the first effective date, and "
    "lead() closes each interval with the next version's start "
    "(NULL = current).  Deterministic under same-date ties via the "
    "(o_orderdate, o_orderkey) ordering.  All three shuffles hash on "
    "o_custkey only -- one exchange in Spark (the window and the "
    "group-by reuse the same partitioning), so the build scales as a "
    "single pass per dimension key regardless of history depth.",
)
def rel_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    h = o.select(
        "o_custkey",
        F.col("o_orderpriority").alias("prio"),
        "o_orderdate",
        "o_orderkey",
        F.lag("o_orderpriority").over(w).alias("prev"),
    )
    runs = h.select(
        "o_custkey",
        "prio",
        "o_orderdate",
        F.sum(
            F.when(F.col("prev").isNull() | (F.col("prev") != F.col("prio")), 1)
            .otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("run_id"),
    )
    # ISO strings, not DATE: identical canon text in every harness
    # (pandas renders datetime64 dates as midnight timestamps)
    col = runs.groupBy("o_custkey", "prio", "run_id").agg(
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("valid_from")
    )
    w2 = Window.partitionBy("o_custkey").orderBy("run_id")
    return col.select(
        "o_custkey",
        F.col("prio").alias("o_orderpriority"),
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
    )


# --- Lateral generators (sequence / posexplode / stack) -------------------------

@query(
    "rel_generators",
    oracle="""
    SELECT 'seq' AS kind, n_nationkey AS k,
           CAST(g - 1 AS INTEGER) AS pos, CAST(g AS VARCHAR) AS val
    FROM nation
    CROSS JOIN generate_series(1, 3) AS t(g)
    WHERE g <= n_nationkey % 3 + 1
    UNION ALL
    SELECT 'stack' AS kind, r_regionkey AS k, 0 AS pos, r_name AS val
    FROM region
    UNION ALL
    SELECT 'stack' AS kind, r_regionkey AS k, 1 AS pos,
           CAST(r_regionkey AS VARCHAR) AS val
    FROM region
    """,
    doc="Row-generating expressions: sequence() + posexplode (per-row "
    "data-dependent fan-out with ordinality) and stack() (columns -> "
    "rows widening), both via LATERAL VIEW.  These compile to Generate "
    "nodes -- NARROW operators (no shuffle; fan-out happens inside the "
    "task), which is what makes explode-style expansion safe at 100 TB "
    "where a join-against-a-numbers-table formulation (the oracle's "
    "generate_series cross join) would shuffle.  Complements "
    "o05_multi_emit (fixed fan-out) and udtf_shingles (Python UDTF).",
)
def rel_generators(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("_gen_nation")
    load_table(spark, sf_dir, "region").createOrReplaceTempView("_gen_region")
    return spark.sql(
        """
        SELECT 'seq' AS kind, n_nationkey AS k, pos,
               CAST(val AS STRING) AS val
        FROM _gen_nation
        LATERAL VIEW posexplode(sequence(1, n_nationkey % 3 + 1))
            t AS pos, val
        UNION ALL
        SELECT 'stack' AS kind, r_regionkey AS k, pos, val
        FROM _gen_region
        LATERAL VIEW stack(2, 0, r_name, 1, CAST(r_regionkey AS STRING))
            s AS pos, val
        """
    )


@query(
    "rel_topk_salted",
    oracle="""
    SELECT event_type, event_id, value, rank FROM (
        SELECT event_type, event_id, value,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY event_type
                   ORDER BY value DESC, event_id
               ) AS BIGINT) AS rank
        FROM events
    ) WHERE rank <= 3
    ORDER BY event_type, rank
    """,
    doc="Skew-safe two-phase top-k: top-k is MERGEABLE (unlike general "
    "window functions), so a hot partition key need never land on one "
    "task.  Stage 1 takes a local top-3 within (event_type, salt) -- "
    "salt = xxhash64(event_id) mod 16 spreads any hot event_type over "
    "16 tasks; stage 2 re-ranks only the <= 16*3 survivors per key.  "
    "The second window's input is bounded by k*n_salt*n_keys rows "
    "REGARDLESS of input skew, where the plain rel_window_topk "
    "formulation sorts every row of the hottest key on one task.  "
    "Result provably identical to the unsalted oracle (deterministic "
    "total order via the event_id tie-break; values pass through "
    "unrounded -- no arithmetic).  This is the order-statistics twin of "
    "rel_salted_join / operators/skew.py at the 100 TB regime.",
)
def rel_topk_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_topk

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    return salted_topk(
        ev,
        "event_type",
        [F.col("value").desc(), F.col("event_id")],
        k=3,
        n_salt=16,
        salt_on="event_id",
    ).orderBy("event_type", "rank")


@query(
    "rel_xml_funcs",
    oracle="""
    SELECT n_nationkey,
           CAST(length('<r><k>' || CAST(n_nationkey AS VARCHAR)
                       || '</k><nm>' || n_name || '</nm></r>')
                AS BIGINT) AS xml_len,
           CAST(n_nationkey AS INTEGER) AS k_parsed,
           n_name AS nm_parsed,
           n_name AS nm_xpath
    FROM nation ORDER BY n_nationkey
    """,
    doc="XML surface: build an XML doc per row, round-trip it through "
    "from_xml (schema'd struct extraction) AND xpath_string, and emit "
    "the recovered fields.  The oracle computes the same end values "
    "directly from the source columns, so the hash verifies the "
    "parse/extract round-trip exactly.  All JVM expressions "
    "(from_xml/xpath are codegen-adjacent built-ins, not UDFs); "
    "row-local, shuffle-free except the output sort.  The "
    "uppercase-ASCII nation names need no XML escaping -- the "
    "round-trip contract documented here covers exactly that profile.",
)
def rel_xml_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    xml = F.concat(
        F.lit("<r><k>"),
        F.col("n_nationkey").cast("string"),
        F.lit("</k><nm>"),
        F.col("n_name"),
        F.lit("</nm></r>"),
    )
    parsed = F.from_xml(xml, "k INT, nm STRING")
    return (
        n.select(
            "n_nationkey",
            F.length(xml).cast("bigint").alias("xml_len"),
            parsed["k"].alias("k_parsed"),
            parsed["nm"].alias("nm_parsed"),
            F.expr(
                "xpath_string(concat('<r><k>', cast(n_nationkey as string),"
                " '</k><nm>', n_name, '</nm></r>'), '/r/nm')"
            ).alias("nm_xpath"),
        )
        .orderBy("n_nationkey")
    )


@query(
    "rel_approx_top_k",
    oracle="""
    SELECT event_type AS item, CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY event_type ORDER BY item
    """,
    doc="Frequent-items sketch: approx_top_k over event_type with "
    "capacity (10) above the column's cardinality (5), so the sketch "
    "runs in EXACT mode and the emitted (item, count) pairs value-hash "
    "against plain GROUP BY -- the same honest-checkable-face contract "
    "as rel_bitmap_distinct.  At 100 TB cardinality the same one-pass, "
    "mergeable sketch degrades gracefully to approximate counts with "
    "bounded memory (maxItemsTracked), where the exact GROUP BY would "
    "shuffle every distinct key; rows are re-sorted by item so the "
    "sketch's count-descending tie order never affects the hash.",
)
def rel_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.agg(F.expr("approx_top_k(event_type, 10)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("item"),
            F.col("e.count").cast("bigint").alias("cnt"),
        )
        .orderBy("item")
    )


@query(
    "rel_theta_sketch_sets",
    oracle="""
    SELECT 'type:' || event_type AS scope,
           CAST(count(DISTINCT user_id) AS BIGINT) AS est
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'union_all', CAST(count(DISTINCT user_id) AS BIGINT)
    FROM events HAVING count(*) > 0
    UNION ALL
    SELECT 'click_and_view', cnt FROM (
        SELECT CAST(count(*) AS BIGINT) AS cnt FROM (
            SELECT user_id FROM events WHERE event_type = 'click'
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'view'
        )
    )
    WHERE EXISTS (SELECT 1 FROM events WHERE event_type = 'click')
      AND EXISTS (SELECT 1 FROM events WHERE event_type = 'view')
    ORDER BY scope
    """,
    doc="Theta sketches as re-aggregable SET-ALGEBRA columns -- the "
    "audience-overlap analytic HLL cannot do: per-type user sketches "
    "(theta_sketch_agg) rolled up via theta_union_agg (union "
    "cardinality) AND theta_intersection_agg (click-and-view overlap). "
    "All test-scale cardinalities sit below the sketch's 4096 nominal "
    "entries, so estimates are EXACT and the whole output value-hashes "
    "against DISTINCT/INTERSECT SQL; past nominal entries the same "
    "plan degrades to bounded-error estimates with fixed sketch "
    "memory, while the exact oracle formulation would shuffle every "
    "distinct (type, user) pair.  Summary-row contract, mirrored in "
    "the oracle: union_all exists only when the table is non-empty, "
    "click_and_view only when BOTH types exist (intersection over one "
    "sketch would be the identity, not the empty set the oracle's "
    "INTERSECT computes -- guarded by a type-count filter here and "
    "EXISTS arms there).  The 5-sketch intermediate is "
    "persisted once and feeds three consumers (per-type, union, "
    "intersection) -- the shuffle carries sketch bytes, never user "
    "ids.",
)
def rel_theta_sketch_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline import _eager

    ev = load_table(spark, sf_dir, "events")
    sk = (
        ev.groupBy("event_type")
        .agg(F.expr("theta_sketch_agg(user_id)").alias("sk"))
        .persist()
    )
    # eager cache fill: three rollup branches otherwise race on the
    # cold cache and re-run the sketch aggregation per branch (r10)
    sk.count()
    per_type = sk.select(
        F.concat(F.lit("type:"), F.col("event_type")).alias("scope"),
        F.expr("theta_sketch_estimate(sk)").cast("bigint").alias("est"),
    )
    # groupBy(lit(1)) instead of a global agg: a grouped aggregate over
    # EMPTY input emits zero rows (no groups), where a global agg would
    # emit one -- and theta_intersection_agg over zero inputs is the
    # illegal infinite set (throws).  Same guard on both rollups so an
    # empty events table yields an empty result, not an error.
    union_all = (
        sk.groupBy(F.lit(1).alias("_g"))
        .agg(
            F.expr("theta_sketch_estimate(theta_union_agg(sk))")
            .cast("bigint")
            .alias("est")
        )
        .select(F.lit("union_all").alias("scope"), "est")
    )
    # theta_intersection_agg treats an EMPTY partial as the infinite set
    # and throws at merge time (datasketches contract), so the 2-row
    # sketch frame must not spread over empty shuffle partitions --
    # coalesce(1) is correct at any scale (input is k-sketches-sized,
    # a driver-boundary cardinality).
    inter = (
        sk.where(F.col("event_type").isin("click", "view"))
        .coalesce(1)
        .groupBy(F.lit(1).alias("_g"))
        .agg(
            F.count(F.lit(1)).alias("_n_types"),
            F.expr("theta_sketch_estimate(theta_intersection_agg(sk))")
            .cast("bigint")
            .alias("est"),
        )
        # only meaningful when BOTH sketches exist: intersection over a
        # single sketch is the identity, but the set-algebra answer (and
        # the oracle's INTERSECT) is empty -- drop the row, like the
        # oracle's EXISTS guards
        .where(F.col("_n_types") == 2)
        .select(F.lit("click_and_view").alias("scope"), "est")
    )
    out = per_type.unionByName(union_all).unionByName(inter).orderBy("scope")
    return _eager(spark, out, deps=[sk])


@query(
    "rel_anomaly_zscore",
    oracle="""
    WITH stats AS (
        SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           round((e.value - s.mu) / s.sigma, 4) AS z
    FROM events e JOIN stats s USING (event_type)
    WHERE abs((e.value - s.mu) / s.sigma) > 1.5
    ORDER BY e.event_id
    """,
    doc="Two-pass z-score anomaly detection: pass 1 reduces the corpus "
    "to k per-type (mean, stddev) rows (column-pruned scan, map-side "
    "partials); pass 2 re-scans with the k-row stats BROADCAST and "
    "filters |z| > 1.5 map-side -- the monitoring/outlier shape where "
    "a window-over-type formulation would pin each type's entire "
    "partition on one task.  z rounded 4 in both engines (stddev and "
    "the mean are order-sensitive float sums); the cutoff compares "
    "unrounded doubles whose cross-engine jitter is ~1e-12 relative -- "
    "the same boundary-risk class the registry's other rounded floats "
    "accept.",
)
def rel_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    e = ev.join(F.broadcast(stats), "event_type")
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        e.where(F.abs(z) > 1.5)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(z, 4).alias("z"),
        )
        .orderBy("event_id")
    )


@query(
    "rel_variant_explode",
    oracle="""
    SELECT e.event_id, t.pos, t.tag
    FROM (SELECT event_id, event_type, user_id FROM events
          WHERE event_id < 2000) e
    CROSS JOIN (VALUES (0), (1)) t2(pos)
    JOIN LATERAL (
        SELECT t2.pos AS pos,
               CASE WHEN t2.pos = 0 THEN 't-' || e.event_type
                    ELSE 'u-' || CAST(e.user_id % 10 AS VARCHAR) END AS tag
    ) t ON TRUE
    ORDER BY e.event_id, t.pos
    """,
    doc="VARIANT array explosion via the variant_explode TVF (Spark 4): "
    "each event synthesizes a 2-element JSON tag array, parse_json "
    "lifts it to VARIANT, LATERAL variant_explode emits (pos, value) "
    "rows, and variant_get::string types the elements back out -- the "
    "semi-structured fan-out companion to rel_json_variant's typed "
    "extraction.  Narrow Generate node (fan-out inside the task, no "
    "shuffle); the oracle derives the same rows relationally.  "
    "Deterministic by construction (pos + element values are pure "
    "functions of the row).",
)
def rel_variant_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 2000)
    ev.createOrReplaceTempView("_ve_events")
    return spark.sql(
        """
        SELECT event_id, v.pos,
               variant_get(v.value, '$', 'string') AS tag
        FROM (
            SELECT event_id,
                   parse_json(concat('["t-', event_type, '","u-',
                                     CAST(user_id % 10 AS STRING), '"]'))
                       AS tags
            FROM _ve_events
        ), LATERAL variant_explode(tags) v
        ORDER BY event_id, v.pos
        """
    )


@query(
    "rel_topk_sketch_rollup",
    oracle="""
    SELECT event_type AS item, CAST(count(*) AS BIGINT) AS cnt
    FROM events WHERE user_id % 4 != 3
    GROUP BY event_type ORDER BY item
    """,
    doc="Re-aggregable frequent-items rollup -- the persisted-sketch "
    "pattern (rel_hll_sketch_union's shape) for top-k: per-(user_id%4) "
    "shard approx_top_k_accumulate states, three of four shards "
    "combined via approx_top_k_combine and read with "
    "approx_top_k_estimate.  The partial-combine path is what a 100 TB "
    "deployment persists per partition/day and rolls up at query time "
    "without rescanning; capacity (10) above cardinality (5) keeps the "
    "sketch exact, so the combined counts value-hash against the "
    "equivalent filtered GROUP BY.  Rows re-sorted by item so sketch "
    "tie order never reaches the hash.",
)
def rel_topk_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "_shard", F.pmod(F.col("user_id"), F.lit(4)).cast("int")
    )
    shards = ev.groupBy("_shard").agg(
        F.expr("approx_top_k_accumulate(event_type, 10)").alias("st")
    )
    combined = (
        shards.where(F.col("_shard") != 3)
        .groupBy(F.lit(1).alias("_g"))
        .agg(
            F.expr("approx_top_k_estimate(approx_top_k_combine(st), 10)")
            .alias("tk")
        )
    )
    return (
        combined.select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("item"),
            F.col("e.count").cast("bigint").alias("cnt"),
        )
        .orderBy("item")
    )


@query(
    "rel_pipe_syntax",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS revenue
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="SQL PIPE syntax (Spark 4's |> operators, SQL:2023-adjacent): "
    "the same filter -> aggregate -> order flow written as a linear "
    "pipeline -- FROM orders |> WHERE ... |> AGGREGATE ... GROUP BY "
    "... |> ORDER BY.  Compiles to the identical Catalyst plan as the "
    "nested form (the oracle), so the hash verifies the surface is "
    "pure sugar.  Money uses the exact integer-cents contract "
    "(rel_filter_agg idiom).",
)
def rel_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "_pipe_orders"
    )
    return spark.sql(
        """
        FROM _pipe_orders
        |> WHERE o_orderstatus = 'F'
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n_orders,
                     CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                          AS DOUBLE) / 100.0 AS revenue
           GROUP BY o_orderpriority
        |> ORDER BY o_orderpriority
        """
    )


# --- Iterative graph ranking (integer-exact PageRank) -----------------------

def _pagerank_sql() -> str:
    """DuckDB twin of operators/graph.py:pagerank_int, unrolled, with
    the operator's round count, scale and damping.

    Fixed iteration count makes recursion unnecessary: each round is a
    plain CTE pair (m{i}: contribution sums, r{i}: rank update), so the
    oracle stays ANSI-portable.  Every expression is the verbatim
    integer contract from the operator docstring -- `//` in DuckDB and
    `DIV` in Spark are identical on positive BIGINTs -- so ranks are
    bit-exact, not approximately equal."""
    from ..operators.graph import DAMPING_PCT, PAGERANK_ITERS, SCALE

    rounds = []
    prev = "r0"
    for i in range(1, PAGERANK_ITERS + 1):
        rounds.append(f"""
    m{i} AS (
        SELECT e.dst AS node, SUM({prev}.r // d.outdeg) AS s
        FROM edges e
        JOIN {prev} ON {prev}.node = e.src
        JOIN deg d ON d.node = e.src
        GROUP BY e.dst
    ),
    r{i} AS (
        SELECT d.node,
               (SELECT base FROM p)
               + ({DAMPING_PCT} * CAST(COALESCE(m{i}.s, 0) AS BIGINT)) // 100
                   AS r
        FROM deg d LEFT JOIN m{i} ON m{i}.node = d.node
    )""")
        prev = f"r{i}"
    # AS MATERIALIZED: edges is referenced once per unrolled round; an
    # inlining planner would re-run the orders x lineitem distinct for
    # each, which at the 100x probe scale spilled past the disk.  The
    # hint is DuckDB-specific and the oracle only ever runs on DuckDB.
    return f"""
    WITH e0 AS MATERIALIZED (
        SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    edges AS MATERIALIZED (
        SELECT a AS src, b AS dst FROM e0
        UNION ALL
        SELECT b AS src, a AS dst FROM e0
    ),
    deg AS (SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY src),
    p AS (
        SELECT {SCALE} // COUNT(*) AS spn,
               ({100 - DAMPING_PCT} * ({SCALE} // COUNT(*))) // 100 AS base
        FROM deg
    ),
    r0 AS (SELECT node, (SELECT spn FROM p) AS r FROM deg),{",".join(rounds)}
    SELECT CAST(node AS BIGINT) AS node, CAST(r AS BIGINT) AS rank_scaled
    FROM {prev}
    ORDER BY rank_scaled DESC, node
    LIMIT 20
    """


@query(
    "rel_pagerank",
    oracle=_pagerank_sql(),
    doc="Iterative graph ranking: 3 rounds of PageRank (damping 0.85) "
    "over the symmetrized customer<->supplier trade graph (distinct "
    "(o_custkey, l_suppkey) pairs from orders x lineitem; node ids "
    "disambiguated as 2*custkey / 2*suppkey+1), top-20 by final rank.  "
    "INTEGER-EXACT: rank mass is a BIGINT scaled by 1e12 and every "
    "division is integer floor division in a documented order "
    "(operators/graph.py:pagerank_int), so Spark and DuckDB produce "
    "bit-identical ranks -- the float-free twin of the cents-money "
    "discipline, applied to an iterative algorithm.  Dataflow is the "
    "Pregel shape: per round one co-partitioned shuffle join (|V|-row "
    "rank table against the degree-annotated edge list, persisted "
    "once) + one map-side-combined sum by dst; rank state never "
    "visits the driver, lineage cut per round with localCheckpoint "
    "(the connected_components lesson).  Complements dedup_components "
    "(which nodes are the same) with which nodes matter -- the "
    "importance prior a crawl/sampling pipeline weights by.  Oracle: "
    "the same contract unrolled as plain CTEs (fixed iters needs no "
    "recursion).  Reference parity: fixed-round loop with no "
    "convergence test, kmeans_mapreduce_core.cu:237-259.",
)
def rel_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank_int
    from .pipeline import _eager

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    base = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        .distinct()
    )
    edges = base.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionAll(base.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    pr = pagerank_int(edges)
    top = (
        pr.ranks.select(
            F.col("node").cast("bigint").alias("node"),
            F.col("rank_scaled").cast("bigint").alias("rank_scaled"),
        )
        .orderBy(F.col("rank_scaled").desc(), "node")
        .limit(20)
    )
    return _eager(spark, top, deps=pr.deps)


# --- Columnar format round-trip: ORC --------------------------------------

@query(
    "rel_orc_roundtrip",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           o_orderstatus AS status,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           o_totalprice AS total_price
    FROM orders
    WHERE o_orderkey < 2000
    ORDER BY o_orderkey
    """,
    doc="ORC format surface: write an orders slice to ORC (zlib), read "
    "it back, and emit the rows -- the hash verifies the full "
    "write/read round-trip preserved BIGINT, STRING, TIMESTAMP and "
    "DOUBLE values exactly (the oracle derives the same rows straight "
    "from the parquet source, so any codec/type-mapping loss breaks "
    "the value hash).  total_price passes through UNROUNDED (no "
    "arithmetic, bit-identical by construction); the timestamp is "
    "emitted as an ISO date string in both engines (the rel_scd2 "
    "date-rendering contract).  The slice is key-bounded (< 2000), so "
    "output stays O(1) in scale factor while the WRITE path exercises "
    "Spark's native vectorized ORC support -- at 100 TB ORC is a "
    "first-class interchange format (Hive/Trino estates) and the "
    "columnar scan supports the same predicate pushdown and column "
    "pruning as parquet (plan-asserted in tests/test_orc.py).  Dest "
    "path is keyed by the fixture's (size, mtime) under the system "
    "temp dir, so repeated invocations reuse one directory instead of "
    "accreting them; every invocation rewrites it and commits by "
    "rename (sources.readers.committed_write), because the write is "
    "what the query tests.",
)
def rel_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import committed_write, fixture_keyed_tmpdir

    dest = fixture_keyed_tmpdir(sf_dir, "orders", "kmrc_orc")
    committed_write(
        dest,
        lambda tmp: load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 2000)
        .select("o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice")
        .write.mode("overwrite")
        .option("compression", "zlib")
        .orc(tmp),
    )
    back = spark.read.orc(dest)
    return back.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        F.col("o_orderstatus").alias("status"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.col("o_totalprice").alias("total_price"),
    ).orderBy("o_orderkey")


# --- Graph analytics: triangle counting ------------------------------------

@query(
    "rel_triangles",
    oracle="""
    WITH p AS (
        SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
        WHERE l1.l_partkey < l2.l_partkey
          AND l1.l_partkey < 2000 AND l2.l_partkey < 2000
    ),
    tri AS (
        SELECT e1.a, e1.b, e2.b AS c
        FROM p e1
        JOIN p e2 ON e2.a = e1.b
        JOIN p e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    verts AS (
        SELECT a AS node FROM tri
        UNION ALL SELECT b AS node FROM tri
        UNION ALL SELECT c AS node FROM tri
    )
    SELECT CAST(node AS BIGINT) AS node,
           CAST(count(*) AS BIGINT) AS n_triangles
    FROM verts GROUP BY node
    ORDER BY n_triangles DESC, node
    LIMIT 10
    """,
    doc="Graph analytics #3 (after connected components and PageRank): "
    "triangle counting over the part co-purchase graph (parts sharing "
    "an order, canonical a < b orientation, key-bounded slice so the "
    "subgraph is replication-invariant).  Each triangle is enumerated "
    "exactly once as a < b < c: one wedge join (e1.b = e2.a) plus one "
    "closing semi-check (e3 = (e1.a, e2.b)); per-vertex participation "
    "counts rank the top-10 hub parts.  Scale judgment: co-occurrence "
    "edges are bounded per order (<= items^2/2, TPC-H orders have <= 7 "
    "lines); the wedge join's cost is sum of out-degree^2, which the "
    "canonical orientation keeps sane here and which a power-law graph "
    "would tame by re-orienting edges low-degree -> high-degree (the "
    "standard trick; same hot-key family as the LSH band cap).  All "
    "exact integer counts -- no float discipline needed.",
)
def rel_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_partkey") < 2000)
        .select("l_orderkey", "l_partkey")
    )
    l1, l2 = li.alias("l1"), li.alias("l2")
    p = (
        l1.join(l2, F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        .where(F.col("l1.l_partkey") < F.col("l2.l_partkey"))
        .select(
            F.col("l1.l_partkey").alias("a"),
            F.col("l2.l_partkey").alias("b"),
        )
        .distinct()
    )
    e1, e2, e3 = p.alias("e1"), p.alias("e2"), p.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("a"),
            F.col("e1.b").alias("b"),
            F.col("e2.b").alias("c"),
        )
    )
    verts = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return (
        verts.groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .select(
            F.col("node").cast("bigint").alias("node"),
            F.col("n_triangles").cast("bigint").alias("n_triangles"),
        )
        .orderBy(F.col("n_triangles").desc(), "node")
        .limit(10)
    )


# --- SQL-language UDFs, session variables, DECIMAL surface -------------------

@query(
    "udf_sql_scalar",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                AS DOUBLE) / 10000.0 AS revenue
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="SQL-language scalar UDF (Spark 4 CREATE FUNCTION ... RETURN "
    "expr): the exact-cents discounted-revenue formula packaged as a "
    "reusable SQL function.  Unlike Python UDFs, SQL UDFs are INLINED "
    "by Catalyst at analysis time -- the plan is identical to writing "
    "the expression by hand (no eval node, whole-stage codegen "
    "preserved; plan-asserted in tests/test_plans.py), so this is the "
    "zero-cost way to share expression logic across queries at 100 "
    "TB.  OR REPLACE keeps re-registration idempotent within a "
    "session.  Oracle states the inlined expression.",
)
def udf_sql_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION cents_disc_price(
            p DOUBLE, d DOUBLE) RETURNS BIGINT
        RETURN CAST(round(p * 100) AS BIGINT)
               * (100 - CAST(round(d * 100) AS BIGINT))
        """
    )
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "_sqludf_li"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents_disc_price(l_extendedprice, l_discount))
                    AS DOUBLE) / 10000.0 AS revenue
        FROM _sqludf_li GROUP BY l_returnflag ORDER BY l_returnflag
        """
    )


@query(
    "udf_sql_tvf",
    oracle="""
    SELECT n_nationkey AS k, CAST(g AS INTEGER) AS pos
    FROM nation
    CROSS JOIN generate_series(1, 3) AS t(g)
    WHERE g <= n_nationkey % 3 + 1
    ORDER BY k, pos
    """,
    doc="SQL-language TABLE function (CREATE FUNCTION ... RETURNS "
    "TABLE): a row-generating SQL macro invoked with LATERAL "
    "correlation to an outer column -- the declarative twin of the "
    "Python UDTF (udtf_shingles) with none of its serialization cost, "
    "because the body is inlined as a correlated subplan (a narrow "
    "Generate, no Python worker, no shuffle).  Oracle: the "
    "generate_series cross join.",
)
def udf_sql_tvf(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION reps(n INT)
        RETURNS TABLE(pos INT)
        RETURN SELECT explode(sequence(1, n))
        """
    )
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("_tvf_nation")
    return spark.sql(
        """
        SELECT n_nationkey AS k, pos
        FROM _tvf_nation, LATERAL reps(n_nationkey % 3 + 1)
        ORDER BY k, pos
        """
    )


@query(
    "rel_session_vars",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_high_qty,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
    FROM lineitem WHERE l_quantity >= 45.0
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="SQL session variables (Spark 4 DECLARE / SET VARIABLE): a "
    "parameterized threshold driving a filter without string "
    "interpolation -- the SQL-native way to template one plan over "
    "changing parameters (variable references fold to literals at "
    "analysis, so pushdown still reaches the scan).  The oracle "
    "inlines the constant; hygiene note: the variable is session-"
    "scoped and re-DECLAREd idempotently, no cross-query state leaks "
    "(the stream_session_windows timezone lesson).",
)
def rel_session_vars(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.sql(
        "DECLARE OR REPLACE VARIABLE qty_floor DOUBLE DEFAULT 0.0"
    )
    spark.sql("SET VARIABLE qty_floor = 45.0")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "_var_li"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_high_qty,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
        FROM _var_li WHERE l_quantity >= qty_floor
        GROUP BY l_returnflag ORDER BY l_returnflag
        """
    )


@query(
    "rel_decimal_money",
    oracle="""
    SELECT o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price,
           CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS min_price,
           CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS max_price
    FROM orders GROUP BY o_orderstatus ORDER BY status
    """,
    doc="DECIMAL(18,2) surface: exact fixed-point aggregation as the "
    "alternative to the integer-cents idiom -- sum/min/max over a "
    "decimal cast of the money column, emitted through one exact "
    "decimal->double conversion per value.  Casting a 2-decimal "
    "double to DECIMAL(18,2) is tie-free (no double lands exactly on "
    "a .005 boundary), so both engines produce the identical decimal; "
    "decimal sums are order-free exact, the same guarantee as cents "
    "(rel_filter_agg) at ~2x the CPU (measured, see that query's "
    "doc).  This query keeps the DECIMAL path covered for the >9e16-"
    "cents regime where bigint cents would overflow ANSI-loudly.",
)
def rel_decimal_money(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec).cast("double").alias("sum_price"),
            F.min(dec).cast("double").alias("min_price"),
            F.max(dec).cast("double").alias("max_price"),
        )
        .orderBy("status")
    )


# --- Robust statistics: median absolute deviation ---------------------------

def _median_sql(src: str, val: str, out: str) -> str:
    """Sort-based exact interpolated median of ``src.val`` per
    event_type, as a SQL fragment (DuckDB).  States the SAME anchor +
    interpolation arithmetic the Spark side executes -- NOT
    quantile_cont, whose internal interpolation may differ in low
    bits; mirroring the ops makes the median bit-identical, so
    downstream comparisons (outlier counts) are exact."""
    return f"""
        SELECT event_type,
               MAX(CASE WHEN rn = CAST(floor(h) AS BIGINT) THEN {val} END)
               + (MAX(CASE WHEN rn = CAST(ceil(h) AS BIGINT) THEN {val} END)
                  - MAX(CASE WHEN rn = CAST(floor(h) AS BIGINT) THEN {val} END))
                 * (h - floor(h)) AS {out}
        FROM (
            SELECT event_type, {val},
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY {val}) AS rn,
                   (COUNT(*) OVER (PARTITION BY event_type) - 1) * 0.5 + 1
                       AS h
            FROM {src}
        )
        WHERE rn = CAST(floor(h) AS BIGINT) OR rn = CAST(ceil(h) AS BIGINT)
        GROUP BY event_type, h
    """


@query(
    "rel_mad_robust",
    oracle=f"""
    WITH e AS (SELECT event_type, value AS v FROM events),
    med AS ({_median_sql('e', 'v', 'med')}),
    d AS (
        SELECT e.event_type, e.v, abs(e.v - med.med) AS dev, med.med
        FROM e JOIN med USING (event_type)
    ),
    mad AS ({_median_sql('d', 'dev', 'mad')})
    SELECT d.event_type,
           ANY_VALUE(d.med) AS med,
           ANY_VALUE(mad.mad) AS mad,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN d.dev > mad.mad * 4.4478 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM d JOIN mad USING (event_type)
    GROUP BY d.event_type
    ORDER BY d.event_type
    """,
    doc="Robust dispersion per event_type: exact sort-based median, "
    "median absolute deviation, and the robust outlier count (|v - "
    "med| > 3 * 1.4826 * MAD -- the consistency-scaled MAD z-test "
    "that, unlike rel_anomaly_zscore's mean/stddev, a few extreme "
    "values cannot poison).  Both medians use the spilling window-sort "
    "anchor formulation (the rel_percentiles shape -- Spark's exact "
    "percentile aggregate OOMs at data scale), the group medians "
    "broadcast back to the stream, and every float op (interpolation, "
    "deviation, threshold multiply) is MIRRORED verbatim in the "
    "oracle rather than delegated to quantile_cont, so med/mad/counts "
    "are bit-identical and emitted UNROUNDED.",
)
def rel_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("value").alias("v")
    )

    def group_median(df: DataFrame, val: str, out: str) -> DataFrame:
        wr = Window.partitionBy("event_type").orderBy(val)
        wn = Window.partitionBy("event_type")
        ranked = df.select(
            "event_type",
            F.col(val),
            F.row_number().over(wr).alias("rn"),
            ((F.count(F.lit(1)).over(wn) - 1) * 0.5 + 1).alias("h"),
        ).where(
            (F.col("rn") == F.floor("h").cast("bigint"))
            | (F.col("rn") == F.ceil("h").cast("bigint"))
        )
        v_lo = F.max(
            F.when(
                F.col("rn") == F.floor("h").cast("bigint"), F.col(val)
            )
        )
        v_hi = F.max(
            F.when(F.col("rn") == F.ceil("h").cast("bigint"), F.col(val))
        )
        return ranked.groupBy("event_type", "h").agg(
            (v_lo + (v_hi - v_lo) * (F.col("h") - F.floor("h"))).alias(out)
        ).select("event_type", out)

    med = group_median(ev, "v", "med")
    d = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "v", "med", F.abs(F.col("v") - F.col("med")).alias("dev")
    )
    mad = group_median(d, "dev", "mad")
    return (
        d.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value("med").alias("med"),
            F.any_value("mad").alias("mad"),
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("dev") > F.col("mad") * 4.4478, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


# --- Spatial: exact radius join via grid blocking ----------------------------

@query(
    "rel_spatial_radius_join",
    oracle="""
    WITH p AS (
        SELECT vec_id,
               CAST(embedding[1] AS DOUBLE) AS x,
               CAST(embedding[2] AS DOUBLE) AS y
        FROM embeddings WHERE vec_id < 2000
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist_sq
    FROM p a JOIN p b ON a.vec_id < b.vec_id
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 0.0001
    ORDER BY id_a, id_b
    """,
    doc="Exact spatial radius join (all point pairs within r = 0.01 on "
    "the first two embedding dims): each point lands in ONE grid cell "
    "of width exactly r, the left side explodes to its 3x3 neighbor "
    "cells, and candidates meet in a plain two-column EQUI hash join "
    "-- cell width >= r makes the 3x3 neighborhood a PROOF of recall "
    "(any pair within r differs by <= 1 cell per axis), so unlike the "
    "LSH families this blocking is exact, not probabilistic.  The "
    "oracle is the INDEPENDENT quadratic self-join with no grid, so "
    "the hash verifies that exactness claim.  Per-pair cost: 9 "
    "candidate rows per point regardless of corpus size; the join "
    "shuffles on cell keys (dense cells are the skew case -- same cap "
    "family as LSH bands if a corpus piles onto one cell).  Distances "
    "are two-term left-associated IEEE expressions, identical in both "
    "engines, emitted UNROUNDED; floor() is true floor for negative "
    "coords in both.  This is the geohash/S2 join shape used for "
    "spatial dedup and location blocking.",
)
def rel_spatial_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import grid_radius_pairs
    from ..sources.readers import load_table as _lt

    p = (
        _lt(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 2000)
        .select(
            "vec_id",
            F.element_at("embedding", 1).cast("double").alias("x"),
            F.element_at("embedding", 2).cast("double").alias("y"),
        )
    )
    # r_sq pinned to the exact literal the oracle states (0.01*0.01
    # happens to round to exactly 1e-4, but pinning removes the ulp
    # hazard if the radius ever changes)
    return grid_radius_pairs(p, r=0.01, r_sq=0.0001).orderBy(
        "id_a", "id_b"
    )


# --- SQL scripting (BEGIN...END control flow) --------------------------------

@query(
    "rel_sql_scripting",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
    FROM lineitem
    WHERE l_quantity >= CASE WHEN (SELECT count(*) FROM lineitem) > 100
                             THEN 45.0 ELSE 10.0 END
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="SQL scripting (Spark 4 BEGIN...END blocks): DECLARE a "
    "variable, branch on a data-dependent IF (corpus row count), and "
    "run the parameterized aggregate -- procedural control flow "
    "expressed in pure SQL, the migration target for stored-procedure "
    "workloads.  The script's final statement is the result set.  The "
    "oracle states the same logic declaratively (CASE over the same "
    "scalar subquery), so the hash verifies the script path computes "
    "exactly what the declarative form does.  Control flow runs on "
    "the driver; each statement still plans/executes distributed, so "
    "scripting adds zero scale risk.",
)
def rel_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "_script_li"
    )
    return spark.sql(
        """
        BEGIN
          DECLARE qty_floor DOUBLE DEFAULT 10.0;
          IF (SELECT count(*) FROM _script_li) > 100 THEN
            SET qty_floor = 45.0;
          END IF;
          SELECT l_returnflag,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
          FROM _script_li
          WHERE l_quantity >= qty_floor
          GROUP BY l_returnflag ORDER BY l_returnflag;
        END
        """
    )


# --- Collations --------------------------------------------------------------

@query(
    "rel_collation_lcase",
    oracle="""
    WITH up AS (SELECT upper(n_name) AS n_up FROM nation)
    SELECT n.n_nationkey,
           lower(n.n_name) AS name_lower,
           CAST(count(*) AS BIGINT) AS n_matches,
           CAST(ROW_NUMBER() OVER (ORDER BY lower(n.n_name), n.n_nationkey)
                AS BIGINT) AS ci_rank
    FROM nation n JOIN up ON lower(n.n_name) = lower(up.n_up)
    GROUP BY n.n_nationkey, n.n_name
    ORDER BY n.n_nationkey
    """,
    doc="Collation surface (Spark 4 COLLATE UTF8_LCASE): "
    "case-insensitive string EQUALITY drives a join (each nation name "
    "matched against an uppercased twin relation -- the collated "
    "comparison must treat them equal), and case-insensitive ORDERING "
    "drives a rank.  The oracle lowers both sides explicitly; for "
    "ASCII names UTF8_LCASE equality == lower() equality and its sort "
    "order == lower() order, so the hash verifies the collation "
    "semantics rather than re-stating them.  Collation rides the "
    "column type, so comparisons/joins/sorts pick it up without "
    "rewriting expressions -- at scale that means case-insensitive "
    "joins keep plain hash-join plans (no function-wrapped keys "
    "defeating bucketing/statistics).",
)
def rel_collation_lcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "_coll_nation"
    )
    return spark.sql(
        """
        WITH up AS (
            SELECT upper(n_name) COLLATE UTF8_LCASE AS n_up
            FROM _coll_nation
        )
        SELECT n.n_nationkey,
               lower(n.n_name) AS name_lower,
               CAST(count(*) AS BIGINT) AS n_matches,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY n.n_name COLLATE UTF8_LCASE, n.n_nationkey
               ) AS BIGINT) AS ci_rank
        FROM _coll_nation n
        JOIN up ON (n.n_name COLLATE UTF8_LCASE) = up.n_up
        GROUP BY n.n_nationkey, n.n_name
        ORDER BY n.n_nationkey
        """
    )


@query(
    "rel_collation_unicode_ci",
    oracle="""
    WITH variants AS (
        SELECT n_nationkey, n_name AS v FROM nation
        UNION ALL SELECT n_nationkey, lower(n_name) FROM nation
        UNION ALL
        SELECT n_nationkey,
               upper(substr(n_name, 1, 1)) || lower(substr(n_name, 2))
        FROM nation
    )
    SELECT lower(v) AS name_lower,
           CAST(count(*) AS BIGINT) AS n_variants,
           CAST(count(DISTINCT v) AS BIGINT) AS n_binary_distinct,
           CAST(min(n_nationkey) AS BIGINT) AS nationkey
    FROM variants
    GROUP BY lower(v)
    """,
    doc="Second collation surface (VERDICT r5 item 7): ICU-backed "
    "UNICODE_CI drives GROUP BY and DISTINCT -- three byte-distinct "
    "case renderings of every nation name (original, lower, sentence "
    "case) collapse to ONE group under the collated key, while "
    "count(DISTINCT v COLLATE UTF8_BINARY) still sees all three -- "
    "the contrast between collation-aware and binary equality in one "
    "row.  The oracle states the same semantics with explicit "
    "lower() grouping.  FIXTURE CONTRACT (ADVICE r6): the oracle "
    "equivalence 'UNICODE_CI equality == lower() equality' -- and the "
    "emitted lower(v) of Spark's nondeterministic group representative "
    "matching the oracle's lower() key -- holds ONLY for ASCII input "
    "like the TPC-H nation names; non-ASCII case pairs (Turkish "
    "dotted/dotless I, sharp-s vs ss, precomposed vs combining "
    "accents) diverge under full ICU case folding, so the fixture "
    "must stay ASCII for this oracle to be valid.  Scale note: "
    "collation rides the column TYPE, so the "
    "hash aggregate keys on the collation sort key and stays a plain "
    "one-exchange group-by -- no function-wrapped keys defeating "
    "statistics; ordering comparisons are deliberately excluded "
    "because ICU root order on punctuation differs from byte order "
    "(equality/grouping is the portable, oracle-checkable surface).",
)
def rel_collation_unicode_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "_coll_nation"
    )
    return spark.sql(
        """
        WITH variants AS (
            SELECT n_nationkey, n_name COLLATE UNICODE_CI AS v
            FROM _coll_nation
            UNION ALL
            SELECT n_nationkey, lower(n_name) COLLATE UNICODE_CI
            FROM _coll_nation
            UNION ALL
            SELECT n_nationkey,
                   (upper(substr(n_name, 1, 1)) || lower(substr(n_name, 2)))
                       COLLATE UNICODE_CI
            FROM _coll_nation
        )
        SELECT lower(v) AS name_lower,
               CAST(count(*) AS BIGINT) AS n_variants,
               CAST(count(DISTINCT collate(v, 'UTF8_BINARY')) AS BIGINT)
                   AS n_binary_distinct,
               CAST(min(n_nationkey) AS BIGINT) AS nationkey
        FROM variants
        GROUP BY v
        """
    )


# --- Robust JSON ingestion: corrupt-record handling --------------------------

@query(
    "rel_json_corrupt_records",
    oracle="""
    WITH raw AS (
        SELECT event_type,
               CASE WHEN event_id % 37 = 0
                    THEN substr(props, 1, length(props) - 2)
                    ELSE props END AS s,
               event_id % 37 = 0 AS injected_bad
        FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN injected_bad THEN 1 ELSE 0 END) AS BIGINT)
               AS n_corrupt,
           CAST(sum(CASE WHEN NOT injected_bad
                         THEN CAST(s ->> 'k' AS BIGINT) END) AS BIGINT)
               AS k_sum
    FROM raw GROUP BY event_type ORDER BY event_type
    """,
    doc="Robust JSON ingestion: a deterministic corruption class "
    "(every 37th record truncated mid-object -- malformed under ANY "
    "parser) flows through from_json in PERMISSIVE mode with "
    "columnNameOfCorruptRecord, and the per-type report counts "
    "corrupt rows and aggregates a typed field from the valid ones.  "
    "The oracle classifies by the INJECTION RULE, not by parsing -- "
    "so the hash verifies from_json actually nulls exactly the "
    "malformed class and parses exactly the valid class (a parser "
    "that silently salvaged or over-rejected would diverge).  This "
    "is the dirty-data contract of any 100 TB ingest: malformed "
    "records must be counted and quarantined, never dropped "
    "silently or allowed to poison typed columns.  Map-side only + "
    "one aggregation.",
)
def rel_json_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.when(
            F.col("event_id") % 37 == 0,
            F.expr("substr(props, 1, length(props) - 2)"),
        )
        .otherwise(F.col("props"))
        .alias("s"),
    )
    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("_bad", StringType()),
        ]
    )
    parsed = ev.select(
        "event_type",
        F.from_json(
            "s",
            schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_bad"},
        ).alias("j"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("j._bad").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_corrupt"),
            F.sum(F.when(F.col("j._bad").isNull(), F.col("j.k")))
            .cast("bigint")
            .alias("k_sum"),
        )
        .orderBy("event_type")
    )


# --- Graph analytics: bounded-hop BFS ----------------------------------------

def _bfs_sql() -> str:
    """DuckDB twin of operators/graph.py:bfs_hops, unrolled (fixed
    rounds need no recursion; edges MATERIALIZED per the pagerank
    100x lesson -- DuckDB 1.0 inlines multi-referenced CTEs)."""
    from ..operators.graph import BFS_ROUNDS

    prev = "d0"
    steps = []
    for i in range(1, BFS_ROUNDS + 1):
        steps.append(f"""
    d{i} AS (
        SELECT node, min(h) AS h FROM (
            SELECT node, h FROM {prev}
            UNION ALL
            SELECT e.dst AS node, {prev}.h + 1 AS h
            FROM edges e JOIN {prev} ON {prev}.node = e.src
        ) GROUP BY node
    )""")
        prev = f"d{i}"
    return f"""
    WITH e0 AS MATERIALIZED (
        SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    edges AS MATERIALIZED (
        SELECT a AS src, b AS dst FROM e0
        UNION ALL
        SELECT b AS src, a AS dst FROM e0
    ),
    d0 AS (
        SELECT DISTINCT src AS node, 0 AS h FROM edges
        WHERE src % 2 = 0 AND src < 10
    ),{",".join(steps)}
    SELECT CAST(h AS BIGINT) AS hops,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(node) AS BIGINT) AS min_node,
           CAST(max(node) AS BIGINT) AS max_node
    FROM {prev} GROUP BY h ORDER BY hops
    """


@query(
    "rel_graph_bfs",
    oracle=_bfs_sql(),
    doc="Graph analytics #4: bounded-hop BFS over the symmetrized "
    "customer<->supplier trade graph -- minimum hop count from a "
    "deterministic seed set (the first four customer nodes present "
    "in the edge list), expanded exactly 3 rounds; emits the "
    "distance histogram with per-ring id ranges.  The blast-radius "
    "/ crawl-frontier query: which entities are within k links.  "
    "Per round one shuffle join + one min-aggregate (the Pregel "
    "envelope of rel_pagerank with min(hops) for rank mass), "
    "localCheckpoint lineage cut per round, all exact integers -- "
    "operators/graph.py:bfs_hops.  Oracle: the same rounds unrolled "
    "(edges MATERIALIZED -- the 100x CTE-inlining lesson).",
)
def rel_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import bfs_hops
    from .pipeline import _eager

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    base = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        .distinct()
    )
    edges = base.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionAll(base.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    seeds = edges.where(
        (F.col("src") % 2 == 0) & (F.col("src") < 10)
    ).select(F.col("src").alias("node"))
    res = bfs_hops(edges, seeds)
    hist = (
        res.ranks.groupBy(F.col("hops").cast("bigint").alias("hops"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").cast("bigint").alias("min_node"),
            F.max("node").cast("bigint").alias("max_node"),
        )
        .orderBy("hops")
    )
    return _eager(spark, hist, deps=res.deps)


# --- CSV format round-trip ---------------------------------------------------

@query(
    "rel_csv_roundtrip",
    oracle="""
    SELECT doc_id,
           text || ', plus "a quoted field"' || chr(10)
                || 'with an embedded line-break, a	tab ' AS text,
           lang,
           n_chars
    FROM documents
    WHERE doc_id < 300
    ORDER BY doc_id
    """,
    doc="CSV format surface: append a hostile suffix (embedded comma, "
    "double quotes, a literal line break, a tab) to a documents slice, "
    "write it as quoted CSV (RFC 4180 double-quote escaping: "
    "escape='\"'), read it back with an explicit schema + "
    "multiLine=true, and emit the rows.  The oracle derives the same "
    "rows straight from parquet, so the value hash verifies the full "
    "writer->reader round-trip preserved every delimiter-colliding "
    "character and both integer columns exactly -- the semantics that "
    "break when quote/escape/multiline options are wrong.  Explicit "
    "schema on read (never inference: a 100 TB ingest cannot afford "
    "the extra inference pass, and ANSI-mode inference can widen "
    "types).  NOTE the scale trade documented here: multiLine=true "
    "makes CSV files NON-SPLITTABLE (a quoted newline means record "
    "boundaries can't be found mid-file), so large corpora should land "
    "as many medium files -- this writer produces one file per "
    "partition, which is exactly that layout.  Dest path is keyed by "
    "the fixture's (size, mtime) and every run rewrites it and "
    "commits by rename (the rel_orc_roundtrip idiom).",
)
def rel_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import committed_write, fixture_keyed_tmpdir

    dest = fixture_keyed_tmpdir(sf_dir, "documents", "kmrc_csv")

    hostile = F.concat(
        F.col("text"),
        F.lit(', plus "a quoted field"\nwith an embedded line-break, a\ttab '),
    )
    committed_write(
        dest,
        lambda tmp: load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 300)
        .select("doc_id", hostile.alias("text"), "lang", "n_chars")
        .write.mode("overwrite")
        .option("header", True)
        .option("escape", '"')
        # the writer DEFAULTS to trimming edge whitespace inside fields;
        # the trailing space in the hostile suffix exercises these
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .csv(tmp),
    )
    back = spark.read.schema(
        "doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT"
    ).options(header=True, multiLine=True, escape='"').csv(dest)
    return back.orderBy("doc_id")


# --- ntile quartiles ---------------------------------------------------------

@query(
    "rel_window_ntile",
    oracle="""
    WITH q AS (
        SELECT event_type, value,
               ntile(4) OVER (
                   PARTITION BY event_type ORDER BY value, event_id
               ) AS quartile
        FROM events
    )
    SELECT event_type, CAST(quartile AS BIGINT) AS quartile,
           CAST(count(*) AS BIGINT) AS n,
           min(value) AS min_value,
           max(value) AS max_value
    FROM q
    GROUP BY event_type, quartile
    ORDER BY event_type, quartile
    """,
    doc="ntile window function: equal-frequency quartiles per event type "
    "with per-quartile count/min/max -- the standard decile/quartile "
    "bucketing report.  ntile is deterministic only under a TOTAL "
    "order, so the ORDER BY carries the event_id tie-break (the "
    "repo-wide rule for rank-family functions); min/max pass doubles "
    "through untouched (no arithmetic, bit-identical).  Scale shape: "
    "one hash exchange on event_type + per-partition sort, then the "
    "aggregate reuses the same partitioning -- but NOTE ntile, like "
    "any rank function, needs the whole partition sorted; for "
    "data-scale partitions prefer approx_percentile cutpoints "
    "(mergeable sketch, no global sort) and a width_bucket-style "
    "assignment against the broadcast cutpoints.",
)
def rel_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        e.select("event_type", "value", F.ntile(4).over(w).alias("quartile"))
        .groupBy("event_type", F.col("quartile").cast("bigint").alias("quartile"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .orderBy("event_type", "quartile")
    )


# --- GROUPING / grouping_id disambiguation -----------------------------------

_GROUPING_ID_SQL = """
    SELECT lang, source,
           CAST(GROUPING_ID(lang, source) AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents
    GROUP BY GROUPING SETS ((lang, source), (lang), ())
    ORDER BY gid, lang, source
"""


@query(
    "rel_grouping_id",
    oracle=_GROUPING_ID_SQL,
    doc="GROUPING SETS with GROUPING_ID(): the packed grouping-flag "
    "bitmask (lang bit 1, source bit 0) that distinguishes a real NULL "
    "group key from a superaggregate row -- without it, rollup "
    "consumers cannot tell 'lang IS NULL' data from the grand total.  "
    "The IDENTICAL ANSI string runs on both engines (the "
    "rel_ansi_sql_verbatim contract) and the value hash verifies the "
    "two engines pack the bits in the same argument order.  All "
    "measures are exact integers.  Scale shape: one Expand (3 grouping "
    "sets -> 3x rows map-side) + ONE exchange, identical to "
    "rel_grouping_sets; the gid column is computed in the Expand, "
    "costing nothing extra.",
)
def rel_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(_GROUPING_ID_SQL)


# --- Time-weighted average (irregular time series) ---------------------------

@query(
    "rel_time_weighted_avg",
    oracle="""
    WITH t AS (
        SELECT event_type,
               CAST(round(value * 100, 0) AS BIGINT) AS v_cents,
               epoch_us(ts) AS us,
               lead(epoch_us(ts)) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
               ) - epoch_us(ts) AS dt_us
        FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CASE WHEN sum(dt_us) > 0
                THEN CAST(sum(v_cents * dt_us) AS DOUBLE)
                     / CAST(sum(dt_us) * 100 AS DOUBLE)
           END AS twa,
           CAST(sum(v_cents) AS DOUBLE)
               / CAST(count(*) * 100 AS DOUBLE) AS plain_avg
    FROM t
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="TimescaleDB-style time-weighted average over an irregular "
    "series: each reading is held until the next reading of the same "
    "type (last-observation-carried-forward), so its weight is the "
    "micro-second gap to its successor; the final reading carries no "
    "weight.  The sensor-data aggregate where plain avg() lies "
    "whenever sampling is bursty.  Exactness: value is cents-exact, so "
    "v_cents * dt_us and both sums are exact bigints (numerator "
    "bounded by max_cents * time-span -- the per-type gaps TELESCOPE, "
    "so the bigint never overflows at any row count), and twa / "
    "plain_avg are single IEEE divisions of exact integers -- emitted "
    "unrounded per the float policy.  Scale shape: one hash exchange "
    "on event_type reused by both the lag window and the aggregate "
    "(the rel_scd2 single-exchange pattern); with billions of rows per "
    "type the window sort spills but never collapses to one task.",
)
def rel_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    t = e.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("v_cents"),
        (F.lead(us).over(w) - us).alias("dt_us"),
    )
    num = F.sum(F.col("v_cents") * F.col("dt_us"))
    den = F.sum("dt_us")
    return (
        t.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.when(
                den > 0,
                num.cast("double") / (den * 100).cast("double"),
            ).alias("twa"),
            (
                F.sum("v_cents").cast("double")
                / (F.count("*") * 100).cast("double")
            ).alias("plain_avg"),
        )
        .orderBy("event_type")
    )


# --- Incremental rollup maintenance ------------------------------------------

@query(
    "rel_incremental_rollup",
    oracle="""
    WITH d AS (
        SELECT event_type,
               strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               CAST(round(value * 100, 0) AS BIGINT) AS v_cents
        FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT day) AS BIGINT) AS n_days,
           CAST(sum(v_cents) AS DOUBLE) / 100.0 AS total,
           CAST(min(v_cents) AS DOUBLE) / 100.0 AS min_value,
           CAST(max(v_cents) AS DOUBLE) / 100.0 AS max_value
    FROM d
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Incremental rollup maintenance: per-(type, day) PARTIAL "
    "aggregates (count / cents-sum / min / max -- all mergeable) for "
    "every closed day are persisted to parquet once per fixture "
    "content (sources.readers.fixture_artifact); when the newest "
    "day arrives, the final per-type rollup is the persisted partials "
    "UNION the delta-day partials, re-aggregated -- the raw history is "
    "NEVER re-scanned.  That is how a warehouse keeps a 100 TB "
    "event-history rollup fresh: the daily job touches one day of raw "
    "data plus a partials table with |types| x |days| rows.  The "
    "oracle computes the same rollup directly over the full raw table, "
    "so the value hash proves merge-of-partials == full recompute "
    "(the mergeability law; the same contract rel_hll_sketch_union "
    "checks for sketches, here for exact measures).  n_days rides "
    "along as a distinct-count over the partials' own key.  All "
    "measures are exact bigints until one final /100 emission.",
)
def rel_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import fixture_artifact

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("v_cents"),
    )
    maxday = e.agg(F.max("day")).collect()[0][0]

    partials = lambda df: df.groupBy("event_type", "day").agg(  # noqa: E731
        F.count("*").cast("bigint").alias("pn"),
        F.sum("v_cents").cast("bigint").alias("psum"),
        F.min("v_cents").alias("pmin"),
        F.max("v_cents").alias("pmax"),
    )
    # closed days: persisted once (the incremental state); they depend
    # only on the events content, maxday included
    dest = fixture_artifact(
        sf_dir,
        "events",
        "kmrc_rollup",
        lambda tmp: partials(e.where(F.col("day") < maxday))
        .write.mode("overwrite")
        .parquet(tmp),
    )
    base = spark.read.parquet(dest)
    delta = partials(e.where(F.col("day") == maxday))

    return (
        base.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("pn").cast("bigint").alias("n"),
            F.count("day").cast("bigint").alias("n_days"),
            (F.sum("psum").cast("double") / 100.0).alias("total"),
            (F.min("pmin").cast("double") / 100.0).alias("min_value"),
            (F.max("pmax").cast("double") / 100.0).alias("max_value"),
        )
        .orderBy("event_type")
    )


# --- Chi-square independence test --------------------------------------------

@query(
    "rel_chisq_independence",
    oracle="""
    WITH o AS (
        SELECT lang, source, CAST(count(*) AS DOUBLE) AS obs
        FROM documents GROUP BY lang, source
    ),
    r AS (SELECT lang, sum(obs) AS rt FROM o GROUP BY lang),
    c AS (SELECT source, sum(obs) AS ct FROM o GROUP BY source),
    n AS (SELECT sum(obs) AS tot FROM o)
    SELECT round(sum((o.obs - r.rt * c.ct / n.tot)
                     * (o.obs - r.rt * c.ct / n.tot)
                     / (r.rt * c.ct / n.tot)), 6) AS chi2,
           CAST((SELECT count(*) - 1 FROM r)
                * (SELECT count(*) - 1 FROM c) AS BIGINT) AS dof,
           CAST(n.tot AS BIGINT) AS n
    FROM o JOIN r USING (lang) JOIN c USING (source), n
    GROUP BY n.tot
    """,
    doc="Pearson chi-square test of independence on the lang x source "
    "contingency table: observed counts vs expected row*col/N, the "
    "statistic summed over all cells, with degrees of freedom -- the "
    "data-audit that catches a corpus whose language mix silently "
    "depends on source (a stratification bug every mixture pipeline "
    "should test for).  Counts are exact; each cell's term is the same "
    "IEEE expression tree in both engines and the cross-cell sum is "
    "rounded at 6 (multi-term float sum -- the one genuinely "
    "order-sensitive value, magnitude ~1e2 so round(6) has 8 digits of "
    "slack over the ulp).  Scale shape: one exchange to the cell "
    "aggregate (cells = |lang| x |source|, tiny), then broadcast-sized "
    "joins of the margin tables -- the raw corpus is scanned once.",
)
def rel_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    o = d.groupBy("lang", "source").agg(
        F.count("*").cast("double").alias("obs")
    )
    r = o.groupBy("lang").agg(F.sum("obs").alias("rt"))
    c = o.groupBy("source").agg(F.sum("obs").alias("ct"))
    n = o.agg(F.sum("obs").alias("tot"))
    j = (
        o.join(F.broadcast(r), "lang")
        .join(F.broadcast(c), "source")
        .crossJoin(F.broadcast(n))
    )
    exp = F.col("rt") * F.col("ct") / F.col("tot")
    term = (F.col("obs") - exp) * (F.col("obs") - exp) / exp
    return (
        j.groupBy("tot")
        .agg(
            F.round(F.sum(term), 6).alias("chi2"),
            (
                (F.countDistinct("lang") - 1) * (F.countDistinct("source") - 1)
            )
            .cast("bigint")
            .alias("dof"),
        )
        .select("chi2", "dof", F.col("tot").cast("bigint").alias("n"))
    )


# --- Lateral column alias references -----------------------------------------

_LATERAL_ALIAS_SQL = """
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS chars,
           chars + 100 AS padded,
           padded * 2 AS doubled,
           CASE WHEN doubled > 1000 THEN 'big' ELSE 'small' END AS label
    FROM documents
    WHERE doc_id < 500
    ORDER BY doc_id
"""


@query(
    "rel_lateral_column_alias",
    oracle=_LATERAL_ALIAS_SQL,
    doc="Lateral column alias references: a SELECT item refers to an "
    "alias defined EARLIER IN THE SAME SELECT (chars -> padded -> "
    "doubled -> label), the modern-SQL ergonomics that otherwise force "
    "nested subqueries or repeated expressions.  The identical ANSI "
    "string runs on both engines (rel_ansi_sql_verbatim contract); "
    "Spark resolves the chain at analysis into one flat projection -- "
    "zero plan cost, pure sugar, and the hash proves both engines "
    "expand the chain identically (left-to-right, no forward refs).  "
    "All values exact integers/strings.",
)
def rel_lateral_column_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_ALIAS_SQL)


# --- Dynamic partition pruning: the partitioned-star-join scale lever -------

def _dpp_customer_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-once hive-partitioned customer layout shared by both DPP
    queries (partitionBy(c_nationkey), a fixture_artifact); returns
    the read-back DataFrame.

    The read supplies the source schema EXPLICITLY: a zero-row
    partitioned write leaves only _SUCCESS behind (no data files, no
    partition directories), and a bare read of that fails with
    UNABLE_TO_INFER_SCHEMA -- an empty date-slice snapshot is a normal
    event at warehouse scale and must read back as an empty frame, not
    an error.  Partition discovery still runs off the directory names,
    so dynamic pruning / PartitionFilters are unaffected
    (plan-asserted in test_plans.py)."""
    from ..sources.readers import fixture_artifact

    src = load_table(spark, sf_dir, "customer")
    dest = fixture_artifact(
        sf_dir,
        "customer",
        "kmrc_dpp",
        lambda tmp: src.write.mode("overwrite")
        .partitionBy("c_nationkey")
        .parquet(tmp),
    )
    return spark.read.schema(src.schema).parquet(dest)


@query(
    "rel_dpp_prune_join",
    oracle="""
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS acctbal_cents
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE n.n_regionkey = 2
    GROUP BY n.n_name
    """,
    doc="Dynamic partition pruning, the flagship star-schema scan "
    "eliminator: the customer table is first written PARTITIONED BY "
    "c_nationkey (hive-style directories, the layout a 100 TB fact "
    "table lives in), then joined to nation filtered to one region.  "
    "At planning time the partition values that survive the dim filter "
    "are unknown; Catalyst inserts a DynamicPruningExpression on the "
    "fact's partition column that REUSES the broadcast of the filtered "
    "dim (SubqueryAdaptiveBroadcast, plan-asserted in test_plans.py), "
    "so only the ~5-of-25 matching nation directories are ever read -- "
    "at scale that is the difference between scanning 100 TB and "
    "scanning the 20% the query touches, with zero user hints.  The "
    "oracle computes the same join/agg straight from the unpartitioned "
    "parquet, so the hash also verifies the partitioned write/read "
    "round-trip (directory-encoded key included) lost nothing.  Money "
    "aggregated as exact integer cents (round-then-cast, the Q1 "
    "discipline); dest is the fixture-keyed tmpdir (kmrc cache idiom, "
    "overwrites in place across invocations).",
)
def rel_dpp_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact = _dpp_customer_fixture(spark, sf_dir)
    dim = load_table(spark, sf_dir, "nation").where(F.col("n_regionkey") == 2)
    return (
        fact.join(dim, fact.c_nationkey == dim.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint"))
            .cast("bigint")
            .alias("acctbal_cents"),
        )
    )


@query(
    "rel_dpp_semijoin_filter",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS acctbal_cents
    FROM customer
    WHERE c_nationkey IN (SELECT n_nationkey FROM nation
                          WHERE n_regionkey = 2)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="Dynamic partition pruning, SECOND shape (VERDICT r4 optional "
    "item): the pruning predicate arrives as an IN-subquery FILTER, "
    "not an explicit join -- the form analysts actually write for "
    "'facts whose key is in this dim slice'.  Catalyst rewrites the "
    "uncorrelated IN to a LeftSemi BroadcastHashJoin against the same "
    "fixture-keyed PARTITIONED customer layout rel_dpp_prune_join "
    "writes, and dynamic pruning fires on the semi join exactly as on "
    "the inner join: DynamicPruningExpression on c_nationkey riding "
    "the dim broadcast (SubqueryAdaptiveBroadcast, plan-asserted in "
    "test_plans.py), so only matching nation directories are scanned.  "
    "At 100 TB this matters because semi-join filters are how "
    "curation pipelines express corpus slices ('docs whose source is "
    "in the approved list') -- the directory pruning must fire without "
    "the user restating the filter as a join.  No dim column reaches "
    "the output, so the oracle is the plain IN-filtered aggregate over "
    "unpartitioned customer; exact integer cents (Q1 discipline).",
)
def rel_dpp_semijoin_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    _dpp_customer_fixture(spark, sf_dir).createOrReplaceTempView(
        "kmrc_cust_part"
    )
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "kmrc_nation_dim"
    )
    return spark.sql(
        """
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                   AS acctbal_cents
        FROM kmrc_cust_part
        WHERE c_nationkey IN (SELECT n_nationkey FROM kmrc_nation_dim
                              WHERE n_regionkey = 2)
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
        """
    )


# --- Calendar-interval arithmetic: month clamping & friends -----------------

@query(
    "rel_interval_calendar",
    oracle="""
    WITH o AS (
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
        FROM orders WHERE o_orderkey < 2000
    )
    SELECT o_orderkey,
           strftime(d, '%Y-%m-%d') AS order_date,
           -- d + 90 (integer day add), NOT d + INTERVAL 90 DAY: DuckDB
           -- 1.0 interval equality treats 1 MONTH = 30 DAYS, so its
           -- CSE pass merges "+ INTERVAL 90 DAY" with "+ INTERVAL 3
           -- MONTH" over the same column and returns the month-add for
           -- BOTH columns (verified minimally; constants-only folds fine)
           strftime(d + 90, '%Y-%m-%d') AS due_90d,
           strftime(CAST(d + INTERVAL 3 MONTH AS DATE), '%Y-%m-%d') AS due_3m,
           strftime(CAST(d - INTERVAL 1 MONTH AS DATE), '%Y-%m-%d') AS prev_1m,
           strftime(last_day(d), '%Y-%m-%d') AS month_end,
           strftime(CAST(date_trunc('quarter', d) AS DATE), '%Y-%m-%d')
               AS quarter_start,
           CAST(date_diff('day', d, DATE '1998-01-01') AS BIGINT) AS days_to_anchor
    FROM o ORDER BY o_orderkey
    """,
    doc="Calendar-interval semantics, the corner rel_date_funcs' "
    "point-functions don't pin down: month arithmetic CLAMPS to "
    "month-end (Jan 31 + 3 months = Apr 30, Mar 31 - 1 month = Feb "
    "28/29) identically in both engines -- the class of silent "
    "divergence that corrupts billing/retention cohorts when one "
    "engine overflows into the next month instead.  Also last_day, "
    "quarter truncation, and signed day-diff to a fixed anchor.  "
    "Every date is rendered as an ISO string (the rel_scd2 contract: "
    "pandas renders DATE columns as midnight timestamps, so checked "
    "date output is strftime'd in both engines); day arithmetic and "
    "diffs are exact integers -- no float discipline needed.  "
    "Key-bounded slice: O(1) rows at any scale factor.",
)
def rel_interval_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 2000)
        .select("o_orderkey", F.col("o_orderdate").cast("date").alias("d"))
    )
    iso = lambda c: F.date_format(c, "yyyy-MM-dd")  # noqa: E731
    return o.select(
        "o_orderkey",
        iso("d").alias("order_date"),
        iso(F.expr("d + INTERVAL '90' DAY")).alias("due_90d"),
        iso(F.expr("d + INTERVAL '3' MONTH")).alias("due_3m"),
        iso(F.expr("d - INTERVAL '1' MONTH")).alias("prev_1m"),
        iso(F.last_day("d")).alias("month_end"),
        iso(F.date_trunc("quarter", "d").cast("date")).alias("quarter_start"),
        F.datediff(F.lit("1998-01-01").cast("date"), F.col("d"))
        .cast("bigint")
        .alias("days_to_anchor"),
    ).orderBy("o_orderkey")


# --- Observed metrics (the O14 ops surface generalized) ---------------------

@query(
    "rel_observe_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_price_cents,
           CAST(max(l_orderkey) AS BIGINT) AS max_orderkey
    FROM lineitem WHERE l_quantity < 25
    """,
    doc="DataFrame.observe / CollectMetrics (round-7 verdict optional "
    "item): named aggregates computed as a SIDE CHANNEL of the same "
    "pass that executes the query -- the O14 timing/quality "
    "instrumentation generalized to per-query row/value accounting.  "
    "At 100 TB this is how a production write gets its row counts and "
    "money totals audited for FREE: CollectMetrics folds into the scan "
    "stage (zero extra jobs, zero extra shuffles -- plan-asserted in "
    "tests/test_plans.py), where a separate count()+sum() pass would "
    "re-read the input.  The action here is a noop-format write (the "
    "bench sink); Observation.get blocks until the action's metrics "
    "arrive.  Money stays integer cents, the registry discipline.",
)
def rel_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_quantity") < 25)
    obs = Observation()
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        F.sum(pos_cents("l_extendedprice")).alias("sum_price_cents"),
        F.max("l_orderkey").alias("max_orderkey"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["sum_qty"],
                m["sum_price_cents"],
                m["max_orderkey"],
            )
        ],
        "n_rows bigint, sum_qty bigint, sum_price_cents bigint, "
        "max_orderkey bigint",
    )


# --- Runtime bloom-filter join pruning --------------------------------------

@query(
    "rel_bloom_filter_join",
    oracle="""
    SELECT l.l_orderkey, CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY l.l_orderkey
    ORDER BY sum_qty DESC, l.l_orderkey
    LIMIT 100
    """,
    doc="Runtime bloom-filter join pruning (Spark's InjectRuntimeFilter, "
    "the row-level sibling of dynamic partition pruning): the selective "
    "dim side (urgent orders) builds a bloom_filter_agg, and a "
    "might_contain(xxhash64(l_orderkey)) filter is injected into the "
    "FACT-side scan, so most lineitem rows die at the scan instead of "
    "crossing the shuffle -- at 100 TB the shuffle traffic saved is the "
    "difference between a join that runs and one that doesn't.  "
    "Semantically transparent (the bloom only false-positives, the "
    "equi-join rechecks), so the oracle is the plain join; the "
    "injected shape is plan-asserted in tests/test_plans.py.  Local "
    "fixture sizes sit under the application-side scan threshold "
    "(default 10 GB -- the conf models the 100 TB fact side), so the "
    "query pins applicationSideScanSizeThreshold=0 and disables "
    "broadcast for the build (injection targets shuffle joins), "
    "restoring both in a finally -- which requires materializing "
    "BEFORE return.  The returned relation is therefore BOUNDED: "
    "top-100 heaviest urgent orders via orderBy+limit (merge heaps, "
    "TakeOrderedAndProject -- plan-asserted), so the collect inside "
    "the pinned-conf block is <=100 rows at ANY scale factor (the "
    "_eager small-results contract).  The r8 verdict flagged the "
    "unbounded form (one row per urgent order, 2.95M at 100x) as a "
    "driver-memory hazard; the bound fixes the packaging without "
    "touching the join plan the query exists to demonstrate.",
)
def rel_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = (
        _bloom_join_plan(spark, sf_dir)
        .orderBy(F.desc("sum_qty"), F.asc("l_orderkey"))
        .limit(100)
    )
    with bloom_confs_pinned(spark):
        rows = out.collect()  # bounded: <=100 rows by construction
    return spark.createDataFrame(rows, out.schema)


_BLOOM_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.optimizer.runtime.bloomFilter"
    ".applicationSideScanSizeThreshold": "0",
}


def bloom_confs_pinned(spark: SparkSession):
    """Pin the confs under which InjectRuntimeFilter fires locally --
    ONE definition shared by the gate query and its plan-assertion test,
    so the test always asserts the exact optimizer state the query runs
    under."""
    return pinned_confs(spark, _BLOOM_CONFS)


def _bloom_join_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy join plan (exposed so tests can assert the injected
    bloom shape under the same confs the query pins)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        )
    )


# --- Count-min sketch frequency estimation ----------------------------------

_CMS_UIDS = (1, 2, 3, 5, 8, 13, 21, 34)


@query(
    "rel_stat_count_min",
    oracle=f"""
    SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n,
           TRUE AS never_undercounts, TRUE AS within_3eps_bound
    FROM events WHERE user_id IN {_CMS_UIDS}
    GROUP BY user_id
    """,
    doc="Count-min sketch frequency estimation -- the third sketch "
    "family after HLL/theta (distinct) and KPS (heavy hitters): the "
    "count_min_sketch SQL AGGREGATE builds the mergeable binary "
    "distributedly (map-side partial sketches, counter-sum merge is "
    "order-independent so the result is deterministic for a fixed "
    "seed), only the KB-sized sketch crosses to the driver, and "
    "estimates are read back through the public "
    "org.apache.spark.util.sketch.CountMinSketch reader.  Checked via "
    "the CLAIM pattern (rel_approx_distinct precedent -- DuckDB "
    "cannot rebuild Spark's sketch): per pinned user, the estimate "
    "never undercounts (structural CMS guarantee) and lands within "
    "3*eps*N of the exact count.  The 3x slack makes the claim "
    "CONFIDENCE-AWARE (r8 advice) instead of 'verified for this "
    "seed': the 1x bound only holds with probability 0.99 per key, "
    "so a fixture regeneration could legitimately flake it, while "
    "per sketch row E[overcount] <= eps*N/2 (width 2/eps), so by "
    "Markov P(row overcount >= 3*eps*N) <= 1/6 and the depth-7 "
    "row-minimum misses with probability <= (1/6)^7 ~ 4e-6 per key "
    "-- a failure is a regression, not a flake.  Type discipline: Spark's sketch widens ALL "
    "integral types to long before hashing (int and long probes of "
    "the same sketch agree -- verified empirically), so the only real "
    "type sensitivity is numeric vs string/binary items; probing with "
    "a stringified key would silently miss.  At 100 TB this is the "
    "bounded-memory answer to 'how often does key X occur' without a "
    "groupBy over the corpus.",
)
def rel_stat_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # One job builds the sketch AND the row count (review finding: a
    # separate count() was a third full scan of the fact table).
    agg0 = e.agg(
        F.expr(
            "count_min_sketch(CAST(user_id AS INT), 0.001d, 0.99d, 42)"
        ).alias("s"),
        F.count(F.lit(1)).alias("n_total"),
    ).first()
    raw, n_total = agg0["s"], agg0["n_total"]
    exact = {
        r["user_id"]: r["n"]
        for r in e.where(F.col("user_id").isin(*_CMS_UIDS))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rows = []
    if exact:
        jvm = spark._jvm
        cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
            jvm.java.io.ByteArrayInputStream(bytes(raw))
        )
        # confidence-aware bound: 3x the nominal eps*N (see doc)
        eps_bound = 3 * 0.001 * n_total
        for uid, n in sorted(exact.items()):
            est = cms.estimateCount(int(uid))  # Python int -> Integer
            rows.append(
                (uid, n, est >= n, (est - n) <= eps_bound)
            )
    return spark.createDataFrame(
        rows,
        "user_id bigint, exact_n bigint, never_undercounts boolean, "
        "within_3eps_bound boolean",
    )


# --- ANSI FILTER-clause aggregates ------------------------------------------

_FILTER_AGG_SQL = """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_all,
           CAST(count(*) FILTER (WHERE value > 0.5) AS BIGINT) AS n_high,
           CAST(sum(CAST(round(value * 1000) AS BIGINT))
                FILTER (WHERE value > 0.5) AS BIGINT) AS sum_high_mills,
           CAST(count(*) FILTER (WHERE value IS NULL) AS BIGINT) AS n_null
    FROM events
    GROUP BY event_type
"""


@query(
    "rel_filter_clause_agg",
    oracle=_FILTER_AGG_SQL,
    doc="ANSI FILTER-clause aggregates -- count/sum FILTER (WHERE ...) "
    "per group, the standard syntax for conditional aggregation that "
    "the CASE-WHEN formulation (rel_conditional_agg_q14) predates.  "
    "ONE verbatim SQL string runs on BOTH engines (the "
    "rel_ansi_sql_verbatim discipline), so the check pins that "
    "Spark's FILTER clause and DuckDB's agree on every class "
    "including the empty-filter group (sum over no rows -> NULL, "
    "count -> 0).  Money-adjacent values aggregate as exact integer "
    "mills; no float sum crosses engines.  Catalyst compiles the "
    "FILTER clause to the same map-side-combined conditional "
    "aggregate as the CASE form -- no second scan.",
)
def rel_filter_clause_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(_FILTER_AGG_SQL)


# --- Explicit NULLS FIRST / NULLS LAST ordering ------------------------------

_NULL_ORDER_SQL = """
    WITH e AS (
        SELECT event_id, user_id,
               CASE WHEN event_id % 97 = 0 THEN NULL
                    ELSE CAST(value AS DOUBLE) END AS v
        FROM events WHERE event_id < 2000
    )
    SELECT event_id, user_id, v,
           CAST(row_number() OVER (
               ORDER BY v ASC NULLS FIRST, event_id) AS BIGINT)
               AS rn_nulls_first,
           CAST(row_number() OVER (
               ORDER BY v ASC NULLS LAST, event_id) AS BIGINT)
               AS rn_nulls_last,
           CAST(row_number() OVER (
               ORDER BY v DESC NULLS LAST, event_id) AS BIGINT)
               AS rn_desc_nulls_last
    FROM e
"""


@query(
    "rel_null_ordering",
    oracle=_NULL_ORDER_SQL,
    doc="Explicit NULLS FIRST / NULLS LAST ordering -- a REAL "
    "cross-engine divergence corner: Spark's default is NULLS FIRST "
    "for ASC / NULLS LAST for DESC, while DuckDB defaults to NULLS "
    "LAST everywhere, so any ORDER BY over a nullable key that omits "
    "the clause silently ranks differently across engines.  The "
    "query pins all three explicit spellings on a deterministically "
    "NULLed value column (event_id % 97 -> NULL, injected identically "
    "in both engines since the fixture's ts/value carry no NULLs), "
    "ONE verbatim SQL string on both engines; (v, event_id) is a "
    "total order so every rank hash-checks exactly.  The lesson is "
    "the discipline: portable ORDER BY over nullable keys ALWAYS "
    "states its NULL placement.",
)
def rel_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(_NULL_ORDER_SQL)


# --- As-of join, nearest direction ------------------------------------------

@query(
    "rel_asof_nearest",
    oracle="""
    WITH p AS (SELECT event_id AS pid, user_id,
                      date_trunc('microseconds', ts) AS pts,
                      ts IS NULL AS pts_null
               FROM events
               WHERE event_type = 'purchase' AND user_id < 40),
    c0 AS (SELECT user_id, date_trunc('microseconds', ts) AS cts,
                  max(event_id) AS cid
           FROM events
           WHERE event_type = 'click' AND ts IS NOT NULL AND user_id < 40
           GROUP BY 1, 2),
    cand AS (
        SELECT p.pid, c0.cid, c0.cts,
               ROW_NUMBER() OVER (
                   PARTITION BY p.pid
                   ORDER BY abs(date_diff('microsecond', c0.cts, p.pts)),
                            c0.cts
               ) AS rn
        FROM p JOIN c0 ON c0.user_id = p.user_id
        WHERE NOT p.pts_null
    )
    SELECT p.pid, p.user_id,
           CASE WHEN p.pts_null THEN NULL ELSE c.cid END AS cid,
           CASE WHEN p.pts_null THEN NULL
                ELSE date_diff('microsecond', p.pts, c.cts)
           END AS gap_us
    FROM p LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c ON c.pid = p.pid
    """,
    doc="As-of join, NEAREST direction (pandas merge_asof "
    "direction='nearest', the sensor-fusion alignment mode): each "
    "purchase matches the click minimally distant in time in EITHER "
    "direction, ties to the EARLIER click.  The backward/forward "
    "halves ride ONE union + ONE sorted window pass each way (carry "
    "the last prior click forward, the first later click backward -- "
    "clicks pre-collapsed to max-id per (user, ts) so both window "
    "directions agree on the per-instant winner), then a pure "
    "projection picks the closer side: abs-gap is monotone away from "
    "the probe on each side, so min(best-prev, best-next) IS the "
    "global nearest -- never a per-purchase candidate expansion.  "
    "gap_us is the SIGNED exact microsecond offset (negative = click "
    "before purchase); no division, so no truncation-vs-floor "
    "divergence can enter.  The oracle is an INDEPENDENT bounded "
    "quadratic (user_id < 40 slice) ranked by (abs gap, cts).  NULL "
    "classes per the asof family: NULL-ts clicks dropped, NULL-pts "
    "purchases keep their row with NULL match.",
)
def rel_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") < 40)
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("eid"), F.lit(1).alias("side")
    )
    c = (
        e.where((F.col("event_type") == "click") & F.col("ts").isNotNull())
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("eid"))
        .withColumn("side", F.lit(0))
    )
    u = p.unionByName(c)
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    click = F.when(F.col("side") == 0, F.struct("ts", "eid"))
    prev = F.last(click, ignorenulls=True).over(w_prev)
    nxt = F.first(click, ignorenulls=True).over(w_next)
    gp = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("_p.ts"))
    gn = F.unix_micros(F.col("_n.ts")) - F.unix_micros(F.col("ts"))
    take_prev = F.col("_p").isNotNull() & (
        F.col("_n").isNull() | (gp <= gn)
    )
    chosen = F.when(take_prev, F.col("_p")).otherwise(F.col("_n"))
    valid = F.col("ts").isNotNull() & chosen.isNotNull()
    return (
        u.withColumn("_p", prev)
        .withColumn("_n", nxt)
        .where(F.col("side") == 1)
        .withColumn("_c", chosen)
        .select(
            F.col("eid").alias("pid"),
            "user_id",
            F.when(valid, F.col("_c.eid")).alias("cid"),
            F.when(
                valid,
                F.unix_micros(F.col("_c.ts")) - F.unix_micros(F.col("ts")),
            ).alias("gap_us"),
        )
    )


# --- ORDER BY ALL -----------------------------------------------------------

_ORDER_ALL_SQL = """
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity AS BIGINT) AS qty
    FROM lineitem WHERE l_orderkey < 200
    ORDER BY ALL
    LIMIT 20
"""


@query(
    "rel_order_by_all",
    oracle=_ORDER_ALL_SQL,
    doc="ORDER BY ALL -- the companion surface to GROUP BY ALL "
    "(rel_group_by_all): sort by every select-list column "
    "left-to-right without restating them.  ONE verbatim SQL string "
    "on both engines; the ordering is made LOAD-BEARING by the LIMIT "
    "(the canon compare is row-order-insensitive, so without a cut "
    "the clause would be decorative) -- (l_orderkey, l_linenumber) "
    "is a primary key, so the top-20 cut is a total order and "
    "hash-checks exactly.  Compiles to the TakeOrderedAndProject "
    "merge-heap, never a global sort.",
)
def rel_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(_ORDER_ALL_SQL)


# --- Higher-order lambda functions over arrays --------------------------------

@query(
    "rel_hof_lambda",
    oracle="""
    SELECT vec_id,
           CAST(len(list_filter(embedding::DOUBLE[], x -> x > 0))
               AS INTEGER) AS n_pos,
           round(COALESCE(
               list_sum(list_filter(embedding::DOUBLE[], x -> x > 0)),
               0), 4) AS pos_sum,
           len(list_filter(embedding::DOUBLE[], x -> abs(x) > 0.3)) > 0
               AS any_big,
           len(list_filter(embedding::DOUBLE[], x -> NOT (abs(x) < 0.4))) = 0
               AS all_small,
           round(list_dot_product(embedding::DOUBLE[],
                                  list_reverse(embedding::DOUBLE[])), 4)
               AS dot_rev
    FROM embeddings WHERE vec_id < 200
    """,
    doc="Higher-order LAMBDA functions over the array<float> embedding "
    "column -- the full Spark HOF surface rel_array_funcs only "
    "samples: filter (predicate projection), aggregate (left fold), "
    "exists / forall (quantifiers), zip_with + reverse (pairwise "
    "combine), all JVM-side whole-stage-codegen expressions -- ZERO "
    "Python UDFs for per-element array logic, the #1 hot-path rule "
    "at 100 TB where a row-at-a-time UDF on a 64-dim column pays "
    "64x the serialization.  DuckDB twins: list_filter / list_sum / "
    "quantifiers via list_filter length / list_dot_product on "
    "list_reverse -- with pos_sum COALESCEd to 0: DuckDB's list_sum "
    "of an EMPTY filtered list is NULL where Spark's 0D-seeded fold "
    "is 0.0 (review finding; an all-nonpositive vector must not "
    "hash-diverge).  Float sums (pos_sum, dot_rev) are multi-term and "
    "engine summation order differs, so they round to 4 (the "
    "rel_array_funcs vec_sum precedent); counts and quantifier "
    "booleans are exact.  Key-bounded slice: O(1) rows at gate "
    "scales; thresholds 0.3/0.4 split the unit-norm fixture so both "
    "boolean columns carry both values.",
)
def rel_hof_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    emb = "CAST(embedding AS ARRAY<DOUBLE>)"
    return e.select(
        "vec_id",
        F.expr(f"CAST(size(filter({emb}, x -> x > 0D)) AS INT)").alias(
            "n_pos"
        ),
        F.expr(
            f"round(aggregate(filter({emb}, x -> x > 0D), 0D,"
            " (s, v) -> s + v), 4)"
        ).alias("pos_sum"),
        F.expr(f"exists({emb}, x -> abs(x) > 0.3D)").alias("any_big"),
        F.expr(f"forall({emb}, x -> abs(x) < 0.4D)").alias("all_small"),
        F.expr(
            f"round(aggregate(zip_with({emb}, reverse({emb}),"
            " (a, b) -> a * b), 0D, (s, v) -> s + v), 4)"
        ).alias("dot_rev"),
    )


# --- LIMIT ... OFFSET pagination ----------------------------------------------

_LIMIT_OFFSET_SQL = """
    SELECT l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT) AS qty
    FROM lineitem WHERE l_orderkey < 2000
    ORDER BY l_orderkey, l_linenumber, qty
    LIMIT 15 OFFSET 10
"""


@query(
    "rel_limit_offset",
    oracle=_LIMIT_OFFSET_SQL,
    doc="LIMIT ... OFFSET pagination -- the API-results surface: skip "
    "the first 10 rows of a deterministic order, return the next 15.  "
    "ONE verbatim SQL string on both engines.  The ORDER BY lists "
    "EVERY output column: (l_orderkey, l_linenumber) alone is not "
    "unique in the fixture, and a page boundary through a tie group "
    "is engine-dependent (verified: the two engines return different "
    "15-row pages under the 2-column order) -- ordering by the full "
    "output tuple makes ties interchangeable, so the page is a "
    "deterministic MULTISET even when the boundary splits equal "
    "rows.  Plan shape: Spark folds offset+limit into ONE "
    "TakeOrderedAndProject (heap of offset+limit=25 per partition, "
    "driver drops 10) -- no global sort, no second pass "
    "(plan-asserted); at 100 TB deep pagination still costs only "
    "(offset+limit) memory per partition, which is also the honest "
    "warning against page-1000000 access patterns.",
)
def rel_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(_LIMIT_OFFSET_SQL)


# --- Linear-regression aggregates ---------------------------------------------

_REGR_SQL = """
    SELECT l_returnflag,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
           round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 6) AS icept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           round(regr_avgx(l_extendedprice, l_quantity), 6) AS avgx,
           round(regr_avgy(l_extendedprice, l_quantity), 6) AS avgy
    FROM lineitem GROUP BY l_returnflag
"""


@query(
    "rel_regr_linear",
    oracle=_REGR_SQL,
    doc="ANSI linear-regression aggregates (regr_slope / regr_intercept "
    "/ regr_r2 / regr_count / regr_avgx / regr_avgy) -- ordinary "
    "least squares of price on quantity per returnflag in ONE "
    "aggregation pass, completing the bivariate-stats surface "
    "rel_stats_agg's corr() opened.  ONE verbatim SQL string on both "
    "engines.  These compile to moment sums (n, sum x, sum y, sum "
    "x^2, sum xy) with map-side partial aggregation -- the 100 TB "
    "trend-fit costs one scan and a k-row shuffle, the same shape as "
    "the K-Means centroid update (O8/O9).  Slopes/intercepts/r2 are "
    "RATIOS of large float moment sums (genuinely engine-order "
    "sensitive), so all round to 6; regr_count is exact.  Use case "
    "in-pipeline: fitting the Zipf/Heaps curve of a corpus or a "
    "length-vs-quality trend without leaving SQL.",
)
def rel_regr_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(_REGR_SQL)


# --- Join strategy hints --------------------------------------------------------

_JOIN_HINT_BODY = """
    SELECT {hint}n.n_name, CAST(count(*) AS BIGINT) AS n_cust,
           CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS sum_acctbal_cents
    FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
"""


@query(
    "rel_join_hints",
    oracle=_JOIN_HINT_BODY.format(hint=""),
    doc="SQL join-strategy HINTS -- the /*+ SHUFFLE_HASH(n) */ surface: "
    "the user overrides the planner's strategy choice per relation "
    "without touching confs or code.  The gate runs the "
    "shuffled-hash variant (broadcast and sort-merge shapes are "
    "already pinned by rel_join_broadcast / rel_join_shuffle; "
    "ShuffledHashJoin is the strategy NO other gate query exercises "
    "-- it beats sort-merge when one side is small-per-key but too "
    "big to broadcast, because it skips both sorts).  Hints are "
    "semantically transparent, so the oracle is the SAME SQL with "
    "the hint comment stripped; tests/test_plans.py asserts all "
    "three hints (BROADCAST / MERGE / SHUFFLE_HASH) produce their "
    "named physical operators AND identical results.  Money stays "
    "integer cents.",
)
def rel_join_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        _JOIN_HINT_BODY.format(hint="/*+ SHUFFLE_HASH(n) */ ")
    )


# --- Bag-semantics set operations ------------------------------------------------

_SET_OPS_ALL_SQL = """
    WITH a AS (SELECT CAST(l_quantity AS BIGINT) AS q
               FROM lineitem WHERE l_orderkey < 600),
         b AS (SELECT CAST(l_quantity AS BIGINT) AS q
               FROM lineitem WHERE l_orderkey >= 300 AND l_orderkey < 900)
    SELECT 'except_all' AS op, q, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT q FROM a EXCEPT ALL SELECT q FROM b) GROUP BY q
    UNION ALL
    SELECT 'intersect_all' AS op, q, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT q FROM a INTERSECT ALL SELECT q FROM b) GROUP BY q
"""


@query(
    "rel_set_ops_all",
    oracle=_SET_OPS_ALL_SQL,
    doc="BAG-semantics set operations -- EXCEPT ALL / INTERSECT ALL, "
    "the multiplicity-preserving corner rel_set_ops' DISTINCT "
    "variants don't pin: per value, EXCEPT ALL keeps max(m_a - m_b, "
    "0) copies and INTERSECT ALL keeps min(m_a, m_b), where the "
    "DISTINCT forms collapse to 0/1 -- the difference between 'which "
    "quantities appear only here' and 'HOW MANY rows survive a "
    "subtraction', which is what dataset-diff accounting actually "
    "needs.  ONE verbatim SQL string on both engines; the "
    "overlapping l_orderkey slices guarantee every multiplicity "
    "class (a-only, b-heavier, equal) is populated.  Output is "
    "re-aggregated to (op, value, count) so the check hashes exact "
    "multiplicities, bounded by the ~50 distinct quantity values at "
    "any scale.  Spark compiles EXCEPT ALL to a sum-of-signed-counts "
    "aggregate + generate (one shuffle), not a join per duplicate.",
)
def rel_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SET_OPS_ALL_SQL)


# --- Forward-fill imputation (LOCF) -----------------------------------------------

@query(
    "rel_locf_impute",
    oracle="""
    WITH e AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id,
               CASE WHEN event_id % 13 = 0 THEN NULL
                    ELSE value END AS v
        FROM events WHERE user_id < 20
    )
    SELECT user_id, ts_us, event_id, v,
           last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS v_filled
    FROM e
    """,
    doc="Forward-fill imputation (last observation carried forward -- "
    "the time-series gap repair every sensor/metrics pipeline runs "
    "before resampling): per user, a NULL reading takes the most "
    "recent non-NULL value; leading NULLs stay NULL (nothing to "
    "carry).  NULLs are injected deterministically (event_id % 13, "
    "the rel_null_ordering precedent) so the fill is load-bearing at "
    "every scale.  Engine surface: Spark's last(ignorenulls=True) "
    "over a running ROWS frame vs DuckDB's last_value(v IGNORE "
    "NULLS) -- the IGNORE NULLS frame corner rel_window_lag's plain "
    "offsets don't pin.  Scale shape: one user-keyed window shuffle, "
    "running frame evaluated incrementally (no per-row rescan); "
    "ordering key (ts, event_id) is unique per user so the fill is "
    "deterministic.  The passthrough double rides unrounded (no "
    "arithmetic in either engine); ts emitted as tz-free epoch "
    "micros.",
)
def rel_locf_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import load_table

    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") < 20)
        .select(
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            F.when(F.col("event_id") % 13 == 0, None)
            .otherwise(F.col("value"))
            .alias("v"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return e.withColumn(
        "v_filled", F.last("v", ignorenulls=True).over(w)
    )


# --- Dirty-data ingest: try_* parsing -----------------------------------------------

@query(
    "rel_try_parse_ingest",
    oracle="""
    WITH d AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN '2024-13-45'
                    WHEN o_orderkey % 7 = 1 THEN 'garbage'
                    WHEN o_orderkey % 7 = 2 THEN ''
                    ELSE printf('%04d-%02d-%02d',
                                1995 + o_orderkey % 5,
                                1 + o_orderkey % 12,
                                1 + o_orderkey % 28) END AS raw_ts,
               CASE WHEN o_orderkey % 5 = 0 THEN '12.5x'
                    WHEN o_orderkey % 5 = 1 THEN ''
                    ELSE CAST(o_orderkey AS VARCHAR) END AS raw_num
        FROM orders WHERE o_orderkey < 4000
    )
    SELECT CAST(count(*) AS BIGINT) AS n_total,
           CAST(count(try_strptime(raw_ts, '%Y-%m-%d')) AS BIGINT) AS n_ts,
           strftime(min(try_strptime(raw_ts, '%Y-%m-%d')), '%Y-%m-%d')
               AS min_ts,
           strftime(max(try_strptime(raw_ts, '%Y-%m-%d')), '%Y-%m-%d')
               AS max_ts,
           CAST(count(TRY_CAST(raw_num AS BIGINT)) AS BIGINT) AS n_num,
           CAST(sum(TRY_CAST(raw_num AS BIGINT)) AS BIGINT) AS sum_num
    FROM d
    """,
    doc="Dirty-data ingest through the try_* family -- the ANSI-mode "
    "survival kit: under Spark 4's ANSI default a plain CAST on one "
    "malformed row KILLS the whole 100 TB job, so ingest parses with "
    "try_to_timestamp / try_cast, which return NULL for exactly the "
    "malformed class and let count()/aggregates quarantine it.  Four "
    "deterministic raw classes per row (valid ISO date / "
    "out-of-range month-day / garbage word / empty string; valid "
    "number / trailing-junk number / empty), all synthesized from "
    "pure integer arithmetic -- NO timezone anywhere: the valid "
    "dates are printf-built strings, and parse->render round-trips "
    "in one session are tz-invariant.  Checks Spark's try_to_"
    "timestamp(fmt) against DuckDB's try_strptime and try_cast "
    "against TRY_CAST: same accept/reject frontier, same parsed "
    "values.  Complements rel_try_arith (arithmetic overflow) and "
    "rel_json_corrupt_records (parser quarantine) -- this is the "
    "STRING->type frontier.",
)
def rel_try_parse_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql("""
    WITH d AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN '2024-13-45'
                    WHEN o_orderkey % 7 = 1 THEN 'garbage'
                    WHEN o_orderkey % 7 = 2 THEN ''
                    ELSE format_string('%04d-%02d-%02d',
                                       CAST(1995 + o_orderkey % 5 AS INT),
                                       CAST(1 + o_orderkey % 12 AS INT),
                                       CAST(1 + o_orderkey % 28 AS INT))
               END AS raw_ts,
               CASE WHEN o_orderkey % 5 = 0 THEN '12.5x'
                    WHEN o_orderkey % 5 = 1 THEN ''
                    ELSE CAST(o_orderkey AS STRING) END AS raw_num
        FROM orders WHERE o_orderkey < 4000
    )
    SELECT CAST(count(*) AS BIGINT) AS n_total,
           CAST(count(try_to_timestamp(raw_ts, 'yyyy-MM-dd')) AS BIGINT)
               AS n_ts,
           date_format(min(try_to_timestamp(raw_ts, 'yyyy-MM-dd')),
                       'yyyy-MM-dd') AS min_ts,
           date_format(max(try_to_timestamp(raw_ts, 'yyyy-MM-dd')),
                       'yyyy-MM-dd') AS max_ts,
           CAST(count(try_cast(raw_num AS BIGINT)) AS BIGINT) AS n_num,
           CAST(sum(try_cast(raw_num AS BIGINT)) AS BIGINT) AS sum_num
    FROM d
    """)


# --- Schema evolution: mergeSchema across batch generations --------------------

@query(
    "rel_schema_evolution",
    oracle="""
    SELECT o_orderkey, total_price, priority FROM (
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
               o_totalprice AS total_price,
               CAST(NULL AS VARCHAR) AS priority
        FROM orders WHERE o_orderkey < 1000
        UNION ALL
        SELECT CAST(o_orderkey AS BIGINT), o_totalprice, o_orderpriority
        FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 2000
    ) ORDER BY o_orderkey
    """,
    doc="Schema EVOLUTION across batch generations -- the lake reality "
    "every long-lived 100 TB corpus hits: month 1 lands files without "
    "a column, month 2 adds it, and readers must see one merged "
    "schema with NULL back-fill instead of failing or silently "
    "dropping the column.  Two parquet generations of an orders slice "
    "are written (v1: key, price; v2: + o_orderpriority), then read "
    "together with spark.read.option('mergeSchema', true) -- Spark "
    "merges the FOOTER schemas (by default it trusts the first file "
    "listed, which would LOSE the new column here since v1 sorts "
    "first) and back-fills v1 rows with NULL.  The oracle derives the "
    "same union straight from the source, so the hash verifies both "
    "halves: no row lost across generations and the evolved column "
    "NULL exactly on the pre-evolution slice.  total_price passes "
    "through UNROUNDED (pure storage round-trip, bit-identical by "
    "construction).  Scale judgment: schema merging reads footers, "
    "not data -- at 100 TB cap it via "
    "spark.sql.parquet.mergeSchema's per-file footer reads being "
    "distributed (Spark schedules footer reading as a job), and "
    "evolve additively only (added nullable columns), never type "
    "changes -- the contract this query pins.  Both generations are "
    "key-bounded so output is O(1) in scale factor; the two "
    "generations are written once per fixture content "
    "(sources.readers.fixture_artifact).",
)
def rel_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import fixture_artifact

    def write_generations(tmp: str) -> None:
        o = load_table(spark, sf_dir, "orders")
        o.where(F.col("o_orderkey") < 1000).select(
            "o_orderkey", "o_totalprice"
        ).write.parquet(f"{tmp}/gen1")
        o.where(
            (F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000)
        ).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        ).write.parquet(f"{tmp}/gen2")

    dest = fixture_artifact(sf_dir, "orders", "kmrc_schevo", write_generations)
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{dest}/gen1", f"{dest}/gen2"
    )
    return merged.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        F.col("o_totalprice").alias("total_price"),
        F.col("o_orderpriority").alias("priority"),
    ).orderBy("o_orderkey")


# --- Bucketed (pre-shuffled) co-located join -----------------------------------

# The bucketing write IS the point of the query -- paying the join
# shuffle once at write time -- but paying it once per SESSION, not
# once per invocation, is exactly how a production estate uses it.
# The table names live in one fixture_memo slot keyed on BOTH source
# fixtures (r10 review: a lineitem-only key would serve stale bucketed
# orders after an in-place orders.parquet rewrite), so a new session
# (fresh in-memory catalog) or a regenerated fixture rewrites.
def _bucketed_join_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    import hashlib

    from ..sources.readers import fixture_memo

    sfx = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    t_orders, t_lineitem = f"kmrc_bj_orders_{sfx}", f"kmrc_bj_lineitem_{sfx}"

    def write() -> tuple[str, str]:
        # The warehouse DIRECTORY outlives the in-memory catalog: a
        # table location left by a previous session makes saveAsTable
        # fail with LOCATION_ALREADY_EXISTS even though the catalog has
        # no entry -- drop both the entry and any stale location first.
        import os
        import shutil
        from urllib.parse import urlparse

        from ..sources.writers import write_bucketed_table

        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        for t in (t_orders, t_lineitem):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
        write_bucketed_table(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderpriority"
            ),
            t_orders,
            "o_orderkey",
            num_buckets=8,
        )
        write_bucketed_table(
            load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_quantity", "l_extendedprice"
            ),
            t_lineitem,
            "l_orderkey",
            num_buckets=8,
        )
        return t_orders, t_lineitem

    return fixture_memo(
        spark, sf_dir, ("orders", "lineitem"), "bucketed_join", write
    )


@query(
    "rel_bucketed_join",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_price_cents
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
    doc="Bucketed co-located fact-to-fact join: orders and lineitem are "
    "written as 8-bucket hash-clustered catalog tables on the join "
    "key (sources.writers.write_bucketed_table -- one file per "
    "bucket, sortBy pre-sorted), then joined WITHOUT any join-side "
    "Exchange: matching bucket specs mean sort-merge join reads "
    "co-located bucket files directly, the shuffle both sides would "
    "pay per-run having been paid ONCE at write time.  At 100 TB this "
    "is the single biggest repeated-join lever there is -- the only "
    "Exchange left in the whole plan is the 5-group final aggregate "
    "(asserted in tests/test_bucketing.py: exactly one Exchange, one "
    "SortMergeJoin, no BroadcastExchange -- the merge hint keeps the "
    "planner from broadcasting the small-SF dimension side, which "
    "would hide the bucketing).  The bucket write is memoized per "
    "(session, fixture) -- paying the layout cost once per estate, "
    "not per query, is the production pattern.  Quantities and cents "
    "aggregate as exact integers (pos_cents contract); l_quantity is "
    "integral in TPC-H so the bigint cast is lossless in both "
    "engines.",
)
def rel_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t_orders, t_lineitem = _bucketed_join_tables(spark, sf_dir)
    o = spark.table(t_orders).hint("merge")
    li = spark.table(t_lineitem).hint("merge")
    joined = o.join(li, o.o_orderkey == li.l_orderkey)
    return (
        joined.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.sum(pos_cents("l_extendedprice")).alias("sum_price_cents"),
        )
        .orderBy("priority")
    )


# --- Z-order clustered layout: multi-column file skipping ----------------------

@query(
    "rel_zorder_pruning",
    oracle="""
    WITH b AS (
        SELECT min(l_orderkey) AS klo, max(l_orderkey) AS khi,
               min(l_partkey)  AS plo, max(l_partkey)  AS phi
        FROM lineitem
    )
    SELECT l_returnflag AS returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_price_cents,
           TRUE AS clustered_files_skipped
    FROM lineitem, b
    WHERE l_orderkey >= CAST(ceil(b.klo + 0.25 * (b.khi - b.klo)) AS BIGINT)
      AND l_orderkey <  CAST(ceil(b.klo + 0.50 * (b.khi - b.klo)) AS BIGINT)
      AND l_partkey  >= CAST(ceil(b.plo + 0.25 * (b.phi - b.plo)) AS BIGINT)
      AND l_partkey  <  CAST(ceil(b.plo + 0.50 * (b.phi - b.plo)) AS BIGINT)
    GROUP BY 1 ORDER BY 1
    """,
    doc="Z-ORDER clustered layout as a driver-gated query (the "
    "multi-column file-skipping lever: Delta OPTIMIZE ZORDER BY / "
    "liquid clustering): lineitem is rewritten tiled by the Morton "
    "interleave of (l_orderkey, l_partkey) "
    "(functions.layout.write_zorder_clustered, 16 files, a "
    "sources.readers.fixture_artifact so the layout is paid once per "
    "fixture), then a 2-D box predicate (the middle quarter of BOTH "
    "key domains) runs against the clustered copy.  The hash checks "
    "content parity with the plain-source oracle (clustering is a "
    "pure rewrite), and the claim column pins the LAYOUT property: "
    "the matching rows came from fewer than half of the files "
    "(distinct input_file_name() vs the dir listing) -- on an "
    "unclustered or single-column-range layout a 2-D box touches "
    "nearly every file (tests/test_layout.py measures per-file "
    "min/max spans directly).  At 100 TB this is the difference "
    "between scanning ~1/16 of the corpus and scanning all of it "
    "for every multi-dimension slice; footer row-group pruning "
    "composes with it (PushedFilters reach the scan -- the bounds "
    "are CEIL'd to BIGINT before comparing, because a double "
    "literal would cast the column and kill pushdown entirely; "
    "caught by the plan test).  Box bounds are ceil of "
    "quarter-fractions of integer min/max -- the fraction is an "
    "exact double and ceil of it exact, so the integer bounds are "
    "bit-identical in both engines; for integer x, x >= a iff "
    "x >= ceil(a), so the spelling is also membership-equivalent "
    "to the raw fractional box; open on the right so boundary rows "
    "land on one side only.  All aggregates exact integers "
    "(pos_cents contract).",
)
def rel_zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import os

    from ..functions.layout import write_zorder_clustered
    from ..sources.readers import fixture_artifact

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_returnflag", "l_quantity",
        "l_extendedprice",
    )
    bounds = li.agg(
        F.min("l_orderkey"), F.max("l_orderkey"),
        F.min("l_partkey"), F.max("l_partkey"),
    ).collect()[0]
    if any(v is None for v in bounds):
        # empty source OR an all-NULL key column (r10 second review:
        # NULL plo/phi make the oracle's box comparisons NULL, which
        # filters every row): nothing to cluster, typed empty
        # (matches the oracle's empty GROUP BY result)
        from pyspark.sql.types import (
            BooleanType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        return spark.createDataFrame(
            [],
            StructType(
                [
                    StructField("returnflag", StringType(), True),
                    StructField("n", LongType(), False),
                    StructField("sum_qty", LongType(), True),
                    StructField("sum_price_cents", LongType(), True),
                    StructField(
                        "clustered_files_skipped", BooleanType(), False
                    ),
                ]
            ),
        )
    import math

    klo, khi, plo, phi = (float(v) for v in bounds)
    dest = fixture_artifact(
        sf_dir,
        "lineitem",
        "kmrc_zorder",
        # reuse the bounds just collected -- write_zorder_clustered
        # would otherwise re-scan the source for the same min/max
        # (r10 second review)
        lambda tmp: write_zorder_clustered(
            li, tmp, "l_orderkey", "l_partkey", num_files=16,
            ranges=[(klo, khi), (plo, phi)],
        ),
    )
    clustered = spark.read.parquet(dest)
    # integer bounds (ceil of the exact quarter-fraction doubles):
    # bigint-vs-bigint comparisons stay pushdown-eligible, where a
    # double literal would cast the column and prune nothing
    k0, k1 = (math.ceil(klo + f * (khi - klo)) for f in (0.25, 0.50))
    p0, p1 = (math.ceil(plo + f * (phi - plo)) for f in (0.25, 0.50))
    box = (
        (F.col("l_orderkey") >= F.lit(k0))
        & (F.col("l_orderkey") < F.lit(k1))
        & (F.col("l_partkey") >= F.lit(p0))
        & (F.col("l_partkey") < F.lit(p1))
    )
    hits = clustered.where(box)
    n_files_total = len(glob.glob(os.path.join(dest, "*.parquet")))
    # project the (nondeterministic) file name BEFORE aggregating --
    # ANSI analysis rejects it inside an aggregate argument
    n_files_hit = (
        hits.select(F.input_file_name().alias("f")).distinct().count()
    )  # <=16-row distinct: the layout-locality claim
    return (
        hits.groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.sum(pos_cents("l_extendedprice")).alias("sum_price_cents"),
        )
        .withColumn(
            "clustered_files_skipped",
            F.lit(bool(n_files_hit * 2 < n_files_total)),
        )
        .orderBy("returnflag")
    )
