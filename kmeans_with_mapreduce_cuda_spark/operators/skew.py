"""Skew-resilient operators: salted two-stage top-k, a 2-D skyline and a
hot-key cap.

AQE's skew-join handling covers joins; a per-key operator whose key
distribution is pathological (one key = 50% of 100 TB) still funnels
one task.  Salting splits each key into sub-keys, works on each, then
combines -- two small shuffles instead of one hot one.  This is the
Spark-native generalization of the reference's per-cluster grid sizing
("Loading Balancing", kmeans_mapreduce_core.cu:195-207 + README.md:55-58):
give heavy keys proportionally more tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_topk(
    df: DataFrame,
    part_col: str,
    order_cols: list,
    k: int,
    salt_on: str,
    n_salt: int = 16,
) -> DataFrame:
    """Skew-safe two-phase top-k per ``part_col``, ranked in ``rank``:
    top-k is MERGEABLE (unlike general window functions), so stage 1
    takes a local top-k within (key, salt) -- spreading a hot key over
    ``n_salt`` tasks -- and stage 2 re-ranks only the <= k*n_salt
    survivors per key.  The
    second window's input is bounded regardless of input skew, where a
    plain one-window formulation sorts the hottest key's entire
    partition on one task.

    ``order_cols`` must be a TOTAL order (include a unique tiebreaker)
    or the result is ambiguous; with a total order the output is
    provably identical to the unsalted window.  ``salt_on`` names the
    column hashed into the salt -- REQUIRED (a Column in order_cols
    carries sort direction and is not a resolvable name to hash); any
    per-row-varying column works, correctness never depends on it.
    Internal columns use the ``__kmrc_`` prefix (here and in
    :func:`skyline_2d`) so user columns named ``_salt``/``_rn`` are
    never silently clobbered and dropped (code-review r10).
    """
    from pyspark.sql.window import Window

    salted = df.withColumn(
        "__kmrc_salt", F.pmod(F.xxhash64(salt_on), F.lit(n_salt)).cast("int")
    )
    w1 = Window.partitionBy(part_col, "__kmrc_salt").orderBy(*order_cols)
    local = (
        salted.withColumn("__kmrc_rn", F.row_number().over(w1))
        .where(F.col("__kmrc_rn") <= k)
        .drop("__kmrc_rn", "__kmrc_salt")
    )
    w2 = Window.partitionBy(part_col).orderBy(*order_cols)
    return local.withColumn(
        "rank", F.row_number().over(w2).cast("bigint")
    ).where(F.col("rank") <= k)


def skyline_2d(
    df: DataFrame,
    x: str,
    y: str,
    salt_on: str,
    n_salt: int = 16,
) -> DataFrame:
    """Pareto frontier (skyline) maximizing ``x`` AND ``y``: keep rows
    no other row strictly dominates (>= on both axes, > on at least
    one).  Same two-phase shape as :func:`salted_topk`, because the
    skyline is MERGEABLE too: skyline(S) == skyline(union of local
    skylines) -- every globally dominated point has a MAXIMAL
    dominator, which is itself undominated, hence survives its own
    bucket's local pass and eliminates the point in the global pass;
    conversely a global-frontier point is undominated in any subset
    containing it.  Stage 1 prunes within xxhash64 salt buckets (any
    per-row column works; correctness never depends on the split),
    stage 2 runs the same filter over the survivors only, so the
    single-partition global window touches |local frontiers| rows, not
    the corpus.  (Frontier size is data-dependent -- anticorrelated
    axes inflate it -- but local pruning already removed everything a
    bucket-mate dominates.)

    Per-bucket filter, all window arithmetic: a row survives iff
    ``y`` exceeds the best ``y`` among STRICTLY larger ``x`` and ties
    the best ``y`` within its own ``x`` -- O(n log n) against the
    textbook NOT EXISTS quadratic (which the oracle states as the
    independent semantic spec).  "Strictly larger x" is expressed as a
    RANGE frame ``1 FOLLOWING .. UNBOUNDED`` over ``dense_rank() ORDER
    BY x`` rather than over ``x`` itself: a numeric +1 offset on the
    raw axis only means "strictly larger" for integer values (a
    fractional x' in (x, x+1) would escape the frame and let dominated
    rows survive), while the rank axis is consecutive integers by
    construction, so rank+1 IS the next distinct ``x`` for any numeric
    type.  Exact duplicates of a frontier (x, y) all survive, both
    here and under strict dominance.
    """
    from pyspark.sql.window import Window

    def frontier(d: DataFrame, part_cols: list[str]) -> DataFrame:
        wrk = Window.partitionBy(*part_cols).orderBy(F.col(x).asc())
        wx = (
            Window.partitionBy(*part_cols)
            .orderBy(F.col("__kmrc_xrk").asc())
            .rangeBetween(1, Window.unboundedFollowing)
        )
        weq = Window.partitionBy(*(part_cols + [x]))
        return (
            d.withColumn("__kmrc_xrk", F.dense_rank().over(wrk))
            .withColumn("__kmrc_best_gt", F.max(y).over(wx))
            .withColumn("__kmrc_best_eq", F.max(y).over(weq))
            .where(
                (
                    F.col("__kmrc_best_gt").isNull()
                    | (F.col(y) > F.col("__kmrc_best_gt"))
                )
                & (F.col(y) == F.col("__kmrc_best_eq"))
            )
            .drop("__kmrc_xrk", "__kmrc_best_gt", "__kmrc_best_eq")
        )

    salted = df.withColumn(
        "__kmrc_salt", F.pmod(F.xxhash64(salt_on), F.lit(n_salt)).cast("int")
    )
    local = frontier(salted, ["__kmrc_salt"]).drop("__kmrc_salt")
    return frontier(local, [])


def cap_hot_keys(
    df: DataFrame, key: str, max_n: int | None, n_col: str = "n"
) -> tuple[DataFrame, DataFrame]:
    """Drop the keys too hot to pair: ``(kept, capped)``, where
    ``kept`` is ``df`` without the rows of every ``key`` value held by
    more than ``max_n`` rows, and ``capped`` lists those values as
    ``(key, n_col)`` rows with their counts.

    This is the candidate-bounding step of every within-key pairing
    (LSH bands, blocking keys, k-means cells): pair output is quadratic
    in a key's size, so one degenerate key would pin the whole pair
    stage on one task, and AQE can split an oversized join INPUT but
    not an oversized join OUTPUT.  The hot-key list is tiny at any
    scale, so it is removed by a broadcast left-anti join.  ``capped``
    is data, never a silent drop: callers report it or route its keys
    to a strategy that fits them.  ``max_n=None`` keeps every row and
    ``capped`` is then empty.

    ``broadcast(capped)`` is built from ``df`` before the pair stage
    can start, so when ``df`` is a cold cache the count is the one pass
    that fills it (the ordering ``dedup.minhash_lsh_pairs`` relies
    on)."""
    sizes = df.groupBy(key).agg(F.count(F.lit(1)).alias(n_col))
    if max_n is None:
        return df, sizes.where(F.lit(False))
    capped = sizes.where(F.col(n_col) > max_n)
    return df.join(F.broadcast(capped.select(key)), key, "left_anti"), capped
