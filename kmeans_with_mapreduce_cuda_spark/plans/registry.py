"""Query registry: the single source of truth wiring SURVEY.md §2's
operator inventory to (a) a PySpark implementation, (b) an ANSI-SQL
DuckDB oracle, (c) the driver contract in ``__spark_entry__.py`` and
(d) ``bench.py``.

Determinism discipline (SURVEY.md §7 "hard parts"):
- no RNG inside checked queries -- seeding uses md5-order (engine-portable);
- argmin ties break to the lowest cluster_id in both engines;
- float discipline is two-tier: a value produced by a SHORT chain of
  IEEE ops on exact integers (one multiply + one divide, a ratio of
  counts) is emitted UNROUNDED -- the double is bit-identical across
  engines by construction, while round() itself diverges on
  decimal-half ties (0.0639375 rounds up in Spark, down in DuckDB).
  Only genuinely engine-divergent floats -- multi-term sums (avg/sum
  aggregates, dot products), stddev, ln -- are rounded (ROUND_CENT
  decimals for centroid means, per-query elsewhere) in BOTH engines so
  the driver's value-hash agrees;
- every aggregate/computed column is aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

#: decimals kept on centroid means in checked queries (both engines).
ROUND_CENT = 4

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    doc: str = ""


REGISTRY: dict[str, Query] = {}

#: Callbacks invoked with the query NAME at the start of every registered
#: query invocation.  A fixture_memo slot (the SemDeDup build) registers
#: here to bound its lifetime by "queries since last use", dropping the
#: slot, instead of only by key change / last-consumer -- a partial sweep that
#: runs one chain consumer then moves on must not carry corpus-scale
#: persisted intermediates through the rest of the session (r10 advice).
RUN_HOOKS: list[Callable[[str], None]] = []


def query(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator registering a (spark, sf_dir) -> DataFrame callable."""

    def wrap(fn: QueryFn) -> QueryFn:
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            for hook in RUN_HOOKS:
                hook(name)
            return fn(spark, sf_dir)

        run.__name__ = fn.__name__
        run.__doc__ = fn.__doc__
        if name in REGISTRY:
            # a copy-pasted @query name would silently REPLACE the
            # earlier query: the shadowed one drops out of the gate,
            # bench, and driver contract with no failure anywhere
            # (code-review r10)
            raise ValueError(f"duplicate registry query name: {name!r}")
        REGISTRY[name] = Query(name=name, fn=run, oracle=oracle, doc=doc or fn.__doc__ or "")
        return fn

    return wrap


# ---------------------------------------------------------------------------
# Shared literals (k=8 fixed initial centroids on the lineitem
# (quantity, extendedprice) plane -- FIXTURES.md §2's deterministic seed).
# ---------------------------------------------------------------------------

INIT_CENTROIDS_2D: list[tuple[float, float]] = [
    (5.0, 20000.0),
    (15.0, 40000.0),
    (25.0, 60000.0),
    (35.0, 80000.0),
    (45.0, 100000.0),
    (10.0, 90000.0),
    (30.0, 30000.0),
    (48.0, 55000.0),
]

K2D = len(INIT_CENTROIDS_2D)


def cents_sql(cents: Sequence[tuple[float, float]]) -> str:
    """Literal centroid relation (cluster_id, cx, cy) as a SQL fragment."""
    rows = " UNION ALL ".join(
        f"SELECT CAST({i} AS INTEGER) AS cluster_id, "
        f"CAST({cx!r} AS DOUBLE) AS cx, CAST({cy!r} AS DOUBLE) AS cy"
        for i, (cx, cy) in enumerate(cents)
    )
    return f"({rows})"


POINTS_SQL = (
    "SELECT CAST(ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber, "
    "l_quantity, l_extendedprice) AS BIGINT) AS id, "
    "CAST(l_quantity AS DOUBLE) AS x, "
    "CAST(l_extendedprice AS DOUBLE) AS y FROM lineitem"
)


def assign_sql(points_cte: str = "points", cents_cte: str = "cents") -> str:
    """SQL argmin assignment: cross join + row_number ordered by
    (dist, cluster_id) -- the reference's ties-to-lowest-id semantics
    (strict < at kmeans_mapreduce_core.cu:27)."""
    return f"""
        SELECT id, x, y, cluster_id FROM (
            SELECT p.id, p.x, p.y, c.cluster_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.id
                       ORDER BY (p.x - c.cx) * (p.x - c.cx)
                              + (p.y - c.cy) * (p.y - c.cy), c.cluster_id
                   ) AS rn
            FROM {points_cte} p CROSS JOIN {cents_cte} c
        ) WHERE rn = 1
    """
