"""Iterative graph ranking on DataFrames: integer-exact PageRank.

Companion to :func:`..operators.dedup.connected_components` (label
propagation): where CC answers "which docs are the same cluster",
PageRank answers "which nodes matter most" -- the standard importance
prior for crawl frontiers, citation-weighted corpus sampling, and
seed selection in training-data pipelines.

The reference engine (kmeans_mapreduce_core.cu:237-259) demonstrates
the iterate-until-N-rounds dataflow on device-resident data; this
module is the same fixed-iteration loop shape expressed over
DataFrames, with the per-round D2H boundary being nothing at all
(ranks stay distributed; only the final top-k crosses to the driver).

Determinism contract: every quantity is an exact BIGINT.  Rank mass
is scaled by ``SCALE`` (1e12) and every division is integer
floor division in a fixed documented order, so two independent
engines (Spark and the DuckDB oracle) produce bit-identical ranks --
no float summation-order hazard, ever.  The probability
interpretation is ``rank_scaled / SCALE``; truncation loses < 1e-12
of mass per division, irrelevant for ranking and worth it for exact
cross-engine checkability (same trade as the cents-based money
aggregates, see plans/registry.py float policy).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _CheckpointHandle, _release_local_checkpoint

#: rank-mass scale: 1.0 of probability mass == 10**12.
SCALE = 10**12

#: PageRank damping in percent and default round count; the rel_pagerank
#: query and its DuckDB oracle read both from here.
DAMPING_PCT = 85
PAGERANK_ITERS = 3

#: bounded-BFS rounds of the rel_graph_bfs query and its oracle.
BFS_ROUNDS = 3


class PageRanks(NamedTuple):
    """Result of :func:`pagerank_int`.

    ranks   (node, rank_scaled) DataFrame; ``rank_scaled / SCALE`` is
            the PageRank probability
    deps    release handles the caller must ``unpersist()`` after
            materializing ``ranks`` (same contract as
            ``dedup.Components.deps``)
    """

    ranks: DataFrame
    deps: list


def pagerank_int(
    edges: DataFrame,
    iters: int = PAGERANK_ITERS,
) -> PageRanks:
    """Fixed-iteration PageRank with exact integer arithmetic.

    ``edges`` is a directed (src, dst) edge list.  Node set = DISTINCT
    ``src``; every node of interest must therefore have >= 1 out-edge
    (symmetrize the graph or add self-loops first -- the caller's
    job, and what the gate query does).  Per iteration::

        contrib(u)  = rank(u) DIV outdeg(u)
        rank'(v)    = base + (DAMPING_PCT * SUM contrib over in-edges) DIV 100
        base        = ((100 - DAMPING_PCT) * (SCALE DIV n_nodes)) DIV 100

    All operations are BIGINT; the division order above IS the
    cross-engine contract (the DuckDB oracle states the same
    expressions verbatim).

    Scale judgment (the 100 TB shape): this is the Pregel dataflow --
    per round ONE shuffle join (ranks x edges on src; the edge list is
    pre-joined with out-degrees once and persisted, so each round
    re-shuffles only the |V|-row rank table against it) and ONE
    aggregation (contributions by dst, with map-side partial sums
    combining before the shuffle).  Rank state never visits the
    driver; the only D2H is the caller's final top-k.  Lineage is cut
    per round with ``localCheckpoint(eager=True)`` -- the
    connected_components lesson: persist() caches bytes but analysis
    still walks the whole plan tree, which grows per round.

    Reference parity: the fixed-``iters`` loop with no convergence
    test mirrors the reference's ITERATIONS=999 contract
    (kmeans_mapreduce_core.cu:237-259, config.cuh:11).
    """
    e = edges.select("src", "dst")
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # Pre-attach out-degrees once; every round re-uses this frame.
    ed = e.join(deg, "src").persist()
    n = deg.count()  # 1-row driver boundary, also materializes `ed`'s build
    if n == 0:
        ed.unpersist()
        raise ValueError("pagerank_int: edge list is empty (no nodes)")
    spn = SCALE // n
    base = (100 - DAMPING_PCT) * spn // 100

    ranks = deg.select(
        F.col("src").alias("node"),
        F.lit(spn).cast("bigint").alias("rank_scaled"),
    ).localCheckpoint(eager=True)

    try:
        for _ in range(iters):
            contribs = (
                ed.join(ranks, ed.src == ranks.node)
                .select(
                    F.col("dst").alias("node"),
                    F.expr("rank_scaled DIV outdeg").alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").alias("s"))
            )
            new = (
                ranks.select("node")
                .join(contribs, "node", "left")
                .select(
                    "node",
                    (
                        F.lit(base).cast("bigint")
                        + F.expr(f"({DAMPING_PCT} * coalesce(s, 0L)) DIV 100")
                    ).alias("rank_scaled"),
                )
                .localCheckpoint(eager=True)
            )
            _release_local_checkpoint(ranks)
            ranks = new
    except BaseException:
        # A mid-loop job failure propagates before deps is returned, so
        # the caller has no handle to release the degree-annotated edge
        # list or the current round's checkpoint blocks -- free them
        # here (the connected_components finally-discipline; on success
        # the caller releases via deps as before).
        ed.unpersist()
        _release_local_checkpoint(ranks)
        raise

    return PageRanks(ranks=ranks, deps=[ed, _CheckpointHandle(ranks)])


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
) -> PageRanks:
    """Bounded-hop BFS over a (src, dst) edge list: minimum hop count
    from the ``seeds`` node set (column ``node``),
    expanded for exactly ``BFS_ROUNDS`` rounds (nodes further than that
    stay absent -- the frontier semantics a crawl scheduler or
    blast-radius query wants).  Per round one shuffle join (edges x
    current distances) + one min-aggregate -- the same Pregel envelope
    as :func:`pagerank_int` with min(hops) instead of rank mass, and
    the same localCheckpoint lineage discipline.  All integers; with
    a deterministic edge/seed derivation the result is bit-exact, so
    an unrolled SQL oracle can hash-check it.  Returns
    ``PageRanks(ranks=<(node, hops)>, deps=...)`` reusing the release
    contract.
    """
    ed = edges.select("src", "dst").persist()
    dist = (
        seeds.select("node")
        .distinct()
        .withColumn("hops", F.lit(0).cast("bigint"))
        .localCheckpoint(eager=True)
    )
    try:
        for r in range(BFS_ROUNDS):
            # Expand only the FRONTIER (nodes first reached last round:
            # hops == r), not the whole reached set: a node with
            # hops < r already sent its (hops+1) messages in an earlier
            # round and min() can never be lowered by re-sending them.
            # Per-round join cost is O(|frontier| * avg-degree) instead
            # of O(|reached| * avg-degree) -- on a dense graph the final
            # round would otherwise redo all prior rounds' message
            # generation (code-review r10).
            frontier = dist.where(F.col("hops") == r)
            msgs = ed.join(frontier, ed.src == frontier.node).select(
                F.col("dst").alias("node"),
                (F.col("hops") + 1).alias("hops"),
            )
            new = (
                dist.select("node", "hops")
                .unionAll(msgs)
                .groupBy("node")
                .agg(F.min("hops").alias("hops"))
                .localCheckpoint(eager=True)
            )
            _release_local_checkpoint(dist)
            dist = new
    except BaseException:
        ed.unpersist()  # same failure-path release as pagerank_int
        _release_local_checkpoint(dist)
        raise
    return PageRanks(ranks=dist, deps=[ed, _CheckpointHandle(dist)])
