#!/usr/bin/env python
"""Headline benchmark: runs the engine's flagship operators at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Headline queries:
- kmeans_df      : pure-DataFrame Lloyd's, k=15, 10 iterations, ~600k 2-D
                   points (the reference's whole pipeline at 60x its N;
                   BASELINE.md bench point).
- kmeans_mllib   : MLlib KMeans over the 64-dim embeddings table.
- tpch_q1        : filter + grouped multi-aggregate (scan-bound).
- join_agg       : orders x lineitem shuffle join + agg.
- join_chain_q5  : six-table star join (broadcast dims + fact shuffles).
- window_topk    : partitioned window top-k.
- dedup_exact    : content-hash dedup over documents.
- ngram_jaccard  : shingle-overlap near-dup pairs (exact, doc_id<300).
- minhash_lsh    : MinHash+LSH banding near-dup candidates (full table).
- sim_topk       : brute-force cosine top-10 over embeddings.
- json_variant   : VARIANT parse + typed extraction + agg over events.
- token_packing  : running-sum sequence packing over documents.
- dedup_semantic : K-Means-cell-clustered embedding cosine near-dup
                   (cell-routed, never all-pairs).
- dedup_components: near-dup pairs -> connected components -> cluster ids.
- sim_int8       : int8-quantized cosine top-k serving path.
- text_bm25      : BM25 top-10 retrieval, explode-free tf + broadcast
                   corpus stats.
- dedup_survivors_chain: the full SemDeDup chain end-to-end -- stage-1+2
                   build + components + survivor election (the build
                   memo is deliberately cold each sample, so this
                   measures the chain's true per-run cost).
- stream_upsert  : Structured Streaming availableNow drain -- per-key
                   latest-event upsert via foreachBatch merge.
- scan_hash_chain: parallel per-row compute over lineitem, the key
                   that shows core scaling.

The key set grew over rounds, so the headline TOTAL is only comparable
per key across those boundaries (BASELINE.md records when each key
was added and its bands).

calibration_s is NOT a query and is excluded from the total: a
fixed-work, IO-free aggregate over a cached in-memory range (same
work at every SF) timed inside the same interleaved repetitions.  It
is the same-run yardstick for host contention (r9 verdict item 4):
per-key ratio_to_calibration replaces loadavg archaeology -- if a key
and the calibration inflate together, the host moved, not the plan.
"""

from __future__ import annotations

import json
import os
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    from kmeans_with_mapreduce_cuda_spark import get_spark
    from kmeans_with_mapreduce_cuda_spark.operators.kmeans import lloyd_2d
    from kmeans_with_mapreduce_cuda_spark.operators.kmeans_mllib import fit_kmeans
    from kmeans_with_mapreduce_cuda_spark.plans import REGISTRY
    from kmeans_with_mapreduce_cuda_spark.sources import load_table, points_xy

    spark = get_spark(app_name="bench")
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]

    # Warm the JVM/file cache with a trivial count (not reported).
    # 8 cache partitions: measured sweet spot for the iteration loop on
    # local[32] (3 file partitions underuse cores; 32 is task-overhead).
    points = points_xy(spark, SF_DIR).repartition(8).cache()
    n_points = points.count()

    init15 = [
        (float(2 + 3 * i), float(4000 + 6500 * i)) for i in range(15)
    ]  # fixed spread across the (quantity, extendedprice) plane

    emb = load_table(spark, SF_DIR, "embeddings").cache()
    emb.count()

    # BASELINE.md parity point: the reference's own workload shape
    # (birch1, first 10k rows, k=15).  20 iterations timed; the reference
    # does 999 at 1.33 ms/iter on a GPU -- Spark's fixed per-job overhead
    # dominates at N=10^4, which is why the headline is sf0.1 above.
    from kmeans_with_mapreduce_cuda_spark.sources import read_points_text

    birch_path = "/root/reference/data/birch1.txt"
    # keys the host cannot run, with the reason, echoed in the JSON line
    # so a missing key is never mistaken for a dropped one
    skipped: dict[str, str] = {}
    if not os.path.exists(birch_path):
        skipped["kmeans_birch10k_20iter"] = f"{birch_path} not present"
    else:
        birch = read_points_text(spark, birch_path, limit=10_000).cache()
        birch.count()
    init_b = [
        (float(100_000 + 60_000 * i), float(100_000 + 55_000 * (i % 4)))
        for i in range(15)
    ]

    # Fixed-work calibration (r9 verdict item 4): an IO-free, SF-free
    # aggregate over a cached 144M x 3-bigint in-memory relation
    # (~3.5 GB; quiet-host floor ~0.55 s, see BASELINE.md) -- exercises
    # the same codegen + memory-bandwidth path the real keys saturate,
    # identical work every round.  Timed inside
    # the interleaved reps so it samples host state throughout the run;
    # EXCLUDED from the headline total (it is a yardstick, not a query).
    from pyspark.sql import functions as F

    calib_df = (
        spark.range(0, 144_000_000, 1, 32)
        .select(
            "id",
            F.xxhash64("id").alias("h1"),
            F.xxhash64("id", "id").alias("h2"),
        )
        .cache()
    )
    calib_df.count()

    def run_calibration():
        # bit_xor, not sum: the session pins ANSI mode and a long sum
        # of 144M hashes overflows deterministically
        calib_df.select(
            F.expr("bit_xor(xxhash64(id, h1, h2))").alias("s")
        ).collect()

    def run_registry(name: str):
        # exhaust the result without collecting rows to the driver
        REGISTRY[name].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()

    def registry_entry(key: str, name: str) -> tuple[str, object, int]:
        return (key, lambda: run_registry(name), 1)

    # A key whose cost is DOMINATED by parallel per-row compute, so the
    # driver's 8c-vs-32c scaling block has a key that can demonstrate
    # core scaling at sf0.1 at all.  Every other key is
    # fixed-job-latency-bound at this SF (sub-second jobs, k-row
    # shuffles), so their 32c/8c ratios sit at ~1 regardless of whether
    # the engine honors $SPARK_GRAFT_CPUS.  This key reads the
    # SF-scaled lineitem fixture fresh each sample (spread_scan
    # parallelizes the single-row-group file), explodes each key 32
    # ways and runs a 64-deep xxhash64 chain per exploded row (2048
    # hashes/source row, pure long->long codegen -- allocation-free so
    # the parallel region is CPU, not GC, and the explode form reaches
    # JIT steady state within one sample, unlike a deep md5 expression
    # chain), then bit_xor-folds to one row map-side.  No caching, no
    # state: work is recomputed from the parquet input per invocation
    # like every key.
    def run_scan_hash_chain():
        from kmeans_with_mapreduce_cuda_spark.sources.readers import (
            spread_scan,
        )

        li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey")
        base = spread_scan(li).select(F.col("l_orderkey").alias("k"))
        h = F.xxhash64(F.col("k"), F.col("i"))
        for _ in range(63):
            h = F.xxhash64(h, F.col("k"))
        base.select(
            F.explode(F.sequence(F.lit(0), F.lit(31))).alias("i"), "k"
        ).select(h.alias("h")).select(
            F.expr("bit_xor(h)").alias("s")
        ).collect()

    CALIB_KEY = "calibration"
    # (bench key, runner, samples-per-repetition), in output order.  The
    # iterative kmeans entries take 2 back-to-back samples per rep --
    # their 10-20 dependent jobs INTEGRATE host-load noise over several
    # seconds instead of averaging it out, so they need more draws than
    # the sub-second one-job queries for the minimum to reach steady
    # state.
    entries: list[tuple[str, object, int]] = [
        (
            "kmeans_df",
            lambda: lloyd_2d(points, init15, max_iter=10, tol=0.0),
            2,
        ),
        (
            "kmeans_mllib",
            lambda: fit_kmeans(emb, k=15, max_iter=10, tol=0.0),
            2,
        ),
        (
            "kmeans_birch10k_20iter",
            lambda: lloyd_2d(birch, init_b, max_iter=20, tol=0.0),
            2,
        ),
        registry_entry("tpch_q1", "rel_filter_agg"),
        registry_entry("join_agg", "rel_join_shuffle"),
        registry_entry("join_chain_q5", "rel_join_chain_q5"),
        registry_entry("window_topk", "rel_window_topk"),
        registry_entry("dedup_exact", "dedup_exact_keep"),
        registry_entry("ngram_jaccard", "dedup_ngram_jaccard"),
        registry_entry("minhash_lsh", "dedup_minhash_lsh"),
        registry_entry("sim_topk", "sim_topk_bruteforce"),
        registry_entry("json_variant", "rel_json_variant"),
        registry_entry("token_packing", "pipe_token_packing"),
        registry_entry("dedup_semantic", "dedup_semantic_clustered"),
        registry_entry("dedup_components", "dedup_components"),
        registry_entry("sim_int8", "sim_int8_topk"),
        registry_entry("text_bm25", "text_bm25_topk"),
        registry_entry("dedup_survivors_chain", "dedup_semantic_survivors"),
        registry_entry("stream_upsert", "stream_upsert_latest"),
        ("scan_hash_chain", run_scan_hash_chain, 1),
        (CALIB_KEY, run_calibration, 1),
    ]
    entries = [e for e in entries if e[0] not in skipped]

    # Interleaved whole-suite repetitions, per-query minima (round-3
    # verdict item 2): a cold first run on a busy host recorded 7x noise
    # as a regression under the old per-query best-of-2.  Repetition 1 of
    # the whole suite is the warm-up (codegen/JIT/file-cache); each query
    # is then timed again in repetitions 2..N with the rest of the suite
    # between consecutive runs of the same query, so a host-load spike
    # hits different queries in different repetitions instead of both
    # runs of one query.  The reported number is the per-query minimum --
    # honest steady-state cost, single-shot swings on this box reach 4x.
    REPS = 3
    # Host-state telemetry (round-7 verdict item 3): three rounds in a
    # row the driver record and the quiet-host floor diverged by >15%
    # with no plan change, adjudicated each time from NOTES archaeology.
    # Record enough in the JSON line to adjudicate directly: load
    # average at start/end (>~1.0 on this 32-core box means a co-tenant
    # is competing for the same cores the suite saturates), every
    # repetition's timing per key (the min/median spread IS the noise),
    # and a cold flag for repetition 1 (codegen/JIT/file-cache warmup --
    # never comparable round-over-round).
    load_start = os.getloadavg()[0]
    # Raw (unrounded) samples drive the min/median math; rounding
    # happens only at JSON emission.  The first REPETITION's samples
    # (all `samples` draws of it, not just the first draw) are the
    # cold set -- codegen/JIT/file-cache warmup, never comparable
    # round-over-round.
    raw_by_key: dict[str, list[float]] = {}
    cold_n: dict[str, int] = {}
    for _rep in range(REPS):
        for name, fn, samples in entries:
            cold_n[name] = samples
            for _ in range(samples):
                t0 = time.perf_counter()
                fn()
                raw_by_key.setdefault(name, []).append(
                    time.perf_counter() - t0
                )
    load_end = os.getloadavg()[0]

    from statistics import median

    calib_s = min(raw_by_key[CALIB_KEY])
    timings = {
        k: round(min(v), 3)
        for k, v in raw_by_key.items()
        if k != CALIB_KEY
    }
    total = round(
        sum(min(v) for k, v in raw_by_key.items() if k != CALIB_KEY), 3
    )
    # noise_ratio: median warm sample / min sample, averaged over keys,
    # both UNROUNDED (an advice finding: a 3-decimal denominator
    # overstates the ratio for fast keys).  ~1.0 = quiet host; >1.2 =
    # the minima are rescuing real contention.  Sub-millisecond keys
    # are excluded rather than amplifying scheduler jitter; if every
    # key were that fast the ratio is moot.
    warm = {k: v[cold_n[k]:] or v for k, v in raw_by_key.items()}
    ratios = [
        median(w) / m
        for k, w in warm.items()
        if (m := min(raw_by_key[k])) > 1e-3
    ]
    noise = round(sum(ratios) / len(ratios), 3) if ratios else 1.0
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "n_points": n_points,
                "best_of": REPS,
                # the resolved core count (r10 verdict item 2): makes the
                # $SPARK_GRAFT_CPUS contract visible in the output line
                # itself, so a scaling run is self-describing
                "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
                "load_avg_start": round(load_start, 2),
                "load_avg_end": round(load_end, 2),
                "noise_ratio": noise,
                "skipped": skipped,
                "calibration_s": round(calib_s, 3),
                # per-key minimum / calibration minimum: the same-run
                # contention-normalized cost.  Compare THESE round-over-
                # round; raw seconds only confirm the host state.
                "ratio_to_calibration": {
                    k: round(min(raw_by_key[k]) / calib_s, 2)
                    for k in timings
                },
                "samples": {
                    k: {
                        "cold": [round(x, 3) for x in v[: cold_n[k]]],
                        "warm": [round(x, 3) for x in v[cold_n[k]:]],
                    }
                    for k, v in raw_by_key.items()
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
