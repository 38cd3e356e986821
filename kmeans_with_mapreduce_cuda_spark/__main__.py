"""CLI driver: the Spark-first twin of the reference binary's main()
(kmeans_with_mapreduce-cuda.cu:27-137).

    python -m kmeans_with_mapreduce_cuda_spark data/birch1.txt \
        [--k 15] [--limit 10000] [--iters 999] [--tol 0] [--seed 42] [--save]

Same contract: read the first --limit rows of a whitespace 2-column
integer file, seed k centroids, run the MapReduce-style K-Means loop,
print ``Point: (x,y)`` per centroid plus the reference's three timing
spans (load+init / compute / total, kmeans_with_mapreduce-cuda.cu:131-137),
and with --save append the same lines to ``<input>.output``
(config.cuh:10).  Differences are the documented semantic fixes
(SURVEY.md §2.1): seeded sampling without replacement, float means,
optional tol-based convergence.
"""

from __future__ import annotations

import argparse
import time

from pyspark.sql import SparkSession


def _int_at_least(lo: int):
    """argparse ``type``: an int >= ``lo``; argparse names the flag in
    the error it prints."""

    def parse(text: str) -> int:
        try:
            v = int(text)
        except ValueError:
            raise argparse.ArgumentTypeError(f"invalid int value: {text!r}") from None
        if v < lo:
            raise argparse.ArgumentTypeError(f"must be >= {lo}, got {v}")
        return v

    return parse


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="kmeans_with_mapreduce_cuda_spark")
    p.add_argument("input", help="whitespace-separated 2-column integer text file")
    p.add_argument("--k", type=_int_at_least(1), default=15)  # NUM_OUTPUT, config.cuh:14
    p.add_argument("--limit", type=_int_at_least(1), default=10_000)  # NUM_INPUT, config.cuh:12
    p.add_argument("--iters", type=_int_at_least(0), default=999)  # ITERATIONS, config.cuh:11
    p.add_argument("--tol", type=float, default=0.0)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--save", action="store_true", help="append to <input>.output")
    p.add_argument(
        "--parity-ints",
        action="store_true",
        help="floor printed centroid coords exactly as the reference's "
        "uint64 floor-division means do (o13_sink_format semantics)",
    )
    p.add_argument(
        "--follow",
        metavar="OUT_DIR",
        help="after fitting, stream the input file through the "
        "points_text streaming source, score each point against the "
        "fitted centroids, and land (x, y, cluster_id) parquet under "
        "OUT_DIR (availableNow drain; offsets checkpoint under "
        "OUT_DIR/_checkpoint, so re-running after the file grows "
        "processes only the new lines, exactly once)",
    )
    return p


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> list[str]:
    """Run the CLI; returns the printed centroid lines (for tests)."""
    from .operators.kmeans import lloyd_2d, seed_centroids_2d
    from .sources.readers import read_points_text
    from .sources.writers import format_centroids

    args = build_parser().parse_args(argv)
    own_session = spark is None
    t_start = time.perf_counter()
    if own_session:
        from .session import get_spark

        spark = get_spark(app_name="kmeans-cli")

    t0 = time.perf_counter()
    pts = read_points_text(spark, args.input, limit=args.limit).cache()
    init = seed_centroids_2d(pts, k=args.k, seed=args.seed)
    t_load = time.perf_counter() - t0

    t0 = time.perf_counter()
    cents = lloyd_2d(pts, init, max_iter=args.iters, tol=args.tol)
    t_compute = time.perf_counter() - t0

    cdf = spark.createDataFrame(cents, "x double, y double")
    lines = [
        r["line"]
        for r in format_centroids(cdf, parity_ints=args.parity_ints).collect()
    ]
    for ln in lines:
        print(ln)
    if args.save:
        with open(args.input + ".output", "a") as f:
            f.writelines(ln + "\n" for ln in lines)

    # the reference's three spans, kmeans_with_mapreduce-cuda.cu:131-137
    print(f"Data loading and initialization time: {t_load * 1000:.0f} ms")
    print(f"Kmeans compute time: {t_compute * 1000:.0f} ms")
    print(f"Total time: {(time.perf_counter() - t_start) * 1000:.0f} ms")

    if args.follow:
        import os

        from .sources.points_datasource import register_points_source
        from .streaming.streams import stream_assign_kmeans

        register_points_source(spark)
        stream = (
            spark.readStream.format("points_text")
            .option("path", args.input)
            .load()
        )
        q = (
            stream_assign_kmeans(stream, cents)
            .select("x", "y", "cluster_id")
            .writeStream.format("parquet")
            .option("path", args.follow)
            .option(
                "checkpointLocation", os.path.join(args.follow, "_checkpoint")
            )
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError("--follow drain did not finish in 600s")
        q.stop()
        n = spark.read.parquet(args.follow).count()
        print(f"Streamed assignments: {n} points total in {args.follow}")

    pts.unpersist()
    if own_session:
        spark.stop()
    return lines


if __name__ == "__main__":
    main()
