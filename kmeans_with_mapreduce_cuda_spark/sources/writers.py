"""Sinks.  The reference prints centroids as ``Point: (x,y)`` and appends
the same lines to ``<input>.output`` (kmeans_with_mapreduce-cuda.cu:105-121,
operator<< config.cuh:21-25).  Spark-first: a format_string projection +
``df.write.text`` -- formatting stays JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import pinned_confs


def format_centroids(
    df: DataFrame, x: str = "x", y: str = "y", parity_ints: bool = False
) -> DataFrame:
    """Project to the reference's sink format: one string column ``line``
    per centroid, ``Point: (x,y)`` with integer-truncated coords (the
    reference stores uint64 coords; we truncate the float mean the same
    way a cast would).

    ``parity_ints=True`` floors instead of truncating -- exactly the
    o13_sink_format gate semantics (kmeans_with_mapreduce-cuda.cu:105-121
    prints uint64 coords produced by integer floor-division means; floor
    matches that for the non-negative coordinate domain and stays
    well-defined if a centroid ever lands negative).
    """
    cx, cy = F.col(x), F.col(y)
    if parity_ints:
        cx, cy = F.floor(cx), F.floor(cy)
    return df.select(
        F.format_string(
            "Point: (%d,%d)",
            cx.cast("bigint"),
            cy.cast("bigint"),
        ).alias("line")
    )


#: the largest parquet dictionary a column chunk of
#: :func:`write_partitioned_parquet` builds before it falls back to PLAIN
DICTIONARY_BYTES = 16 * 1024


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Hive-style partitioned parquet sink (e.g. the IVF index persisted
    BY cell_id, or assignments BY cluster_id): readers filtering on the
    partition column prune whole directories -- the scan never opens
    non-matching files.  Partition pruning is asserted in
    tests/test_sources.py.

    A column chunk keeps its parquet dictionary only while the
    dictionary stays within ``DICTIONARY_BYTES``; past that the writer
    falls back to PLAIN at once.  A partitioned write splits each
    task's rows across every partition value, so each file holds a few
    thousand rows (1M points by 15 clusters over 4 tasks: 60 files of
    ~16.7k rows), and no column chunk reaches parquet's first page
    boundary (20k rows or 1 MB), where the writer would otherwise test
    whether the dictionary pays.  With parquet's default 1 MB bound it
    hashed every value of a high-cardinality chunk (ids, coordinates,
    distances) and then wrote it PLAIN at close: on the 1M-point scoring
    write (kmbench ``score_write``) that was ~45 % of the task CPU.  A
    low-cardinality column (a label, a cluster's quantities) stays far
    below the bound and keeps its dictionary: the frames of both in-repo
    callers are byte-identical to the default.  A column chunk with more
    than 2,048 distinct 8-byte values is written PLAIN even where a
    dictionary would have paid.  No column type has a certain fallback (a 3-value
    bigint and a unique bigint id share one type), so the bound is on
    size, not type."""
    (
        df.write.mode("overwrite")
        .option("parquet.dictionary.page.size", str(DICTIONARY_BYTES))
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    key: str,
    num_buckets: int = 8,
) -> None:
    """Bucketed (hash-clustered) parquet table: rows land in
    ``hash(key) % num_buckets`` files per write task, registered in the
    session catalog.  Two tables bucketed by the same key with the same
    bucket count join WITHOUT any Exchange -- the co-located join both
    sides pre-paid at write time (asserted in tests/test_bucketing.py).
    At 100 TB this converts every repeated fact-to-fact join on the
    bucket key from a full shuffle into a local zip of bucket files;
    sortBy additionally pre-sorts each bucket so sort-merge join skips
    its sort."""
    # one file per bucket: without this, each write task emits its own
    # set of bucket files and the bucket-side sort degrades to per-file
    w = df.repartition(num_buckets, F.col(key)).write.mode("overwrite")
    w.bucketBy(num_buckets, key).sortBy(key).format("parquet").saveAsTable(table)


def overwrite_partitions_dynamic(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Incremental backfill: overwrite ONLY the hive partitions present
    in ``df``, leaving every other partition untouched
    (``partitionOverwriteMode=dynamic``; the default STATIC mode would
    drop the whole table first).  The 100 TB operational pattern: a
    daily pipeline recomputes one day and rewrites one directory, not
    the table.  Conf is set per-write and restored."""
    with pinned_confs(
        df.sparkSession, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
    ):
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def compact_small_files(
    spark, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """Rewrite a parquet directory into ~target-sized files; returns the
    output file count.  The small-files problem is the classic
    long-running-pipeline failure mode: thousands of KB-sized files from
    many incremental writes make every later scan pay per-file open +
    footer + task-schedule overhead.  Sizing by actual on-disk bytes
    (not row counts) keeps output files near the parquet sweet spot.
    Crash semantics (two renames on POSIX cannot be jointly atomic):
    the rewrite lands in ``<path>.compact.tmp``, then ``path`` is
    swapped via rename(path -> .compact.old); rename(tmp -> path);
    rm(.compact.old).  A crash before the first rename leaves a stale
    ``.compact.tmp`` that the next run's mode("overwrite") replaces.
    A crash between the two renames leaves nothing at ``path`` with the
    data intact in ``.compact.old`` -- recovered here at entry by
    restoring ``.compact.old`` to ``path``.  No window loses data; at
    most one rerun is needed."""
    import math
    import os
    import shutil

    leftover = f"{path}.compact.old"
    if os.path.exists(leftover) and not os.path.exists(path):
        # previous compaction crashed between its two renames
        os.rename(leftover, path)
    elif os.path.exists(leftover):
        # crashed after the second rename but before cleanup: ``path``
        # already holds the compacted data, the .old copy is garbage
        shutil.rmtree(leftover)

    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    tmp = f"{path}.compact.tmp"
    spark.read.parquet(path).coalesce(n_files).write.mode(
        "overwrite"
    ).parquet(tmp)
    os.rename(path, leftover)
    os.rename(tmp, path)
    shutil.rmtree(leftover)
    return n_files
