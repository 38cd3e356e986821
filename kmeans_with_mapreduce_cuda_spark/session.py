"""SparkSession factory tuned for the local[32] harness but configured
the way a large cluster run would be: AQE on (skew-join handling is the
Spark analog of the reference's per-cluster "Loading Balancing" grids,
kmeans_mapreduce_core.cu:195-207), Arrow for any Python exchange,
shuffle partitions sized to the parallelism.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import SparkSession

MB = 1024 * 1024


def get_spark(
    app_name: str = "kmeans-mapreduce-spark",
    cpus: int | str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    On a real cluster only the conf lines matter -- drop the ``master``.
    ``spark.sql.shuffle.partitions`` defaults to the core count here; at
    100 TB you would size it so post-shuffle partitions land ~128-256 MB
    (AQE coalescing then trims small ones automatically).
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # "*" (all cores) is a valid local[] spec the int() path rejected
    # (code-review r10); resolve it for shuffle sizing
    n_cores = (os.cpu_count() or 8) if cpus == "*" else int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(n_cores, 8)))
        # Pinned, not assumed: Spark 4 defaults ANSI on, but the exact
        # integer-cents aggregates (plans/relational.py pos_cents) rely
        # on overflow being LOUD -- with ANSI off (Spark 3.x, or a user
        # override) a bigint sum past 9.2e18 wraps silently while DuckDB
        # promotes to HUGEINT, diverging catastrophically.  Pinning here
        # makes "loud not wrong" a guarantee, not a version accident.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * MB))
        .config("spark.sql.files.maxPartitionBytes", str(128 * MB))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # saveAsTable target (bucketed tables); in-memory catalog, so the
        # warehouse is just a directory -- keep it out of the repo tree.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE") or _default_warehouse(),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Whole-stage codegen of large generated expressions (the
        # 64-term dot products, PQ encode trees, n-D distance SQL text)
        # emits Java methods past the JVM's 8000-bytecode
        # DontCompileHugeMethods threshold: the method codegens fine but
        # runs in the BYTECODE INTERPRETER forever.  Measured on the
        # within-cell cosine join at sf0.1: 2.8 s -> 0.45 s (6x) with
        # the flag.  Spark's own spark.sql.codegen.hugeMethodLimit
        # (65535) never fires first, so without this flag the "codegen"
        # path silently loses to hand-rolled interpretation.  On a real
        # cluster set the same flag in executor options (done below);
        # the larger code cache absorbs the extra compiled variants
        # across a many-query session.
        #
        # SCOPE CAVEAT: driver extraJavaOptions set via the builder only
        # take effect when THIS Python process launches the JVM (the
        # pyspark-shell gateway, i.e. every harness/bench/test entry in
        # this repo).  Under spark-submit client mode, or against an
        # already-created session, the JVM pre-exists and the option is
        # silently ignored -- pass it via --driver-java-options /
        # spark-defaults.conf there.  We also MERGE with any
        # environment-supplied value rather than clobbering it.
        .config("spark.driver.extraJavaOptions", _merged_java_options())
        .config("spark.executor.extraJavaOptions", _merged_java_options())
    )
    return builder.getOrCreate()


@contextmanager
def pinned_confs(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set session confs for the ``with`` body and restore them on exit,
    the exception path included.  Spark confs are session-global state,
    so every temporary conf change in the package goes through here.
    Keys that were unset before are unset again (not set to a default
    value); restores run in reverse order."""
    saved = []
    try:
        for key, value in confs.items():
            saved.append((key, spark.conf.get(key, None)))
            spark.conf.set(key, value)
        yield
    finally:
        for key, old in reversed(saved):
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)


@functools.cache
def _default_warehouse() -> str:
    """This process's own warehouse directory under the temp dir, removed
    at exit.  A path shared by every process would let two concurrent
    runs of a query that writes the same table name (rel_bucketed_join)
    delete and overwrite each other's files mid-read.  ``mkdtemp`` makes
    a new directory even when the OS reuses a PID.  A killed process
    runs no exit hook and leaves its directory behind."""
    path = tempfile.mkdtemp(prefix="spark_graft_warehouse_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


_CODEGEN_JVM_OPTS = "-XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=512m"


def _merged_java_options() -> str:
    """Append user-supplied JVM options (SPARK_GRAFT_JAVA_OPTS) AFTER
    our codegen flags: later flags win in HotSpot, so a caller who
    explicitly sets a colliding option (-XX:+DontCompileHugeMethods,
    a different -XX:ReservedCodeCacheSize) overrides the repo default
    instead of being silently overridden -- the env var is the
    caller's escape hatch and must always be effective.  Non-colliding
    flags (-Xmx, -D...) are unaffected by ordering."""
    user = os.environ.get("SPARK_GRAFT_JAVA_OPTS", "").strip()
    return f"{_CODEGEN_JVM_OPTS} {user}".strip() if user else _CODEGEN_JVM_OPTS
