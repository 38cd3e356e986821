"""The three workloads.  Each one generates its input from the seed,
loads it in set-up, runs one kind of operation through the engine's
public entry points, and checks every output against ``oracle``.

``BENCHMARK.json`` gates on ``lloyd_large`` and ``score_write`` only.
``cli_small`` stays runnable by name: its operation is single-threaded
driver work, so on a shared host its run-to-run spread is wider than
the benchmark's bounds allow.

Both fits run with ``tol=-1`` so that every operation does exactly its
iteration count, like the reference's fixed-count loop: with ``tol=0``
the loop stops at an exact fixed point, which some seeds reach before
the cap, and the operation's work would then depend on the seed.
"""

from __future__ import annotations

import contextlib
import io
import os
from types import SimpleNamespace

import numpy as np
import pyarrow.parquet as pq

from . import gen, oracle

K = 15
#: tol below any possible shift: the loop never stops early
NO_EARLY_STOP = -1.0


def engine():
    """The engine modules the workloads call.  Functions are looked up
    on these modules at call time so the traced run can wrap them."""
    from kmeans_with_mapreduce_cuda_spark import __main__ as cli
    from kmeans_with_mapreduce_cuda_spark import session
    from kmeans_with_mapreduce_cuda_spark.operators import kmeans
    from kmeans_with_mapreduce_cuda_spark.sources import readers, writers

    return SimpleNamespace(cli=cli, session=session, kmeans=kmeans, readers=readers, writers=writers)


def score(spark, path: str, centers, out: str | None) -> None:
    """Read ``path`` fresh, assign every point to ``centers`` keeping the
    distance, and write parquet partitioned by cluster_id to ``out``
    (``None``: the same pipeline into the ``noop`` sink)."""
    e = engine()
    df = e.kmeans.assign_2d(
        e.readers.read_points_text(spark, path), centers, keep_dist=True
    )
    if out is None:
        df.write.format("noop").mode("overwrite").save()
    else:
        e.writers.write_partitioned_parquet(df, out, ["cluster_id"])


def parquet_files(out: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, fs in os.walk(out)
        for f in fs
        if f.endswith(".parquet")
    ]


class Workload:
    name = ""
    why = ""
    #: points generated into the input file
    rows = 0
    #: points one operation reads, and passes it makes over them
    op_points = 0
    passes = 1
    #: fresh-session set-ups per run; setup_s is their median
    setups = 5
    #: operations run untimed after the set-ups, before the window
    warmup = 1
    #: keep the loaded input cached for the operations
    cache_input = False

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.path = os.path.join(work, f"{self.name}.txt")
        #: where the scoring sink writes (the op of score_write, a probe
        #: of the traced run elsewhere)
        self.out = os.path.join(work, "scored")
        self.rel = None

    def prepare(self) -> dict:
        """Generate and write the input; compute the expected outputs."""
        self.data = gen.make_points(self.seed, self.rows, K)
        size = gen.write_points(self.data.xy, self.path)
        self.expect()
        return self.data.describe(os.path.basename(self.path), size)

    def expect(self) -> None:
        raise NotImplementedError

    def load(self, spark):
        """Set-up after get_spark: read the input and check its row count."""
        rel = self.relation(spark)
        self.rel = rel.cache() if self.cache_input else rel
        got = self.rel.count()
        if got != self.op_points:
            raise RuntimeError(f"{self.name}: loaded {got} rows, expected {self.op_points}")

    def relation(self, spark):
        return engine().readers.read_points_text(spark, self.path)

    def cached_relation(self):
        """The op's points, cached, for the traced run's probes."""
        if not self.cache_input:
            self.rel.cache().count()
        return self.rel

    def op(self, spark):
        raise NotImplementedError

    def verify(self, spark, out) -> bool:
        raise NotImplementedError


class LloydLarge(Workload):
    name = "lloyd_large"
    why = "lloyd_2d on 1M cached points, k=15, 10 iterations: executor compute dominates"
    rows = op_points = 1_000_000
    passes = 10
    #: the first op after the first warm-up is still ~10 % slow
    warmup = 2
    # cached as read: no benchmark-side repartition
    cache_input = True

    def expect(self):
        pick = np.random.default_rng(self.seed).choice(self.rows, K, replace=False)
        self.init = [tuple(map(float, p)) for p in self.data.xy[pick]]
        self.want, _ = oracle.lloyd(self.data.xy, np.array(self.init), self.passes, NO_EARLY_STOP)

    def op(self, spark):
        return engine().kmeans.lloyd_2d(self.rel, self.init, max_iter=self.passes, tol=NO_EARLY_STOP)

    def verify(self, spark, out):
        return oracle.centroids_match(out, self.want)


class CliSmall(Workload):
    name = "cli_small"
    why = "the reference binary's shape via __main__.main: first 10k of 100k rows, 10 iterations; per-iteration driver cost dominates"
    rows = 100_000
    op_points = 10_000
    passes = 10
    #: a set-up here is ~0.3 s, so more of them steady the median
    setups = 7
    #: per-iteration cost keeps falling for several ops as the JIT warms
    warmup = 3

    def expect(self):
        head = self.data.xy[: self.op_points]
        init = head[oracle.seed_order(self.op_points, K, self.seed)]
        self.init = [tuple(map(float, p)) for p in init]
        self.want, _ = oracle.lloyd(head, init, self.passes, NO_EARLY_STOP)

    def relation(self, spark):
        return engine().readers.read_points_text(spark, self.path, limit=self.op_points)

    def op(self, spark):
        argv = [
            self.path, "--k", str(K), "--limit", str(self.op_points),
            "--iters", str(self.passes), "--tol", str(NO_EARLY_STOP),
            "--seed", str(self.seed),
        ]
        printed = io.StringIO()
        with contextlib.redirect_stdout(printed):
            engine().cli.main(argv, spark=spark)
        return printed.getvalue()

    def verify(self, spark, out):
        return oracle.point_lines_match(out, self.want)


class ScoreWrite(Workload):
    name = "score_write"
    why = "fresh read of 1M points, one assign_2d pass against 15 fixed centroids, partitioned parquet sink of every row"
    rows = op_points = 1_000_000
    #: op time keeps falling for the first few ops as the JIT warms
    warmup = 3

    def expect(self):
        self.centers = [tuple(map(float, c)) for c in self.data.centers]
        self.labels = oracle.assign(self.data.xy, self.data.centers)

    def op(self, spark):
        score(spark, self.path, self.centers, self.out)
        return self.out

    def verify(self, spark, out):
        # row counts from the parquet footers, so no Spark job runs
        # between timed operations; each file is flushed to disk so the
        # next operation does not start behind this one's writeback
        counts: dict[int, int] = {}
        for f in parquet_files(out):
            with open(f, "rb") as fh:
                os.fsync(fh.fileno())
            part = os.path.basename(os.path.dirname(f))
            key, _, value = part.partition("=")
            if key != "cluster_id":
                return False
            cid = int(value)
            counts[cid] = counts.get(cid, 0) + pq.ParquetFile(f).metadata.num_rows
        return oracle.histogram_matches(counts, self.labels, K)


WORKLOADS = {w.name: w for w in (LloydLarge, CliSmall, ScoreWrite)}
