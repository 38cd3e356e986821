"""K-Means engine benchmark: one workload, one seed, one run.

    python3 kmbench/run.py --workload lloyd_large --seed 1 --seconds 20 --trace 0

Run from the repository root.  Inputs are generated from ``--seed``
(``kmbench/gen.py``); every operation's output is checked against the
numpy oracle (``kmbench/oracle.py``).  The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the line before
it echoes the host, the pinned environment and the input.

A run, in order, in one process at ``local[<cpus>]``:

1. The workload's ``setups`` set-ups, each a fresh session (``get_spark``; the first
   also launches the JVM) plus the workload's input load.  The first is
   followed by the first, cold operation.
2. ``warmup`` untimed operations in the last session, then operations
   until ``--seconds`` have passed (at least ``MIN_WINDOW_OPS``).
3. ``--trace 0``: the end-to-end metrics.  ``--trace 1``: the same run
   with spans around the engine's entry points, status-store deltas per
   span, then probes for the layers the workload's own operation does
   not reach; prints the per-layer metrics and writes the spans to
   ``.kmbench_out/``.

Inputs, Spark scratch dirs and outputs live under ``.kmbench_work/`` in
the repository and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from contextlib import nullcontext
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from kmbench.workloads import K, NO_EARLY_STOP, WORKLOADS, engine, parquet_files, score  # noqa: E402

MIN_WINDOW_OPS = 3
#: fits a 15 GB host with room to spare; the JVM peaks near 1.5 GB here
DRIVER_MEM = "3g"
#: probe repetitions; the first of each is dropped as warm-up
PROBE_REPS = 4

END_TO_END = {
    "setup_s": "s",
    "first_op_s": "s",
    "op_p50_s": "s",
    "point_passes_per_s": "points/s",
    "jvm_peak_rss_mb": "MB",
}
#: per-layer metrics, grouped by the end-to-end metric each should move
PER_LAYER = {
    # setup_s on every workload
    "session.jvm_launch_s": "s",
    "session.start_s": "s",
    # setup_s; jvm_peak_rss_mb and op_p50_s on lloyd_large
    "sources.load_s": "s",
    "sources.cache_bytes": "bytes",
    "sources.partitions": "count",
    # op_p50_s on score_write (assign_2d into the noop sink; on
    # lloyd_large Spark serves the same plan from the cached input)
    "sources.scan_ms": "ms",
    # Lloyd loop, status-store deltas per iteration.  Driver side:
    # op_p50_s on cli_small, barely lloyd_large
    "kmeans.driver_ms_per_iter": "ms",
    "kmeans.jobs_per_iter": "count",
    "kmeans.stages_per_iter": "count",
    "kmeans.tasks_per_iter": "count",
    "kmeans.slot_idle_frac": "ratio",
    # executor side: op_p50_s on lloyd_large (and score_write for
    # kernel changes)
    "kmeans.job_ms_per_iter": "ms",
    "kmeans.task_cpu_ms_per_iter": "ms",
    "kmeans.task_noncpu_ms_per_iter": "ms",
    "kmeans.gc_ms_per_iter": "ms",
    # guards: constant unless the loop's shape changes
    "kmeans.shuffle_bytes_per_iter": "bytes",
    "kmeans.collect_rows_per_iter": "rows",
    # one step split: analyze and plan -> cli_small, exec -> lloyd_large
    "kmeans.analyze_ms": "ms",
    "kmeans.plan_ms": "ms",
    "kmeans.exec_ms": "ms",
    # op_p50_s on cli_small
    "seed.ms": "ms",
    "writers.sink_ms": "ms",
    # op_p50_s on score_write
    "writers.write_ms": "ms",
    "writers.output_bytes": "bytes",
    "writers.files": "count",
    "writers.task_cpu_ms": "ms",
    # minus the untraced op_p50_s: the tracing overhead
    "trace.op_p50_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(prog="kmbench/run.py", description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def pin_env(work: str) -> dict:
    """Spark settings for this host, set before the JVM is launched."""
    tmp = os.path.join(work, "tmp")
    env = {
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_JAVA_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        "TMPDIR": tmp,
    }
    os.makedirs(tmp)
    os.environ.update(env)
    return env


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def shutdown(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        gateway.proc.wait(60)
        SparkContext._gateway = SparkContext._jvm = None


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.w = WORKLOADS[args.workload](work, args.seed)
        self.tracer = None
        self.ops: list[tuple[str, str, float, bool]] = []  # phase, id, seconds, ok

    def op(self, spark, phase: str) -> None:
        op_id = f"{self.w.name}/{self.args.seed}/{len(self.ops)}"
        if self.tracer:
            self.tracer.op_id = op_id
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op") if self.tracer else nullcontext():
                out = self.w.op(spark)
            seconds = time.perf_counter() - t0
            ok = self.w.verify(spark, out)
        except Exception:
            traceback.print_exc()
            seconds, ok = time.perf_counter() - t0, False
        if not ok:
            print(f"{op_id}: operation failed or its output disagrees with the oracle", file=sys.stderr)
        self.ops.append((phase, op_id, seconds, ok))

    def times(self, phase: str) -> list[float]:
        return [s for p, _, s, _ in self.ops if p == phase]

    def execute(self) -> tuple[dict, dict]:
        session = engine().session
        setups = []
        spark = None
        try:
            for rep in range(self.w.setups):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                spark = session.get_spark()
                t1 = time.perf_counter()
                self.w.load(spark)
                setups.append((t1 - t0, time.perf_counter() - t1))
                spark.sparkContext.setLogLevel("ERROR")
                if rep == 0:
                    self.op(spark, "first")
            layer = self.start_trace(spark, setups) if self.args.trace else {}
            for _ in range(self.w.warmup):
                self.op(spark, "warmup")
            start = time.perf_counter()
            while (
                time.perf_counter() - start < self.args.seconds
                or len(self.times("window")) < MIN_WINDOW_OPS
            ):
                self.op(spark, "window")
            rss = jvm_peak_rss_mb(spark)
            if self.args.trace:
                layer.update(self.probes(spark))
            version = spark.version
        finally:
            if self.tracer:
                self.tracer.restore()
            if spark is not None:
                shutdown(spark)
        p50 = median(self.times("window"))
        e2e = {
            "setup_s": median(a + b for a, b in setups),
            "first_op_s": self.times("first")[0],
            "op_p50_s": p50,
            "point_passes_per_s": self.w.op_points * self.w.passes / p50,
            "jvm_peak_rss_mb": rss,
        }
        info = {
            "spark": version,
            "setups": self.w.setups,
            "warmup_ops": self.w.warmup,
            "first_op_s": self.times("first"),
            "warmup_op_s": self.times("warmup"),
            "window_op_s": self.times("window"),
            "setup_session_s": [a for a, _ in setups],
            "setup_load_s": [b for _, b in setups],
        }
        return (layer if self.args.trace else e2e), info

    # -- traced run -----------------------------------------------------

    def start_trace(self, spark, setups) -> dict:
        from pyspark.sql.classic.dataframe import DataFrame

        from kmbench.trace import StatusStore, Tracer

        e = engine()
        self.tracer = t = Tracer(store=StatusStore(spark))
        t.wrap(e.kmeans, "lloyd_2d", "kmeans.lloyd_2d", with_store=True)
        t.wrap(e.kmeans, "seed_centroids_2d", "kmeans.seed_centroids_2d")
        t.wrap(e.kmeans, "assign_2d", "kmeans.assign_2d")
        t.wrap(e.readers, "read_points_text", "sources.read_points_text")
        t.wrap(e.writers, "format_centroids", "writers.format_centroids")
        t.wrap(e.writers, "write_partitioned_parquet", "writers.write_partitioned_parquet", with_store=True)
        t.count_collects(DataFrame)
        return {
            "session.jvm_launch_s": setups[0][0],
            "session.start_s": median(a for a, _ in setups),
            "sources.load_s": median(b for _, b in setups),
            "sources.cache_bytes": t.store.cached_bytes(),
            "sources.partitions": self.w.rel.rdd.getNumPartitions(),
        }

    def probes(self, spark) -> dict:
        """Per-layer numbers: from the window's spans where the workload's
        operation reaches the layer, else from a probe on the same input."""
        e = engine()
        t, w = self.tracer, self.w
        window = {i for p, i, _, _ in self.ops if p == "window"}
        t.op_id = "probe"
        centers = [tuple(map(float, c)) for c in w.data.centers]

        def spans(name, ops=window):
            return [s for s in t.spans if s.name == name and s.op_id in ops]

        def probed(name, call):
            for _ in range(PROBE_REPS):
                call()
            return spans(name, {"probe"})[1:]

        noop = []
        for _ in range(PROBE_REPS):
            with t.span("probe.noop", with_store=True) as sp:
                score(spark, w.path, centers, None)
            noop.append(sp)
        noop = noop[1:]
        rel = w.cached_relation()

        lloyd = spans("kmeans.lloyd_2d") or probed(
            "kmeans.lloyd_2d", lambda: e.kmeans.lloyd_2d(rel, centers, 3, NO_EARLY_STOP)
        )
        seeds = spans("kmeans.seed_centroids_2d") or probed(
            "kmeans.seed_centroids_2d", lambda: e.kmeans.seed_centroids_2d(rel, K, seed=w.seed)
        )
        writes = spans("writers.write_partitioned_parquet") or probed(
            "writers.write_partitioned_parquet", lambda: score(spark, w.path, centers, w.out)
        )

        iters = sum(s.collects for s in lloyd)

        def per_iter(key):
            return sum(s.store[key] for s in lloyd) / iters

        wall_ms = sum(s.seconds for s in lloyd) * 1000 / iters
        job_ms = per_iter("job_wall_ms")
        m = {
            "sources.scan_ms": median(s.seconds for s in noop) * 1000,
            "kmeans.driver_ms_per_iter": wall_ms - job_ms,
            "kmeans.jobs_per_iter": per_iter("jobs"),
            "kmeans.stages_per_iter": per_iter("stages"),
            "kmeans.tasks_per_iter": per_iter("tasks"),
            "kmeans.slot_idle_frac": 1 - per_iter("task_run_ms") / (job_ms * cpus()),
            "kmeans.job_ms_per_iter": job_ms,
            "kmeans.task_cpu_ms_per_iter": per_iter("task_cpu_ms"),
            "kmeans.task_noncpu_ms_per_iter": per_iter("task_run_ms") - per_iter("task_cpu_ms"),
            "kmeans.gc_ms_per_iter": per_iter("gc_ms"),
            "kmeans.shuffle_bytes_per_iter": per_iter("shuffle_write_bytes"),
            "kmeans.collect_rows_per_iter": sum(s.rows_collected for s in lloyd) / iters,
            "seed.ms": median(s.seconds for s in seeds) * 1000,
            "writers.write_ms": (median(s.seconds for s in writes) - median(s.seconds for s in noop)) * 1000,
            "writers.output_bytes": sum(os.path.getsize(f) for f in parquet_files(w.out)),
            "writers.files": len(parquet_files(w.out)),
            "writers.task_cpu_ms": median(s.store["task_cpu_ms"] for s in writes)
            - median(s.store["task_cpu_ms"] for s in noop),
            "trace.op_p50_s": median(self.times("window")),
        }
        m.update(self.phase_split(spark, e.kmeans, rel, centers))

        sink = []
        for _ in range(PROBE_REPS):
            t0 = time.perf_counter()
            cdf = spark.createDataFrame(centers, "x double, y double")
            e.writers.format_centroids(cdf).collect()
            sink.append(time.perf_counter() - t0)
        m["writers.sink_ms"] = median(sink[1:]) * 1000
        return m

    @staticmethod
    def phase_split(spark, kmeans, rel, centers) -> dict:
        """One Lloyd step split into DataFrame build (parse + analyze),
        physical planning and execution, with fresh centroids each step
        as in the loop."""
        cents = centers
        phases = []
        with kmeans.iteration_confs(spark):
            for _ in range(PROBE_REPS):
                t0 = time.perf_counter()
                df = kmeans.update_2d(kmeans.assign_2d(rel, cents))
                t1 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                rows = df.collect()
                t3 = time.perf_counter()
                phases.append((t1 - t0, t2 - t1, t3 - t2))
                got = {int(r["cluster_id"]): (float(r["cx"]), float(r["cy"])) for r in rows}
                cents = [got.get(i, c) for i, c in enumerate(cents)]
        phases = phases[1:]
        return {
            f"kmeans.{name}_ms": median(p[i] for p in phases) * 1000
            for i, name in enumerate(("analyze", "plan", "exec"))
        }


def design_checks(workload: str, m: dict) -> dict:
    """The traced run should confirm why each fit workload was chosen."""
    if workload == "cli_small":
        return {"driver_bound": m["kmeans.driver_ms_per_iter"] > m["kmeans.job_ms_per_iter"]}
    if workload == "lloyd_large":
        task_ms = m["kmeans.task_cpu_ms_per_iter"] + m["kmeans.task_noncpu_ms_per_iter"]
        return {"task_bound": task_ms / cpus() > m["kmeans.driver_ms_per_iter"]}
    return {}


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import pyspark  # noqa: F401

        import kmeans_with_mapreduce_cuda_spark  # noqa: F401
    except ImportError as e:
        print(f"kmbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".kmbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        env = pin_env(work)
        run = Run(args, work)
        t0 = time.perf_counter()
        data = run.w.prepare()
        gen_s = time.perf_counter() - t0
        metrics, info = run.execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = PER_LAYER if args.trace else END_TO_END
    attempted = len(run.ops)
    failed = sum(not ok for *_, ok in run.ops)
    info.update(
        workload=args.workload,
        why=run.w.why,
        input=data,
        gen_s=gen_s,
        env=env,
        cpus=cpus(),
        loadavg=os.getloadavg(),
        ops_failed_frac=failed / attempted,
    )
    if args.trace:
        info["design_checks"] = design_checks(args.workload, metrics)
        os.makedirs(os.path.join(ROOT, ".kmbench_out"), exist_ok=True)
        spans = os.path.join(ROOT, ".kmbench_out", f"spans-{args.workload}-{args.seed}.jsonl")
        run.tracer.dump(spans)
        info["spans"] = os.path.relpath(spans, ROOT)
    print(json.dumps({"info": info}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
