"""Spans and Spark status-store deltas for the traced run.

Nothing inside the engine is changed: the tracer wraps module-level
functions of the engine for the duration of the traced run (the CLI looks
them up at call time, so its calls are wrapped too), and reads job and
stage records from the SparkContext's own status store around each span.
The store keeps the newest 1000 jobs and stages, so every delta is taken
when its span ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def summarize(jobs: list[dict], stages: list[dict], after_job: int) -> dict:
    """Totals over the jobs with ``jobId > after_job`` and their stages.

    ``jobs``/``stages`` are the status store's v1 API records
    (JobData/StageData as JSON).  Skipped stages ran no tasks and are
    not counted.  Times in ms, CPU converted from ns.
    """
    new = [j for j in jobs if j["jobId"] > after_job]
    ids = {s for j in new for s in j["stageIds"]}
    ran = [s for s in stages if s["stageId"] in ids and s["status"] != "SKIPPED"]
    return {
        "jobs": len(new),
        "stages": len(ran),
        "tasks": sum(s["numCompleteTasks"] for s in ran),
        "job_wall_ms": float(
            sum(j["completionTime"] - j["submissionTime"] for j in new)
        ),
        "task_run_ms": float(sum(s["executorRunTime"] for s in ran)),
        "task_cpu_ms": sum(s["executorCpuTime"] for s in ran) / 1e6,
        "gc_ms": float(sum(s["jvmGcTime"] for s in ran)),
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in ran),
        "output_bytes": sum(s["outputBytes"] for s in ran),
    }


class StatusStore:
    """Reads the live AppStatusStore of one SparkContext as JSON."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        scala = jvm.com.fasterxml.jackson.module.scala
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def _get(self, records) -> list[dict]:
        return json.loads(self._json.writeValueAsString(records))

    def _drain(self) -> None:
        # job/stage end events reach the store through the listener bus
        self._sc.listenerBus().waitUntilEmpty()

    def mark(self) -> int:
        """Newest job id so far (-1 before the first job)."""
        self._drain()
        jobs = self._get(self._store.jobsList(None))
        return max((j["jobId"] for j in jobs), default=-1)

    def delta(self, mark: int) -> dict:
        self._drain()
        jobs = self._get(self._store.jobsList(None))
        # Spark 4.1: stageList(statuses, details, withSummaries,
        # unsortedQuantiles, taskStatus)
        stages = self._get(
            self._store.stageList(None, False, False, self._no_quantiles, None)
        )
        return summarize(jobs, stages, mark)

    def cached_bytes(self) -> int:
        self._drain()
        return sum(
            r["memoryUsed"] + r["diskUsed"] for r in self._get(self._store.rddList(True))
        )


@dataclass
class Span:
    name: str
    op_id: str
    parent: int | None
    start: float
    end: float = 0.0
    collects: int = 0
    rows_collected: int = 0
    store: dict | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span log.  ``op_id`` is ``workload/seed/op-index`` and is
    shared by every span of one operation."""

    store: StatusStore | None = None
    spans: list[Span] = field(default_factory=list)
    _open: list[int] = field(default_factory=list)
    _patched: list[tuple] = field(default_factory=list)
    op_id: str = "setup"

    @contextmanager
    def span(self, name: str, with_store: bool = False):
        sp = Span(name, self.op_id, self._open[-1] if self._open else None, 0.0)
        mark = self.store.mark() if with_store else None
        self.spans.append(sp)
        self._open.append(len(self.spans) - 1)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._open.pop()
            if with_store:
                sp.store = self.store.delta(mark)

    def wrap(self, owner, attr: str, name: str, with_store: bool = False) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper until
        :meth:`restore`."""
        inner = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name, with_store):
                return inner(*args, **kwargs)

        self._patched.append((owner, attr, inner))
        setattr(owner, attr, traced)

    def count_collects(self, df_class) -> None:
        """Count ``collect()`` calls and rows against the innermost open
        span (one collect per Lloyd iteration)."""
        inner = df_class.collect

        def collect(df):
            rows = inner(df)
            if self._open:
                sp = self.spans[self._open[-1]]
                sp.collects += 1
                sp.rows_collected += len(rows)
            return rows

        self._patched.append((df_class, "collect", inner))
        df_class.collect = collect

    def restore(self) -> None:
        while self._patched:
            owner, attr, inner = self._patched.pop()
            setattr(owner, attr, inner)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                rec = dict(sp.__dict__, seconds=sp.seconds)
                f.write(json.dumps(rec) + "\n")
