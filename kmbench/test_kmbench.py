"""Self-tests of the benchmark's own parts.

    python3 -m pytest kmbench -q

Covers the generator's determinism, the oracle's sensitivity, the
status-store delta parsing on a two-job query, and that BENCHMARK.json
names only workloads the runner has and exactly the metrics it reports.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from kmbench import gen, oracle  # noqa: E402


def test_generator_is_deterministic_per_seed(tmp_path):
    a, b, c = (gen.make_points(s, 5000) for s in (3, 3, 4))
    assert np.array_equal(a.xy, b.xy) and np.array_equal(a.centers, b.centers)
    assert not np.array_equal(a.xy, c.xy)
    assert a.xy.dtype == np.int64 and a.xy.min() >= 0 and a.xy.max() <= gen.COORD_MAX
    sizes = [gen.write_points(p.xy, str(tmp_path / f"{i}.txt")) for i, p in enumerate((a, b))]
    first, second = ((tmp_path / f"{i}.txt").read_bytes() for i in range(2))
    assert first == second and sizes[0] == len(first)
    assert first.splitlines()[0] == b"%d %d" % tuple(a.xy[0])


def test_oracle_rejects_centroid_moved_by_one_unit():
    data = gen.make_points(5, 20_000)
    init = data.xy[:15].astype(np.float64)
    want, iters = oracle.lloyd(data.xy, init, 10, -1.0)
    assert iters == 10
    assert oracle.centroids_match(want.copy(), want)
    moved = want.copy()
    moved[7, 1] += 1.0
    assert not oracle.centroids_match(moved, want)
    printed = "\n".join(f"Point: ({int(x)},{int(y)})" for x, y in want)
    assert oracle.point_lines_match(printed, want)
    shifted = "\n".join(f"Point: ({int(x) + (i == 3)},{int(y)})" for i, (x, y) in enumerate(want))
    assert not oracle.point_lines_match(shifted, want)
    labels = oracle.assign(data.xy, want)
    hist = {c: int(n) for c, n in enumerate(np.bincount(labels, minlength=15)) if n}
    assert oracle.histogram_matches(hist, labels, 15)
    hist[min(hist)] -= 1
    assert not oracle.histogram_matches(hist, labels, 15)


def test_oracle_ties_go_to_lowest_id_and_empty_clusters_stay():
    xy = np.array([[0, 0], [2, 0], [10, 10]], dtype=np.int64)
    cents = np.array([[1.0, 0.0], [1.0, 0.0], [100.0, 100.0]])
    assert oracle.assign(xy, cents).tolist() == [0, 0, 0]
    got, _ = oracle.lloyd(xy, cents, 1, -1.0)
    assert got[1].tolist() == [1.0, 0.0] and got[2].tolist() == [100.0, 100.0]


def test_benchmark_json_matches_runner():
    from kmbench.run import END_TO_END, PER_LAYER
    from kmbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER


def test_status_store_delta_on_two_job_query(tmp_path):
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    from kmbench.trace import StatusStore

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.local.dir", str(tmp_path))
        .getOrCreate()
    )
    try:
        store = StatusStore(spark)
        mark = store.mark()
        df = spark.range(0, 1000, 1, 2).selectExpr("id % 5 AS k")
        assert len(df.groupBy("k").count().collect()) == 5  # one job, two stages
        assert df.count() == 1000  # a second job
        d = store.delta(mark)
        assert d["jobs"] == 2
        assert d["stages"] >= 3
        assert d["tasks"] >= 2 + 3
        assert d["shuffle_write_bytes"] > 0
        assert d["job_wall_ms"] >= 0 and d["task_cpu_ms"] > 0
        assert store.delta(store.mark())["jobs"] == 0
    finally:
        spark.stop()
