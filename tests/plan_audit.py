#!/usr/bin/env python
"""Automated physical-plan audit over the ENTIRE registry.

Builds every ``queries()`` DataFrame at a small SF (default sf0.001 --
plan SHAPE, not timing), captures the formatted explain string of the
pre-execution physical plan, and flags scale anti-patterns:

  * ``CartesianProduct``                -- all-pairs blowup at scale.
  * ``BroadcastNestedLoopJoin``         -- quadratic unless one side is
                                           genuinely tiny; every hit is
                                           listed for manual adjudication.
  * ``BatchEvalPython``                 -- row-at-a-time Python UDF in the
                                           plan (the documented exceptions
                                           are the udf_* / udtf_* surface
                                           demos with JVM twins).
  * ``Exchange rangepartitioning``      -- a global sort; fine under a
                                           limit (TakeOrderedAndProject
                                           usually replaces it) or for an
                                           ordered sink, suspicious
                                           mid-plan.
  * ``InMemoryTableScan`` count and ``Exchange`` count are reported as
    informational context, not flags.

Some queries eagerly materialize tiny results by contract (``_eager``);
for those the "plan" is the plan of the final small DataFrame and the
interesting work already ran -- the audit still catches driver-side
shapes because the eager path was itself plan-asserted in tests.

Usage: python tests/plan_audit.py [sf_dir] [name_substring ...]
Writes a JSON report to /tmp/plan_audit.json and prints a summary.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import traceback

from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
ONLY = sys.argv[2:]

FLAGS = {
    "cartesian": re.compile(r"CartesianProduct"),
    "bnlj": re.compile(r"BroadcastNestedLoopJoin"),
    "py_udf_row": re.compile(r"BatchEvalPython"),
    "range_exchange": re.compile(r"Exchange rangepartitioning"),
}
INFO = {
    "exchanges": re.compile(r"\bExchange\b"),
    "arrow_python": re.compile(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|PythonMapInArrow"),
    "sorts": re.compile(r"\bSort\b"),
}


def explain_formatted(df) -> str:
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return jdf.queryExecution().explainString(mode)


def main() -> None:
    import tempfile

    # Private warehouse dir: rel_bucketed_join drops stale table
    # LOCATIONs under the session warehouse before writing, which would
    # race a concurrently running pytest session sharing the default
    # ./spark-warehouse.
    wh = tempfile.mkdtemp(prefix="plan_audit_wh_")
    spark = (
        SparkSession.builder.appName("plan-audit")
        .master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.warehouse.dir", wh)
        .getOrCreate()
    )
    qs = entrymod.queries()
    names = [n for n in qs if not ONLY or any(s in n for s in ONLY)]
    report: dict[str, dict] = {}
    for i, name in enumerate(sorted(names), 1):
        t0 = time.perf_counter()
        try:
            df = qs[name](spark, SF_DIR)
            plan = explain_formatted(df)
            hits = {k: len(rx.findall(plan)) for k, rx in FLAGS.items()}
            info = {k: len(rx.findall(plan)) for k, rx in INFO.items()}
            report[name] = {
                "flags": {k: v for k, v in hits.items() if v},
                "info": info,
                "build_s": round(time.perf_counter() - t0, 2),
            }
            if report[name]["flags"]:
                report[name]["plan_excerpt"] = "\n".join(
                    ln for ln in plan.splitlines()
                    if any(rx.search(ln) for rx in FLAGS.values())
                )[:2000]
        except Exception:
            report[name] = {"error": traceback.format_exc()[-1500:]}
        flag_s = ",".join(f"{k}={v}" for k, v in report[name].get("flags", {}).items())
        err = "ERROR" if "error" in report[name] else ""
        print(f"{i:3d}/{len(names)} {name:36s} {err}{flag_s}")
    spark.stop()

    with open("/tmp/plan_audit.json", "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    flagged = {n: r["flags"] for n, r in report.items() if r.get("flags")}
    errors = [n for n, r in report.items() if "error" in r]
    print(f"\nflagged ({len(flagged)}):")
    for n, f in sorted(flagged.items()):
        print(f"  {n}: {f}")
    print(f"errors ({len(errors)}): {errors}")


if __name__ == "__main__":
    main()
