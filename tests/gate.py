#!/usr/bin/env python
"""The Spark-vs-DuckDB gate: every query's answer must equal its DuckDB
oracle's in one order-insensitive canonical form.  ``canon``/``compare``
are the one verdict and ``duck`` the one DuckDB setup of every such
check in tests/.

Usage: python tests/gate.py [SF_DIR] [name ...]

SF_DIR (default conftest's SF_DIR_MED, sf0.01) needs only the tables
the named queries read; with no names every REGISTRY query runs, in
gate order, on a plain local[8] session.  Prints Spark / DuckDB / cumulative seconds, rows and
OK / FAIL / rows-only per query, then the slowest 15 and the failures;
exits 1 on a failure or an unknown name.  PROBE_DRIVER_MEM sets the
driver heap (past sf0.1 the default 1g dies), PROBE_DUCKDB_MEM caps
DuckDB (default 32g, spills past it).
"""

from __future__ import annotations

import math
import os
import sys
import tempfile
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<null>"
        if isinstance(v, bool):
            return str(v)
        if isinstance(v, float):
            return f"{v:.6f}"
        return str(v)

    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def compare(cols, rows, ocols, orows) -> str | None:
    """None when Spark's (cols, rows) equal the oracle's, else why not:
    the column-name sets, then the row counts, then the first differing
    canonical row."""
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} != {sorted(ocols)}"
    if len(rows) != len(orows):
        return f"rowcount {len(rows)} != {len(orows)}"
    g, e = canon(cols, rows), canon(ocols, orows)
    bad = next((i for i, (a, b) in enumerate(zip(g, e)) if a != b), None)
    if bad is None:
        return None
    return (
        f"values differ at sorted row {bad}:\n"
        f"    spark : {g[bad]}\n    duckdb: {e[bad]}"
    )


def oracle(con, sql):
    """(column names, rows) of ``sql`` on DuckDB connection ``con``."""
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def duck(sf_dir):
    """DuckDB connection with a view per fixture table present in
    ``sf_dir``; absent tables are skipped, as ``register_views`` skips
    them on the Spark side."""
    from kmeans_with_mapreduce_cuda_spark.sources.readers import TABLES

    con = duckdb.connect()
    # Past sf0.1 the window/string_agg oracles outgrow RAM, and DuckDB's
    # default limit (80 % of RAM) undercounts list payloads until the
    # kernel kills the whole process: cap it and let it spill instead.
    spill = os.path.join(tempfile.gettempdir(), "duckdb_gate_spill")
    con.execute(f"SET temp_directory='{spill}'")
    con.execute("SET preserve_insertion_order=false")
    con.execute(f"SET memory_limit='{os.environ.get('PROBE_DUCKDB_MEM', '32g')}'")
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def main(argv) -> int:
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry
    from conftest import SF_DIR_MED
    from pyspark.sql import SparkSession

    sf_dir = argv[0] if argv else SF_DIR_MED
    qs, osql = entry.queries(), entry.oracle_sql()
    names = argv[1:] or list(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown query: {' '.join(unknown)}")
        return 1

    b = (
        SparkSession.builder.appName("gate")
        .master("local[8]")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if os.environ.get("PROBE_DRIVER_MEM"):
        b = b.config("spark.driver.memory", os.environ["PROBE_DRIVER_MEM"])
    spark = b.getOrCreate()
    con = duck(sf_dir)
    cum, times, failed = 0.0, [], []
    try:
        for i, name in enumerate(names, 1):
            t0 = time.perf_counter()
            t_spark = t_duck = 0.0
            rows, verdict = [], "rows-only"
            try:
                df = qs[name](spark, sf_dir)
                cols, rows = df.columns, df.collect()
                t_spark = time.perf_counter() - t0
                if name in osql:
                    ocols, orows = oracle(con, osql[name])
                    t_duck = time.perf_counter() - t0 - t_spark
                    why = compare(cols, rows, ocols, orows)
                    verdict = "OK" if why is None else "FAIL"
            except Exception as exc:  # noqa: BLE001 -- report, go on
                t_spark = t_spark or time.perf_counter() - t0
                why, verdict = f"{type(exc).__name__}: {exc}", "FAIL"
            if verdict == "FAIL":
                failed.append((name, why))
            cum += t_spark + t_duck
            times.append((t_spark + t_duck, name))
            print(
                f"{i:3d} {name:32s} spark={t_spark:6.2f}s duck={t_duck:5.2f}s "
                f"cum={cum:7.2f}s rows={len(rows)} {verdict}",
                flush=True,
            )
    finally:
        spark.stop()
        con.close()
    print("\nslowest 15:")
    for t, name in sorted(times, reverse=True)[:15]:
        print(f"  {t:6.2f}s {name}")
    for name, why in failed:
        print(f"FAIL {name}: {why}")
    print(f"{len(names) - len(failed)}/{len(names)} pass at {sf_dir}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
