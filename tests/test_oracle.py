"""Mirror of the driver's correctness gate: run every REGISTRY query on
Spark and its oracle SQL on DuckDB over the same parquet, compare
row count + column names + order-insensitive values.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from kmeans_with_mapreduce_cuda_spark.plans import REGISTRY

from conftest import SF_DIR

SQL_CHECKED = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalize cell values, sort rows -- the same
    order-insensitive comparison shape the driver hashes."""
    df = df.reindex(sorted(df.columns), axis=1)

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<null>"
        if isinstance(v, float):
            if v == int(v) and abs(v) < 1e15:
                return f"{v:.6f}"
            return f"{v:.6f}"
        if isinstance(v, bool):
            return str(bool(v))
        return str(v)

    out = df.map(norm)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", SQL_CHECKED)
def test_query_matches_oracle(name, spark, duck):
    q = REGISTRY[name]
    got = q.fn(spark, SF_DIR).toPandas()
    exp = duck.execute(q.oracle).fetchdf()
    assert sorted(got.columns) == sorted(exp.columns), (
        f"{name}: column names differ: spark={sorted(got.columns)} "
        f"duckdb={sorted(exp.columns)}"
    )
    assert len(got) == len(exp), f"{name}: row count {len(got)} != {len(exp)}"
    g, e = _canon(got), _canon(exp)
    mism = (g != e).any(axis=1)
    if mism.any():
        idx = mism[mism].index[:5]
        raise AssertionError(
            f"{name}: {int(mism.sum())}/{len(g)} rows differ; first:\n"
            f"spark:\n{g.loc[idx]}\nduckdb:\n{e.loc[idx]}"
        )


def test_rows_only_queries_run(spark):
    """Queries without an oracle still must run and return a schema."""
    for name, q in REGISTRY.items():
        if q.oracle is None:
            df = q.fn(spark, SF_DIR)
            assert df.columns, name
            assert df.count() >= 0, name


@pytest.mark.parametrize(
    "module, constant, value, name, builder",
    [
        ("functions.hashing", "MINHASH_BANDS", 4, "dedup_minhash_lsh", "pipeline._minhash_sql"),
        ("operators.graph", "DAMPING_PCT", 70, "rel_pagerank", "relational._pagerank_sql"),
    ],
)
def test_shared_constant_moves_query_and_oracle_together(
    module, constant, value, name, builder, spark, duck, monkeypatch
):
    """A tuning value shared by an operator and its oracle is ONE module
    constant: changing it changes the oracle builder's SQL and the
    query's rows alike, and the two still agree -- neither side holds a
    private copy that could drift."""
    import importlib

    pkg = "kmeans_with_mapreduce_cuda_spark"
    builder_mod, builder_fn = builder.split(".")
    build = getattr(importlib.import_module(f"{pkg}.plans.{builder_mod}"), builder_fn)
    before_sql = build()
    before = _canon(duck.execute(before_sql).fetchdf())

    monkeypatch.setattr(importlib.import_module(f"{pkg}.{module}"), constant, value)
    sql = build()
    assert sql != before_sql
    exp = _canon(duck.execute(sql).fetchdf())
    got = _canon(REGISTRY[name].fn(spark, SF_DIR).toPandas())
    assert not exp.equals(before), "the changed value must change the answer"
    assert got.equals(exp)
