"""Mirror of the driver's correctness gate: run every REGISTRY query on
Spark and its oracle SQL on DuckDB over the same parquet and compare
them with ``gate.compare`` (column names, row count, order-insensitive
values).
"""

from __future__ import annotations

import pytest

from kmeans_with_mapreduce_cuda_spark.plans import REGISTRY

from conftest import SF_DIR
from gate import canon, compare, oracle

SQL_CHECKED = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)


@pytest.mark.parametrize("name", SQL_CHECKED)
def test_query_matches_oracle(name, spark, duck):
    q = REGISTRY[name]
    df = q.fn(spark, SF_DIR)
    why = compare(df.columns, df.collect(), *oracle(duck, q.oracle))
    assert why is None, f"{name}: {why}"


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
    before = canon(*oracle(duck, before_sql))

    monkeypatch.setattr(importlib.import_module(f"{pkg}.{module}"), constant, value)
    sql = build()
    assert sql != before_sql
    ocols, orows = oracle(duck, sql)
    assert canon(ocols, orows) != before, "the changed value must change the answer"
    got = REGISTRY[name].fn(spark, SF_DIR)
    assert compare(got.columns, got.collect(), ocols, orows) is None
