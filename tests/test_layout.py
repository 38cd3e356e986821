"""Data-layout sink: Z-order clustering for parquet min/max pruning.

Asserts what makes `write_zorder_clustered` a real scale lever rather
than a no-op: the written files carry narrow key ranges on every
interleaved column in their parquet footer statistics, and the Morton
key under it equals a plain-Python bit interleave.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from kmeans_with_mapreduce_cuda_spark.sources import load_table

from conftest import SF_DIR


def _key_ranges(path: str, col: str) -> list[tuple[int, int]]:
    """(min, max) of `col` per parquet file, from footer statistics."""
    out = []
    for f in sorted(glob.glob(os.path.join(path, "part-*.parquet"))):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(col)
        lo = min(
            md.row_group(g).column(idx).statistics.min
            for g in range(md.num_row_groups)
        )
        hi = max(
            md.row_group(g).column(idx).statistics.max
            for g in range(md.num_row_groups)
        )
        out.append((lo, hi))
    return out


def test_zorder_clustering_narrows_both_columns(spark, tmp_path):
    """Z-order tiling must give every file a narrow min/max range on
    BOTH interleaved columns (multi-dimensional pruning)."""
    from kmeans_with_mapreduce_cuda_spark.functions.layout import (
        write_zorder_clustered,
    )

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    zdir = str(tmp_path / "zorder")
    write_zorder_clustered(li, zdir, "l_orderkey", "l_partkey", num_files=16)

    lo_k, hi_k, lo_p, hi_p = li.agg(
        F.min("l_orderkey"), F.max("l_orderkey"),
        F.min("l_partkey"), F.max("l_partkey"),
    ).collect()[0]
    k_span, p_span = hi_k - lo_k, hi_p - lo_p

    def mean_span(path, col, span):
        rng = _key_ranges(path, col)
        return sum((hi - lo) / span for lo, hi in rng) / len(rng)

    # z-order: BOTH columns' per-file spans shrink well below the domain
    assert mean_span(zdir, "l_orderkey", k_span) < 0.5
    assert mean_span(zdir, "l_partkey", p_span) < 0.5

    # content survives
    back = spark.read.parquet(zdir)
    assert back.count() == li.count()
    assert (
        back.agg(F.sum("l_quantity")).collect()[0][0]
        == li.agg(F.sum("l_quantity")).collect()[0][0]
    )


def test_zorder_key_matches_python_twin(spark):
    """The Column-expression Morton key must equal a plain-Python bit
    interleave on a sample -- locks the normalize+interleave arithmetic
    against refactors."""
    from kmeans_with_mapreduce_cuda_spark.functions.layout import zorder_key

    bits = 8
    lo_a, hi_a, lo_b, hi_b = 0.0, 1000.0, -50.0, 450.0

    def py_key(a, b):
        top = (1 << bits) - 1
        na = min(top, max(0, int((a - lo_a) * (top / (hi_a - lo_a)))))
        nb = min(top, max(0, int((b - lo_b) * (top / (hi_b - lo_b)))))
        k = 0
        for i in range(bits):
            k |= (na & (1 << i)) << i
            k |= (nb & (1 << i)) << (i + 1)
        return k

    rows = [
        (float(a), float(b))
        for a in (0, 1, 3.7, 499.9, 500, 999.99, 1000, 2000, -5)
        for b in (-50, -49.2, 0, 199.5, 449, 450, 600)
    ]
    df = spark.createDataFrame(rows, ["a", "b"]).withColumn(
        "k", zorder_key(["a", "b"], [(lo_a, hi_a), (lo_b, hi_b)], bits)
    )
    for r in df.collect():
        assert r["k"] == py_key(r["a"], r["b"]), (r["a"], r["b"])


def test_zorder_key_nd_matches_python_twin(spark):
    """The n-column Morton key (round-4: >2 columns) must equal a plain
    Python round-robin bit interleave on a 3-D sample."""
    from kmeans_with_mapreduce_cuda_spark.functions.layout import zorder_key

    bits = 6
    ranges = [(0.0, 100.0), (-10.0, 10.0), (1000.0, 2000.0)]

    def py_key(vals):
        top = (1 << bits) - 1
        n = len(vals)
        normed = [
            min(top, max(0, int((v - lo) * (top / (hi - lo)))))
            for v, (lo, hi) in zip(vals, ranges)
        ]
        k = 0
        for i in range(bits):
            for j, nv in enumerate(normed):
                k |= (nv & (1 << i)) << (i * (n - 1) + j)
        return k

    rows = [
        (float(a), float(b), float(c))
        for a in (0, 33.3, 99.9, 150, -1)
        for b in (-10, -3.5, 0, 9.99, 12)
        for c in (1000, 1499.5, 1999, 2500)
    ]
    df = spark.createDataFrame(rows, ["a", "b", "c"]).withColumn(
        "k", zorder_key(["a", "b", "c"], ranges, bits)
    )
    for r in df.collect():
        assert r["k"] == py_key((r["a"], r["b"], r["c"])), (
            r["a"], r["b"], r["c"],
        )


def test_zorder_clustering_3col_narrows_all_columns(spark, tmp_path):
    """3-column Z-order write: every file's min/max span must shrink
    well below the domain on ALL THREE clustered columns (each span
    is necessarily wider than the 2-D case at the same file count --
    the dimensionality trade documented in layout.py)."""
    from kmeans_with_mapreduce_cuda_spark.functions.layout import (
        write_zorder_clustered,
    )

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    zdir = str(tmp_path / "zorder3")
    write_zorder_clustered(
        li, zdir, "l_orderkey", "l_partkey", "l_suppkey", num_files=64
    )

    spans = {}
    for col in ("l_orderkey", "l_partkey", "l_suppkey"):
        lo, hi = li.agg(F.min(col), F.max(col)).collect()[0]
        rng = _key_ranges(zdir, col)
        spans[col] = sum((fhi - flo) / (hi - lo) for flo, fhi in rng) / len(rng)
    for col, span in spans.items():
        assert span < 0.6, spans

    back = spark.read.parquet(zdir)
    assert back.count() == li.count()
    assert (
        back.agg(F.sum("l_quantity")).collect()[0][0]
        == li.agg(F.sum("l_quantity")).collect()[0][0]
    )


def test_zorder_key_3col_is_bijective_and_invertible(spark):
    """Exhaustive whole-formula check: with bits=4 and ranges (0,15) the
    normalization is the identity, so over ALL 16^3 = 4096 input combos
    the Morton key must (a) be distinct per combo (bijection -- no two
    cells collide) and (b) decode back to the inputs by de-interleaving
    (bit i*n+j of the key is bit i of column j)."""
    from kmeans_with_mapreduce_cuda_spark.functions.layout import zorder_key

    bits, n = 4, 3
    rows = [
        (float(a), float(b), float(c))
        for a in range(16)
        for b in range(16)
        for c in range(16)
    ]
    got = (
        spark.createDataFrame(rows, ["a", "b", "c"])
        .withColumn(
            "k", zorder_key(["a", "b", "c"], [(0.0, 15.0)] * 3, bits)
        )
        .collect()
    )
    assert len({r["k"] for r in got}) == 16 ** 3  # bijective
    for r in got:
        k = r["k"]
        decoded = [0, 0, 0]
        for i in range(bits):
            for j in range(n):
                decoded[j] |= ((k >> (i * n + j)) & 1) << i
        assert decoded == [int(r["a"]), int(r["b"]), int(r["c"])], (r, decoded)


def test_zorder_clustering_three_columns(spark, tmp_path):
    """3-column Z-order write: every file's footer min/max must narrow
    on ALL THREE interleaved columns (each below ~the full domain), with
    the expected dimensionality cost vs the 2-column tiling -- more
    dimensions at fixed key bits widen each per-column span, but all
    stay prunable."""
    from kmeans_with_mapreduce_cuda_spark.functions.layout import (
        write_zorder_clustered,
    )

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    zdir = str(tmp_path / "zorder3")
    write_zorder_clustered(
        li, zdir, "l_orderkey", "l_partkey", "l_suppkey", num_files=16
    )

    spans = {}
    for col in ("l_orderkey", "l_partkey", "l_suppkey"):
        lo, hi = li.agg(F.min(col), F.max(col)).collect()[0]
        rng = _key_ranges(zdir, col)
        spans[col] = sum(
            (fhi - flo) / max(hi - lo, 1) for flo, fhi in rng
        ) / len(rng)
    # all three dimensions prune: mean per-file span well under the domain
    for col, s in spans.items():
        assert s < 0.75, (col, s, spans)

    back = spark.read.parquet(zdir)
    assert back.count() == li.count()
    assert (
        back.agg(F.sum("l_quantity")).collect()[0][0]
        == li.agg(F.sum("l_quantity")).collect()[0][0]
    )


def test_zorder_clustering_3col_narrows_all_columns(spark, tmp_path):
    """3-column Z-order write: every file's footer min/max must narrow
    on ALL THREE interleaved columns (the >2-column case; per the
    docstring, spans widen with dimensionality but must still beat the
    full domain on every axis)."""
    from kmeans_with_mapreduce_cuda_spark.functions.layout import (
        write_zorder_clustered,
    )

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    zdir = str(tmp_path / "zorder3")
    write_zorder_clustered(
        li, zdir, "l_orderkey", "l_partkey", "l_suppkey", num_files=16
    )

    spans = {}
    for col in ("l_orderkey", "l_partkey", "l_suppkey"):
        lo, hi = li.agg(F.min(col), F.max(col)).collect()[0]
        rng = _key_ranges(zdir, col)
        spans[col] = sum((h - l) / (hi - lo) for l, h in rng) / len(rng)
    # every axis prunes: mean per-file span well under the full domain
    # (looser than the 2-col bound -- 16 files tile a 3-D space)
    for col, span in spans.items():
        assert span < 0.75, (col, spans)

    back = spark.read.parquet(zdir)
    assert back.count() == li.count()
    assert (
        back.agg(F.sum("l_quantity")).collect()[0][0]
        == li.agg(F.sum("l_quantity")).collect()[0][0]
    )


def test_rel_zorder_pruning_pushes_box_predicate_to_scan(spark):
    """The gate query's 2-D box must reach the clustered scan as
    PushedFilters on BOTH interleaved columns (row-group pruning
    composes with the file-level locality the claim column pins)."""
    from kmeans_with_mapreduce_cuda_spark.plans import REGISTRY

    df = REGISTRY["rel_zorder_pruning"].fn(spark, SF_DIR)
    # formatted explain: the operator toString elides long PushedFilters
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    scan = plan.split("PushedFilters")[-1]
    assert "GreaterThanOrEqual(l_orderkey" in scan, plan
    assert "GreaterThanOrEqual(l_partkey" in scan, plan
    assert "LessThan(l_orderkey" in scan and "LessThan(l_partkey" in scan, plan


def test_rel_zorder_pruning_all_null_key_column_returns_typed_empty(
    spark, tmp_path
):
    """Rows present but one cluster-key column entirely NULL: the
    oracle's NULL bounds filter every row, so the query must return
    the typed empty relation, not crash on float(None) (r10 second
    review)."""
    from pyspark.sql import functions as F

    from kmeans_with_mapreduce_cuda_spark.plans import REGISTRY

    spark.createDataFrame(
        [(1, "A", 5.0, 100.0), (2, "N", 3.0, 50.0)],
        "l_orderkey long, l_returnflag string, l_quantity double, "
        "l_extendedprice double",
    ).withColumn("l_partkey", F.lit(None).cast("long")).write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    out = REGISTRY["rel_zorder_pruning"].fn(spark, str(tmp_path))
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "returnflag", "n", "sum_qty", "sum_price_cents",
        "clustered_files_skipped",
    ]


def test_write_zorder_clustered_empty_and_all_null_inputs(spark, tmp_path):
    """The operator-level guard (not just the gate caller's): an empty
    source or an all-NULL cluster column has no locality to encode --
    the write must still succeed (plain unclustered parquet) instead of
    crashing on float(None) bounds (code-review r10)."""
    import os

    from kmeans_with_mapreduce_cuda_spark.functions.layout import (
        write_zorder_clustered,
    )

    empty = spark.createDataFrame([], "a bigint, b bigint")
    p1 = str(tmp_path / "empty")
    write_zorder_clustered(empty, p1, "a", "b")
    assert os.path.exists(os.path.join(p1, "_SUCCESS"))
    assert spark.read.parquet(p1).count() == 0

    allnull = spark.createDataFrame(
        [(i, None) for i in range(10)], "a bigint, b bigint"
    )
    p2 = str(tmp_path / "allnull")
    write_zorder_clustered(allnull, p2, "a", "b")
    got = spark.read.parquet(p2)
    assert got.count() == 10
    assert got.where(F.col("b").isNull()).count() == 10
