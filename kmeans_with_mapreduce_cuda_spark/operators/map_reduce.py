"""Generic MapReduce extensibility surface.

The reference's user hook is a typed (mapper, reducer) device-function
pair over key/value pairs (kmeans_mapreduce_core.cu:21-35 mapper,
:54-69 reducer; types config.cuh:44-61): mapper emits (key, value) pairs
per input row, the engine sort-shuffles by key, reducer folds each key's
run.  This module is that contract on Spark: Arrow-batched Python
callables (``mapInPandas`` for the mapper's multi-emit, ``applyInPandas``
for the per-key reducer), with Spark's hash shuffle standing in for the
thrust sort.

This is the SLOW PATH by design -- the primitive/relational layers use
built-in Column expressions (10-100x faster).  Use it only for logic the
built-ins genuinely can't express.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

MapperFn = Callable[[pd.DataFrame], pd.DataFrame]
ReducerFn = Callable[[pd.DataFrame], pd.DataFrame]


def map_reduce(
    df: DataFrame,
    mapper: MapperFn,
    reducer: ReducerFn,
    pair_schema: StructType | str,
    out_schema: StructType | str,
) -> DataFrame:
    """Run a user (mapper, reducer) pair over a DataFrame.

    ``mapper``  : pandas batch -> pandas batch of (key, ...value) rows;
                  may emit 0..n rows per input row (the reference's
                  NUM_PAIRS fan-out generalized, config.cuh:13).
    ``reducer`` : one key's full batch -> 0..n output rows.

    The shuffle between them is ``groupBy("key")`` -- hash partitioning on
    the key, the declarative equivalent of the reference's device-wide
    sort (kmeans_mapreduce_core.cu:248) + segment scan (:71-107).
    """

    def map_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = mapper(pdf)
            if len(out):
                yield out

    pairs = df.mapInPandas(map_batches, schema=pair_schema)
    # reducer passed through directly: applyInPandas dispatches on the
    # callable's arity, so a wrapping lambda would pin the single-arg
    # mode and break the supported (key, pdf) reducer form with a
    # confusing executor-side TypeError (code-review r10)
    return pairs.groupBy("key").applyInPandas(reducer, schema=out_schema)


def kmeans_step_mapreduce(
    points: DataFrame, centroids: list[tuple[float, float]]
) -> DataFrame:
    """The reference's exact workload expressed through the generic hook:
    mapper = nearest-centroid assignment emitting (cluster_id, x, y);
    reducer = per-cluster mean.  Exists to prove the UDF surface matches
    the native path (tests assert equality with assign_2d/update_2d);
    production code uses the Column-expression path.
    """
    import numpy as np

    cents = np.asarray(centroids, dtype=np.float64)

    def mapper(pdf: pd.DataFrame) -> pd.DataFrame:
        xy = pdf[["x", "y"]].to_numpy(dtype=np.float64)
        d = ((xy[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        return pd.DataFrame(
            {"key": d.argmin(axis=1).astype("int32"), "x": pdf["x"], "y": pdf["y"]}
        )

    def reducer(g: pd.DataFrame) -> pd.DataFrame:
        # skipna=False: the native path's Spark avg PROPAGATES NaN, and
        # pandas' default skipna would silently drop it, breaking the
        # asserted parity on NaN coordinates (code-review r10).  NULLs
        # are out of scope for this surface: Arrow delivers them as
        # NaN, indistinguishable from a real NaN here.
        return pd.DataFrame(
            {
                "cluster_id": [int(g["key"].iloc[0])],
                "cx": [float(g["x"].mean(skipna=False))],
                "cy": [float(g["y"].mean(skipna=False))],
                "n": [len(g)],
            }
        )

    return map_reduce(
        points,
        mapper,
        reducer,
        pair_schema="key int, x double, y double",
        out_schema="cluster_id int, cx double, cy double, n long",
    )
