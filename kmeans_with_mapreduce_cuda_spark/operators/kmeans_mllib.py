"""Library layer: MLlib KMeans over DataFrames (BASELINE.json's named
approach -- "MapReduce-based K-means is directly replaceable with Spark
MLlib's distributed KMeans over DataFrames").

MLlib's implementation is the scale path: distance computation in the
JVM with norm-based pruning, k-means|| parallel init (a strict upgrade on
the reference's Forgy init, kmeans_with_mapreduce-cuda.cu:12-19), native
empty-cluster handling, and tol-based convergence the reference documents
but never implements (README.md:20-22 vs config.cuh:11).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.ml.clustering import KMeans, KMeansModel
from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class KMeansResult:
    model: KMeansModel
    centroids: list[list[float]]
    sse: float  # training cost == sum of squared distances
    iterations: int


def fit_kmeans(
    df: DataFrame,
    k: int,
    max_iter: int = 20,
    tol: float = 1e-4,
) -> KMeansResult:
    """Fit MLlib KMeans (k-means|| init, seed 42) on the
    array<float/double> ``embedding`` column.

    ``array_to_vector`` is a JVM expression (not a UDF), so the
    array->Vector bridge adds no Python round-trip.
    """
    vecs = df.select(
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    km = KMeans(
        k=k, maxIter=max_iter, tol=tol, seed=42, initMode="k-means||",
        featuresCol="features",
    )
    model = km.fit(vecs)
    summary = model.summary
    return KMeansResult(
        model=model,
        centroids=[list(map(float, c)) for c in model.clusterCenters()],
        sse=float(summary.trainingCost),
        iterations=int(summary.numIter),
    )


def predict_kmeans(model: KMeansModel, df: DataFrame) -> DataFrame:
    """Score ``df``'s ``embedding`` with a fitted model, appending
    ``cluster_id``.

    Internal columns are __kmrc_-prefixed and passed as transform-time
    param overrides: naming the temp column "features" silently
    REPLACED and then dropped a caller's own features column, and a
    pre-existing "prediction" column made transform fail outright
    (code-review r10)."""
    tmp_feat, tmp_pred = "__kmrc_features", "__kmrc_prediction"
    vecs = df.withColumn(
        tmp_feat, array_to_vector(F.col("embedding").cast("array<double>"))
    )
    scored = model.transform(
        vecs, {model.featuresCol: tmp_feat, model.predictionCol: tmp_pred}
    )
    return scored.withColumnRenamed(tmp_pred, "cluster_id").drop(tmp_feat)
