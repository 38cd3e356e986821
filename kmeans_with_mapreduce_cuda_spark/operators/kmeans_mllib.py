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
    features: str = "embedding",
    max_iter: int = 20,
    tol: float = 1e-4,
    seed: int = 42,
) -> KMeansResult:
    """Fit MLlib KMeans (k-means|| init) on an array<float/double> column.

    ``array_to_vector`` is a JVM expression (not a UDF), so the
    array->Vector bridge adds no Python round-trip.
    """
    vecs = df.select(
        array_to_vector(F.col(features).cast("array<double>")).alias("features")
    )
    km = KMeans(
        k=k, maxIter=max_iter, tol=tol, seed=seed, initMode="k-means||",
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


def predict_kmeans(
    model: KMeansModel, df: DataFrame, features: str = "embedding", out: str = "cluster_id"
) -> DataFrame:
    """Score ``df`` with a fitted model, appending ``out``.

    Internal columns are __kmrc_-prefixed and passed as transform-time
    param overrides: naming the temp column "features" silently
    REPLACED and then dropped a caller's own features column, and a
    pre-existing "prediction" column made transform fail outright
    (code-review r10)."""
    tmp_feat, tmp_pred = "__kmrc_features", "__kmrc_prediction"
    vecs = df.withColumn(
        tmp_feat, array_to_vector(F.col(features).cast("array<double>"))
    )
    scored = model.transform(
        vecs, {model.featuresCol: tmp_feat, model.predictionCol: tmp_pred}
    )
    return scored.withColumnRenamed(tmp_pred, out).drop(tmp_feat)


def save_model(model: KMeansModel, path: str) -> None:
    """Persist the fitted model (centroids + params) as Spark ML
    metadata+parquet -- the artifact hand-off between the training job
    and any number of downstream scoring jobs.  The reference's only
    'model persistence' is the Point-per-line text sink
    (kmeans_with_mapreduce-cuda.cu:105-121); this is its library-layer
    equivalent, loadable on any cluster."""
    model.write().overwrite().save(path)


def load_model(path: str) -> KMeansModel:
    return KMeansModel.load(path)
