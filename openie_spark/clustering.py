"""Sentence clustering: KMeans sweep with silhouette model selection.

Reference behavior (/root/reference/relations.py:1005-1029): for
cluster_size in {50, 60, 70, 80, 90}, fit KMeans with
k = n_sentences // cluster_size (skip k < 2), keep the labeling with the
best silhouette score (>= — later sweep step wins ties); all-zeros labels
when every k is skipped. The reference sets no random seed (run-to-run
nondeterministic, SURVEY.md §5.3); we fix one — a documented delta that
makes the whole pipeline reproducible.

Degenerate fits are skipped like k < 2: when the vectors collapse to one
point (e.g. every sentence vector is zero, as without word vectors),
KMeans yields a single non-empty cluster and no silhouette exists. The
reference's sklearn ``silhouette_score`` raises on such a labeling; we
skip the fit (read from the fit's summary on the driver, no Spark job),
so a corpus whose every fit is degenerate gets the all-zeros labels.

Spark-first: ``pyspark.ml.clustering.KMeans`` is the distributed fit (the
reference's sklearn call is driver-RAM-bound), and ``ClusteringEvaluator``
computes a distributed squared-euclidean silhouette (sklearn default is
euclidean; ranking is equivalent for well-separated sweeps — documented).
The sweep loop itself runs on the driver: it's O(#candidate k) model fits,
each distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MIN_CLUSTER_SIZE = 50  # reference: relations.py:25
MAX_CLUSTER_SIZE = 100
CLUSTER_SIZE_STEP = 10


def sentence_vectors(triples_df: DataFrame) -> DataFrame:
    """One row per sentence with its vector (already computed in-extract)."""
    return (
        triples_df.select("url", "sent_id", "sent_vec")
        .groupBy("url", "sent_id")
        .agg(F.first("sent_vec").alias("sent_vec"))
    )


def cluster_sentences(
    sent_df: DataFrame,
    min_cluster_size: int = MIN_CLUSTER_SIZE,
    max_cluster_size: int = MAX_CLUSTER_SIZE,
    cluster_size_step: int = CLUSTER_SIZE_STEP,
    seed: int = 42,
) -> DataFrame:
    """(url, sent_id, sent_vec) → (url, sent_id, cluster).

    Cached input: the sweep fits several KMeans models over the same
    vectors; caching avoids recomputing the upstream extraction per fit.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.evaluation import ClusteringEvaluator
    from pyspark.ml.functions import array_to_vector

    vec_df = sent_df.withColumn("features", array_to_vector("sent_vec")).select(
        "url", "sent_id", "features"
    )
    vec_df = vec_df.cache()
    n = vec_df.count()

    best_labels: DataFrame | None = None
    best_score = -1.0
    evaluator = ClusteringEvaluator(
        featuresCol="features", predictionCol="cluster", metricName="silhouette"
    )
    for cluster_size in range(min_cluster_size, max_cluster_size, cluster_size_step):
        k = n // cluster_size
        if k < 2:
            continue
        km = KMeans(k=int(k), seed=seed, featuresCol="features", predictionCol="cluster")
        model = km.fit(vec_df)
        if sum(1 for size in model.summary.clusterSizes if size) < 2:
            continue  # one non-empty cluster: silhouette is undefined
        labeled = model.transform(vec_df)
        score = evaluator.evaluate(labeled)
        if score >= best_score:  # >= : larger cluster_size wins ties (reference)
            best_score = score
            best_labels = labeled.select("url", "sent_id", "cluster")

    if best_labels is None:
        result = vec_df.select("url", "sent_id", F.lit(0).alias("cluster"))
    else:
        result = best_labels
    return result


def with_clusters(triples_df: DataFrame, clusters_df: DataFrame) -> DataFrame:
    """Join cluster labels back onto triples on (url, sent_id).

    Equi-join on the sentence key; both sides hash-partition on the same key
    and AQE coalesces. (Not broadcast: at web scale the label table has one
    row per sentence.)
    """
    return triples_df.join(clusters_df, ["url", "sent_id"], "left").fillna(
        0, subset=["cluster"]
    )
