"""KMeans sweep clustering tests (reference semantics: k = n//size sweep,
silhouette model selection, ties → larger cluster_size)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from openie_spark.clustering import cluster_sentences, with_clusters


def make_sent_df(spark, n_per_blob=60, dim=8, seed=1):
    """Two well-separated blobs of sentence vectors."""
    rs = np.random.RandomState(seed)
    rows = []
    for b, center in enumerate([np.zeros(dim), np.ones(dim) * 10.0]):
        for i in range(n_per_blob):
            v = center + rs.randn(dim) * 0.1
            rows.append((f"u{b}_{i}", 0, [float(x) for x in v]))
    return spark.createDataFrame(
        rows, "url string, sent_id int, sent_vec array<float>"
    )


def test_cluster_two_blobs(spark):
    sent_df = make_sent_df(spark)  # 120 sentences → k = 120//50 = 2
    labels = cluster_sentences(sent_df, seed=7).collect()
    assert len(labels) == 120
    by_blob = {}
    for r in labels:
        blob = r["url"].split("_")[0]
        by_blob.setdefault(blob, set()).add(r["cluster"])
    # each blob maps to exactly one cluster, and the two clusters differ
    assert all(len(cl) == 1 for cl in by_blob.values())
    assert by_blob["u0"] != by_blob["u1"]


def test_cluster_too_few_sentences_all_zero(spark):
    sent_df = make_sent_df(spark, n_per_blob=20)  # 40 < 2*MIN_CLUSTER_SIZE
    labels = cluster_sentences(sent_df, seed=7).collect()
    assert {r["cluster"] for r in labels} == {0}


def test_cluster_zero_vectors_all_zero(spark):
    """Identical (all-zero) vectors give KMeans one non-empty cluster, so
    no silhouette exists; every such fit is skipped like k < 2."""
    rows = [(f"u{i}", 0, [0.0] * 8) for i in range(120)]  # k = 2 for 50, 60
    sent_df = spark.createDataFrame(
        rows, "url string, sent_id int, sent_vec array<float>"
    )
    labels = cluster_sentences(sent_df, seed=7).collect()
    assert len(labels) == 120
    assert {r["cluster"] for r in labels} == {0}


def test_with_clusters_join(spark):
    sent_df = make_sent_df(spark, n_per_blob=5)
    clusters = sent_df.select("url", "sent_id").withColumn("cluster", F.lit(3))
    triples = sent_df.select("url", "sent_id").withColumn("left_arg", F.lit("x"))
    out = with_clusters(triples, clusters).collect()
    assert all(r["cluster"] == 3 for r in out)


def test_cluster_determinism(spark):
    sent_df = make_sent_df(spark)
    l1 = {(r["url"]): r["cluster"] for r in cluster_sentences(sent_df, seed=7).collect()}
    l2 = {(r["url"]): r["cluster"] for r in cluster_sentences(sent_df, seed=7).collect()}
    assert l1 == l2
