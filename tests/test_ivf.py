"""IVF coarse-quantizer similarity search: recall vs brute force,
determinism, and cell-partition sanity."""

from pyspark.sql import functions as F

from navigator_document_parser_spark.operators.similarity import (
    knn_bruteforce,
    knn_ivf,
)

SF = "/root/testdata/sf0.001"


def test_ivf_sampled_recall_determinism_and_fullprobe(spark):
    """Sample-trained quantizer (the FAISS shape, 2 Spark jobs total):
    recall vs brute force, run-to-run determinism, and the full-probe
    == exact identity that backs the knn_ivf_fullprobe oracle."""
    from navigator_document_parser_spark.operators.similarity import (
        ivf_train_sampled,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").repartition(8)
    cents = ivf_train_sampled(emb, n_centroids=16).cache()
    assert cents.count() == 16
    dim = len(emb.select("embedding").first()[0])
    assert all(len(r["centroid"]) == dim for r in cents.collect())

    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in knn_bruteforce(emb, q, k=3).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in knn_ivf(emb, q, cents, k=3, n_probe=6).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.5

    full = {
        (r["query_id"], r["vec_id"])
        for r in knn_ivf(emb, q, cents, k=3, n_probe=16).collect()
    }
    assert full == exact

    cents2 = ivf_train_sampled(emb, n_centroids=16)
    a = sorted(
        (r["cid"], tuple(round(x, 12) for x in r["centroid"]))
        for r in cents.collect()
    )
    b = sorted(
        (r["cid"], tuple(round(x, 12) for x in r["centroid"]))
        for r in cents2.collect()
    )
    assert a == b
