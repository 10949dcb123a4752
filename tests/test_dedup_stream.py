"""Streaming content dedup across micro-batches: the extraction stream keeps
the first arrival per content fingerprint, and its result equals the batch
exact-dedup oracle over the same files."""

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from navigator_document_parser_spark.sources.synth import synth_documents
from navigator_document_parser_spark.streaming.dedup_stream import (
    content_fingerprint,
)
from navigator_document_parser_spark.streaming.stream_job import (
    start_dedup_extraction_stream,
)


def test_stream_dedup_matches_batch_distinct(spark):
    base = tempfile.mkdtemp(prefix="ndps-sdedup-")
    in_dir, out_dir = os.path.join(base, "in"), os.path.join(base, "out")
    try:
        docs = synth_documents(spark, 60, partitions=3).cache()
        # wave 1: half the docs; wave 2: the other half PLUS exact
        # content copies of wave-1 docs under different urls
        w1 = docs.filter(F.col("url").endswith("0") | F.col("url").endswith("5"))
        rest = docs.subtract(w1)
        copies = w1.limit(10).withColumn(
            "url", F.concat(F.lit("https://mirror.example.net/"), F.col("url"))
        )
        w1.write.parquet(in_dir)

        q = start_dedup_extraction_stream(
            spark, in_dir, out_dir, os.path.join(base, "ckpt"),
            watermark="240 hours",  # longer than the synth ts spread: exact
        )
        q.awaitTermination(120)

        n1 = spark.read.parquet(out_dir).count()
        assert n1 == w1.select(content_fingerprint().alias("f")).distinct().count()

        rest.unionByName(copies).write.mode("append").parquet(in_dir)
        q2 = start_dedup_extraction_stream(
            spark, in_dir, out_dir, os.path.join(base, "ckpt"),
            watermark="240 hours",
        )
        q2.awaitTermination(120)

        out = spark.read.parquet(out_dir)
        batch_distinct = (
            docs.unionByName(copies)
            .select(content_fingerprint().alias("f"))
            .distinct()
            .count()
        )
        # stream == batch oracle: one surviving row per distinct content
        assert out.count() == batch_distinct
        # every mirrored copy was dropped (its content arrived in wave 1)
        assert out.filter(F.col("url").startswith("https://mirror.")).count() == 0
    finally:
        shutil.rmtree(base, ignore_errors=True)
        docs.unpersist()
