"""Structured Streaming ingestion of the documents table.

The reference is strictly batch (SURVEY §2.4 'streaming: none'); this is
the Spark-native continuous-ingestion surface a crawl pipeline needs: new
parquet files landing in the documents directory are picked up by a file
stream, run through the SAME extraction plan (plans/job.py), and committed
through the SAME idempotent sink inside foreachBatch — so exactly-once
lands on (url, warc_ts, translated_to) set semantics plus the streaming
checkpoint, and a restart resumes from the checkpoint AND the anti-join.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..plans.job import run_extraction
from ..plans.sink import ParquetMergeSink
from ..schema import DOCUMENTS_SCHEMA


def start_dedup_extraction_stream(
    spark: SparkSession,
    input_dir: str,
    sink_path: str,
    checkpoint_dir: str,
    watermark: str = "24 hours",
    run_prefix: str = "stream",
    available_now: bool = True,
):
    """The full streaming ingestion pipeline, end to end:

        file stream -> in-flight CONTENT dedup (bounded state,
        dropDuplicatesWithinWatermark on the blob fingerprint)
        -> extraction (same plans/job.py plan as batch)
        -> idempotent KEYED merge (same plans/sink.py sink as batch)

    Layering (SURVEY §2.4 streaming): the watermark dedup stops
    re-crawled identical bytes from ever reaching the expensive
    extraction UDF; the keyed sink still guarantees at-most-once per
    (url, warc_ts, translated_to) even for copies the bounded state has
    already evicted. Batch/stream parity: every stage is the same code
    path the batch job composes, so draining a directory through this
    stream and running jobs/extract.py over it produce the same
    extracted text per surviving document (pinned by pytest).

    ``available_now=True`` drains everything currently in the directory
    and stops (backfill mode); False tails the directory forever.
    """
    from .dedup_stream import content_fingerprint

    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(input_dir)
    deduped = (
        stream.withColumn("fp", content_fingerprint())
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["fp"])
        .drop("fp")
    )

    sink = ParquetMergeSink(sink_path)

    def process_batch(batch_df, batch_id: int):
        run_id = f"{run_prefix}-{batch_id}"
        spark_b = batch_df.sparkSession
        # the checkpoint already prevents batch REPLAY; this prunes rows
        # whose key is committed but that re-arrive in NEW files
        # (duplicate data landing) before the extraction UDF runs
        batch_df = sink.prune_extraction_input(spark_b, batch_df)
        extracted = run_extraction(batch_df, run_id=run_id)
        sink.merge(spark_b, extracted, run_id)

    writer = (
        deduped.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
