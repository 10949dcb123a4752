"""Streaming feed poller: fetched RSS/Atom XML -> new frontier urls.

The freshness loop of a news-aware crawler: feed documents land
continuously (the fetcher polls the urls meta_tags discovered), each
micro-batch is parsed with sources/feed.parse_feed, and only urls the
frontier has NEVER seen are appended — discovery is monotone, so the
"memory" is the committed output itself (a stream-static anti-join per
micro-batch: no watermark, no state store; a frontier url is forever).

Within-batch duplicates (the same url in two feeds, or one feed file
landing twice in a batch) collapse to the smallest (feed, url) row —
a deterministic min-struct pick, never dropDuplicates' arbitrary one.

100 TB shape: feeds are tiny documents; the committed side is the big
one and the anti-join is a plain equi-join the planner broadcasts or
shuffles per micro-batch as its statistics dictate. At frontier sizes
where a per-batch scan of the committed table hurts, swap the static
read for the Bloom-prefiltered committed view (dedup_bloom) — the
documented seam.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.feed import parse_feed


def _new_entries(
    batch: DataFrame, committed: DataFrame | None, batch_id: int
) -> DataFrame:
    """Parsed feed entries -> never-seen-before frontier rows."""
    entries = parse_feed(batch, xml_col="xml", feed_col="feed")
    picked = (
        entries.groupBy("url")
        .agg(
            F.min(
                F.struct("feed", "format", "title", "published")
            ).alias("e")
        )
        .select(
            "url",
            F.col("e.feed").alias("feed"),
            F.col("e.format").alias("format"),
            F.col("e.title").alias("title"),
            F.col("e.published").alias("published"),
            F.lit(batch_id).cast("bigint").alias("discovered_batch"),
        )
    )
    if committed is None:
        return picked
    return picked.join(
        committed.select("url").dropDuplicates(["url"]),
        on="url",
        how="left_anti",
    )


def start_feed_frontier_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Tail ``input_dir`` for (feed, xml) parquet files; append
    never-seen feed entries to the frontier at ``out_dir``. Returns the
    started StreamingQuery."""
    stream = spark.readStream.schema("feed string, xml string").parquet(
        input_dir
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # Spark-native existence probe: works on s3a/hdfs/file alike
        # (a driver-side os.path probe is local-FS-only and would
        # silently disable the anti-join on object stores — review
        # finding), and costs a listing, not a tree walk.
        try:
            committed = spark.read.parquet(out_dir)
        except AnalysisException:
            committed = None
        out = _new_entries(batch_df, committed, batch_id)
        out.write.mode("append").parquet(out_dir)

    writer = (
        stream.writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
