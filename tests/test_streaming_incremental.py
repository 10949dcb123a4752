"""Incremental streaming ingestion: files arriving while the stream runs.

Continuous mode (no availableNow): the file stream picks up a second
batch of documents dropped after the first micro-batch commits; the
keyed sink keeps everything exactly-once.
"""

import os
import re
import shutil
import tempfile
import time

from pyspark.sql import functions as F

from navigator_document_parser_spark.sources.synth import synth_documents
from navigator_document_parser_spark.streaming.stream_job import (
    start_dedup_extraction_stream,
)


def test_continuous_ingestion_picks_up_new_files(spark):
    base = tempfile.mkdtemp(prefix="ndps-inc-")
    in_dir = os.path.join(base, "in")
    out_dir = os.path.join(base, "out")
    try:
        docs = synth_documents(spark, 40, partitions=4).cache()
        first = docs.filter(F.xxhash64("url") % 2 == 0)
        second = docs.filter(F.xxhash64("url") % 2 != 0)
        n_first, n_second = first.count(), second.count()

        first.write.parquet(in_dir)  # initial files
        # the --tail mode of jobs/extract_stream.py; the fixture's warc_ts
        # span 40 hours, so the watermark must outlast them or the second
        # wave would arrive as late data
        q = start_dedup_extraction_stream(
            spark, in_dir, out_dir,
            os.path.join(base, "ckpt"),
            watermark="7 days",
            available_now=False,
        )
        def wait_for(n_rows: int):
            deadline = time.time() + 120
            while time.time() < deadline:
                if q.exception() is not None or not q.isActive:
                    raise AssertionError(
                        f"stream died: {q.exception()}"
                    )
                try:
                    if spark.read.parquet(out_dir).count() >= n_rows:
                        return
                except Exception:
                    pass
                time.sleep(2)

        try:
            wait_for(n_first)
            assert spark.read.parquet(out_dir).count() == n_first

            # drop the second wave into the live directory
            second.write.mode("append").parquet(in_dir)
            wait_for(n_first + n_second)
            out = spark.read.parquet(out_dir)
            assert out.count() == n_first + n_second
            assert out.select("url").distinct().count() == 40
        finally:
            q.stop()
    finally:
        try:
            docs.unpersist()
        except NameError:
            pass
        shutil.rmtree(base, ignore_errors=True)


def test_dedup_extraction_stream_matches_batch(spark):
    """The composed stream (content dedup -> extraction -> keyed merge,
    jobs/extract_stream.py) produces the SAME extracted corpus as the
    batch pipeline over a fixture with content duplicates: one survivor
    per distinct blob, byte-identical text, and a restart adds nothing.
    """
    from navigator_document_parser_spark.plans.job import run_extraction

    base = tempfile.mkdtemp(prefix="ndps-dstream-")
    in_dir = os.path.join(base, "in")
    out_dir = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    try:
        docs = synth_documents(spark, 30, partitions=2).cache()
        # same bytes under a second url = a re-crawled copy (mirror the
        # HOST, not a suffix: the router keys pdf routing off '.pdf')
        dups = docs.withColumn(
            "url",
            F.regexp_replace(F.col("url"), "^https://", "https://dup."),
        )
        docs.write.parquet(in_dir)
        dups.write.mode("append").parquet(in_dir)

        q = start_dedup_extraction_stream(spark, in_dir, out_dir, ckpt)
        q.awaitTermination(180)

        out = spark.read.parquet(out_dir)
        # exactly one survivor per distinct content fingerprint
        assert out.count() == 30
        surviving = {
            re.sub(r"^https://dup\.", "https://", r["url"])
            for r in out.select("url").collect()
        }
        assert len(surviving) == 30  # one PER group, never two of a group

        # byte-identical text per surviving document vs the batch plan
        batch = {
            r["url"]: r["text"]
            for r in run_extraction(docs, run_id="b").select(
                "url", "text"
            ).collect()
        }
        for r in out.select("url", "text").collect():
            assert batch[re.sub(r"^https://dup\.", "https://", r["url"])] == r["text"]

        # restart over the same directory: checkpoint + sink -> no growth
        q2 = start_dedup_extraction_stream(spark, in_dir, out_dir, ckpt)
        q2.awaitTermination(180)
        assert spark.read.parquet(out_dir).count() == 30
    finally:
        docs.unpersist()
        shutil.rmtree(base, ignore_errors=True)
