"""Feed-poller frontier stream == batch distinct-discovery parity.

Feeds overlap across polls (a feed re-serves its recent entries every
fetch); the frontier must record each url exactly once, stamped with
the batch that first saw it.
"""

import shutil
import tempfile

import pytest

from navigator_document_parser_spark.streaming.feed_stream import (
    start_feed_frontier_stream,
)


def _rss(feed, ids):
    items = "".join(
        f"<item><title>t{i}</title>"
        f"<link>https://{feed}/a{i}</link></item>"
        for i in ids
    )
    return f"<rss><channel>{items}</channel></rss>"


@pytest.fixture()
def dirs():
    base = tempfile.mkdtemp(prefix="ndps-feedstream-")
    yield (base + "/in", base + "/out", base + "/ckpt")
    shutil.rmtree(base, ignore_errors=True)


def _land(spark, in_dir, rows):
    spark.createDataFrame(rows, "feed string, xml string").coalesce(
        1
    ).write.mode("append").parquet(in_dir)


def _drain(spark, in_dir, out_dir, ckpt):
    """Process every landed file not yet in the checkpoint, then stop.
    Landing one file per drain gives one file per micro-batch."""
    q = start_feed_frontier_stream(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(120)


def test_feed_frontier_discovers_each_url_once(spark, dirs):
    in_dir, out_dir, ckpt = dirs
    # poll 1: entries 0-4; poll 2 (separate file): 3-7 overlap + new
    _land(spark, in_dir, [("f1", _rss("f1", range(5)))])
    _drain(spark, in_dir, out_dir, ckpt)
    _land(spark, in_dir, [("f1", _rss("f1", range(3, 8))),
                          ("f2", _rss("f2", [0]))])
    _drain(spark, in_dir, out_dir, ckpt)

    out = spark.read.parquet(out_dir).collect()
    urls = sorted(r.url for r in out)
    assert urls == sorted(
        [f"https://f1/a{i}" for i in range(8)] + ["https://f2/a0"])
    assert len(urls) == len(set(urls))  # exactly-once discovery
    by_url = {r.url: r.discovered_batch for r in out}
    # overlapping entries keep their FIRST discovery batch
    first_batch = by_url["https://f1/a0"]
    assert by_url["https://f1/a3"] == first_batch
    assert by_url["https://f1/a7"] > first_batch


def test_feed_frontier_resumes_from_checkpoint(spark, dirs):
    in_dir, out_dir, ckpt = dirs
    _land(spark, in_dir, [("f1", _rss("f1", [1, 2]))])
    _drain(spark, in_dir, out_dir, ckpt)
    n1 = spark.read.parquet(out_dir).count()
    # second run: only the delta file is processed; full overlap adds 0
    _land(spark, in_dir, [("f1", _rss("f1", [1, 2, 3]))])
    _drain(spark, in_dir, out_dir, ckpt)
    rows = spark.read.parquet(out_dir).collect()
    assert n1 == 2 and len(rows) == 3
    assert sorted(r.url for r in rows) == [
        "https://f1/a1", "https://f1/a2", "https://f1/a3"]


def test_feed_frontier_within_batch_duplicate_is_deterministic(spark, dirs):
    in_dir, out_dir, ckpt = dirs
    # the same url in two feeds in ONE batch: smallest (feed, ...) wins
    _land(spark, in_dir, [
        ("zfeed", "<rss><channel><item><title>zt</title>"
                  "<link>https://x/a</link></item></channel></rss>"),
        ("afeed", "<rss><channel><item><title>at</title>"
                  "<link>https://x/a</link></item></channel></rss>"),
    ])
    _drain(spark, in_dir, out_dir, ckpt)
    rows = spark.read.parquet(out_dir).collect()
    assert [(r.url, r.feed, r.title) for r in rows] == [
        ("https://x/a", "afeed", "at")]


def test_feed_ingest_cli_end_to_end(spark, dirs):
    import jobs.feed_ingest as J

    in_dir, out_dir, ckpt = dirs
    _land(spark, in_dir, [("f1", _rss("f1", [1, 2, 3]))])
    J.main(["--input", in_dir, "--output", out_dir,
            "--checkpoint", ckpt, "--timeout", "120"])
    out = spark.read.parquet(out_dir)
    assert sorted(r.url for r in out.collect()) == [
        "https://f1/a1", "https://f1/a2", "https://f1/a3"]
