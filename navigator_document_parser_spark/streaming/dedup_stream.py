"""Streaming content-level deduplication.

Batch dedup (operators/dedup.py) is a hash-groupBy; a crawl stream needs
the same semantics incrementally: keep the FIRST arrival of each distinct
content fingerprint, drop later copies, without unbounded state. That is
exactly ``dropDuplicatesWithinWatermark``: state for a fingerprint is kept
only until the event-time watermark passes it, so memory is bounded by
(arrival rate x watermark horizon) rather than corpus size — the correct
100 TB shape (an exact forever-dedup belongs to the keyed sink's anti-join,
which is disk-backed; this operator is the in-flight near-window guard
that stops re-crawled copies from ever hitting the expensive extraction
stage).

Complements plans/sink.py: the sink dedups on the (url, warc_ts,
translated_to) KEY; this dedups on CONTENT (md5 of the blob/text), so two
urls serving identical bytes collapse to one extraction.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def content_fingerprint():
    """md5 over html bytes when present, else over text — matching the
    batch exact-dedup key (operators/dedup.py exact_dup_groups uses
    md5(text); blobs extend it to the pre-extraction surface)."""
    return F.when(
        F.col("html").isNotNull() & (F.length(F.col("html")) > 0),
        F.md5(F.col("html")),
    ).otherwise(F.md5(F.coalesce(F.col("text"), F.lit(""))))
