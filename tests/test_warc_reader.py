"""WARC ingestion: CC-style gzip-member archives -> documents rows ->
the full extraction pipeline."""

import gzip
import os
import shutil
import tempfile

from navigator_document_parser_spark.sources.warc import (
    _iter_warc_records,
    _records_to_rows,
    read_warc,
    write_warc,
)


def _page(i: int) -> bytes:
    return (
        f"<html><head><title>Page {i}</title></head><body>"
        f'<div class="content"><p>Paragraph one of page {i} with words.</p>'
        f"<p>Second paragraph for page {i} follows here.</p></div>"
        f"</body></html>"
    ).encode()


def _archive(ids, gz=True) -> bytes:
    return write_warc(
        [
            (
                f"https://example.org/p/{i}",
                f"2024-02-0{1 + i % 9}T12:00:0{i % 10}Z",
                _page(i),
            )
            for i in ids
        ],
        gzip_members=gz,
    )


def test_record_parser_pure():
    raw = gzip.GzipFile(
        fileobj=__import__("io").BytesIO(_archive([1, 2, 3]))
    ).read()
    recs = list(_iter_warc_records(raw))
    assert len(recs) == 3
    assert recs[0][0]["warc-type"] == "response"
    rows = _records_to_rows(_archive([1, 2, 3]))
    assert [r["url"] for r in rows] == [
        f"https://example.org/p/{i}" for i in (1, 2, 3)
    ]
    assert rows[0]["html"] == _page(1)  # HTTP headers stripped
    assert rows[0]["warc_ts"].year == 2024


def test_negative_content_length_terminates():
    """ADVICE r2: a hostile 'Content-Length: -N' header must not move the
    cursor backward onto a prior record boundary and re-yield the same
    record forever — the parser stops cleanly instead."""
    good = _archive([1], gz=False)
    evil = (
        "WARC/1.0\r\nWARC-Type: response\r\n"
        "WARC-Target-URI: https://example.org/evil\r\n"
        "WARC-Date: 2024-02-01T00:00:00Z\r\n"
        "Content-Length: -54\r\n\r\n"
    ).encode()
    recs = list(_iter_warc_records(good + evil))  # hung forever pre-fix
    assert len(recs) == 1
    rows = _records_to_rows(good + evil)
    assert [r["url"] for r in rows] == ["https://example.org/p/1"]


def test_malformed_records_dropped_never_raise():
    good = _archive([7], gz=False)
    cases = [
        b"",
        b"garbage not a warc",
        good[: len(good) // 2],        # truncated payload
        good + b"WARC/1.0\r\nbroken",  # good record + garbage tail
        gzip.compress(b"\x00\x01\x02"),
        b"\x1f\x8b truncated gzip",
    ]
    for blob in cases:
        rows = _records_to_rows(blob)
        assert isinstance(rows, list)
    assert len(_records_to_rows(good + b"WARC/1.0\r\nbroken")) == 1


def test_extract_cli_warc_format(spark):
    """jobs/extract.py --format warc drives shards through the whole
    extract+merge pipeline."""
    import jobs.extract as J

    base = tempfile.mkdtemp(prefix="ndps-warc-cli-")
    try:
        with open(os.path.join(base, "s.warc.gz"), "wb") as f:
            f.write(_archive(range(0, 12)))
        J.main([
            "--input", base + "/*.warc.gz",
            "--format", "warc",
            "--output", base + "/out",
            "--run-id", "warc-cli",
        ])
        out = spark.read.parquet(base + "/out")
        assert out.count() == 12
        assert out.filter("error is null").count() == 12
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_warc_to_extraction_end_to_end(spark):
    from navigator_document_parser_spark.plans.job import run_extraction

    base = tempfile.mkdtemp(prefix="ndps-warc-")
    try:
        # two CC-style shards + a non-response record mixed in
        extra = (
            "WARC/1.0\r\nWARC-Type: request\r\n"
            "WARC-Target-URI: https://example.org/skip\r\n"
            "WARC-Date: 2024-02-01T00:00:00Z\r\nContent-Length: 2\r\n"
            "\r\nhi\r\n\r\n"
        ).encode()
        with open(os.path.join(base, "a.warc.gz"), "wb") as f:
            f.write(_archive(range(0, 6)) + gzip.compress(extra))
        with open(os.path.join(base, "b.warc.gz"), "wb") as f:
            f.write(_archive(range(6, 10)))

        docs = read_warc(spark, base + "/*.warc.gz")
        assert docs.count() == 10  # request record excluded
        out = run_extraction(docs, run_id="warc")
        rows = {r["url"]: r for r in out.collect()}
        assert len(rows) == 10
        for i in range(10):
            r = rows[f"https://example.org/p/{i}"]
            assert r["error"] is None
            assert f"Paragraph one of page {i}" in r["text"]
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_wet_reader_and_curate_e2e(spark):
    """WET (Common Crawl extracted-text) shards: conversion records land
    as text rows with html NULL; response records in the same archive
    are ignored; the curate CLI consumes WET shards end to end."""
    from navigator_document_parser_spark.sources.warc import (
        read_wet,
        write_wet,
    )

    base = tempfile.mkdtemp(prefix="ndps-wet-")
    try:
        texts = [
            (
                f"https://example.org/t/{i}",
                f"2024-03-0{1 + i % 9}T08:00:00Z",
                f"the quick document number {i} with plenty of words "
                * 12,
            )
            for i in range(8)
        ]
        wet = write_wet(texts)
        # a stray response record must be skipped by the WET reader
        wet += _archive([99])
        with open(os.path.join(base, "a.warc.wet.gz"), "wb") as f:
            f.write(wet)

        docs = read_wet(spark, base + "/*.warc.wet.gz")
        rows = {r["url"]: r for r in docs.collect()}
        assert len(rows) == 8
        for url, date, text in texts:
            assert rows[url]["text"] == text
            assert rows[url]["html"] is None

        # e2e: curate CLI straight off the WET shard
        from jobs.curate import main as curate_main

        curate_main([
            "--input", base + "/*.warc.wet.gz",
            "--format", "wet",
            "--output", base + "/out",
        ])
        out = spark.read.parquet(base + "/out")
        assert out.count() == 8  # distinct texts, all pass the gate
        assert set(out.columns) >= {"doc_id", "text"}
    finally:
        shutil.rmtree(base, ignore_errors=True)
