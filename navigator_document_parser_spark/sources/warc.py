"""WARC ingestion — the Common-Crawl-native source format.

The documents table's input model is a pre-crawled page archive; the
archival format those crawls actually ship in is WARC (ISO 28500):
per-record headers (WARC/1.0, CRLF-terminated, blank-line-separated)
followed by a Content-Length-delimited payload, usually one gzip member
per record concatenated into .warc.gz files.

Spark-shape: `spark.read.format("binaryFile")` lists the archive files
into tasks (one file = one task = the natural CC shard granularity:
CC ships ~1 GB .warc.gz shards, well inside executor memory), and a
mapInPandas pass parses records into DOCUMENTS_SCHEMA rows. Parsing is
from scratch (stdlib gzip/zlib only) and NEVER throws per record —
malformed records are dropped with a counter, matching the pipeline's
errors-become-rows philosophy at the ingestion boundary.

Only 'response' records with an http/https WARC-Target-URI become rows:
url = target URI, warc_ts = WARC-Date, html = HTTP body bytes (headers
stripped), text = '' and lang = NULL (filled downstream).
"""

from __future__ import annotations

import gzip
import io
from datetime import datetime, timezone
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..schema import DOCUMENTS_SCHEMA

_MAX_HEADER_BYTES = 64 * 1024


def _iter_warc_records(data: bytes):
    """Yield (headers: dict, payload: bytes) per WARC record; tolerant:
    stops cleanly at garbage instead of raising."""
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record CRLFs
        while pos < n and data[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            return
        head_end = data.find(b"\r\n\r\n", pos, pos + _MAX_HEADER_BYTES)
        if head_end < 0 or not data.startswith(b"WARC/", pos):
            return  # not a record boundary: stop (never raise)
        headers: dict[str, str] = {}
        lines = data[pos:head_end].split(b"\r\n")
        for line in lines[1:]:  # line 0 is the WARC/1.x version
            k, sep, v = line.partition(b":")
            if sep:
                headers[k.strip().lower().decode("latin-1")] = (
                    v.strip().decode("latin-1", "replace")
                )
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            return
        if length < 0:
            # hostile/corrupt record: a negative length would move pos
            # BACKWARD past body_start and re-yield prior records forever
            return
        body_start = head_end + 4
        if body_start + length > n:
            return  # truncated archive: drop the tail record
        yield headers, data[body_start : body_start + length]
        # forward progress is guaranteed: length >= 0 and
        # body_start = head_end + 4 > pos, so pos strictly increases
        pos = body_start + length


def _strip_http_headers(payload: bytes) -> bytes:
    """response records carry an HTTP message; the page bytes follow the
    first blank line. Payloads without an HTTP status line pass through."""
    if not payload.startswith(b"HTTP/"):
        return payload
    sep = payload.find(b"\r\n\r\n")
    return payload[sep + 4 :] if sep >= 0 else b""


def _parse_warc_date(value: str):
    """WARC-Date (ISO-8601 Zulu) -> naive UTC datetime, or None."""
    try:
        return (
            datetime.fromisoformat(value.replace("Z", "+00:00"))
            .astimezone(timezone.utc)
            .replace(tzinfo=None)
        )
    except ValueError:
        return None


def _records_to_rows(blob: bytes) -> list[dict]:
    """One archive file -> documents rows. Multi-member gzip handled by
    stdlib gzip (members decompress back-to-back); non-gzip accepted."""
    if blob[:2] == b"\x1f\x8b":
        try:
            blob = gzip.GzipFile(fileobj=io.BytesIO(blob)).read()
        except Exception:
            return []
    rows = []
    for headers, payload in _iter_warc_records(blob):
        if headers.get("warc-type") != "response":
            continue
        url = headers.get("warc-target-uri", "")
        ts = _parse_warc_date(headers.get("warc-date", ""))
        if not url.startswith(("http://", "https://")) or ts is None:
            continue
        rows.append(
            {
                "url": url,
                "warc_ts": ts,
                "html": _strip_http_headers(payload),
                "text": "",
                "lang": None,
            }
        )
    return rows


def _wet_records_to_rows(blob: bytes) -> list[dict]:
    """One WET archive file -> documents rows.

    WET is Common Crawl's extracted-text companion format: the same WARC
    framing, but 'conversion' records whose payload is the page's
    UTF-8 plain text (no HTTP message). Rows land with text filled and
    html NULL — the extraction router sends them down the no-blob path,
    so WET corpora skip straight to the curation operators.
    """
    if blob[:2] == b"\x1f\x8b":
        try:
            blob = gzip.GzipFile(fileobj=io.BytesIO(blob)).read()
        except Exception:
            return []
    rows = []
    for headers, payload in _iter_warc_records(blob):
        if headers.get("warc-type") != "conversion":
            continue
        url = headers.get("warc-target-uri", "")
        ts = _parse_warc_date(headers.get("warc-date", ""))
        if not url.startswith(("http://", "https://")) or ts is None:
            continue
        rows.append(
            {
                "url": url,
                "warc_ts": ts,
                "html": None,
                "text": payload.decode("utf-8", "replace"),
                "lang": None,
            }
        )
    return rows


def _read_archives(
    spark: SparkSession, path_glob: str, to_rows
) -> DataFrame:
    files = spark.read.format("binaryFile").load(path_glob).select("content")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in DOCUMENTS_SCHEMA.fields]
        for pdf in batches:
            rows: list[dict] = []
            for blob in pdf["content"]:
                rows.extend(to_rows(bytes(blob)))
            yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(parse, schema=DOCUMENTS_SCHEMA)


def read_warc(spark: SparkSession, path_glob: str) -> DataFrame:
    """*.warc / *.warc.gz files -> documents DataFrame (response records,
    html = HTTP body bytes)."""
    return _read_archives(spark, path_glob, _records_to_rows)


def read_wet(spark: SparkSession, path_glob: str) -> DataFrame:
    """*.warc.wet / *.warc.wet.gz files -> documents DataFrame
    (conversion records, text = extracted plain text, html NULL)."""
    return _read_archives(spark, path_glob, _wet_records_to_rows)


def write_warc(rows: list[tuple[str, str, bytes]], gzip_members: bool = True) -> bytes:
    """Build WARC bytes from (url, iso_date, html) triples — the test
    fixture generator (one gzip member per record, CC-style)."""
    out = b""
    for url, date, html in rows:
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
        )
        head = (
            f"WARC/1.0\r\n"
            f"WARC-Type: response\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: {date}\r\n"
            f"Content-Length: {len(http)}\r\n"
            f"Content-Type: application/http; msgtype=response\r\n"
        ).encode()
        rec = head + b"\r\n" + http + b"\r\n\r\n"
        out += gzip.compress(rec) if gzip_members else rec
    return out


def write_wet(rows: list[tuple[str, str, str]], gzip_members: bool = True) -> bytes:
    """Build WET bytes from (url, iso_date, text) triples — the test
    fixture generator for read_wet (one gzip member per record)."""
    out = b""
    for url, date, text in rows:
        body = text.encode("utf-8")
        head = (
            f"WARC/1.0\r\n"
            f"WARC-Type: conversion\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: {date}\r\n"
            f"Content-Length: {len(body)}\r\n"
            f"Content-Type: text/plain\r\n"
        ).encode()
        rec = head + b"\r\n" + body + b"\r\n\r\n"
        out += gzip.compress(rec) if gzip_members else rec
    return out
