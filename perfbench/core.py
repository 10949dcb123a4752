"""Single-core profile of the extraction core, in the benchmark process.

Calls ``functions.udfs._extract_one`` directly on a fixed sample of
documents, batch by batch as the UDF does, and builds the same
``pd.DataFrame`` per Arrow batch. A plain pass gives throughput and
per-document latency quantiles; a second, instrumented pass swaps each
inner function for a timing wrapper (module attributes only, restored
afterwards) and gives self time per document for every layer.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

import numpy as np
import pandas as pd

# (metric prefix, module path, attribute): the attribute lookups the
# extraction core makes at call time, so a wrapper placed there sees
# every call
WRAPPED = [
    ("dom.parse_html", "navigator_document_parser_spark.extraction.policy", "parse_html"),
    ("newsplease.maintext", "navigator_document_parser_spark.extraction.newsplease_like",
     "maintext_from_root"),
    ("readability.extract", "navigator_document_parser_spark.extraction.readability",
     "extract_from_root"),
    ("policy.extract_html", "navigator_document_parser_spark.extraction.policy", "extract_html"),
    ("langid.detect_document", "navigator_document_parser_spark.extraction.langid",
     "detect_document"),
    ("pdf.extract_pdf", "navigator_document_parser_spark.functions.udfs", "extract_pdf"),
]
COUNTED = ("langid.detect", "navigator_document_parser_spark.extraction.langid", "detect")


def batch_size() -> int:
    from navigator_document_parser_spark.config import ARROW_MAX_RECORDS_PER_BATCH

    return ARROW_MAX_RECORDS_PER_BATCH


class _SelfTimer:
    """Self time per wrapped name: a call's duration minus the time spent
    in wrapped calls it made."""

    def __init__(self):
        self.self_s: dict[str, float] = {}
        self.calls: dict[str, int] = {}
        self._stack: list[float] = []

    def wrap(self, name: str, fn):
        def timed(*a, **kw):
            self._stack.append(0.0)
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                dt = time.perf_counter() - t0
                child = self._stack.pop()
                self.self_s[name] = self.self_s.get(name, 0.0) + dt - child
                self.calls[name] = self.calls.get(name, 0) + 1
                if self._stack:
                    self._stack[-1] += dt
        return timed

    def count(self, name: str, fn):
        def counted(*a, **kw):
            self.calls[name] = self.calls.get(name, 0) + 1
            return fn(*a, **kw)
        return counted


@contextmanager
def _patched(timer: _SelfTimer):
    import importlib

    saved = []
    try:
        for name, mod, attr in WRAPPED:
            m = importlib.import_module(mod)
            saved.append((m, attr, getattr(m, attr)))
            setattr(m, attr, timer.wrap(name, getattr(m, attr)))
        name, mod, attr = COUNTED
        m = importlib.import_module(mod)
        saved.append((m, attr, getattr(m, attr)))
        setattr(m, attr, timer.count(name, getattr(m, attr)))
        yield
    finally:
        for m, attr, fn in reversed(saved):
            setattr(m, attr, fn)


def _run(rows: list[tuple[bytes, str]], timer: _SelfTimer | None):
    from navigator_document_parser_spark.functions import udfs

    extract_one = udfs._extract_one
    if timer is not None:
        extract_one = timer.wrap("udfs.assemble", extract_one)
    per_doc = np.empty(len(rows))
    frame_s = 0.0
    bs = batch_size()
    for lo in range(0, len(rows), bs):
        results = []
        for k in range(lo, min(lo + bs, len(rows))):
            blob, route = rows[k]
            t0 = time.perf_counter()
            results.append(extract_one(blob, route))
            per_doc[k] = time.perf_counter() - t0
        t0 = time.perf_counter()
        pd.DataFrame(results)
        frame_s += time.perf_counter() - t0
    return per_doc, frame_s


def profile(rows: list[tuple[bytes, str]], tracer) -> dict:
    """Layer metrics for ``rows`` of (blob, route)."""
    n = len(rows)
    with tracer.span("core.plain"):
        t0 = time.perf_counter()
        per_doc, frame_s = _run(rows, None)
        wall = time.perf_counter() - t0
    us = per_doc * 1e6
    m = {
        "core.docs_per_s_1core": n / wall,
        "core.extract_one_us.p50": float(np.percentile(us, 50)),
        "core.extract_one_us.p99": float(np.percentile(us, 99)),
        "core.extract_one_us.max": float(us.max()),
        "udfs.to_frame_us": frame_s / n * 1e6,
    }
    timer = _SelfTimer()
    with tracer.span("core.instrumented"), _patched(timer):
        _run(rows, timer)
    for name, _, _ in WRAPPED + [("udfs.assemble", None, None)]:
        m[f"{name}_us"] = timer.self_s.get(name, 0.0) / n * 1e6
    m["langid.detect_calls_per_doc"] = timer.calls.get(COUNTED[0], 0) / n
    return m


def sample_rows(docs: pd.DataFrame, n: int) -> list[tuple[bytes, str]]:
    """Every k-th row of the corpus (stratum order), routed as the job does."""
    step = max(1, len(docs) // n)
    out = []
    for _, r in docs.iloc[::step].head(n).iterrows():
        route = ("pdf" if r["url"].lower().endswith(".pdf")
                 else "html" if r["html"] else "none")
        out.append((r["html"], route))
    return out
