"""Seeded inputs: the extraction corpus and the operator-suite documents table.

The extraction corpus is drawn from ``sources.synth``, whose content is a
pure function of the row id. The seed picks where in the id range the
draw starts; ids are then taken by stratum (route, body class, language,
size bucket) with fixed quotas, so every seed has exactly the same mix
and the documents differ. Both inputs are cached per (seed, size) under
the work directory; generation is never timed.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# seeds map onto disjoint id windows that keep warc_ts within year 9999
ID_WINDOWS = 997
ID_STRIDE = 40_000

# corpus files per extraction corpus: one scan task each, on every run
CORPUS_FILES = 16

# fractions of the synth generator (sources/synth.py module docstring)
PDF_SHARE = 1 / 5
HTML_CLASSES = {"empty": 1 / 16, "long": 1 / 16, "heavy": 1 / 64}
SIZE_BUCKETS = 5  # of the 35 paragraph counts synth draws from

ARROW_SCHEMA = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])


def _stratum(i: int) -> tuple:
    from navigator_document_parser_spark.sources import synth

    lang = i % len(synth.LANGS)
    if i % 5 == 4:
        return ("pdf", lang, synth._rng(i, 3) % 3)
    r = synth._rng(i, 0)
    if r % 16 == 7:
        return ("empty", lang, 0)
    size = (synth._rng(i, 1) % 35) * SIZE_BUCKETS // 35
    if r % 16 == 3:
        return ("long", lang, size)
    if r % 64 == 11:
        return ("heavy", lang, size)
    return ("normal", lang, size)


def _quotas(n_docs: int) -> dict[tuple, int]:
    """Exact per-stratum document counts summing to ``n_docs``
    (largest-remainder rounding of the generator's own fractions)."""
    shares: dict[tuple, float] = {}
    html_normal = 1 - sum(HTML_CLASSES.values())
    for lang in range(4):
        for pages in range(3):
            shares[("pdf", lang, pages)] = PDF_SHARE / 4 / 3
        shares[("empty", lang, 0)] = (1 - PDF_SHARE) * HTML_CLASSES["empty"] / 4
        for size in range(SIZE_BUCKETS):
            for cls, frac in (("long", HTML_CLASSES["long"]),
                              ("heavy", HTML_CLASSES["heavy"]),
                              ("normal", html_normal)):
                shares[(cls, lang, size)] = (
                    (1 - PDF_SHARE) * frac / 4 / SIZE_BUCKETS
                )
    exact = {k: v * n_docs for k, v in shares.items()}
    quotas = {k: int(v) for k, v in exact.items()}
    short = n_docs - sum(quotas.values())
    for k in sorted(exact, key=lambda k: (quotas[k] - exact[k], k))[:short]:
        quotas[k] += 1
    return quotas


def select_ids(seed: int, n_docs: int) -> list[tuple[tuple, int]]:
    """(stratum, id) pairs for ``n_docs`` documents, in stratum order."""
    quotas = _quotas(n_docs)
    left = dict(quotas)
    need = n_docs
    picked: dict[tuple, list[int]] = {k: [] for k in quotas}
    i = (seed % ID_WINDOWS) * ID_STRIDE
    while need:
        k = _stratum(i)
        if left.get(k, 0) > 0:
            picked[k].append(i)
            left[k] -= 1
            need -= 1
        i += 1
    return [(k, i) for k in sorted(picked) for i in picked[k]]


def doc_url(i: int) -> str:
    """The url ``sources.synth`` gives row ``i`` (every 5th is a PDF)."""
    return f"https://site{i % 17}.example.org/page/{i}" + (".pdf" if i % 5 == 4 else "")


def _doc_row(i: int) -> dict:
    from navigator_document_parser_spark.sources import synth

    return {
        "url": doc_url(i),
        "warc_ts": synth.EPOCH.replace(tzinfo=dt.timezone.utc)
        + dt.timedelta(hours=i),
        "html": synth.make_pdf(i) if i % 5 == 4 else synth.make_html(i),
        "text": "",
        "lang": synth.LANGS[i % len(synth.LANGS)],
    }


def _cached(path: str, build) -> str:
    done = os.path.join(path, "_DONE")
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        build(path)
        open(done, "w").close()
    return path


def extraction_corpus(work: str, seed: int, n_docs: int) -> str:
    """Directory whose ``docs/`` holds CORPUS_FILES parquet files. Rows are
    dealt round-robin in stratum order, so every file (and scan task)
    carries the same mix. Also writes ``ids.npy`` (ids in row order) and
    ``new.npy`` (the newest quarter of each stratum, by warc_ts)."""

    def build(path: str) -> None:
        pairs = select_ids(seed, n_docs)
        os.makedirs(os.path.join(path, "docs"))
        files: list[list[int]] = [[] for _ in range(CORPUS_FILES)]
        for pos, (_, i) in enumerate(pairs):
            files[pos % CORPUS_FILES].append(i)
        for f, ids in enumerate(files):
            rows = [_doc_row(i) for i in ids]
            table = pa.Table.from_pylist(rows, schema=ARROW_SCHEMA)
            pq.write_table(table, os.path.join(path, "docs", f"part-{f:03d}.parquet"))
        by_stratum: dict[tuple, list[int]] = {}
        for k, i in pairs:
            by_stratum.setdefault(k, []).append(i)
        new = [
            i for ids in by_stratum.values()
            for i in sorted(ids)[len(ids) - len(ids) // 4:]
        ]
        np.save(os.path.join(path, "ids.npy"), np.array(
            [i for ids in files for i in ids], dtype=np.int64))
        np.save(os.path.join(path, "new.npy"), np.array(sorted(new), dtype=np.int64))

    return _cached(os.path.join(work, "corpus", f"extract-s{seed}-n{n_docs}"), build)


# operator-suite documents table, in the shape of the contract
# ``documents`` table (measured on the sf0.01 and sf0.1 tables): 50,000
# rows per unit of scale factor; texts of 10-99 words, uniform, drawn
# uniformly from a 30-word technical vocabulary; en on 8 of 20 rows and
# es, fr, de, zh on 3 each; source ``src<doc_id mod 20>``; and one row in
# 20 replaced by a copy of another row's text plus the word "dup", so
# the dedup queries find near-duplicate pairs to join
OPS_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
OPS_LANGS = ["en", "en", "en", "en", "en", "en", "en", "en",
             "es", "es", "es", "fr", "fr", "fr", "de", "de", "de",
             "zh", "zh", "zh"]
OPS_DUP_EVERY = 20


def ops_documents(work: str, seed: int, n_docs: int) -> str:
    """Directory with ``documents.parquet`` in the driver-contract layout
    (doc_id, text, lang, source, n_chars), as the contract queries read it."""

    def build(path: str) -> None:
        rng = np.random.default_rng(seed)
        texts = [
            " ".join(OPS_VOCAB[w] for w in rng.integers(0, len(OPS_VOCAB), size=k))
            for k in rng.integers(10, 100, size=n_docs)
        ]
        # in place and in row order, so a copy of an already replaced row
        # carries "dup" twice, as in the contract table
        for i in sorted(rng.choice(n_docs, n_docs // OPS_DUP_EVERY, replace=False)):
            j = int(rng.integers(0, n_docs - 1))
            texts[i] = texts[j + (j >= i)] + " dup"
        langs = [OPS_LANGS[int(x)] for x in rng.integers(0, len(OPS_LANGS), n_docs)]
        table = pa.table({
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": texts,
            "lang": langs,
            "source": [f"src{d % 20}" for d in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        })
        pq.write_table(table, os.path.join(path, "documents.parquet"))

    return _cached(os.path.join(work, "corpus", f"ops-s{seed}-n{n_docs}"), build)
