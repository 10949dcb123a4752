"""Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md §1).

Generates the 5-column documents table — (url, warc_ts, html, text, lang)
— entirely ON THE EXECUTORS: spark.range(n) -> mapInPandas, so corpus
synthesis itself scales like the pipeline (no driver-side loop, no
collect). Content is a pure function of the row id (seed folded in), so
any scale factor reproduces byte-identically regardless of partitioning.

Exercises every extraction operator:
  - nav/footer link boilerplate (link-density penalty, M1)
  - 6-40 article paragraphs (P5 validity flips true)
  - bullet-marker lines in the readability path (M4)
  - ~1/16 docs: one >500-word paragraph -> combined fallback (M7)
  - ~1/16 docs: empty body -> empty-response shape (P4)
  - every 5th url ends .pdf with real synthesized PDF bytes (P1 routing,
    M9-M12)
  - ~1/64 docs: 40x paragraph count (skew long-tail, SURVEY §4.1)
  - language cycles en/fr/de/es with per-language stopword vocabulary
    (M8 detectability)
"""

from __future__ import annotations

import datetime as _dt
from typing import Iterator

import pandas as pd

from ..extraction.pdf_blocks import synthesize_pdf
from ..schema import DOCUMENTS_SCHEMA

SEED = 42
EPOCH = _dt.datetime(2024, 1, 1, 0, 0, 0)

LANGS = ["en", "fr", "de", "es"]

# per-language vocabulary: high-frequency function words (detectable by
# langid) + filler nouns
_VOCAB = {
    "en": ("the and of to in is that it for on with as policy climate "
           "emissions report framework department sector annual public "
           "energy market facility data measure scheme review".split()),
    "fr": ("le la les de des du et est une dans que pour sur avec au "
           "politique climat émissions rapport cadre ministère secteur "
           "annuel public énergie marché données mesure régime".split()),
    "de": ("der die das und ist ein nicht mit von den für auf als "
           "politik klima emissionen bericht rahmen ministerium sektor "
           "öffentlich energie markt daten maßnahme system prüfung".split()),
    "es": ("el la los las de y es una en que no con por para se "
           "política clima emisiones informe marco ministerio sector "
           "anual público energía mercado datos medida régimen".split()),
}

_BULLETS = ["1.", "(iv)", "IX.", "a.", "(c)", "•", "-", "–", "*"]


def _rng(i: int, salt: int) -> int:
    """Cheap deterministic 64-bit mix of (seed, i, salt)."""
    x = (i * 2654435761 + salt * 40503 + SEED * 69069) & 0xFFFFFFFFFFFFFFFF
    x ^= x >> 33
    x = (x * 0xFF51AFD7ED558CCD) & 0xFFFFFFFFFFFFFFFF
    x ^= x >> 33
    return x


def _sentence(i: int, j: int, lang: str, n_words: int) -> str:
    vocab = _VOCAB[lang]
    words = [vocab[_rng(i, j * 131 + k) % len(vocab)] for k in range(n_words)]
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _paragraph(i: int, j: int, lang: str) -> str:
    n_sent = 2 + _rng(i, j * 7 + 1) % 3
    return " ".join(
        _sentence(i, j * 17 + s, lang, 8 + _rng(i, j * 29 + s) % 10)
        for s in range(n_sent)
    )


def make_html(i: int) -> bytes:
    """HTML page for row id ``i`` (pure function of i)."""
    lang = LANGS[i % len(LANGS)]
    r = _rng(i, 0)
    empty_body = (r % 16) == 7
    long_para = (r % 16) == 3
    heavy_tail = (r % 64) == 11

    nav = (
        '<nav class="nav"><a href="/">Home</a> <a href="/topics">Topics</a> '
        '<a href="/about">About</a> <a href="/contact">Contact</a></nav>'
    )
    footer = (
        '<footer class="footer"><a href="/privacy">Privacy</a> '
        '<a href="/terms">Terms</a> <a href="/sitemap">Sitemap</a></footer>'
    )
    title = f"Document {i} — {_sentence(i, 9999, lang, 4)[:-1]}"

    if empty_body:
        body = ""
    else:
        n_paras = 6 + _rng(i, 1) % 35
        if heavy_tail:
            n_paras *= 40
        paras = [f"<p>{_paragraph(i, j, lang)}</p>" for j in range(n_paras)]
        if long_para:
            vocab = _VOCAB[lang]
            big = " ".join(
                vocab[_rng(i, 5000 + k) % len(vocab)] for k in range(700)
            )
            paras[min(2, len(paras) - 1)] = f"<p>{big}</p>"
        # a bullet list exercises M4 on the readability path
        bullet = _BULLETS[_rng(i, 2) % len(_BULLETS)]
        paras.append(f"<p>{bullet}</p><p>{_paragraph(i, 991, lang)}</p>")
        body = f'<div class="article-content">{"".join(paras)}</div>'

    page = (
        f"<html><head><title>{title}</title></head>"
        f"<body>{nav}{body}{footer}</body></html>"
    )
    return page.encode("utf-8")


def make_pdf(i: int) -> bytes:
    """PDF bytes for row id ``i``: 1-3 pages, 2-5 blocks per page;
    ~1/3 of PDFs additionally carry a grid table on page 1 (exercises
    the AnalyzeResult-style table extraction, M10/M11)."""
    lang = LANGS[i % len(LANGS)]
    vocab = _VOCAB[lang]
    n_pages = 1 + _rng(i, 3) % 3
    pages = []
    for p in range(n_pages):
        shows = []
        y = 720.0
        n_blocks = 2 + _rng(i, 40 + p) % 4
        for b in range(n_blocks):
            text = _sentence(i, 700 + p * 13 + b, lang, 6 + _rng(i, 60 + b) % 8)
            shows.append((72.0, y, 12.0, text))
            y -= 40.0
        if p == 0 and _rng(i, 77) % 3 == 0:
            # grid table: n_rows x n_cols of single-word/number cells
            n_rows = 2 + _rng(i, 78) % 3
            n_cols = 2 + _rng(i, 79) % 2
            ty = y - 20.0
            for r in range(n_rows):
                for c in range(n_cols):
                    if r == 0:
                        cell = vocab[_rng(i, 200 + c) % len(vocab)]
                    else:
                        cell = f"{(_rng(i, 300 + r * 7 + c) % 9000) / 10:.1f}"
                    shows.append((72.0 + 120.0 * c, ty, 12.0, cell))
                ty -= 20.0
        pages.append(shows)
    return synthesize_pdf(pages)


def _rows_for_ids(ids) -> pd.DataFrame:
    urls, tss, htmls, texts, langs = [], [], [], [], []
    for i in ids:
        i = int(i)
        is_pdf = (i % 5) == 4
        suffix = ".pdf" if is_pdf else ""
        urls.append(f"https://site{i % 17}.example.org/page/{i}{suffix}")
        tss.append(EPOCH + _dt.timedelta(hours=i))
        htmls.append(make_pdf(i) if is_pdf else make_html(i))
        texts.append("")
        langs.append(LANGS[i % len(LANGS)])
    return pd.DataFrame(
        {"url": urls, "warc_ts": tss, "html": htmls, "text": texts,
         "lang": langs}
    )


def synth_documents(spark, n_docs: int, partitions: int | None = None):
    """Distributed deterministic documents DataFrame (schema DOCUMENTS_SCHEMA)."""
    rng_df = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _rows_for_ids(pdf["id"].to_numpy())

    return rng_df.mapInPandas(gen, schema=DOCUMENTS_SCHEMA)
