"""Combined extraction policy + canonical empty-response shape.

Parity targets:
  - empty response: src/base.py:42-60 (text_blocks=[], detected_title="",
    has_valid_text=False)
  - combined fallback: src/html_parser/combined.py:53-79 — run
    newsplease-like first; if it yields 0 blocks OR its longest block
    exceeds HTML_MAX_PARAGRAPH_LENGTH_WORDS words (split on single spaces,
    combined.py:70-76), use readability-like instead
  - block materialization: ids 'b{idx}', type 'Text', confidence 1.0
    (src/html_parser/readability.py:92-100, newsplease.py:122-130)
"""

from __future__ import annotations

from dataclasses import dataclass, field

from ..config import HTML_MAX_PARAGRAPH_LENGTH_WORDS
from . import newsplease_like, readability
from .dom import Node, parse_html
from .lines import combine_bullet_lines_with_next, has_valid_text, split_lines

PARSER_NEWSPLEASE = "newsplease"
PARSER_READABILITY = "readability"
PARSER_EMPTY = "empty"


@dataclass
class TextBlock:
    """HTMLTextBlock shape (SURVEY §1.2): one line per block."""

    text_block_id: str
    text: list[str]
    language: str | None = None
    type: str = "Text"
    type_confidence: float = 1.0


@dataclass
class HtmlExtraction:
    detected_title: str
    has_valid_text: bool
    text_blocks: list[TextBlock] = field(default_factory=list)
    parser: str = PARSER_EMPTY

    @property
    def text(self) -> str:
        """'\\n'-joined block lines — the byte-identical comparison unit."""
        return "\n".join(line for b in self.text_blocks for line in b.text)


def empty_response() -> HtmlExtraction:
    """Canonical failure/empty shape (src/base.py:54-59)."""
    return HtmlExtraction(
        detected_title="", has_valid_text=False, text_blocks=[], parser=PARSER_EMPTY
    )


def _blocks(lines: list[str]) -> list[TextBlock]:
    return [TextBlock(text_block_id=f"b{i}", text=[line]) for i, line in enumerate(lines)]


def _readability_from_root(root: Node) -> HtmlExtraction:
    title, raw = readability.extract_from_root(root)
    lines = combine_bullet_lines_with_next(split_lines(raw))
    return HtmlExtraction(
        detected_title=title,
        has_valid_text=has_valid_text(lines),
        text_blocks=_blocks(lines),
        parser=PARSER_READABILITY,
    )


def _newsplease_from_root(root: Node) -> HtmlExtraction:
    text = newsplease_like.maintext_from_root(root)
    if not text:
        return empty_response()
    lines = newsplease_like.maintext_lines(text)
    return HtmlExtraction(
        detected_title="",
        has_valid_text=has_valid_text(lines),
        text_blocks=_blocks(lines),
        parser=PARSER_NEWSPLEASE,
    )


def extract_readability(html: str) -> HtmlExtraction:
    """Readability path (src/html_parser/readability.py:73-119)."""
    return _readability_from_root(parse_html(html))


def extract_newsplease(html: str) -> HtmlExtraction:
    """newsplease path (src/html_parser/newsplease.py:99-146).

    Note: no strip/drop-empty/bullet-merge here, and no title (the
    reference's newsplease branch leaves detected_title empty).
    """
    return _newsplease_from_root(parse_html(html))


def extract_combined(html: str) -> HtmlExtraction:
    """M7 policy (src/html_parser/combined.py:53-79).

    The DOM is parsed ONCE and shared by both extractors — the reference
    hands the same html string to both parsers (combined.py:65-77); our
    parse is deterministic, so sharing the tree is a pure optimization
    (readability's scorer only annotates node.score, which newsplease
    ignores — and newsplease runs first anyway).
    """
    root = parse_html(html)
    np_result = _newsplease_from_root(root)

    if len(np_result.text_blocks) == 0:
        return _readability_from_root(root)

    # len(s.split(" ")) == s.count(" ") + 1 for every string (split with
    # an explicit separator), without materializing the token list
    longest_words = max(
        " ".join(b.text).count(" ") + 1 for b in np_result.text_blocks
    )
    if longest_words > HTML_MAX_PARAGRAPH_LENGTH_WORDS:
        return _readability_from_root(root)

    return np_result


def extract_html(html: str) -> HtmlExtraction:
    """Top-level HTML entry: combined policy; exceptions -> empty response.

    The reference never fails a run on a bad document
    (cli/parse_htmls.py:110-119); any internal error maps to the empty
    shape (newsplease.py:50-59).
    """
    try:
        return extract_combined(html)
    except Exception:
        return empty_response()
