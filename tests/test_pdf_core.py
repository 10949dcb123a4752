"""PDF block extraction tests: roundtrip, reading order, spans, flip."""

import hashlib

from navigator_document_parser_spark.extraction.pdf_blocks import (
    extract_pdf,
    synthesize_pdf,
    vertically_flip_block_coords,
)


def _two_page_pdf(compress=False):
    pages = [
        [  # page 1: shows deliberately out of reading order
            (72, 200, 12, "Bottom paragraph on page one."),
            (72, 700, 14, "Title Line"),
            (72, 650, 12, "Second paragraph near the top."),
        ],
        [
            (72, 700, 12, "Page two heading"),
            (72, 660, 12, "Page two body text."),
        ],
    ]
    return synthesize_pdf(pages, compress=compress)


def test_reading_order_top_to_bottom():
    ext = extract_pdf(_two_page_pdf())
    texts = [b.text for b in ext.blocks]
    assert texts.index("Title Line") < texts.index(
        "Second paragraph near the top."
    ) < texts.index("Bottom paragraph on page one.")
    pages = [b.page for b in ext.blocks]
    assert pages == sorted(pages)


def test_spans_index_content_exactly():
    ext = extract_pdf(_two_page_pdf())
    for b in ext.blocks:
        assert ext.content[b.offset : b.offset + b.length] == b.text


def test_content_is_newline_joined_blocks():
    ext = extract_pdf(_two_page_pdf())
    assert ext.content == "\n".join(b.text for b in ext.blocks)


def test_flate_compressed_stream_roundtrip():
    plain = extract_pdf(_two_page_pdf(compress=False))
    comp = extract_pdf(_two_page_pdf(compress=True))
    assert [b.text for b in plain.blocks] == [b.text for b in comp.blocks]


def test_md5_matches_raw_bytes():
    data = _two_page_pdf()
    assert extract_pdf(data).md5sum == hashlib.md5(data).hexdigest()


def test_page_metadata():
    ext = extract_pdf(_two_page_pdf())
    assert [p.page_number for p in ext.pages] == [1, 2]
    assert ext.pages[0].width == 612.0 and ext.pages[0].height == 792.0


def test_vertical_flip_is_involution_and_restores_pdf_y():
    ext = extract_pdf(_two_page_pdf())
    flipped = vertically_flip_block_coords(ext.blocks, ext.pages)
    double = vertically_flip_block_coords(flipped, ext.pages)
    for a, b in zip(ext.blocks, double):
        assert abs(a.y0 - b.y0) < 1e-9 and abs(a.y1 - b.y1) < 1e-9
    # the 14pt title show was placed at y=700 (PDF space); after flip the
    # block's top edge y1 equals 700+size
    title = next(b for b in flipped if b.text == "Title Line")
    assert abs(title.y1 - 714.0) < 1e-6


def test_unparseable_pdf_returns_zero_blocks_not_exception():
    ext = extract_pdf(b"not a pdf at all")
    assert ext.blocks == []
    assert ext.md5sum == hashlib.md5(b"not a pdf at all").hexdigest()


def test_bullet_groups_by_vertical_gap():
    # two clusters separated by a large gap -> two blocks
    pages = [[
        (72, 700, 12, "line a"),
        (72, 686, 12, "line b"),
        (72, 300, 12, "far away"),
    ]]
    ext = extract_pdf(synthesize_pdf(pages))
    assert [b.text for b in ext.blocks] == ["line a\nline b", "far away"]


def test_table_detection_grid_with_spans():
    from navigator_document_parser_spark.extraction.pdf_blocks import (
        extract_pdf,
        synthesize_pdf,
    )

    pages = [[
        (72, 720, 14, "Quarterly Figures"),
        (72, 650, 12, "metric"), (220, 650, 12, "q1"), (360, 650, 12, "q2"),
        (72, 630, 12, "revenue"), (220, 630, 12, "10.5"), (360, 630, 12, "11.2"),
        (72, 610, 12, "costs"), (220, 610, 12, "4.2"), (360, 610, 12, "4.9"),
        (72, 520, 12, "Footnote paragraph about the table above."),
    ]]
    ext = extract_pdf(synthesize_pdf(pages))
    assert len(ext.tables) == 1
    t = ext.tables[0]
    assert (t.row_count, t.column_count) == (3, 3)
    grid = {(c.row, c.col): c for c in t.cells}
    assert grid[(0, 0)].text == "metric"
    assert grid[(2, 2)].text == "4.9"
    for c in t.cells:
        assert ext.content[c.offset : c.offset + c.length] == c.text
    # y0 < y1 in top-left-origin convention; columns share x0
    assert grid[(0, 1)].x0 == grid[(2, 1)].x0
    assert all(c.y0 < c.y1 for c in t.cells)


def test_no_table_on_plain_paragraph_page():
    from navigator_document_parser_spark.extraction.pdf_blocks import (
        extract_pdf,
        synthesize_pdf,
    )

    pages = [[(72, 700 - 20 * j, 12, f"paragraph line {j}") for j in range(6)]]
    ext = extract_pdf(synthesize_pdf(pages))
    assert ext.tables == []


def test_flate_bomb_becomes_error_row(monkeypatch):
    # a stream inflating past the bound is an error row, not a worker
    # OOM; the bound is patched down so a small stream plays the bomb
    from navigator_document_parser_spark.extraction import pdf_blocks
    from navigator_document_parser_spark.functions.udfs import _extract_one

    pdf = _two_page_pdf(compress=True)
    assert len(extract_pdf(pdf).blocks) > 0
    monkeypatch.setattr(pdf_blocks, "MAX_INFLATED_BYTES", 16)
    row = _extract_one(pdf, "pdf")
    assert row["parser"] == "empty"
    assert row["error"].startswith("pdf:flate stream inflates past 16 bytes")


def test_corrupt_flate_stream_is_skipped():
    # corrupt and truncated streams keep the page-level skip: no raise,
    # no blocks from that stream
    pdf = _two_page_pdf(compress=True)
    start = pdf.index(b"stream\n", pdf.index(b"/FlateDecode")) + len(b"stream\n")
    end = pdf.index(b"\nendstream", start)
    truncated = pdf[:start] + pdf[start:end - 4] + pdf[end:]
    garbled = pdf[:start] + b"\x00\x01" + pdf[start + 2:]
    for bad in (truncated, garbled):
        ext = extract_pdf(bad)
        assert [b.page for b in ext.blocks] == [2, 2]
