"""PDF layout parsing: text-block extraction, reading-order sort, spans.

Local, from-scratch replacement for the reference's remote Azure Form
Recognizer call (cli/parse_pdfs.py:337-406) + azure_pdf_parser conversion
(cli/parse_pdfs.py:408-412). Output shape mirrors Azure's AnalyzeResult
semantics (cli/test/test_data/api_response/sample-one-page.json):

  - ``content``: all block texts joined with '\\n'
  - each block carries ``span (offset, length)`` indexing into content
  - blocks are emitted in reading order: page asc, top-to-bottom,
    left-to-right
  - bbox uses a TOP-LEFT origin (y grows downward), like Azure polygons;
    ``vertically_flip_block_coords`` converts to the bottom-left PDF
    convention exactly as cpr_sdk's vertically_flip_text_block_coords does
    (exercised at cli/test/test_run_parser.py:118-121)

Parser scope: uncompressed or Flate-compressed content streams with
BT/ET, Tf, Td/TD/Tm/T*, Tj/TJ/' operators — enough for the deterministic
synthetic corpus (and any simple real-world PDF). Unsupported constructs
degrade to skipped shows, never exceptions.
"""

from __future__ import annotations

import hashlib
import re
import zlib
from dataclasses import dataclass, field

DEFAULT_PAGE_W = 612.0
DEFAULT_PAGE_H = 792.0
# Bound on one inflated /FlateDecode stream: a Flate bomb (kilobytes that
# inflate to gigabytes) becomes an error row instead of a worker OOM.
MAX_INFLATED_BYTES = 32 << 20


@dataclass
class PdfBlock:
    page: int                      # 1-based page number
    text: str
    x0: float                      # bbox, top-left origin (y down)
    y0: float
    x1: float
    y1: float
    offset: int                    # span into the concatenated content
    length: int


@dataclass
class PageMeta:
    page_number: int
    width: float
    height: float
    unit: str = "pt"


@dataclass
class PdfTableCell:
    row: int
    col: int
    text: str
    x0: float                      # top-left origin, like PdfBlock
    y0: float
    x1: float
    y1: float
    offset: int                    # span into the concatenated content
    length: int


@dataclass
class PdfTable:
    page: int
    row_count: int
    column_count: int
    cells: list[PdfTableCell] = field(default_factory=list)


@dataclass
class PdfExtraction:
    md5sum: str
    content: str
    blocks: list[PdfBlock] = field(default_factory=list)
    pages: list[PageMeta] = field(default_factory=list)
    tables: list[PdfTable] = field(default_factory=list)


# --------------------------------------------------------------------------
# Synthetic PDF writer (deterministic corpus generation; no external libs)
# --------------------------------------------------------------------------

def synthesize_pdf(
    pages: list[list[tuple[float, float, float, str]]],
    width: float = DEFAULT_PAGE_W,
    height: float = DEFAULT_PAGE_H,
    compress: bool = False,
) -> bytes:
    """Write a minimal valid PDF.

    ``pages`` is a list of pages; each page is a list of text shows
    ``(x, y, font_size, text)`` with x,y in PDF user space (bottom-left
    origin). One BT/ET segment per show.
    """
    objs: list[bytes] = []

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    n_pages = len(pages)
    # obj 1: catalog, obj 2: pages, obj 3: font, then per page: page obj + content obj
    page_obj_nums = [4 + 2 * i for i in range(n_pages)]
    kids = " ".join(f"{n} 0 R" for n in page_obj_nums)
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")

    for i, shows in enumerate(pages):
        content_num = 5 + 2 * i
        objs.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {width:g} {height:g}] "
                f"/Resources << /Font << /F1 3 0 R >> >> /Contents {content_num} 0 R >>"
            ).encode()
        )
        parts = []
        for (x, y, size, text) in shows:
            parts.append(
                f"BT /F1 {size:g} Tf {x:g} {y:g} Td ({esc(text)}) Tj ET"
            )
        stream = "\n".join(parts).encode("latin-1", "replace")
        filt = b""
        if compress:
            stream = zlib.compress(stream)
            filt = b" /Filter /FlateDecode"
        objs.append(
            b"<< /Length " + str(len(stream)).encode() + filt + b" >>\nstream\n"
            + stream + b"\nendstream"
        )

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


# --------------------------------------------------------------------------
# Parser
# --------------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(\d+)\s+0\s+obj(.*?)endobj", re.S)
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)endstream", re.S)
_MEDIABOX_RE = re.compile(
    rb"/MediaBox\s*\[\s*([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)\s*\]"
)
_CONTENTS_RE = re.compile(rb"/Contents\s+(\d+)\s+0\s+R")
_KIDS_RE = re.compile(rb"/Kids\s*\[(.*?)\]", re.S)
_REF_RE = re.compile(rb"(\d+)\s+0\s+R")

# text-operator tokenizer over a decoded content stream
_TOK_RE = re.compile(
    r"""
    \((?P<str>(?:\\.|[^\\()])*)\)        # (string)
  | (?P<num>[-+]?\d*\.?\d+)              # number
  | /(?P<name>[^\s/\[\]()<>]+)           # /Name
  | (?P<arr>[\[\]])                      # array delims
  | (?P<op>[A-Za-z'"*]+)                 # operator
    """,
    re.X,
)

_UNESC = {"n": "\n", "r": "\r", "t": "\t", "b": "\b", "f": "\f",
          "(": "(", ")": ")", "\\": "\\"}


def _unescape_pdf_string(s: str) -> str:
    out = []
    i = 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            nxt = s[i + 1]
            if nxt in _UNESC:
                out.append(_UNESC[nxt])
                i += 2
                continue
            if nxt in "01234567":  # octal (digits 0-7 ONLY, PDF spec 7.3.4.2)
                j = i + 1
                oct_digits = ""
                while j < len(s) and s[j] in "01234567" and len(oct_digits) < 3:
                    oct_digits += s[j]
                    j += 1
                out.append(chr(int(oct_digits, 8)))
                i = j
                continue
            # unknown escape: the character itself (\8 -> '8')
            out.append(nxt)
            i += 2
            continue
        out.append(c)
        i += 1
    return "".join(out)


@dataclass
class _Show:
    x: float
    y: float       # PDF user space (bottom-left origin)
    size: float
    text: str


def _parse_content_stream(data: str) -> list[_Show]:
    shows: list[_Show] = []
    stack: list = []
    x = y = 0.0
    lx = ly = 0.0          # line start (for T*)
    size = 12.0
    leading = 14.4
    for m in _TOK_RE.finditer(data):
        if m.group("str") is not None:
            stack.append(("s", _unescape_pdf_string(m.group("str"))))
        elif m.group("num") is not None:
            stack.append(("n", float(m.group("num"))))
        elif m.group("name") is not None:
            stack.append(("name", m.group("name")))
        elif m.group("arr") is not None:
            stack.append(("arr", m.group("arr")))
        else:
            op = m.group("op")
            if op == "Tf" and len(stack) >= 1 and stack[-1][0] == "n":
                size = stack[-1][1]
                leading = size * 1.2
            elif op in ("Td", "TD") and len(stack) >= 2:
                ty = stack[-1][1] if stack[-1][0] == "n" else 0.0
                tx = stack[-2][1] if stack[-2][0] == "n" else 0.0
                lx, ly = lx + tx, ly + ty
                x, y = lx, ly
                if op == "TD":
                    leading = -ty if ty else leading
            elif op == "Tm" and len(stack) >= 6:
                nums = [t[1] for t in stack[-6:] if t[0] == "n"]
                if len(nums) == 6:
                    lx, ly = nums[4], nums[5]
                    x, y = lx, ly
            elif op == "T*":
                ly -= leading
                x, y = lx, ly
            elif op == "TL" and stack and stack[-1][0] == "n":
                leading = stack[-1][1]
            elif op in ("Tj", "'") and stack and stack[-1][0] == "s":
                if op == "'":
                    ly -= leading
                    x, y = lx, ly
                shows.append(_Show(x, y, size, stack[-1][1]))
                x += 0.5 * size * len(stack[-1][1])  # advance approximation
            elif op == "TJ":
                txt = "".join(t[1] for t in stack if t[0] == "s")
                if txt:
                    shows.append(_Show(x, y, size, txt))
                    x += 0.5 * size * len(txt)
            elif op == "BT":
                x = y = lx = ly = 0.0
            stack.clear()
    return shows


def _inflate(raw: bytes) -> bytes | None:
    """Inflate one /FlateDecode stream. None when it is corrupt or
    truncated (the page skips it); ValueError when it inflates past
    MAX_INFLATED_BYTES."""
    d = zlib.decompressobj()
    try:
        out = d.decompress(raw, MAX_INFLATED_BYTES + 1)
    except zlib.error:
        return None
    if len(out) > MAX_INFLATED_BYTES:
        raise ValueError(
            f"flate stream inflates past {MAX_INFLATED_BYTES} bytes"
        )
    return out if d.eof else None


def extract_pdf(data: bytes) -> PdfExtraction:
    """Parse PDF bytes into reading-ordered text blocks with spans.

    Unparseable input yields an extraction with zero blocks (md5 still
    computed — M9 parity, cli/parse_pdfs.py:190-195). The one raise is a
    content stream inflating past MAX_INFLATED_BYTES (ValueError), which
    the extraction UDF turns into an error row.
    """
    md5sum = hashlib.md5(data).hexdigest()
    try:
        objects: dict[int, bytes] = {
            int(m.group(1)): m.group(2) for m in _OBJ_RE.finditer(data)
        }
    except Exception:
        objects = {}

    # page objects in /Kids order when available, else object-number order
    page_nums: list[int] = []
    for body in objects.values():
        if b"/Type" in body and b"/Pages" in body and b"/Kids" in body:
            km = _KIDS_RE.search(body)
            if km:
                page_nums = [int(r.group(1)) for r in _REF_RE.finditer(km.group(1))]
            break
    if not page_nums:
        page_nums = sorted(
            n for n, b in objects.items()
            if b"/Type" in b and re.search(rb"/Type\s*/Page\b", b)
        )

    pages_meta: list[PageMeta] = []
    blocks: list[PdfBlock] = []
    tables: list[PdfTable] = []
    content_parts: list[str] = []
    offset = 0

    for page_idx, obj_num in enumerate(page_nums, start=1):
        body = objects.get(obj_num, b"")
        mb = _MEDIABOX_RE.search(body)
        if mb:
            width = float(mb.group(3)) - float(mb.group(1))
            height = float(mb.group(4)) - float(mb.group(2))
        else:
            width, height = DEFAULT_PAGE_W, DEFAULT_PAGE_H
        pages_meta.append(PageMeta(page_idx, width, height))

        shows: list[_Show] = []
        for cm in _CONTENTS_RE.finditer(body):
            cobj = objects.get(int(cm.group(1)), b"")
            sm = _STREAM_RE.search(cobj)
            if not sm:
                continue
            raw = sm.group(1)
            if b"/FlateDecode" in cobj:
                raw = _inflate(raw.rstrip(b"\r\n"))
                if raw is None:
                    continue
            try:
                shows.extend(_parse_content_stream(raw.decode("latin-1")))
            except Exception:
                continue

        # reading order within the page: top-to-bottom (PDF y desc), then x
        shows.sort(key=lambda s: (-round(s.y, 2), round(s.x, 2)))

        # group consecutive lines into blocks by vertical gap; track each
        # show's global span so table cells can carry exact spans
        show_spans: dict[int, tuple[int, int]] = {}
        cur: list[_Show] = []

        def flush(group: list[_Show], at: int) -> int:
            blocks_text, bbox, local = _finalize(group, height)
            blocks.append(_mk_block(page_idx, blocks_text, bbox, at))
            for s, loc in local:
                show_spans[id(s)] = (at + loc, len(s.text))
            content_parts.append(blocks_text)
            return at + len(blocks_text) + 1  # '\n' separator

        for s in shows:
            if cur and (cur[-1].y - s.y) > 1.8 * max(cur[-1].size, s.size):
                offset = flush(cur, offset)
                cur = []
            cur.append(s)
        if cur:
            offset = flush(cur, offset)

        tables.extend(
            _detect_tables(page_idx, shows, show_spans, height)
        )

    content = "\n".join(content_parts)
    return PdfExtraction(md5sum=md5sum, content=content, blocks=blocks,
                         pages=pages_meta, tables=tables)


def _finalize(shows: list[_Show], page_height: float):
    """Join a group of shows into block text + top-left-origin bbox.

    Also returns each show's local character offset within the block
    text (for table-cell span computation).
    """
    # lines: shows sharing (almost) the same y joined by space, lines by \n
    lines: list[list[_Show]] = []
    for s in shows:
        if lines and abs(lines[-1][0].y - s.y) < 0.5:
            lines[-1].append(s)
        else:
            lines.append([s])
    local: list[tuple[_Show, int]] = []
    parts: list[str] = []
    pos = 0
    for li, ln in enumerate(lines):
        if li:
            pos += 1  # '\n'
        for si, s in enumerate(ln):
            if si:
                pos += 1  # ' '
            local.append((s, pos))
            pos += len(s.text)
        parts.append(" ".join(s.text for s in ln))
    text = "\n".join(parts)
    x0 = min(s.x for s in shows)
    x1 = max(s.x + 0.5 * s.size * len(s.text) for s in shows)
    y_top_pdf = max(s.y + s.size for s in shows)    # top edge in PDF space
    y_bot_pdf = min(s.y for s in shows)             # bottom edge in PDF space
    # convert to top-left origin (Azure polygon convention)
    y0 = page_height - y_top_pdf
    y1 = page_height - y_bot_pdf
    return text, (x0, y0, x1, y1), local


def _detect_tables(
    page: int,
    shows: list[_Show],
    show_spans: dict[int, tuple[int, int]],
    page_height: float,
) -> list[PdfTable]:
    """Grid detection: >=2 consecutive text rows sharing the same >=2
    x-position signature form a table (Azure AnalyzeResult 'tables'
    analog: row_count/column_count + (row,col)-indexed cells with bbox
    and content spans, cli/test/test_data/api_response sample shape).
    """
    # rows: shows grouped by (almost) equal y, in reading order
    rows: list[list[_Show]] = []
    for s in sorted(shows, key=lambda t: (-round(t.y, 2), round(t.x, 2))):
        if rows and abs(rows[-1][0].y - s.y) < 0.5:
            rows[-1].append(s)
        else:
            rows.append([s])

    def signature(row: list[_Show]):
        return tuple(round(s.x, 1) for s in row)

    tables: list[PdfTable] = []
    run: list[list[_Show]] = []

    def flush_run():
        if len(run) < 2:
            return
        sig = signature(run[0])
        cells: list[PdfTableCell] = []
        for r_idx, row in enumerate(run):
            for c_idx, s in enumerate(sorted(row, key=lambda t: t.x)):
                off, length = show_spans.get(id(s), (0, len(s.text)))
                cells.append(
                    PdfTableCell(
                        row=r_idx, col=c_idx, text=s.text,
                        x0=s.x,
                        y0=page_height - (s.y + s.size),
                        x1=s.x + 0.5 * s.size * len(s.text),
                        y1=page_height - s.y,
                        offset=off, length=length,
                    )
                )
        tables.append(
            PdfTable(
                page=page, row_count=len(run), column_count=len(sig),
                cells=cells,
            )
        )

    for row in rows:
        if len(row) >= 2 and (not run or signature(row) == signature(run[0])):
            run.append(row)
        else:
            flush_run()
            run = [row] if len(row) >= 2 else []
    flush_run()
    return tables


def _mk_block(page: int, text: str, bbox, offset: int) -> PdfBlock:
    x0, y0, x1, y1 = bbox
    return PdfBlock(page=page, text=text, x0=x0, y0=y0, x1=x1, y1=y1,
                    offset=offset, length=len(text))


def vertically_flip_block_coords(
    blocks: list[PdfBlock], pages: list[PageMeta]
) -> list[PdfBlock]:
    """M12: convert top-left-origin y to bottom-left (PDF convention).

    y' = page_height - y, swapping y0/y1 to keep y0 <= y1. Validates page
    numbers like cpr_sdk's vertically_flip_text_block_coords (exercised at
    cli/test/test_run_parser.py:118-121).
    """
    heights = {p.page_number: p.height for p in pages}
    out: list[PdfBlock] = []
    for b in blocks:
        if b.page not in heights:
            raise ValueError(f"block references unknown page {b.page}")
        h = heights[b.page]
        out.append(
            PdfBlock(
                page=b.page, text=b.text,
                x0=b.x0, y0=h - b.y1, x1=b.x1, y1=h - b.y0,
                offset=b.offset, length=b.length,
            )
        )
    return out
