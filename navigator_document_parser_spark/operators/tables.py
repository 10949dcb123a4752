"""HTML table extraction — `<table>` markup to structured
(doc_id, table_idx, row_idx, col_idx, is_header, cell_text) rows.

The reference pipeline extracts running text only (its table handling
lives on the PDF side via Azure layout — see M11/pdf_blocks); table
DATA in HTML pages is the other structured payload a web-scale corpus
pipeline mines (relation extraction, QA-pair mining, WikiTables-style
pretraining corpora).

Same from-scratch discipline as sources/sitemap.py: regex field
extraction, NOT a DOM parser — every pattern is shared
Java-regex/RE2-safe (non-greedy blocks, negated char classes, no
DOTALL — newline runs are collapsed first) so the DuckDB oracle
replays the parse bit-for-bit. For adversarial markup the full DOM
path (extraction/dom.py) remains the text-extraction core; this
operator targets the machine-generated tables that dominate real
crawls.

100 TB shape: three chained posexplode levels (tables -> rows ->
cells), each a map-only generate over the already-exploded string of
the level above — parallelism follows the corpus scan, zero shuffles,
all codegen'd JVM regex.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (?is) would also span newlines, but RE2 (DuckDB) and Java agree on
# (?i) only; newlines are flattened away instead (sitemap.py pattern)
_TABLE_BLOCK = "(?i)<table[^>]*>(.*?)</table>"
_TR_BLOCK = "(?i)<tr[^>]*>(.*?)</tr>"
_CELL_BLOCK = "(?i)<t[dh][^>]*>(.*?)</t[dh]>"
# first cell tag of the row: <t([dh]) captured -> 'h' means header row
_FIRST_CELL_TAG = "(?i)<t([dh])[^>]*>"
_TAG = "<[^>]*>"


def _flatten(col: Column) -> Column:
    return F.regexp_replace(col, r"\s*[\r\n]+\s*", " ")


def extract_html_tables(
    df: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "html",
) -> DataFrame:
    """One output row per table cell; indices are 0-based in document
    order; is_header marks rows whose FIRST cell tag is <th> (a <th>
    later in a data row does not flip it);
    cell_text has inner tags stripped and whitespace trimmed."""
    tables = (
        df.select(
            F.col(id_col).alias("doc_id"),
            _flatten(F.col(html_col)).alias("flat"),
        )
        .select(
            "doc_id",
            F.posexplode(
                F.expr(f"regexp_extract_all(flat, '{_TABLE_BLOCK}', 1)")
            ).alias("table_idx", "tbl"),
        )
    )
    rows = tables.select(
        "doc_id",
        "table_idx",
        F.posexplode(
            F.expr(f"regexp_extract_all(tbl, '{_TR_BLOCK}', 1)")
        ).alias("row_idx", "rowhtml"),
    )
    cells = rows.select(
        "doc_id",
        "table_idx",
        "row_idx",
        (
            F.lower(
                F.expr(f"regexp_extract(rowhtml, '{_FIRST_CELL_TAG}', 1)")
            )
            == "h"
        ).alias("is_header"),
        F.posexplode(
            F.expr(f"regexp_extract_all(rowhtml, '{_CELL_BLOCK}', 1)")
        ).alias("col_idx", "cellhtml"),
    )
    return cells.select(
        "doc_id",
        F.col("table_idx").cast("bigint").alias("table_idx"),
        F.col("row_idx").cast("bigint").alias("row_idx"),
        F.col("col_idx").cast("bigint").alias("col_idx"),
        "is_header",
        F.trim(
            F.regexp_replace(F.col("cellhtml"), _TAG, "")
        ).alias("cell_text"),
    )


def oracle_extract_html_tables(html_table_sql: str) -> str:
    """DuckDB replica over ``html_table_sql`` (must yield
    (doc_id, html)) — same flatten, same block patterns; DuckDB's
    1-based unnest ordinality is shifted to the Spark side's 0-based
    posexplode indices."""

    def explode(src: str, pat: str, pos: str, val: str) -> str:
        # positional unnest via indexed list_transform (1-based)
        return f"""
          SELECT * EXCLUDE (u), CAST(u.i - 1 AS BIGINT) AS {pos},
                 u.v AS {val}
          FROM (
            SELECT *, unnest(list_transform(
                     regexp_extract_all({src}, '{pat}', 1),
                     (x, i) -> struct_pack(i := i, v := x))) AS u
            FROM {{inner}}
          )"""

    lvl1 = explode("flat", _TABLE_BLOCK, "table_idx", "tbl").format(
        inner="(SELECT doc_id, regexp_replace(html,"
        " '\\s*[\\r\\n]+\\s*', ' ', 'g') AS flat"
        f" FROM ({html_table_sql}))"
    )
    lvl2 = explode("tbl", _TR_BLOCK, "row_idx", "rowhtml").format(
        inner=f"({lvl1})"
    )
    lvl3 = explode("rowhtml", _CELL_BLOCK, "col_idx", "cellhtml").format(
        inner=f"({lvl2})"
    )
    return f"""
        SELECT doc_id, table_idx, row_idx, col_idx,
               (lower(regexp_extract(rowhtml,
                        '{_FIRST_CELL_TAG}', 1)) = 'h') AS is_header,
               trim(regexp_replace(cellhtml, '{_TAG}', '', 'g'))
                 AS cell_text
        FROM ({lvl3})
    """


# ---------------------------------------------------------------------------
# page metadata mining (title / OpenGraph / description / feed link)
# ---------------------------------------------------------------------------

# shared Java-regex/RE2-safe patterns (non-greedy via negated classes,
# no backreferences/lookaround) — the sitemap/table discipline. Both
# engines return '' on no match (verified), so absent tags are ''.
_META_PATTERNS = (
    ("title", "<title>([^<]*)</title>"),
    ("og_title", '<meta property="og:title" content="([^"]*)"'),
    ("og_type", '<meta property="og:type" content="([^"]*)"'),
    ("description", '<meta name="description" content="([^"]*)"'),
    (
        "feed_href",
        '<link rel="alternate" type="application/rss\\+xml"'
        ' href="([^"]*)"',
    ),
)


def meta_tags(
    pages: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "html",
) -> DataFrame:
    """Page-metadata extraction: <title>, OpenGraph title/type, meta
    description, and RSS feed discovery from raw markup — the
    enrichment columns a web corpus carries next to the extracted text
    (search snippets, social cards, feed-based recrawl discovery).
    Attribute-ORDER sensitive by design (property before content, the
    overwhelmingly dominant emitted order); a full attribute parser
    belongs in the extraction DOM core, not this map stage.

    100 TB shape: one regexp_extract per field, map-only, fused into
    codegen above the scan; absent tags yield ''.

    Returns (doc_id, title, og_title, og_type, description, feed_href).
    """
    cols = [F.col(id_col).alias("doc_id")]
    for name, pat in _META_PATTERNS:
        cols.append(
            F.regexp_extract(F.col(html_col), pat, 1).alias(name)
        )
    return pages.select(*cols)


def oracle_meta_tags(pages_sql: str) -> str:
    """DuckDB replica of meta_tags; ``pages_sql`` yields
    (doc_id, html)."""
    from navigator_document_parser_spark.operators import sql_quote

    sel = ", ".join(
        f"regexp_extract(html, {sql_quote(pat)}, 1) AS {name}"
        for name, pat in _META_PATTERNS
    )
    return f"WITH p AS ({pages_sql}) SELECT doc_id, {sel} FROM p"


def markup_stats(
    pages: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "html",
) -> DataFrame:
    """Markup-density profile per page: tag/link/script counts and the
    text-to-markup ratio — the boilerplate-richness prior an extraction
    pipeline reads before choosing a parser policy (script-heavy,
    link-farm, and markup-dominated pages fail readability-style
    scoring in predictable ways; cf. the text-density family of
    boilerplate detectors).

    Counts are size(regexp_extract_all(...)); visible-text length is
    length after tag-strip. All shared-safe patterns, map-only.

    Returns (doc_id, n_tags, n_links, n_scripts, text_chars,
    text_ratio4).
    """
    from navigator_document_parser_spark.operators import ratio4

    h = F.col(html_col)
    n_tags = F.size(
        F.regexp_extract_all(h, F.lit("<[A-Za-z/][^>]*>"), F.lit(0))
    ).cast("bigint")
    n_links = F.size(
        F.regexp_extract_all(h, F.lit("<a [^>]*>"), F.lit(0))
    ).cast("bigint")
    n_scripts = F.size(
        F.regexp_extract_all(h, F.lit("<script[^>]*>"), F.lit(0))
    ).cast("bigint")
    text_chars = F.length(
        F.regexp_replace(h, "<[^>]*>", "")
    ).cast("bigint")
    return pages.select(
        F.col(id_col).alias("doc_id"),
        n_tags.alias("n_tags"),
        n_links.alias("n_links"),
        n_scripts.alias("n_scripts"),
        text_chars.alias("text_chars"),
        ratio4(
            text_chars, F.greatest(F.length(h).cast("bigint"), F.lit(1))
        ).alias("text_ratio4"),
    )


def oracle_markup_stats(pages_sql: str) -> str:
    """DuckDB replica of markup_stats."""
    from navigator_document_parser_spark.operators import ratio4_sql

    r4 = ratio4_sql("text_chars", "greatest(length(html), 1)")
    return f"""
        WITH p AS ({pages_sql}),
        sig AS (
          SELECT doc_id, html,
                 CAST(len(regexp_extract_all(html, '<[A-Za-z/][^>]*>'))
                      AS BIGINT) AS n_tags,
                 CAST(len(regexp_extract_all(html, '<a [^>]*>'))
                      AS BIGINT) AS n_links,
                 CAST(len(regexp_extract_all(html, '<script[^>]*>'))
                      AS BIGINT) AS n_scripts,
                 CAST(length(regexp_replace(html, '<[^>]*>', '', 'g'))
                      AS BIGINT) AS text_chars
          FROM p
        )
        SELECT doc_id, n_tags, n_links, n_scripts, text_chars,
               {r4} AS text_ratio4
        FROM sig
    """


# ---------------------------------------------------------------------------
# schema.org JSON-LD mining
# ---------------------------------------------------------------------------

_JSONLD_BLOCK_RE = (
    '<script type="application/ld\\+json">([^<]*)</script>'
)
# (column, spark JSONPath, duckdb JSONPath): the '@type' key needs
# engine-specific quoting — Spark accepts $['@type'], DuckDB $."@type"
_JSONLD_FIELDS = (
    ("ld_type", "$['@type']", '$."@type"'),
    ("name", "$.name", "$.name"),
    ("date_published", "$.datePublished", "$.datePublished"),
    ("author", "$.author.name", "$.author.name"),
)


def jsonld_extract(
    pages: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "html",
) -> DataFrame:
    """schema.org JSON-LD mining: pull the first
    <script type="application/ld+json"> block and extract the standard
    Article fields — the structured-data channel (WDC-style) that rides
    alongside the visible text on news/product pages and feeds
    knowledge-graph and date-detection pipelines.

    The block regex is shared-safe; field access is JSONPath
    (get_json_object / json_extract_string — same unquoting and same
    NULL-on-missing in both engines). Pages without a block (or whose
    first block is empty) yield NULLs via the guarding CASE, and the
    oracle additionally gates on json_valid(block): Spark returns NULL
    on malformed JSON where DuckDB would raise, so the oracle's
    validity guard is what keeps the engines identical on garbage
    blocks. Residual contract: blocks containing '<' are truncated by
    the [^<]* block regex (HTML embeds no raw '<' in well-formed
    JSON-LD), and leniently-parsed-but-not-strictly-valid JSON (e.g.
    NaN tokens) may extract in Spark while the oracle yields NULL —
    well-formed JSON-LD is assumed.

    100 TB shape: map-only projection, one regex + four JSON probes
    per page, fused into codegen above the scan.

    Returns (doc_id, ld_type, name, date_published, author).
    """
    block = F.regexp_extract(F.col(html_col), _JSONLD_BLOCK_RE, 1)
    base = pages.select(
        F.col(id_col).alias("doc_id"), block.alias("block")
    )
    cols = [F.col("doc_id")]
    for name, spark_path, _ in _JSONLD_FIELDS:
        cols.append(
            F.when(
                F.col("block") != "",
                F.get_json_object(F.col("block"), spark_path),
            ).alias(name)
        )
    return base.select(*cols)


def oracle_jsonld_extract(pages_sql: str) -> str:
    """DuckDB replica of jsonld_extract; ``pages_sql`` yields
    (doc_id, html)."""
    from navigator_document_parser_spark.operators import sql_quote

    sel = []
    for name, _, duck_path in _JSONLD_FIELDS:
        sel.append(
            f"CASE WHEN block <> '' AND json_valid(block) THEN "
            f"json_extract_string(block, {sql_quote(duck_path)}) END"
            f" AS {name}"
        )
    return f"""
        WITH p AS ({pages_sql}),
        b AS (
          SELECT doc_id,
                 regexp_extract(html, {sql_quote(_JSONLD_BLOCK_RE)}, 1)
                   AS block
          FROM p
        )
        SELECT doc_id, {', '.join(sel)} FROM b
    """


def title_consistency(
    pages: DataFrame,
    id_col: str = "doc_id",
    title_col: str = "title",
    text_col: str = "text",
) -> DataFrame:
    """Title-vs-body consistency: the fraction of distinct title tokens
    that actually appear in the body — the clickbait / SEO-stuffing /
    wrong-metadata signal (a page whose title shares no vocabulary with
    its content is usually one of the three). Tokenization is the
    shared [^a-z0-9_]+ split; membership tests the DISTINCT title
    tokens against the body token SET; ratio is ratio4.

    100 TB shape: map-only — both token arrays computed once behind an
    eager checkpoint (lessons 3/9), membership via an array HOF on
    per-row data, no shuffle.

    Returns (doc_id, n_title_tokens, n_matched, consistency4).
    """
    from navigator_document_parser_spark.operators import ratio4

    base = pages.select(
        F.col(id_col).alias("doc_id"),
        # extract-all == split-on-complement with empties dropped, same
        # order, so array_distinct yields identical arrays (the
        # negated-class java-regex split measured 13x slower — r7)
        F.expr(
            f"array_distinct(regexp_extract_all(lower({title_col}),"
            " '[a-z0-9_]+', 0))"
        ).alias("tt"),
        F.expr(
            f"array_distinct(regexp_extract_all(lower({text_col}),"
            " '[a-z0-9_]+', 0))"
        ).alias("bt"),
    ).localCheckpoint(eager=True)
    n_title = F.size("tt").cast("bigint")
    n_match = F.size(F.array_intersect("tt", "bt")).cast("bigint")
    return base.select(
        "doc_id",
        n_title.alias("n_title_tokens"),
        n_match.alias("n_matched"),
        ratio4(n_match, F.greatest(n_title, F.lit(1))).alias(
            "consistency4"
        ),
    )


def oracle_title_consistency(pages_sql: str) -> str:
    """DuckDB replica of title_consistency; ``pages_sql`` yields
    (doc_id, title, text)."""
    from navigator_document_parser_spark.operators import ratio4_sql

    tok = (
        "list_distinct(list_filter(string_split_regex(lower({c}),"
        " '[^a-z0-9_]+'), x -> x <> ''))"
    )
    r4 = ratio4_sql("n_matched", "greatest(n_title_tokens, 1)")
    return f"""
        WITH p AS ({pages_sql}),
        base AS (
          SELECT doc_id,
                 {tok.format(c='title')} AS tt,
                 {tok.format(c='text')} AS bt
          FROM p
        ), sig AS (
          SELECT doc_id,
                 CAST(length(tt) AS BIGINT) AS n_title_tokens,
                 CAST(length(list_intersect(tt, bt)) AS BIGINT)
                   AS n_matched
          FROM base
        )
        SELECT doc_id, n_title_tokens, n_matched,
               {r4} AS consistency4
        FROM sig
    """


# ---------------------------------------------------------------------------
# outlink extraction (raw HTML -> resolved link rows)
# ---------------------------------------------------------------------------

# one block per <a> that carries a double-quoted href; fields re-extracted
# per block (regexp_extract_all returns a single group, so block-then-field
# is the html_tables staging discipline). Attribute-order sensitive like
# meta_tags: href before any trailing attributes is matched either way via
# the second [^>]*, but href must be double-quoted.
_A_BLOCK = '<a [^>]*href="[^"]*"[^>]*>[^<]*</a>'
_A_HREF = 'href="([^"]*)"'
_A_ANCHOR = '>([^<]*)</a>'


def _resolve_href(href: Column, base: Column) -> Column:
    """Resolve ``href`` against the page ``base`` url: absolute kept,
    protocol-relative inherits the scheme, root-relative joins the
    origin, anything else joins the base path's directory. Shared by
    extract_links and link_rels; _resolve_href_sql is its DuckDB twin."""
    origin = F.regexp_extract(base, "^(https?://[^/?#]*)", 1)
    scheme = F.regexp_extract(base, "^(https?):", 1)
    basedir = F.regexp_extract(base, "^(https?://[^?#]*/)", 1)
    directory = F.when(basedir != "", basedir).otherwise(
        F.concat(origin, F.lit("/"))
    )
    return (
        F.when(
            (href.substr(1, 7) == "http://")
            | (href.substr(1, 8) == "https://"),
            href,
        )
        .when(href.substr(1, 2) == "//",
              F.concat(scheme, F.lit(":"), href))
        .when(href.substr(1, 1) == "/", F.concat(origin, href))
        .otherwise(F.concat(directory, href))
    )


def _resolve_href_sql(href: str, base: str) -> str:
    """DuckDB rendering of _resolve_href (href/base are SQL exprs)."""
    origin = f"regexp_extract({base}, '^(https?://[^/?#]*)', 1)"
    scheme = f"regexp_extract({base}, '^(https?):', 1)"
    basedir = f"regexp_extract({base}, '^(https?://[^?#]*/)', 1)"
    directory = (
        f"(CASE WHEN {basedir} <> '' THEN {basedir}"
        f" ELSE {origin} || '/' END)"
    )
    return f"""CASE
        WHEN substring({href}, 1, 7) = 'http://'
          OR substring({href}, 1, 8) = 'https://' THEN {href}
        WHEN substring({href}, 1, 2) = '//'
          THEN {scheme} || ':' || {href}
        WHEN substring({href}, 1, 1) = '/' THEN {origin} || {href}
        ELSE {directory} || {href} END"""



def extract_links(
    pages: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "html",
    base_col: str = "url",
) -> DataFrame:
    """Outlink extraction from raw markup: every <a href> resolved
    against the page url — the link edge list, produced straight from
    the input table's html column (BASELINE.json input_hint), so
    pagerank / anchor_text / crawl frontiers run without a separate
    WAT ingest.

    Resolution covers the four shapes that matter at crawl scale:
    absolute (kept as-is), protocol-relative (inherits the base
    scheme), root-relative (base origin + path), and directory-relative
    (resolved against the base path's directory). No '../' folding —
    dot-segment normalization is url_filter/dust_rules territory.
    Fragment-only hrefs and every non-fetchable scheme (javascript:,
    mailto:, tel:, data:, ftp:, ... — anything matching
    '^[A-Za-z][A-Za-z0-9+.-]*:' that is not http/https) are dropped,
    so scheme'd non-web hrefs never leak into the directory-relative
    branch as malformed frontier urls (r6 ADVICE). nofollow is
    surfaced per link (the SEO edge-weight signal).

    100 TB shape: one regexp_extract_all + explode, then map-only
    field/resolution projections fused into codegen — no shuffle at
    all; the output feeds the usual groupBy(host) edge aggregates.

    Returns (doc_id, url, anchor, nofollow).
    """
    # newline-flatten first (the sitemap/feed discipline): wild markup
    # pretty-prints attributes across lines, and the '<a ' block anchor
    # needs the separator to be a plain space
    flat = F.regexp_replace(
        F.col(html_col), r"\s*[\r\n]+\s*", " "
    )
    blocks = pages.select(
        F.col(id_col).alias("doc_id"),
        F.col(base_col).alias("base"),
        flat.alias("flat_html"),
    ).select(
        "doc_id",
        "base",
        F.explode(
            F.expr(f"regexp_extract_all(flat_html, '{_A_BLOCK}', 0)")
        ).alias("b"),
    )
    href = F.regexp_extract("b", _A_HREF, 1)
    fields = blocks.select(
        "doc_id",
        href.alias("href"),
        _resolve_href(href, F.col("base")).alias("url"),
        F.regexp_extract("b", _A_ANCHOR, 1).alias("anchor"),
        F.col("b").contains('rel="nofollow"').alias("nofollow"),
    )
    scheme = F.lower(
        F.regexp_extract("href", r"^([A-Za-z][A-Za-z0-9+.-]*):", 1)
    )
    drop = (
        (F.col("href") == "")
        | F.col("href").startswith("#")
        | ((scheme != "") & ~scheme.isin("http", "https"))
    )
    return fields.filter(~drop).select("doc_id", "url", "anchor", "nofollow")


def oracle_extract_links(pages_sql: str) -> str:
    """DuckDB replica of extract_links; ``pages_sql`` yields
    (doc_id, url, html) with url as the base."""
    from navigator_document_parser_spark.operators import sql_quote

    return f"""
        WITH p AS ({pages_sql}),
        blocks AS (
          SELECT doc_id, url AS base,
                 unnest(regexp_extract_all(
                   regexp_replace(html, '\\s*[\\r\\n]+\\s*', ' ', 'g'),
                   {sql_quote(_A_BLOCK)}, 0)) AS b
          FROM p
        ), fields AS (
          SELECT doc_id, base,
                 regexp_extract(b, {sql_quote(_A_HREF)}, 1) AS href,
                 regexp_extract(b, {sql_quote(_A_ANCHOR)}, 1) AS anchor,
                 contains(b, 'rel="nofollow"') AS nofollow
          FROM blocks
        )
        SELECT doc_id,
               {_resolve_href_sql('href', 'base')} AS url,
               anchor, nofollow
        FROM fields
        WHERE href <> ''
          AND substring(href, 1, 1) <> '#'
          AND lower(regexp_extract(href,
                '^([A-Za-z][A-Za-z0-9+.-]*):', 1))
              IN ('', 'http', 'https')
    """


# rel-link extraction: the crawl-hygiene quartet. Attribute-order
# sensitive like meta_tags (rel before href — the dominant emitted
# order); resolution shares _resolve_href with extract_links.
_REL_PATTERNS = (
    ("canonical", '<link rel="canonical" href="([^"]*)"'),
    ("next_url", '<link rel="next" href="([^"]*)"'),
    ("prev_url", '<link rel="prev" href="([^"]*)"'),
    ("amp_url", '<link rel="amphtml" href="([^"]*)"'),
)


def link_rels(
    pages: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "html",
    base_col: str = "url",
) -> DataFrame:
    """rel-link extraction: canonical / next / prev / amphtml, each
    resolved against the page url — the crawl-hygiene signals that feed
    straight into existing operators: canonical into resolve_redirects'
    map (the #1 dedup-by-declaration channel), next/prev into
    trap_detect's pagination reasoning, amphtml into mirror_hosts
    (an AMP page is a declared near-mirror). Absent rels are NULL.

    100 TB shape: newline-flatten + one regexp_extract per rel,
    map-only codegen above the scan, zero shuffle.

    Returns (doc_id, canonical, next_url, prev_url, amp_url).
    """
    flat = F.regexp_replace(F.col(html_col), r"\s*[\r\n]+\s*", " ")
    base = F.col(base_col)
    cols = [F.col(id_col).alias("doc_id")]
    for name, pat in _REL_PATTERNS:
        href = F.regexp_extract(flat, pat, 1)
        cols.append(
            F.when(href != "", _resolve_href(href, base)).alias(name)
        )
    return pages.select(*cols)


def oracle_link_rels(pages_sql: str) -> str:
    """DuckDB replica of link_rels; ``pages_sql`` yields
    (doc_id, url, html) with url as the base."""
    from navigator_document_parser_spark.operators import sql_quote

    sel = ", ".join(
        f"CASE WHEN regexp_extract(flat, {sql_quote(pat)}, 1) <> '' "
        f"THEN {_resolve_href_sql(f'regexp_extract(flat, {sql_quote(pat)}, 1)', 'url')} "
        f"END AS {name}"
        for name, pat in _REL_PATTERNS
    )
    return f"""
        WITH p AS ({pages_sql}),
        f AS (
          SELECT doc_id, url,
                 regexp_replace(html, '\\s*[\\r\\n]+\\s*', ' ', 'g')
                   AS flat
          FROM p
        )
        SELECT doc_id, {sel} FROM f
    """


def table_linearize(
    cells: DataFrame,
) -> DataFrame:
    """Linearize extracted table cells into training-ready text — the
    step between extract_html_tables and a pretraining corpus
    (WikiTables/TaPas-style: cells joined ' | ' within a row, rows
    joined by newline). Takes extract_html_tables' output schema
    (doc_id, table_idx, row_idx, col_idx, is_header, cell_text).

    Ordering is total by construction — (col_idx) is unique within a
    row and (row_idx) within a table, so the array_sort-of-struct /
    string_agg ORDER BY renderings are bit-identical across engines.

    100 TB shape: two hash aggregates keyed (doc, table, row) then
    (doc, table); per-group state is one table's text — bounded by the
    block patterns' single-page scope, never corpus-sized.

    Returns (doc_id, table_idx, n_rows, n_cols, table_text).
    """
    rows = (
        cells.groupBy("doc_id", "table_idx", "row_idx")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("col_idx", "cell_text")
                        )
                    ),
                    lambda x: x["cell_text"],
                ),
                " | ",
            ).alias("row_text"),
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        )
    )
    return (
        rows.groupBy("doc_id", "table_idx")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.max("n_cells").alias("n_cols"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("row_idx", "row_text"))
                    ),
                    lambda x: x["row_text"],
                ),
                "\n",
            ).alias("table_text"),
        )
        .select("doc_id", "table_idx", "n_rows", "n_cols", "table_text")
    )


def oracle_table_linearize(cells_sql: str) -> str:
    """DuckDB replica of table_linearize over ``cells_sql`` (the
    oracle_extract_html_tables output shape)."""
    return f"""
        WITH c AS ({cells_sql}),
        r AS (
          SELECT doc_id, table_idx, row_idx,
                 string_agg(cell_text, ' | ' ORDER BY col_idx)
                   AS row_text,
                 CAST(count(*) AS BIGINT) AS n_cells
          FROM c GROUP BY doc_id, table_idx, row_idx
        )
        SELECT doc_id, table_idx,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(max(n_cells) AS BIGINT) AS n_cols,
               string_agg(row_text, chr(10) ORDER BY row_idx)
                 AS table_text
        FROM r GROUP BY doc_id, table_idx
    """
