"""RSS 2.0 / Atom feed ingestion — the freshness-side discovery
artifact next to sitemaps (sources/sitemap.py): news crawlers poll
feeds to learn about NEW urls minutes after publication, long before a
sitemap refresh, and a curation engine turns feed XML into
(url, title, published) rows it can route into fetch_schedule /
recrawl_schedule exactly like sitemap entries. meta_tags already
discovers the feed urls (<link rel="alternate" type="application/
rss+xml">); this module parses the fetched documents.

Same from-scratch discipline as sources/sitemap.py: regex field
extraction over newline-flattened text, NOT an XML parser (no lxml in
this environment, and wild feeds are flat machine-generated element
soup); every pattern is shared Java-regex/RE2-safe (non-greedy blocks,
negated char classes, no backslash classes) so the DuckDB oracle
replays the parse bit-for-bit.

Reference scope note: the reference parser ingests pre-fetched blobs
and has no crawl-side discovery; this belongs to the beyond-reference
crawl layer (SURVEY §2 "beyond" table) with robots/sitemap/CDX/WARC.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# RSS 2.0: <item> blocks; plain-element fields. <guid> carries an
# isPermaLink attribute in the wild -> attribute-tolerant open tag.
_RSS_BLOCK = "<item>(.*?)</item>"
_RSS_TITLE = "<title>([^<]*)</title>"
_RSS_LINK = "<link>([^<]*)</link>"
_RSS_GUID = "<guid[^>]*>([^<]*)</guid>"
_RSS_DATE = "<pubDate>([^<]*)</pubDate>"

# Atom: <entry> blocks; the url is the href ATTRIBUTE of <link/>.
_ATOM_BLOCK = "<entry>(.*?)</entry>"
_ATOM_TITLE = "<title>([^<]*)</title>"
_ATOM_LINK = '<link[^>]*href="([^"]*)"'
_ATOM_ID = "<id>([^<]*)</id>"
_ATOM_DATE = "<updated>([^<]*)</updated>"

_FIELDS = {
    "rss": (_RSS_BLOCK, _RSS_TITLE, _RSS_LINK, _RSS_GUID, _RSS_DATE),
    "atom": (_ATOM_BLOCK, _ATOM_TITLE, _ATOM_LINK, _ATOM_ID, _ATOM_DATE),
}


def _flatten(xml: Column) -> Column:
    """Collapse whitespace runs containing a newline to one space (the
    sitemap discipline: block patterns never need DOTALL after this)."""
    return F.regexp_replace(xml, r"\s*[\r\n]+\s*", " ")


def parse_feed(
    df: DataFrame,
    xml_col: str = "xml",
    feed_col: str = "feed",
) -> DataFrame:
    """(feed, xml) -> one row per feed entry.

    Format detection is structural: a document contributes <item> rows
    as RSS and <entry> rows as Atom — a document with neither (or a
    non-feed blob) simply yields nothing, the errors-become-rows
    posture (here: errors become NO rows, never exceptions). url is
    required (entries without one are dropped — a feed entry you
    cannot fetch is useless to the frontier); title/entry_id/published
    optional -> NULL.

    100 TB shape: map-only codegen projection (regexp_extract_all +
    one explode per format, unioned); a feed is one row, parallelism
    is the feed count — the natural unit.

    Returns (feed, format, url, title, entry_id, published).
    """
    flat = df.select(
        F.col(feed_col).alias("feed"),
        _flatten(F.col(xml_col)).alias("flat_xml"),
    )
    parts = []
    for fmt, (block, title, link, eid, date) in _FIELDS.items():
        blocks = F.expr(f"regexp_extract_all(flat_xml, '{block}', 1)")
        parts.append(
            flat.select("feed", F.explode(blocks).alias("b"))
            .select(
                "feed",
                F.lit(fmt).alias("format"),
                F.regexp_extract("b", link, 1).alias("url"),
                F.nullif(
                    F.regexp_extract("b", title, 1), F.lit("")
                ).alias("title"),
                F.nullif(
                    F.regexp_extract("b", eid, 1), F.lit("")
                ).alias("entry_id"),
                F.nullif(
                    F.regexp_extract("b", date, 1), F.lit("")
                ).alias("published"),
            )
        )
    out = parts[0].unionByName(parts[1])
    return out.filter(F.length("url") > 0)


def oracle_parse_feed(xml_table_sql: str) -> str:
    """DuckDB replica of parse_feed over ``xml_table_sql`` (must yield
    (feed, xml)) — same flatten ('g' flag: DuckDB regexp_replace is
    single-match by default), same block/field patterns."""
    flat = "regexp_replace(xml, '\\s*[\\r\\n]+\\s*', ' ', 'g')"
    parts = []
    for fmt, (block, title, link, eid, date) in _FIELDS.items():
        parts.append(f"""
          SELECT feed, '{fmt}' AS format,
                 regexp_extract(b, '{link}', 1) AS url,
                 nullif(regexp_extract(b, '{title}', 1), '') AS title,
                 nullif(regexp_extract(b, '{eid}', 1), '') AS entry_id,
                 nullif(regexp_extract(b, '{date}', 1), '')
                   AS published
          FROM (
            SELECT feed,
                   unnest(regexp_extract_all(flat_xml, '{block}', 1))
                     AS b
            FROM (SELECT feed, {flat} AS flat_xml
                  FROM ({xml_table_sql}))
          )""")
    union = " UNION ALL ".join(parts)
    return f"""
        SELECT feed, format, url, title, entry_id, published
        FROM ({union})
        WHERE length(url) > 0
    """
