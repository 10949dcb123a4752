"""Sitemap ingestion (sitemaps.org protocol) — the crawl-side discovery
artifact next to robots.txt (operators/robots.py): production crawlers
seed and refresh their frontier from `<urlset>` / `<sitemapindex>`
documents, so a curation engine needs to turn sitemap XML into (url,
lastmod, priority) rows it can feed straight into fetch_schedule / url
filtering.

From-scratch regex field extraction, NOT an XML parser (no lxml in this
environment, and sitemap files in the wild are flat machine-generated
element soup, not general XML): newlines are collapsed first so the
block patterns never need DOTALL, and every pattern is shared
Java-regex/RE2-safe (non-greedy `(.*?)`, negated char classes — the
same discipline as operators/text.normalize_text) so the DuckDB oracle
replays the parse bit-for-bit.

Reference scope note: the reference parser ingests pre-fetched blobs
and has no crawl planning; this is part of the beyond-reference
crawl-side layer (SURVEY §2 "beyond" table) like robots/CDX/WARC.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# one block per <url>/<sitemap> element; fields by negated-class match
_URL_BLOCK = "<url>(.*?)</url>"
_INDEX_BLOCK = "<sitemap>(.*?)</sitemap>"
_LOC = "<loc>([^<]*)</loc>"
_LASTMOD = "<lastmod>([^<]*)</lastmod>"
_PRIORITY = "<priority>([^<]*)</priority>"


def _flatten(xml: Column) -> Column:
    """Collapse all whitespace runs containing a newline to one space:
    real sitemaps pretty-print elements across lines and neither Java
    regex nor RE2 spans newlines with `.` by default — after this, the
    non-greedy block patterns are newline-free by construction."""
    return F.regexp_replace(xml, r"\s*[\r\n]+\s*", " ")


def parse_sitemap(
    df: DataFrame,
    xml_col: str = "xml",
    site_col: str = "site",
) -> DataFrame:
    """(site, xml) -> one row per sitemap entry.

    Emits BOTH leaf `<url>` entries (kind='url') and `<sitemapindex>`
    children (kind='sitemap' — the next fetch wave, which a crawl loop
    anti-joins against already-fetched sitemap urls). loc is required
    (entries without it are dropped, per the protocol); lastmod/priority
    optional -> NULL.

    100 TB shape: map-only codegen projection (regexp_extract_all +
    one explode); a sitemap file is one row, so parallelism is the
    file count — the natural unit (a host's sitemap is fetched as one
    object).

    Returns (site, kind, url, lastmod, priority).
    """
    flat = _flatten(F.col(xml_col))
    rows = []
    for kind, block in (("url", _URL_BLOCK), ("sitemap", _INDEX_BLOCK)):
        blocks = F.expr(
            f"regexp_extract_all(flat_xml, '{block}', 1)"
        )
        rows.append(
            df.select(
                F.col(site_col).alias("site"), flat.alias("flat_xml")
            )
            .select("site", F.explode(blocks).alias("b"))
            .select(
                "site",
                F.lit(kind).alias("kind"),
                F.regexp_extract("b", _LOC, 1).alias("url"),
                F.nullif(
                    F.regexp_extract("b", _LASTMOD, 1), F.lit("")
                ).alias("lastmod"),
                F.nullif(
                    F.regexp_extract("b", _PRIORITY, 1), F.lit("")
                ).alias("priority"),
            )
        )
    out = rows[0].unionByName(rows[1])
    return out.filter(F.length("url") > 0)


def read_sitemaps(spark: SparkSession, path_glob: str) -> DataFrame:
    """sitemap*.xml files -> parsed entry rows; site = the file path.
    Whole-file rows (a sitemap is one document, max 50 MB / 50k urls by
    protocol — always a single task's worth)."""
    raw = spark.read.text(path_glob, wholetext=True).select(
        F.input_file_name().alias("site"),
        F.col("value").alias("xml"),
    )
    return parse_sitemap(raw, xml_col="xml", site_col="site")


def oracle_parse_sitemap(xml_table_sql: str) -> str:
    """DuckDB replica of parse_sitemap over ``xml_table_sql`` (must
    yield (site, xml)) — same flatten, same block/field patterns."""
    flat = "regexp_replace(xml, '\\s*[\\r\\n]+\\s*', ' ', 'g')"
    parts = []
    for kind, block in (("url", _URL_BLOCK), ("sitemap", _INDEX_BLOCK)):
        parts.append(f"""
          SELECT site, '{kind}' AS kind,
                 regexp_extract(b, '{_LOC}', 1) AS url,
                 nullif(regexp_extract(b, '{_LASTMOD}', 1), '')
                   AS lastmod,
                 nullif(regexp_extract(b, '{_PRIORITY}', 1), '')
                   AS priority
          FROM (
            SELECT site,
                   unnest(regexp_extract_all(flat_xml, '{block}', 1))
                     AS b
            FROM (SELECT site, {flat} AS flat_xml
                  FROM ({xml_table_sql}))
          )""")
        # DuckDB regexp_replace needs the 'g' flag for replace-all
        # (Spark's regexp_replace is always global) — hence the flat
        # expression above carries it.
    union = " UNION ALL ".join(parts)
    return f"""
        SELECT site, kind, url, lastmod, priority
        FROM ({union})
        WHERE length(url) > 0
    """
