"""URL canonicalization and domain-blocklist filtering.

Every crawl-scale corpus pipeline starts by normalizing URLs (casing,
default ports, tracking parameters, fragments) so dedup keys and domain
statistics are stable, then drops blocklisted domains (UT1-style list
filtering). The reference keys its whole result store on `url`
(/root/reference/cli/parse_htmls.py insert-if-absent on url), so a
stable canonical form is the natural upstream of that sink.

Canonical form produced here:
  - scheme and host lowercased
  - default ports stripped (http://…:80, https://…:443); others kept
  - fragment removed
  - tracking query parameters removed (utm_*, fbclid, gclid); a query
    left empty loses its '?'
  - trailing '/' runs stripped from the path

Both the Spark side and the DuckDB oracle are pure projections built
from the same split/regexp steps — no UDF, no shuffle; at 100 TB this
is a map-only stage that fuses into whole-stage codegen above the scan.

Limitations (documented, not hit by well-formed crawl URLs): the query
string is taken as everything after the FIRST '?'; a literal '?' inside
a query value is treated as part of the query. Scheme-less and
protocol-relative ('//host/path') inputs are handled — the host still
resolves and blocklists apply — with the canonical form emitted without
a scheme prefix.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TRACKING_PREFIXES = ("utm_",)
TRACKING_PARAMS = ("fbclid", "gclid")


def _keep_param(p: Column) -> Column:
    keep = F.length(p) > 0
    for pref in TRACKING_PREFIXES:
        keep = keep & (
            F.substring(p, 1, len(pref)) != F.lit(pref)
        )
    for name in TRACKING_PARAMS:
        keep = keep & (
            F.substring(p, 1, len(name) + 1) != F.lit(name + "=")
        )
    return keep


def with_canonical_url(
    df: DataFrame, url_col: str = "url", out_col: str = "url_canonical"
) -> DataFrame:
    """Add ``out_col`` (canonical URL) and ``domain`` (host minus a
    leading www.) columns."""
    nofrag = F.element_at(F.split(F.col(url_col), "#", 2), 1)
    d = df.withColumn("_nofrag", nofrag)
    base = F.element_at(F.split(F.col("_nofrag"), r"\?", 2), 1)
    qparts = F.split(F.col("_nofrag"), r"\?", 2)
    qs = F.when(F.size(qparts) > 1, F.element_at(qparts, 2)).otherwise(
        F.lit("")
    )
    d = d.withColumn("_base", base).withColumn("_qs", qs)
    sparts = F.split(F.col("_base"), "://", 2)
    has_scheme = F.size(sparts) > 1
    # scheme-less and protocol-relative ('//host/path') URLs are common
    # in crawl link data: treat the whole string (minus a leading '//')
    # as host+path so the domain still resolves and blocklists apply
    scheme = F.when(has_scheme, F.lower(F.element_at(sparts, 1))).otherwise(
        F.lit("")
    )
    hostpath = F.when(has_scheme, F.element_at(sparts, 2)).otherwise(
        F.regexp_replace(F.col("_base"), "^//", "")
    )
    d = d.withColumn("_scheme", scheme).withColumn("_hostpath", hostpath)
    host = F.lower(F.regexp_extract(F.col("_hostpath"), "^[^/]*", 0))
    path = F.expr("substring(_hostpath, length(regexp_extract(_hostpath, '^[^/]*', 0)) + 1)")
    d = d.withColumn("_host", host).withColumn("_path", path)
    host_np = (
        F.when(
            (F.col("_scheme") == "http") & F.col("_host").endswith(":80"),
            F.expr("substring(_host, 1, length(_host) - 3)"),
        )
        .when(
            (F.col("_scheme") == "https")
            & F.col("_host").endswith(":443"),
            F.expr("substring(_host, 1, length(_host) - 4)"),
        )
        .otherwise(F.col("_host"))
    )
    path_c = F.regexp_replace(F.col("_path"), "/+$", "")
    kept_q = F.array_join(
        F.filter(F.split(F.col("_qs"), "&"), _keep_param), "&"
    )
    d = (
        d.withColumn("_host_c", host_np)
        .withColumn("_path_c", path_c)
        .withColumn("_kept_q", kept_q)
    )
    canonical = F.concat(
        F.when(
            F.length("_scheme") > 0,
            F.concat(F.col("_scheme"), F.lit("://")),
        ).otherwise(F.lit("")),
        F.col("_host_c"),
        F.col("_path_c"),
        F.when(
            F.length("_kept_q") > 0, F.concat(F.lit("?"), F.col("_kept_q"))
        ).otherwise(F.lit("")),
    )
    domain = F.regexp_replace(
        F.regexp_replace(F.col("_host_c"), "^www\\.", ""), ":[0-9]+$", ""
    )
    return d.withColumn(out_col, canonical).withColumn(
        "domain", domain
    ).drop(
        "_nofrag", "_base", "_qs", "_scheme", "_hostpath", "_host",
        "_path", "_host_c", "_path_c", "_kept_q",
    )


def filter_urls(
    df: DataFrame,
    blocklist: Sequence[str],
    url_col: str = "url",
) -> DataFrame:
    """Canonicalize + flag blocklisted domains.

    Adds url_canonical, domain, blocked. The blocklist is matched on the
    canonical domain, exact or as a parent suffix (ads.example.com is
    blocked by example.com) — the UT1/DNS-suffix semantics. The
    blocklist is a literal IN/endswith predicate (broadcast-free, pure
    codegen); for million-entry lists swap in a broadcast join on the
    reversed-domain prefix.
    """
    d = with_canonical_url(df, url_col=url_col)
    blocked = F.lit(False)
    for b in blocklist:
        blocked = (
            blocked
            | (F.col("domain") == b)
            | F.col("domain").endswith("." + b)
        )
    return d.withColumn("blocked", blocked)


def oracle_filter_urls(
    blocklist: Sequence[str],
    url_expr: str,
    id_col: str = "doc_id",
    table: str = "documents",
) -> str:
    """DuckDB SQL computing exactly filter_urls() over ``url_expr``
    (an SQL expression producing the raw url), returning
    (doc_id, url_canonical, domain, blocked)."""
    keep = "length(p) > 0"
    for pref in TRACKING_PREFIXES:
        keep += f" AND substring(p, 1, {len(pref)}) <> '{pref}'"
    for name in TRACKING_PARAMS:
        keep += (
            f" AND substring(p, 1, {len(name) + 1}) <> '{name}='"
        )
    blocked = "FALSE"
    for b in blocklist:
        blocked += f" OR domain = '{b}' OR suffix(domain, '.{b}')"
    return f"""
        WITH raw AS (
          SELECT {id_col} AS doc_id, {url_expr} AS url FROM {table}
        ), s1 AS (
          SELECT doc_id, string_split(url, '#')[1] AS nofrag FROM raw
        ), s2 AS (
          SELECT doc_id,
                 string_split(nofrag, '?')[1] AS base,
                 CASE WHEN length(string_split(nofrag, '?')) > 1
                      THEN array_to_string(
                        string_split(nofrag, '?')[2:], '?')
                      ELSE '' END AS qs
          FROM s1
        ), s3 AS (
          SELECT doc_id, qs,
                 CASE WHEN length(string_split(base, '://')) > 1
                      THEN lower(string_split(base, '://')[1])
                      ELSE '' END AS scheme,
                 CASE WHEN length(string_split(base, '://')) > 1
                      THEN string_split(base, '://')[2]
                      ELSE regexp_replace(base, '^//', '') END
                   AS hostpath
          FROM s2
        ), s4 AS (
          SELECT doc_id, qs, scheme,
                 lower(regexp_extract(hostpath, '^[^/]*')) AS host,
                 substring(hostpath,
                           length(regexp_extract(hostpath, '^[^/]*')) + 1)
                   AS path
          FROM s3
        ), s5 AS (
          SELECT doc_id, scheme,
                 CASE WHEN scheme = 'http' AND suffix(host, ':80')
                        THEN substring(host, 1, length(host) - 3)
                      WHEN scheme = 'https' AND suffix(host, ':443')
                        THEN substring(host, 1, length(host) - 4)
                      ELSE host END AS host_c,
                 regexp_replace(path, '/+$', '') AS path_c,
                 array_to_string(list_filter(string_split(qs, '&'),
                   p -> {keep}), '&') AS kept_q
          FROM s4
        ), s6 AS (
          SELECT doc_id,
                 CASE WHEN length(scheme) > 0 THEN scheme || '://'
                      ELSE '' END || host_c || path_c ||
                 CASE WHEN length(kept_q) > 0 THEN '?' || kept_q
                      ELSE '' END AS url_canonical,
                 regexp_replace(regexp_replace(host_c, '^www\\.', ''),
                                ':[0-9]+$', '') AS domain
          FROM s5
        )
        SELECT doc_id, url_canonical, domain,
               ({blocked}) AS blocked
        FROM s6
    """


def fetch_schedule(
    df: DataFrame,
    n_workers: int = 8,
    url_col: str = "url",
    host_col: str = "host",
) -> DataFrame:
    """Politeness-aware crawl scheduling: assign every planned fetch a
    (worker, slot) such that one worker owns ALL of a host's fetches
    (one connection per host, no cross-worker politeness coordination)
    and each worker interleaves its hosts breadth-first, so consecutive
    fetches of the same host are spaced by that worker's other active
    hosts — the classic frontier ordering (Heydon & Najork, Mercator).

    worker = md5(host) % n_workers (portable deterministic hash — a
    crawl can be re-planned and re-sharded reproducibly); host_seq =
    rank of the url within its host; slot = rank of (host_seq, host,
    url) within the worker.

    100 TB shape: two window functions over (host) and (worker)
    partitions — both shuffle once on narrow keys; the host window is
    skew-safe because a single host's queue is bounded by per-host crawl
    budgets upstream, and the worker window's partition count is
    n_workers, which is fine because n_workers in production is
    O(executors), each partition a worker's queue.

    Returns (url, host, worker, host_seq, slot).
    """
    from pyspark.sql import Window

    if n_workers <= 0:
        raise ValueError("n_workers must be positive")
    from navigator_document_parser_spark.operators import md5_u32_sql

    worker = F.expr(
        f"{md5_u32_sql(host_col, 'spark')} % {n_workers}"
    ).alias("worker")
    base = df.select(
        F.col(url_col).alias("url"),
        F.col(host_col).alias("host"),
        worker,
    )
    w_host = Window.partitionBy("host").orderBy("url")
    w_worker = Window.partitionBy("worker").orderBy(
        "host_seq", "host", "url"
    )
    return (
        base.withColumn(
            "host_seq", F.row_number().over(w_host).cast("bigint")
        )
        .withColumn("slot", F.row_number().over(w_worker).cast("bigint"))
        .select("url", "host", "worker", "host_seq", "slot")
    )


def oracle_fetch_schedule(
    plan_sql: str,
    n_workers: int = 8,
) -> str:
    """DuckDB SQL computing exactly fetch_schedule() over ``plan_sql``
    (a subquery yielding url, host)."""
    from navigator_document_parser_spark.operators import md5_u32_sql

    worker_expr = md5_u32_sql("host", "duckdb")
    return f"""
        WITH plan AS ({plan_sql}),
        base AS (
          SELECT url, host,
                 {worker_expr} % {n_workers} AS worker
          FROM plan
        ), seq AS (
          SELECT *, CAST(row_number() OVER (
                   PARTITION BY host ORDER BY url) AS BIGINT) AS host_seq
          FROM base
        )
        SELECT url, host, worker, host_seq,
               CAST(row_number() OVER (PARTITION BY worker
                 ORDER BY host_seq, host, url) AS BIGINT) AS slot
        FROM seq
    """


# --------------------------------------------------------------------------
# recrawl scheduling from observed change rates (Cho & Garcia-Molina)
# --------------------------------------------------------------------------

def _recrawl_bucket_sql(n: str, x: str) -> str:
    """Revisit-interval ladder from change counts — integer
    cross-multiplication only (x/n >= 3/4 -> hourly, >= 1/2 -> daily,
    >= 1/4 -> weekly, else monthly), exact in every engine."""
    return f"""(CASE WHEN {x} * 4 >= {n} * 3 THEN 'hourly'
                     WHEN {x} * 2 >= {n} THEN 'daily'
                     WHEN {x} * 4 >= {n} THEN 'weekly'
                     ELSE 'monthly' END)"""


def _lambda_hat_sql(n: str, x: str) -> str:
    """Cho & Garcia-Molina (2003) change-frequency estimator
    lambda_hat = -ln((n - x + 0.5)/(n + 0.5)) — consistent for
    Poisson-changing pages observed at n equi-spaced visits of which x
    showed a change; the +0.5 regularizer keeps x = n finite. Both
    ln operands are exactly-representable doubles (integer +- 0.5), the
    division is one IEEE op, and round(...,4) absorbs ln ulps. The
    negation is spelled 0.0 - ln(...): at x = 0 the estimate is
    -ln(1.0) = -0.0, which DuckDB keeps through round() while Spark
    normalizes — 0.0 - 0.0 is +0.0 in IEEE on both engines."""
    return (
        f"round(0.0 - ln((CAST({n} AS DOUBLE) - CAST({x} AS DOUBLE) + 0.5)"
        f" / (CAST({n} AS DOUBLE) + 0.5)), 4)"
    )


def recrawl_schedule(
    visits: DataFrame,
    url_col: str = "url",
    changed_col: str = "changed",
) -> DataFrame:
    """Per-URL recrawl scheduling from crawl-history change
    observations — the freshness loop of an incremental crawler: visit
    log in, change-rate estimate and revisit tier out.

    Input: one row per (url, visit) with a boolean ``changed`` (the
    content hash differed from the previous visit — snapshot_diff's
    'changed' status feeds this directly).

    Output (url, n_visits, n_changes, lambda4, revisit): lambda4 the
    4dp-rounded Cho & Garcia-Molina Poisson rate estimate, revisit an
    engine-exact integer-ratio tier ('hourly'/'daily'/'weekly'/
    'monthly').

    100 TB shape: ONE map-side-combinable hash aggregate keyed url
    (count + conditional sum), then a shuffle-free projection; nothing
    else. The estimator and tier ladder are shared SQL fragments so
    Spark and the DuckDB oracle run identical arithmetic.
    """
    agg = visits.groupBy(F.col(url_col).alias("url")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_visits"),
        F.sum(F.when(F.col(changed_col), 1).otherwise(0))
        .cast("bigint")
        .alias("n_changes"),
    )
    return agg.select(
        "url",
        "n_visits",
        "n_changes",
        F.expr(_lambda_hat_sql("n_visits", "n_changes")).alias("lambda4"),
        F.expr(_recrawl_bucket_sql("n_visits", "n_changes")).alias(
            "revisit"
        ),
    )


def oracle_recrawl_schedule(visits_sql: str) -> str:
    """DuckDB replica of recrawl_schedule over ``visits_sql``
    (a subquery yielding url, changed)."""
    lam = _lambda_hat_sql("n_visits", "n_changes")
    tier = _recrawl_bucket_sql("n_visits", "n_changes")
    return f"""
        WITH visits AS ({visits_sql}),
        agg AS (
          SELECT url, CAST(count(*) AS BIGINT) AS n_visits,
                 CAST(SUM(CASE WHEN changed THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_changes
          FROM visits GROUP BY url
        )
        SELECT url, n_visits, n_changes,
               {lam} AS lambda4,
               {tier} AS revisit
        FROM agg
    """


# --------------------------------------------------------------------------
# DUST rule mining (Different URLs, Similar Text — Bar-Yossef et al.)
# --------------------------------------------------------------------------

_DUST_RULES = (
    # (rule name, SQL predicate on url, SQL rewrite of url) — fragments
    # valid in BOTH Spark SQL and DuckDB. strip-index removes a
    # trailing /index.html; strip-param:<k> removes one query
    # parameter (and the '?'/'&' that carried it).
    (
        "strip-index",
        "url LIKE '%/index.html'",
        "substring(url, 1, length(url) - 11)",
    ),
    (
        "strip-param:sid",
        "url LIKE '%?sid=%' OR url LIKE '%&sid=%'",
        "regexp_replace(url, '([?&])sid=[^&]*&?', '$1')",
    ),
    (
        "strip-param:ref",
        "url LIKE '%?ref=%' OR url LIKE '%&ref=%'",
        "regexp_replace(url, '([?&])ref=[^&]*&?', '$1')",
    ),
)

# the rewrites above can leave a dangling '?'/'&' when the stripped
# param was last — trim it (shared fragment, runs after the rewrite)
_DUST_TRIM = "regexp_replace({u}, '[?&]$', '')"


def dust_rules(
    pages: DataFrame,
    min_support: int = 2,
    url_col: str = "url",
    hash_col: str = "content_hash",
) -> DataFrame:
    """Mine URL canonicalization rules from crawl evidence — the DUST
    problem (Bar-Yossef et al. 2007, "Do Not Crawl in the DUST"):
    which syntactic URL rewrites provably preserve content on this
    corpus? A rule is VALID when every url it applies to rewrites to a
    url that was also crawled and carries the SAME content hash; rules
    with counterevidence (target exists, hash differs) are reported
    with their violation count so the crawler can keep fetching those
    forms.

    Output (rule, n_applicable, n_same, n_diff, valid): n_applicable =
    urls the rule rewrites to a DIFFERENT crawled-or-not url; n_same /
    n_diff = rewrite targets found in the crawl with equal / unequal
    hashes; valid = n_same >= min_support AND n_diff = 0.

    100 TB shape: candidates are a shuffle-free projection (one row per
    url x applicable rule, <= |rules| fan-out); resolving the rewrite
    target is ONE equi-join on the target url against the page table;
    the verdict is one #rules-row aggregate. Rule fragments are shared
    SQL so the DuckDB oracle replays identical string surgery.
    """
    base = pages.select(
        F.col(url_col).alias("url"), F.col(hash_col).alias("h")
    )
    cands = None
    for name, pred, rewrite in _DUST_RULES:
        target = _DUST_TRIM.format(u=rewrite)
        c = base.filter(F.expr(pred)).select(
            F.lit(name).alias("rule"),
            F.col("url"),
            F.col("h"),
            F.expr(target).alias("target"),
        )
        cands = c if cands is None else cands.unionByName(c)
    cands = cands.filter(F.col("target") != F.col("url"))
    resolved = cands.join(
        base.select(F.col("url").alias("target"), F.col("h").alias("th")),
        "target",
        "left",
    )
    return (
        resolved.groupBy("rule")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_applicable"),
            F.sum(
                F.when(F.col("th").isNotNull() & (F.col("th") == F.col("h")),
                       1).otherwise(0)
            ).cast("bigint").alias("n_same"),
            F.sum(
                F.when(F.col("th").isNotNull() & (F.col("th") != F.col("h")),
                       1).otherwise(0)
            ).cast("bigint").alias("n_diff"),
        )
        .withColumn(
            "valid",
            (F.col("n_same") >= F.lit(int(min_support)))
            & (F.col("n_diff") == 0),
        )
    )


def oracle_dust_rules(pages_sql: str, min_support: int = 2) -> str:
    """DuckDB replica of dust_rules over ``pages_sql`` (a subquery
    yielding url, content_hash). Two dialect gaps handled here: Spark
    regexp_replace replaces ALL matches while DuckDB needs the 'g'
    flag, and the backreference spelling differs ($1 vs \\1)."""
    branches = []
    for name, pred, rewrite in _DUST_RULES:
        target = (
            _DUST_TRIM.format(u=rewrite)
            .replace("'$1')", "'\\1', 'g')")
            .replace("$1", "\\1")
        )
        branches.append(
            f"SELECT '{name}' AS rule, url, h, {target} AS target\n"
            f"           FROM base WHERE {pred}"
        )
    cand = "\n           UNION ALL\n           ".join(branches)
    return f"""
        WITH base AS (
          SELECT url, content_hash AS h FROM ({pages_sql})
        ), cands AS (
           {cand}
        ), cand2 AS (
          SELECT * FROM cands WHERE target <> url
        ), resolved AS (
          SELECT c.rule, c.h, t.h AS th
          FROM cand2 c LEFT JOIN base t ON t.url = c.target
        )
        SELECT rule,
               CAST(count(*) AS BIGINT) AS n_applicable,
               CAST(SUM(CASE WHEN th IS NOT NULL AND th = h
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
               CAST(SUM(CASE WHEN th IS NOT NULL AND th <> h
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_diff,
               (SUM(CASE WHEN th IS NOT NULL AND th = h THEN 1 ELSE 0 END)
                  >= {int(min_support)}
                AND SUM(CASE WHEN th IS NOT NULL AND th <> h
                        THEN 1 ELSE 0 END) = 0) AS valid
        FROM resolved
        GROUP BY rule
    """


# ---------------------------------------------------------------------------
# crawler-trap host detection
# ---------------------------------------------------------------------------

def trap_detect(
    df: DataFrame,
    host_col: str = "host",
    path_col: str = "path",
    max_depth: int = 6,
    min_repeat: int = 2,
    min_calendar: int = 3,
) -> DataFrame:
    """Crawler-trap host detection over (host, path) URL rows — the
    frontier-hygiene stage a crawl scheduler runs so calendar pages,
    recursive session links, and unbounded path generators do not eat
    the fetch budget (the classic Heritrix/Nutch trap heuristics).
    Reference scope note: the reference consumes already-fetched pages
    (/root/reference/cli/parse_htmls.py); trap detection is part of the
    beyond-reference crawl-planning toolkit next to fetch_schedule.

    Per-URL signals from the '/'-split segment array (computed ONCE
    behind an eager checkpoint — lessons 3/9):
      depth      — number of non-empty segments;
      adj_dup    — some segment equals its predecessor (/page/page/…,
                   the recursive-link trap), tested with an index HOF
                   guarded by depth >= 2 so element_at never sees 0;
      date_shape — the last three segments are all-numeric
                   (/cal/2024/5/17, the calendar trap).

    Per-host aggregate (one map-side-combinable shuffle):
      n_urls, n_paths (distinct), max_depth,
      n_repeat = count(adj_dup), n_datey = count(date_shape),
      is_trap  = n_repeat >= min_repeat OR max(depth) >= max_depth
                 OR n_datey >= min_calendar.

    Returns (host, n_urls, n_paths, max_depth, n_repeat, n_datey,
    is_trap).
    """
    base = df.select(
        F.col(host_col).alias("host"),
        F.col(path_col).alias("path"),
        F.expr(
            f"filter(split({path_col}, '/'), s -> s <> '')"
        ).alias("segs"),
    ).localCheckpoint(eager=True)

    num = "'^[0-9]+$'"
    sig = base.select(
        "host",
        "path",
        F.expr("size(segs)").alias("depth"),
        F.expr(
            "CASE WHEN size(segs) >= 2 THEN "
            "size(filter(sequence(2, size(segs)), "
            "i -> element_at(segs, i) = element_at(segs, i - 1))) > 0 "
            "ELSE false END"
        ).alias("adj_dup"),
        F.expr(
            "CASE WHEN size(segs) >= 3 THEN "
            f"element_at(segs, size(segs)) rlike {num} AND "
            f"element_at(segs, size(segs) - 1) rlike {num} AND "
            f"element_at(segs, size(segs) - 2) rlike {num} "
            "ELSE false END"
        ).alias("date_shape"),
    )
    agg = sig.groupBy("host").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_urls"),
        F.countDistinct("path").cast("bigint").alias("n_paths"),
        F.max("depth").cast("bigint").alias("max_depth"),
        F.sum(F.col("adj_dup").cast("bigint")).cast("bigint").alias(
            "n_repeat"
        ),
        F.sum(F.col("date_shape").cast("bigint")).cast("bigint").alias(
            "n_datey"
        ),
    )
    return agg.select(
        "host",
        "n_urls",
        "n_paths",
        "max_depth",
        "n_repeat",
        "n_datey",
        (
            (F.col("n_repeat") >= min_repeat)
            | (F.col("max_depth") >= max_depth)
            | (F.col("n_datey") >= min_calendar)
        ).alias("is_trap"),
    )


def oracle_trap_detect(
    urls_sql: str,
    max_depth: int = 6,
    min_repeat: int = 2,
    min_calendar: int = 3,
) -> str:
    """DuckDB replica of trap_detect; ``urls_sql`` must yield
    (host, path)."""
    num = "'^[0-9]+$'"
    return f"""
        WITH u AS ({urls_sql}),
        base AS (
          SELECT host, path,
                 list_filter(string_split(path, '/'), s -> s <> '')
                   AS segs
          FROM u
        ), sig AS (
          SELECT host, path,
                 length(segs) AS depth,
                 CASE WHEN length(segs) >= 2 THEN
                   length(list_filter(generate_series(2, length(segs)),
                          i -> segs[i] = segs[i - 1])) > 0
                 ELSE FALSE END AS adj_dup,
                 CASE WHEN length(segs) >= 3 THEN
                   regexp_matches(segs[length(segs)], {num}) AND
                   regexp_matches(segs[length(segs) - 1], {num}) AND
                   regexp_matches(segs[length(segs) - 2], {num})
                 ELSE FALSE END AS date_shape
          FROM base
        )
        SELECT host,
               CAST(count(*) AS BIGINT) AS n_urls,
               CAST(count(DISTINCT path) AS BIGINT) AS n_paths,
               CAST(max(depth) AS BIGINT) AS max_depth,
               CAST(sum(CASE WHEN adj_dup THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_repeat,
               CAST(sum(CASE WHEN date_shape THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_datey,
               (sum(CASE WHEN adj_dup THEN 1 ELSE 0 END)
                  >= {min_repeat}
                OR max(depth) >= {max_depth}
                OR sum(CASE WHEN date_shape THEN 1 ELSE 0 END)
                  >= {min_calendar}) AS is_trap
        FROM sig
        GROUP BY host
    """


def url_templates(
    df: DataFrame,
    host_col: str = "host",
    path_col: str = "path",
    top_k: int = 3,
) -> DataFrame:
    """URL path-template mining: generalize every numeric run to '<n>'
    and rank each host's dominant path shapes — the structure report a
    crawl engineer reads before writing DUST rules or scoping a
    recrawl (template cardinality is also the standard trap smell:
    one template, unbounded distinct paths).

    The generalization regex '[0-9]+' parses identically in Java regex
    and RE2. One (host, template) hash aggregate with map-side
    combine, then a per-host top-k window over the aggregated rows
    (bounded by distinct templates per host, not URLs).

    Returns (host, template, n_urls, n_paths, rank) for the top_k
    templates per host, (n_urls desc, template asc) deterministic.
    """
    from pyspark.sql.window import Window

    t = df.select(
        F.col(host_col).alias("host"),
        F.col(path_col).alias("path"),
        F.regexp_replace(F.col(path_col), "[0-9]+", "<n>").alias(
            "template"
        ),
    )
    agg = t.groupBy("host", "template").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_urls"),
        F.countDistinct("path").cast("bigint").alias("n_paths"),
    )
    w = Window.partitionBy("host").orderBy(
        F.col("n_urls").desc(), F.col("template").asc()
    )
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= top_k)
        .select("host", "template", "n_urls", "n_paths", "rank")
    )


def oracle_url_templates(urls_sql: str, top_k: int = 3) -> str:
    """DuckDB replica of url_templates; ``urls_sql`` yields
    (host, path)."""
    return f"""
        WITH u AS ({urls_sql}),
        agg AS (
          SELECT host,
                 regexp_replace(path, '[0-9]+', '<n>', 'g') AS template,
                 CAST(count(*) AS BIGINT) AS n_urls,
                 CAST(count(DISTINCT path) AS BIGINT) AS n_paths
          FROM u GROUP BY 1, 2
        )
        SELECT host, template, n_urls, n_paths,
               CAST(rank AS BIGINT) AS rank
        FROM (
          SELECT *, row_number() OVER (PARTITION BY host
                    ORDER BY n_urls DESC, template ASC) AS rank
          FROM agg
        ) WHERE rank <= {top_k}
    """


def resolve_redirects(
    redirects: DataFrame,
    url_col: str = "url",
    target_col: str = "target",
    max_hops: int = 4,
) -> DataFrame:
    """Bounded redirect/canonical-chain resolution: follow the
    (url -> target) map up to ``max_hops`` hops and report the final
    URL — the canonicalization a crawl pipeline runs over 301/308 and
    rel=canonical edges before keying its result store (the reference
    keys on url: /root/reference/cli/parse_htmls.py insert-if-absent).
    Chains longer than ``max_hops`` and cycles (self- or multi-node)
    surface as resolved = false for frontier triage, never an
    exception or an unbounded loop.

    100 TB shape: ``max_hops`` equi-joins against the checkpointed
    non-null redirect map (bounded synchronized relaxations, the
    bfs_depth discipline); each round's state is one row per url. The
    map is forced one-target-per-url (deterministic min(dst) pick)
    before the checkpoint: duplicate (url, target) edges would
    otherwise fan out EVERY hop join, multiplying rows per url
    (ADVICE r4).

    Returns (url, final_url, hops, resolved).
    """
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    m = (
        redirects.filter(F.col(target_col).isNotNull())
        .select(
            F.col(url_col).alias("src"), F.col(target_col).alias("dst")
        )
        .groupBy("src")
        .agg(F.min("dst").alias("dst"))
        .localCheckpoint(eager=True)
    )
    state = redirects.select(
        F.col(url_col).alias("url"),
        F.col(url_col).alias("cur"),
        F.lit(0).cast("bigint").alias("hops"),
    )
    for _ in range(max_hops):
        state = (
            state.join(m, state["cur"] == m["src"], "left")
            .select(
                "url",
                F.coalesce(F.col("dst"), F.col("cur")).alias("cur"),
                (
                    F.col("hops")
                    + F.when(F.col("dst").isNotNull(), 1).otherwise(0)
                ).cast("bigint").alias("hops"),
            )
        )
    return state.join(m, state["cur"] == m["src"], "left").select(
        "url",
        F.col("cur").alias("final_url"),
        "hops",
        F.col("dst").isNull().alias("resolved"),
    )


def oracle_resolve_redirects(redirects_sql: str, max_hops: int = 4) -> str:
    """DuckDB replica of resolve_redirects as unrolled left joins;
    ``redirects_sql`` yields (url, target)."""
    parts = [
        f"""
        WITH r AS ({redirects_sql}),
        m AS (SELECT url AS src, min(target) AS dst FROM r
              WHERE target IS NOT NULL GROUP BY url),
        s0 AS (SELECT url, url AS cur, CAST(0 AS BIGINT) AS hops FROM r)
        """
    ]
    for i in range(1, max_hops + 1):
        parts.append(
            f"""
        , s{i} AS (
          SELECT s.url,
                 coalesce(m.dst, s.cur) AS cur,
                 CAST(s.hops + CASE WHEN m.dst IS NOT NULL
                                    THEN 1 ELSE 0 END AS BIGINT) AS hops
          FROM s{i - 1} s LEFT JOIN m ON s.cur = m.src
        )"""
        )
    parts.append(
        f"""
        SELECT s.url, s.cur AS final_url, s.hops,
               (m.dst IS NULL) AS resolved
        FROM s{max_hops} s LEFT JOIN m ON s.cur = m.src
        """
    )
    return "".join(parts)


# ---------------------------------------------------------------------------
# parallel-document candidate mining by URL structure
# ---------------------------------------------------------------------------

# the language markers multilingual sites encode into urls; alternation
# is shared Java-regex/RE2-safe (no backslash classes)
_PARALLEL_LANGS = (
    "en|de|es|fr|it|pt|ru|zh|ja|ar|nl|pl|tr|ko|sv|cs|da|fi|el|hu"
)
_SUBDOMAIN_LANG = f"^(https?://)({_PARALLEL_LANGS})\\."
_PATH_LANG = f"/({_PARALLEL_LANGS})(/|$)"


def url_template_key(url: Column | str) -> Column:
    """The url with its language markers normalized away — two pages
    are parallel-candidates iff their keys collide. Handles the two
    dominant conventions: a language subdomain (fr.example.com) and a
    language path segment (/fr/page); both replace with a fixed
    placeholder so en.site.com/en/x and de.site.com/de/x collide."""
    c = F.col(url) if isinstance(url, str) else url
    c = F.regexp_replace(c, _SUBDOMAIN_LANG, "$1<l>.")
    return F.regexp_replace(c, _PATH_LANG, "/<l>$2")


def url_parallel_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
    lang_col: str = "lang",
) -> DataFrame:
    """Parallel-document candidate pairs mined from URL structure — the
    classic first stage of bitext corpus construction (ParaCrawl /
    WMT shared-task style): multilingual sites publish translations at
    systematically related urls, so stripping the language marker and
    grouping yields translation candidates WITHOUT touching content.
    Downstream, bitext_margin_mine scores these candidates instead of
    the whole corpus — url blocking first, embedding margin second.

    A pair is emitted when two docs share a template key but declare
    DIFFERENT languages; id_a < id_b dedups the direction. Same-lang
    collisions (mirrors) are dust_rules/mirror_hosts territory, not
    emitted here.

    100 TB shape: one map-only key projection (fuses into codegen over
    the scan), one equi-join on the key. Group sizes are bounded by a
    site's language count (~dozens); a pathological key is quadratic in
    ITS collision set only — the documented pair-enumeration caveat
    shared with dedup_editdist.

    Returns (tkey, id_a, lang_a, id_b, lang_b).
    """
    base = docs.select(
        F.col(id_col).alias("id"),
        F.col(lang_col).alias("lang"),
        url_template_key(url_col).alias("tkey"),
    ).localCheckpoint(eager=True)  # feeds both join sides (lesson 3/20)
    a = base.select(
        F.col("id").alias("id_a"), F.col("lang").alias("lang_a"), "tkey"
    )
    b = base.select(
        F.col("id").alias("id_b"), F.col("lang").alias("lang_b"), "tkey"
    )
    return (
        a.join(b, on="tkey")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("lang_a") != F.col("lang_b"))
        )
        .select("tkey", "id_a", "lang_a", "id_b", "lang_b")
    )


def oracle_url_parallel_pairs(docs_sql: str) -> str:
    """DuckDB replica of url_parallel_pairs; ``docs_sql`` yields
    (id, url, lang). DuckDB regexp_replace needs the 'g' flag to match
    Spark's replace-all, and spells the group ref \\1 where Java uses
    $1 (the dust_rules lesson) — here both patterns can only match once
    ('^' anchor; the placeholder kills re-matches), but the 'g' flag is
    kept for shape parity."""
    key = (
        "regexp_replace(regexp_replace(url, "
        f"'{_SUBDOMAIN_LANG}', '\\1<l>.', 'g'), "
        f"'{_PATH_LANG}', '/<l>\\2', 'g')"
    )
    return f"""
        WITH d AS ({docs_sql}),
        base AS (
          SELECT id, lang, {key} AS tkey FROM d
        )
        SELECT a.tkey, a.id AS id_a, a.lang AS lang_a,
               b.id AS id_b, b.lang AS lang_b
        FROM base a JOIN base b
          ON a.tkey = b.tkey AND a.id < b.id AND a.lang <> b.lang
    """
