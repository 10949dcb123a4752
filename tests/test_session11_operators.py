"""Round-5 session-11 operators: edit-distance family (SymSpell).

The deletion-neighborhood block is EXACT for Levenshtein (if
lev(a, b) <= d then a common string is reachable from both by <= d
deletions), so dedup_editdist is pinned against brute-force all-pairs
levenshtein — recall 100%, precision 100% — at d=1 and the staged d=2.
"""

from __future__ import annotations

import itertools

import pytest

from navigator_document_parser_spark.operators.editdist import (
    dedup_editdist,
    spell_correct,
)


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


STRINGS = [
    "spark", "spank", "sprk", "sparkk", "spark", "shark",
    "query", "quary", "qurey", "queries",
    "table", "tale", "cable", "tabled", "stable",
    "a", "b", "ab", "", "",
    "deduplication", "dedupilcation",
]


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(i, s) for i, s in enumerate(STRINGS)]
    return spark.createDataFrame(rows, ["doc_id", "title"])


@pytest.mark.parametrize("d", [1, 2])
def test_dedup_editdist_exact_vs_bruteforce(spark, corpus, d):
    got = {(r.id_a, r.id_b, r.dist)
           for r in dedup_editdist(corpus, max_dist=d).collect()}
    want = set()
    for (i, a), (j, b) in itertools.combinations(enumerate(STRINGS), 2):
        dist = _lev(a, b)
        if dist <= d:
            want.add((i, j, dist))
    assert got == want


def test_dedup_editdist_empty_and_singleton(spark):
    empty = spark.createDataFrame([], "doc_id bigint, title string")
    assert dedup_editdist(empty).count() == 0
    one = spark.createDataFrame([(0, "solo")], ["doc_id", "title"])
    assert dedup_editdist(one).count() == 0


def test_dedup_editdist_empty_strings_pair(spark):
    """Two empty titles are distance 0 of each other, and distance 1
    of any single-char title — the sequence(1,0)-reversal guard."""
    df = spark.createDataFrame(
        [(0, ""), (1, ""), (2, "x"), (3, "xy")], ["doc_id", "title"])
    got = {(r.id_a, r.id_b, r.dist)
           for r in dedup_editdist(df, max_dist=1).collect()}
    assert got == {(0, 1, 0), (0, 2, 1), (1, 2, 1), (2, 3, 1)}


def test_dedup_editdist_rejects_bad_dist(spark, corpus):
    with pytest.raises(ValueError):
        dedup_editdist(corpus, max_dist=3)


def test_spell_correct_basic_and_ranking(spark):
    vocab = spark.createDataFrame(
        [("spark", 100), ("shark", 500), ("spar", 10), ("query", 50)],
        ["term", "cnt"],
    )
    qs = spark.createDataFrame(
        [(0, "spark"),   # exact match wins at dist 0 over dist-1 rivals
         (1, "spark"),
         (2, "sprak"),   # no vocab term within 1 deletion-neighborhood? -> check
         (3, "quer"),    # deletion of query -> suggest query
         (4, "zzzzz")],  # nothing in range -> no row
        ["qid", "q"],
    )
    out = {r.qid: (r.suggestion, r.dist, r.cnt)
           for r in spell_correct(qs, vocab, max_dist=1).collect()}
    assert out[0] == ("spark", 0, 100)
    assert out[1] == ("spark", 0, 100)
    assert out[3] == ("query", 1, 50)
    assert 4 not in out
    # "sprak" vs "spark": one transposition = 2 substitutions in
    # classic Levenshtein -> OUT of range at d=1 (SymSpell is not
    # Damerau); the d=1 block may propose it but the verify drops it.
    assert 2 not in out


def test_spell_correct_tie_breaks(spark):
    # both at dist 1: higher count wins; equal count -> lexicographic
    vocab = spark.createDataFrame(
        [("cat", 5), ("car", 9), ("cab", 9)], ["term", "cnt"])
    qs = spark.createDataFrame([(0, "caz")], ["qid", "q"])
    r = spell_correct(qs, vocab, max_dist=1).collect()[0]
    assert (r.suggestion, r.dist, r.cnt) == ("cab", 1, 9)


def test_spell_correct_d2_reaches_further(spark):
    vocab = spark.createDataFrame([("spark", 7)], ["term", "cnt"])
    qs = spark.createDataFrame([(0, "spk")], ["qid", "q"])
    assert spell_correct(qs, vocab, max_dist=1).count() == 0
    r = spell_correct(qs, vocab, max_dist=2).collect()
    assert [(x.suggestion, x.dist) for x in r] == [("spark", 2)]


# ---------------------------------------------------------------------------
# parse_feed — RSS 2.0 / Atom ingestion (sources/feed.py)
# ---------------------------------------------------------------------------

from navigator_document_parser_spark.sources.feed import parse_feed  # noqa: E402

_RSS = """<?xml version="1.0"?>
<rss version="2.0"><channel>
<title>Channel Title Must Not Leak</title>
<link>https://example.com</link>
<item>
  <title>First post</title>
  <link>https://example.com/a</link>
  <guid isPermaLink="false">g-1</guid>
  <pubDate>Mon, 01 Jan 2025 00:00:00 GMT</pubDate>
</item>
<item>
  <link>https://example.com/b</link>
</item>
<item>
  <title>no link, dropped</title>
  <guid>g-3</guid>
</item>
</channel></rss>"""

_ATOM = """<feed xmlns="http://www.w3.org/2005/Atom">
<title>Feed Title Must Not Leak</title>
<id>tag:example.org,feed</id>
<entry>
  <title>Entry one</title>
  <id>tag:example.org,1</id>
  <link rel="alternate" href="https://example.org/1"/>
  <updated>2025-01-02</updated>
</entry>
<entry>
  <id>tag:example.org,2</id>
  <link href="https://example.org/2"/>
</entry>
</feed>"""


def _parse(spark, xml, feed="f"):
    df = spark.createDataFrame([(feed, xml)], ["feed", "xml"])
    return {(r.format, r.url): (r.title, r.entry_id, r.published)
            for r in parse_feed(df).collect()}


def test_parse_feed_rss(spark):
    out = _parse(spark, _RSS)
    assert out == {
        ("rss", "https://example.com/a"):
            ("First post", "g-1", "Mon, 01 Jan 2025 00:00:00 GMT"),
        ("rss", "https://example.com/b"): (None, None, None),
    }  # channel-level title/link never leak; the no-link item drops


def test_parse_feed_atom(spark):
    out = _parse(spark, _ATOM)
    assert out == {
        ("atom", "https://example.org/1"):
            ("Entry one", "tag:example.org,1", "2025-01-02"),
        ("atom", "https://example.org/2"):
            (None, "tag:example.org,2", None),
    }


def test_parse_feed_garbage_yields_no_rows_never_raises(spark):
    for blob in ["", "not xml at all", "<html><body>hi</body></html>",
                 "<rss><channel><item><title>no url</title></item>"
                 "</channel></rss>"]:
        assert not _parse(spark, blob)


def test_parse_feed_multiline_entries_flattened(spark):
    # a block whose fields span many lines still parses (flatten step)
    xml = ("<rss><channel><item>\n\n  <link>\nhttps://x.io/p\n</link>"
           "\n</item></channel></rss>")
    out = _parse(spark, xml)
    # flatten joins with one space INSIDE the element text, so the raw
    # match is ' https://x.io/p ' — the contract does no silent trimming
    # (downstream url_filter canonicalization owns that).
    assert list(out) == [("rss", " https://x.io/p ")]


# ---------------------------------------------------------------------------
# semantic_clusters — transitive closure of embedding near-dup pairs
# ---------------------------------------------------------------------------

from navigator_document_parser_spark.operators.similarity import (  # noqa: E402
    semantic_clusters,
)


def test_semantic_clusters_chain_closure_and_singleton_drop(spark):
    """v0~v1 and v1~v2 are pairs but v0~v2 is below threshold: the
    CLUSTER must still union all three (transitive closure, the whole
    point vs the raw pair table); the orthogonal v3 is a singleton and
    must not be emitted."""
    import math

    def at(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r), 0.0, 0.0]

    rows = [(0, at(0), "x"), (1, at(20), "x"), (2, at(40), "x"),
            (3, [0.0, 0.0, 1.0, 0.0], "x"), (4, at(5), "y")]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = semantic_clusters(emb, threshold=0.9).collect()
    got = {(r.vec_id, r.cluster_id, r.cluster_size) for r in out}
    # v4 is within 0.9 of v0/v1 by angle but in ANOTHER label block ->
    # blocked out (pair semantics are embedding_neardup verbatim)
    assert got == {(0, 0, 3), (1, 0, 3), (2, 0, 3)}


# ---------------------------------------------------------------------------
# prefix_suggest — autocomplete index (operators/search.py)
# ---------------------------------------------------------------------------

from navigator_document_parser_spark.operators.search import (  # noqa: E402
    prefix_suggest,
)


def test_prefix_suggest_ranks_by_df_not_raw_count(spark):
    # 'spam' appears 9x in ONE doc; 'spark' appears once in each of 3
    # docs -> df(spark)=3 beats df(spam)=1 on every shared prefix
    rows = [(0, "spam " * 9), (1, "spark a"), (2, "spark b"),
            (3, "spark c"), (4, "spat a"), (5, "spat b")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {(r.prefix, r.rank): (r.term, r.df)
           for r in prefix_suggest(df, k=2, max_prefix=3,
                                   min_count=1).collect()}
    assert out[("s", 1)] == ("spark", 3)
    assert out[("s", 2)] == ("spat", 2)
    assert out[("spa", 1)] == ("spark", 3)
    assert out[("spa", 2)] == ("spat", 2)
    # single-letter fillers: 'a' (docs 1, 4) and 'b' (docs 2, 5) both
    # have df=2 and own their single-char prefixes
    assert out[("a", 1)] == ("a", 2)
    assert out[("b", 1)] == ("b", 2)


def test_prefix_suggest_min_count_prunes_tail(spark):
    rows = [(0, "unique word"), (1, "word again")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = prefix_suggest(df, k=3, max_prefix=2, min_count=2).collect()
    terms = {r.term for r in out}
    assert terms == {"word"}  # df=2 survives; hapaxes pruned
    assert {r.prefix for r in out} == {"w", "wo"}


def test_prefix_suggest_prefix_no_longer_than_term(spark):
    df = spark.createDataFrame([(0, "ab ab cd cd")], ["doc_id", "text"])
    out = prefix_suggest(df, k=5, max_prefix=4, min_count=1).collect()
    assert {r.prefix for r in out} == {"a", "ab", "c", "cd"}


# ---------------------------------------------------------------------------
# curriculum_order — difficulty quantile phases (operators/selection.py)
# ---------------------------------------------------------------------------

from navigator_document_parser_spark.operators.selection import (  # noqa: E402
    curriculum_order,
)


def test_curriculum_order_phases_follow_difficulty(spark):
    # 8 docs, two of each mean word length 2, 4, 6, 8 -> 4 clean phases
    rows = []
    for i, wl in enumerate([2, 2, 4, 4, 6, 6, 8, 8]):
        rows.append((i, " ".join(["x" * wl] * 10)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: (r.difficulty, r.phase)
           for r in curriculum_order(df, n_phases=4).collect()}
    assert len(out) == 8
    assert [out[i][1] for i in range(8)] == [0, 0, 1, 1, 2, 2, 3, 3]
    assert out[0][0] == 2.0 and out[7][0] == 8.0


def test_curriculum_order_ties_share_a_phase(spark):
    # 10 identical docs + 2 harder: ties NEVER split across phases
    rows = [(i, "aa bb cc") for i in range(10)]
    rows += [(10, "looooooong wooooooords"), (11, "looooooong wooooooords")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.phase for r in curriculum_order(df, n_phases=3).collect()}
    assert {out[i] for i in range(10)} == {0}
    assert out[10] == out[11] == 2


# ---------------------------------------------------------------------------
# url_parallel_pairs — bitext candidate mining from URL structure
# ---------------------------------------------------------------------------

from navigator_document_parser_spark.operators.urls import (  # noqa: E402
    url_parallel_pairs,
    url_template_key,
)
from pyspark.sql import functions as F  # noqa: E402


def test_url_template_key_both_conventions(spark):
    rows = [
        ("https://en.example.com/about",),
        ("https://fr.example.com/about",),
        ("https://example.com/en/about",),
        ("https://example.com/fr/about",),
        ("https://example.com/fr",),          # marker at end of path
        ("https://english.example.com/x",),   # 'english' is NOT a marker
        ("https://example.com/entropy/x",),   # '/en' inside a word: no
    ]
    df = spark.createDataFrame(rows, ["url"])
    keys = [r.k for r in df.select(
        url_template_key("url").alias("k")).collect()]
    assert keys[0] == keys[1] == "https://<l>.example.com/about"
    assert keys[2] == keys[3] == "https://example.com/<l>/about"
    assert keys[4] == "https://example.com/<l>"
    assert keys[5] == "https://english.example.com/x"
    assert keys[6] == "https://example.com/entropy/x"


def test_url_parallel_pairs_cross_lang_only(spark):
    rows = [
        (0, "https://en.site.org/p1", "en"),
        (1, "https://fr.site.org/p1", "fr"),
        (2, "https://de.site.org/p1", "de"),
        (3, "https://en.mirror.org/p1", "en"),   # different host: no pair
        (4, "https://es.site.org/p2", "es"),     # different page: no pair
        (5, "https://en.site.org/p3", "en"),     # same lang twice:
        (6, "https://en.other.site.org/p3", "en"),  # (also diff host)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url", "lang"])
    got = {(r.id_a, r.id_b) for r in url_parallel_pairs(df).collect()}
    assert got == {(0, 1), (0, 2), (1, 2)}


def test_url_parallel_pairs_path_and_subdomain_do_not_cross(spark):
    # the two conventions produce DIFFERENT template keys on purpose:
    # /fr/ page structure is not evidence of parallelism with fr. hosts
    rows = [
        (0, "https://site.org/en/p", "en"),
        (1, "https://fr.site.org/p", "fr"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url", "lang"])
    assert url_parallel_pairs(df).count() == 0


# ---------------------------------------------------------------------------
# extract_links — outlink extraction + base-url resolution
# ---------------------------------------------------------------------------

from navigator_document_parser_spark.operators.tables import (  # noqa: E402
    extract_links,
)

_PAGE = (
    '<html><body>'
    '<a href="https://abs.example/x">abs</a>'
    '<a href="//cdn.example/y">proto</a>'
    '<a href="/rooted">root</a>'
    '<a href="sibling.html">rel</a>'
    '<a rel="nofollow" href="/ad">ad</a>'
    '<a href="#frag">frag</a>'
    '<a href="mailto:a@b.c">mail</a>'
    '<a href="javascript:void(0)">js</a>'
    '<a name="anchor-without-href">no href</a>'
    '</body></html>'
)


def test_extract_links_resolution_shapes(spark):
    df = spark.createDataFrame(
        [(1, "https://site.org/dir/page.html", _PAGE)],
        ["doc_id", "url", "html"],
    )
    out = {r.url: (r.anchor, r.nofollow)
           for r in extract_links(df).collect()}
    assert out == {
        "https://abs.example/x": ("abs", False),
        "https://cdn.example/y": ("proto", False),
        "https://site.org/rooted": ("root", False),
        "https://site.org/dir/sibling.html": ("rel", False),
        "https://site.org/ad": ("ad", True),
    }


def test_extract_links_relative_against_pathless_base(spark):
    df = spark.createDataFrame(
        [(1, "https://site.org", '<a href="a.html">a</a>')],
        ["doc_id", "url", "html"],
    )
    out = [r.url for r in extract_links(df).collect()]
    assert out == ["https://site.org/a.html"]


def test_extract_links_garbage_html_never_raises(spark):
    rows = [(1, "https://s.o/p", "<a href=unquoted>x</a> not html <a>"),
            (2, "https://s.o/p", ""),
            (3, "not-a-url", '<a href="/x">y</a>')]
    df = spark.createDataFrame(rows, ["doc_id", "url", "html"])
    got = extract_links(df).collect()
    # unquoted hrefs don't match the block (documented contract);
    # a non-http base yields '' origin -> url '/x' survives as-is
    assert [(r.doc_id, r.url) for r in got] == [(3, "/x")]


# ---------------------------------------------------------------------------
# plan-shape pins (the lesson-12 discipline: OR-joins/BNLJ regressions
# must fail loudly, and map-only operators must stay shuffle-free)
# ---------------------------------------------------------------------------


def _physical(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_extract_links_is_shuffle_free(spark):
    df = spark.createDataFrame(
        [(1, "https://s.o/d/p.html", '<a href="/x">x</a>')],
        ["doc_id", "url", "html"],
    )
    plan = _physical(extract_links(df))
    assert "Exchange" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_url_parallel_pairs_is_equi_join(spark):
    df = spark.createDataFrame(
        [(0, "https://en.s.o/p", "en"), (1, "https://fr.s.o/p", "fr")],
        ["doc_id", "url", "lang"],
    )
    plan = _physical(url_parallel_pairs(df))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)


def test_dedup_editdist_is_equi_join(spark):
    df = spark.createDataFrame([(0, "ab"), (1, "ac")], ["doc_id", "title"])
    plan = _physical(dedup_editdist(df, max_dist=1))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dedup_editdist_variant_shuffle_is_narrow(spark):
    """VERDICT r5 #6: no string column rides the variant explode/join —
    the checkpointed variant table both join sides shuffle is exactly
    (id, v); strings join back by id on the bounded candidate set."""
    import re

    from navigator_document_parser_spark.operators.editdist import (
        _delete_neighborhood,
    )

    df = spark.createDataFrame([(0, "ab"), (1, "ac")], ["doc_id", "title"])
    for d in (1, 2):
        assert _delete_neighborhood(df, "doc_id", "title", d).columns == [
            "id", "v",
        ]
    plan = _physical(dedup_editdist(df, max_dist=2))
    # the checkpointed variant table is the only scan carrying v —
    # pin that every such scan is exactly (id, v), never a string col;
    # since r7 v is the xxhash64 of the variant (8-byte long, trailing
    # L in the plan), so string bytes never ride the big shuffle at all
    scans = re.findall(r"Scan ExistingRDD[^\n]*", plan)
    vscans = [s for s in scans if re.search(r"\bv#\d+", s)]
    assert vscans, plan
    for s in vscans:
        assert re.search(r"\[id#\d+L?,\s*v#\d+L\]$", s.strip()), s


def test_extract_links_multiline_markup_flattened(spark):
    html = '<a\n  href="/x"\n  rel="nofollow">x\nlink</a>'
    df = spark.createDataFrame(
        [(1, "https://s.o/p", html)], ["doc_id", "url", "html"])
    got = extract_links(df).collect()
    assert [(r.url, r.anchor, r.nofollow) for r in got] == [
        ("https://s.o/x", "x link", True)]


# ---------------------------------------------------------------------------
# dedup_keep_best — quality-aware cluster keeper
# ---------------------------------------------------------------------------

from navigator_document_parser_spark.operators.dedup import (  # noqa: E402
    dedup_keep_best,
)


def test_dedup_keep_best_prefers_quality_then_min_id(spark):
    docs = spark.createDataFrame(
        [(0, 10), (1, 99), (2, 99), (3, 5), (9, 42)],
        ["doc_id", "quality"],
    )
    # cluster {0,1,2} (chain), cluster {3}, untouched {9}
    pairs = spark.createDataFrame([(0, 1), (1, 2)], ["id_a", "id_b"])
    kept = sorted(r.doc_id for r in dedup_keep_best(
        docs, pairs, quality_col="quality").collect())
    # winner of {0,1,2}: quality 99 tie between 1 and 2 -> min id 1
    assert kept == [1, 3, 9]


def test_dedup_keep_best_constant_quality_equals_min_id(spark):
    from navigator_document_parser_spark.operators.dedup import dedup_corpus

    docs = spark.createDataFrame(
        [(i, 7) for i in range(6)], ["doc_id", "quality"])
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (1, 2)], ["id_a", "id_b"])
    a = sorted(r.doc_id for r in dedup_keep_best(
        docs, pairs, quality_col="quality").collect())
    b = sorted(r.doc_id for r in dedup_corpus(docs, pairs).collect())
    assert a == b == [0, 1, 4]


# ---------------------------------------------------------------------------
# semantic_decontaminate — embedding-level holdout flagging
# ---------------------------------------------------------------------------

from navigator_document_parser_spark.operators.similarity import (  # noqa: E402
    semantic_decontaminate,
)
from tests.test_session10_operators import _det_unit, _perturb  # noqa: E402


def test_semantic_decontaminate_flags_near_copies_only(spark):
    dim = 16
    bench_vec = _det_unit("bench:0", dim)
    rows = [
        (0, bench_vec),                                  # exact leak
        (1, _perturb(bench_vec, "p", 0.01)),             # paraphrase-ish
        (2, _det_unit("far:2", dim)),                    # unrelated
        (3, _det_unit("far:3", dim)),
    ]
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    bench = spark.createDataFrame([(100, bench_vec)],
                                  ["vec_id", "embedding"])
    out = {r.vec_id: (r.max_sim, r.contaminated)
           for r in semantic_decontaminate(
               corpus, bench, threshold=0.95, dim=dim,
               n_planes=3, n_tables=4).collect()}
    assert out[0] == (1.0, True)
    assert out[1][1] is True and out[1][0] >= 0.95
    for i in (2, 3):
        sim, flag = out[i]
        assert flag is False
        assert sim is None or sim < 0.95
    assert len(out) == 4  # every corpus row reported


def test_semantic_decontaminate_empty_benchmark(spark):
    dim = 8
    corpus = spark.createDataFrame(
        [(0, _det_unit("a", dim))], ["vec_id", "embedding"])
    bench = spark.createDataFrame(
        [], "vec_id bigint, embedding array<double>")
    out = semantic_decontaminate(corpus, bench, threshold=0.9,
                                 dim=dim).collect()
    assert [(r.vec_id, r.max_sim, r.contaminated) for r in out] == [
        (0, None, False)]


# ---------------------------------------------------------------------------
# link_rels — canonical / next / prev / amphtml extraction
# ---------------------------------------------------------------------------

from navigator_document_parser_spark.operators.tables import (  # noqa: E402
    link_rels,
)


def test_link_rels_resolution_and_nulls(spark):
    html = (
        '<html><head>\n'
        '<link rel="canonical" href="/art/1">\n'
        '<link rel="next" href="page-2.html">\n'
        '<link rel="amphtml" href="https://amp.s.o/art/1">\n'
        '</head></html>'
    )
    df = spark.createDataFrame(
        [(1, "https://s.o/art/1?page=1", html),
         (2, "https://s.o/x", "<html>no rel links</html>")],
        ["doc_id", "url", "html"],
    )
    out = {r.doc_id: (r.canonical, r.next_url, r.prev_url, r.amp_url)
           for r in link_rels(df).collect()}
    assert out[1] == (
        "https://s.o/art/1",
        "https://s.o/art/page-2.html",  # relative vs the base DIRECTORY
        None,
        "https://amp.s.o/art/1",
    )
    assert out[2] == (None, None, None, None)


# ---------------------------------------------------------------------------
# robots_sitemaps — Sitemap: directive discovery (RFC 9309 §2.3)
# ---------------------------------------------------------------------------

from navigator_document_parser_spark.operators.robots import (  # noqa: E402
    robots_sitemaps,
)


def test_robots_sitemaps_crlf(spark):
    txt = "Sitemap: https://h.o/a.xml\r\nSitemap:\r\nDisallow: /x\r\n"
    df = spark.createDataFrame([("h.o", txt)], ["host", "robots_txt"])
    got = [r.sitemap_url for r in robots_sitemaps(df).collect()]
    assert got == ["https://h.o/a.xml"]  # no trailing \r, no '\r' row


def test_robots_sitemaps_discovery(spark):
    txt = (
        "# header comment\n"
        "User-agent: *\n"
        "Disallow: /x\n"
        "Sitemap: https://h.o/a.xml\n"
        "SITEMAP: https://h.o/b.xml  # case-insensitive + comment\n"
        "sitemap:https://h.o/c.xml\n"
        "Sitemap:\n"                     # empty value: dropped
        "Sitemaps: https://h.o/typo.xml\n"  # wrong field name: dropped
        "no colon line\n"
    )
    df = spark.createDataFrame([("h.o", txt)], ["host", "robots_txt"])
    got = sorted(r.sitemap_url for r in robots_sitemaps(df).collect())
    assert got == ["https://h.o/a.xml", "https://h.o/b.xml",
                   "https://h.o/c.xml"]


# ---------------------------------------------------------------------------
# editdist fuzz: a deterministic adversarial corpus (clustered around
# shared stems so near-miss pairs are dense) vs brute force
# ---------------------------------------------------------------------------


def _fuzz_strings(n=80):
    import hashlib

    alphabet = "abcdx"
    out = []
    for i in range(n):
        h = hashlib.md5(f"ed:{i}".encode()).hexdigest()
        # short strings over a tiny alphabet around 8 stems: maximal
        # pair density, every deletion/substitution shape exercised
        stem = int(h[:2], 16) % 8
        length = int(h[2:4], 16) % 7  # 0..6
        s = "".join(
            alphabet[(int(h[4 + j], 16) + stem) % len(alphabet)]
            for j in range(length)
        )
        out.append(s)
    return out


@pytest.mark.parametrize("d", [1, 2])
def test_dedup_editdist_fuzz_exact(spark, d):
    strings = _fuzz_strings()
    df = spark.createDataFrame(
        list(enumerate(strings)), ["doc_id", "title"])
    got = {(r.id_a, r.id_b, r.dist)
           for r in dedup_editdist(df, max_dist=d).collect()}
    want = set()
    for (i, a), (j, b) in itertools.combinations(
            enumerate(strings), 2):
        dist = _lev(a, b)
        if dist <= d:
            want.add((i, j, dist))
    assert got == want
    assert len(want) > 100  # the corpus really is pair-dense


# ---------------------------------------------------------------------------
# unigram_tokenize_stats — Viterbi segmentation (operators/unigram.py)
# ---------------------------------------------------------------------------

from navigator_document_parser_spark.operators.unigram import (  # noqa: E402
    DEFAULT_UNIGRAM_VOCAB,
    _viterbi,
    _vocab_dict,
    unigram_tokenize_stats,
)


def _brute(word, v, max_piece=4):
    """Exhaustive enumeration of every segmentation."""
    best = None
    def rec(i, score, np_):
        nonlocal best
        if i == len(word):
            c = (score, -np_)
            if best is None or c > best:
                best = c
            return
        for j in range(1, min(max_piece, len(word) - i) + 1):
            p = word[i:i + j]
            if p in v:
                rec(i + j, score + v[p], np_ + 1)
    rec(0, 0, 0)
    return best[0], -best[1]


def test_viterbi_matches_bruteforce():
    import hashlib
    v = _vocab_dict(DEFAULT_UNIGRAM_VOCAB)
    words = ["the", "theme", "nation", "information", "a", "ing",
             "mentation", "zzzz", "42nd", "able", "tionatio"]
    for i in range(60):
        h = hashlib.md5(f"uw:{i}".encode()).hexdigest()
        words.append("".join(
            "etaoinshrd"[int(c, 16) % 10] for c in h[:1 + i % 10]))
    for w in words:
        assert _viterbi(w, v) == _brute(w, v), w


def test_viterbi_prefers_score_then_fewest_pieces():
    v = _vocab_dict(DEFAULT_UNIGRAM_VOCAB)
    # 'the' is one score-6 piece (beats t+h+e=3 and th+e=4)
    assert _viterbi("the", v) == (6, 1)
    # 'tionatio' = tion(10) + atio(10)
    assert _viterbi("tionatio", v) == (20, 2)
    # 'zz' has no multi piece: two singles
    assert _viterbi("zz", v) == (2, 2)


def test_unigram_tokenize_stats_sums(spark):
    df = spark.createDataFrame(
        [(0, "the the zz"), (1, ""), (2, "Tion,atio!")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: (r.n_words, r.uni_score, r.n_pieces,
                      r.pieces_per_word4)
           for r in unigram_tokenize_stats(df).collect()}
    assert out[0] == (3, 14, 4, 1.3333)  # 6+6+2, 1+1+2 pieces
    assert 1 not in out                   # wordless doc: no row
    # punctuation splits words: 'tion' + 'atio' (two words)
    assert out[2] == (2, 20, 2, 1.0)


def test_unigram_tokenize_stats_clip_and_partition_invariance(spark):
    # r7 rewrite: one zero-shuffle mapInPandas pass with a per-task
    # Viterbi memo. Pin the two internals the old explode/join shape
    # made structural: (a) words clip to max_word_len CHARS before
    # scoring; (b) the result is partition-independent.
    v = _vocab_dict(DEFAULT_UNIGRAM_VOCAB)
    long_w = "the" * 10  # 30 chars -> scored as its 16-char prefix
    df = spark.createDataFrame(
        [(0, f"{long_w} zz"), (1, "the zz the")], ["doc_id", "text"]
    )
    sc16, np16 = _viterbi(long_w[:16], v)
    out = {r.doc_id: (r.n_words, r.uni_score, r.n_pieces)
           for r in unigram_tokenize_stats(df).collect()}
    assert out[0] == (2, sc16 + 2, np16 + 2)
    assert out[1] == (3, 14, 4)
    out3 = {r.doc_id: (r.n_words, r.uni_score, r.n_pieces)
            for r in unigram_tokenize_stats(df.repartition(3)).collect()}
    assert out3 == out


def test_unigram_vocab_validation():
    import pytest as _pytest
    with _pytest.raises(ValueError):
        _vocab_dict((("th", 3),))  # singles missing
    with _pytest.raises(ValueError):
        _vocab_dict(tuple([(c, 1) for c in
                           "abcdefghijklmnopqrstuvwxyz0123456789"]
                          + [("toolong", 9)]))
    with _pytest.raises(ValueError):  # duplicates diverge per engine
        _vocab_dict(DEFAULT_UNIGRAM_VOCAB + (("th", 9),))


# ---------------------------------------------------------------------------
# table_linearize — tables -> training text
# ---------------------------------------------------------------------------

from navigator_document_parser_spark.operators.tables import (  # noqa: E402
    table_linearize,
)


def test_table_linearize_order_and_counts(spark):
    cells = spark.createDataFrame(
        [  # deliberately shuffled input order
            (1, 0, 1, 1, False, "b2"),
            (1, 0, 0, 0, True, "h1"),
            (1, 0, 1, 0, False, "b1"),
            (1, 0, 0, 1, True, "h2"),
            (1, 1, 0, 0, False, "solo"),
        ],
        "doc_id long, table_idx long, row_idx long, col_idx long,"
        " is_header boolean, cell_text string",
    )
    out = {(r.doc_id, r.table_idx): (r.n_rows, r.n_cols, r.table_text)
           for r in table_linearize(cells).collect()}
    assert out[(1, 0)] == (2, 2, "h1 | h2\nb1 | b2")
    assert out[(1, 1)] == (1, 1, "solo")


# ---------------------------------------------------------------------------
# winnow_pairs — MOSS-style shared-fingerprint pairs
# ---------------------------------------------------------------------------

from navigator_document_parser_spark.operators.text import (  # noqa: E402
    winnow_pairs,
)


def test_winnow_pairs_detects_shared_runs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, base),
        (1, base + " with a different tail appended here"),  # contains 0
        (2, "completely unrelated content xyzzy plugh qwertyuiop"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {(r.id_a, r.id_b): (r.n_shared, r.containment4)
           for r in winnow_pairs(df, min_shared=3).collect()}
    assert (0, 1) in out
    n_shared, cont = out[(0, 1)]
    # doc 0's fingerprints are (nearly) all inside doc 1: winnowing
    # guarantees shared selections for shared runs >= w+k-1 chars
    assert cont >= 0.9
    assert (0, 2) not in out and (1, 2) not in out


def test_winnow_pairs_short_texts_yield_nothing(spark):
    df = spark.createDataFrame(
        [(0, "tiny"), (1, "tiny")], ["doc_id", "text"])
    assert winnow_pairs(df, min_shared=1).count() == 0


def test_winnow_pairs_block_partitioning_invariant(spark, monkeypatch):
    """r7 optimization pin: the blocked in-task pair counting must be
    independent of WINNOW_BLOCK_ROWS — forcing every doc into its own block
    (all pairs cross-block) gives the same pairs as one giant block."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (i, base + f" tail variant {i % 3} stays shared with siblings")
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    from navigator_document_parser_spark.operators import text

    def snap(block_rows):
        monkeypatch.setattr(text, "WINNOW_BLOCK_ROWS", block_rows)
        return sorted(
            (r.id_a, r.id_b, r.n_shared, r.containment4)
            for r in winnow_pairs(df, min_shared=2).collect()
        )

    one_block = snap(1024)
    assert one_block  # non-trivial corpus: pairs exist
    assert snap(1) == one_block
    assert snap(5) == one_block
