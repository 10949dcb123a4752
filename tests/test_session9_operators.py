"""Session-9 operators: code-vs-prose routing (and the rest of this
session's batch as it lands).

Behavioral pins against hand-computed references; the DuckDB hash
oracles in __spark_entry__ cover the engine-parity axis."""

from pyspark.sql import functions as F

from navigator_document_parser_spark.operators.text import code_detect


def _rows(df):
    return {r.doc_id: r for r in df.collect()}


# ---- code_detect ------------------------------------------------------------

def test_code_detect_flags_code(spark):
    docs = [
        (1, "def fn(x):\n    y = (x + 1);\n    return y;"),
        (2, "the quick brown fox jumps over the lazy dog today."),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = _rows(code_detect(df))
    assert out[1].is_code and not out[2].is_code
    # doc 1: def/return = 2 keyword hits; ():=();; symbols; 2 indented lines
    assert out[1].kw_hits == 2
    assert out[1].code_lines == 2
    assert out[1].n_sym >= 3
    assert out[2].kw_hits == 0 and out[2].n_sym == 0


def test_code_detect_whole_token_keywords(spark):
    # 'definition' and 'classy' must NOT count as def/class
    df = spark.createDataFrame(
        [(1, "the definition of a classy function_name here")],
        ["doc_id", "text"],
    )
    out = _rows(code_detect(df))
    assert out[1].kw_hits == 0


def test_code_detect_indent_or_terminator_lines(spark):
    df = spark.createDataFrame(
        [
            (1, "plain prose line\n\ttab indented\nends in brace {"),
            (2, "semicolon end;\nanother;  "),
        ],
        ["doc_id", "text"],
    )
    out = _rows(code_detect(df))
    # doc 1: tab line + '{' line; doc 2: ';' line + rtrim'd ';' line
    assert out[1].code_lines == 2
    assert out[2].code_lines == 2
    assert out[2].is_code  # via min_code_lines=2


def test_code_detect_kw_needs_symbols_too(spark):
    # two keyword hits but prose-like (no symbols, no code lines):
    # must NOT flag — the conjunction guards natural text that happens
    # to mention 'class' and 'function'
    df = spark.createDataFrame(
        [(1, "the class met the function of government")],
        ["doc_id", "text"],
    )
    out = _rows(code_detect(df))
    assert out[1].kw_hits == 2
    assert not out[1].is_code


# ---- trap_detect ------------------------------------------------------------

def test_trap_detect_signals(spark):
    from navigator_document_parser_spark.operators.urls import trap_detect

    urls = [
        # recursive-link trap: adjacent duplicate segments
        ("h1", "/page/page/x1"),
        ("h1", "/page/page/page/x2"),
        # calendar trap: 3 all-numeric trailing segments
        ("h2", "/cal/2024/5/17"),
        ("h2", "/cal/2024/5/18"),
        ("h2", "/cal/2024/6/1"),
        # deep chain
        ("h3", "/a/b/c/d/e/f/g"),
        # benign
        ("h4", "/doc1"),
        ("h4", "/doc2"),
    ]
    df = spark.createDataFrame(urls, ["host", "path"])
    out = {r.host: r for r in trap_detect(df).collect()}
    assert out["h1"].n_repeat == 2 and out["h1"].is_trap
    assert out["h2"].n_datey == 3 and out["h2"].is_trap
    assert out["h3"].max_depth == 7 and out["h3"].is_trap
    assert not out["h4"].is_trap
    assert out["h4"].n_urls == 2 and out["h4"].n_paths == 2


def test_trap_detect_short_paths_never_error(spark):
    # depth 0 and depth 1 paths must not evaluate element_at(segs, 0)
    from navigator_document_parser_spark.operators.urls import trap_detect

    df = spark.createDataFrame(
        [("h1", "/"), ("h1", ""), ("h1", "/x"), ("h1", "/7/7")],
        ["host", "path"],
    )
    out = trap_detect(df).collect()[0]
    assert out.n_urls == 4
    assert out.n_repeat == 1  # only /7/7
    assert out.n_datey == 0  # needs >= 3 numeric segments


# ---- kmv_slice_jaccard (corpus_similarity) ----------------------------------

def test_kmv_slice_jaccard_identical_and_disjoint(spark):
    from navigator_document_parser_spark.operators.sketches import (
        kmv_slice_jaccard,
    )

    t1 = "alpha beta gamma delta epsilon zeta eta theta"
    t2 = "one two three four five six seven eight nine"
    df = spark.createDataFrame(
        [("a", t1), ("b", t1), ("c", t2)], ["lang", "text"]
    )
    out = {(r.lang_a, r.lang_b): r for r in kmv_slice_jaccard(df, k=8).collect()}
    # a and b hold identical shingle sets -> J = 1.0
    assert out[("a", "b")].jaccard4 == 1.0
    assert out[("a", "b")].n_both == out[("a", "b")].n_kept
    # c shares nothing with either
    assert out[("a", "c")].jaccard4 == 0.0
    assert out[("b", "c")].n_both == 0


def test_kmv_slice_jaccard_sketch_bound(spark):
    from navigator_document_parser_spark.operators.sketches import (
        kmv_slice_jaccard,
    )

    # 30 distinct shingles per slice, k=4: kept union must cap at k
    words_a = " ".join(f"w{i}" for i in range(32))
    words_b = " ".join(f"w{i}" for i in range(16, 48))
    df = spark.createDataFrame(
        [("a", words_a), ("b", words_b)], ["lang", "text"]
    )
    row = kmv_slice_jaccard(df, k=4).collect()[0]
    assert row.n_kept == 4
    assert 0.0 <= row.jaccard4 <= 1.0


def test_kmv_slice_jaccard_rejects_bad_k(spark):
    import pytest

    from navigator_document_parser_spark.operators.sketches import (
        kmv_slice_jaccard,
    )

    df = spark.createDataFrame([("a", "x y z")], ["lang", "text"])
    with pytest.raises(ValueError):
        kmv_slice_jaccard(df, k=1)


# ---- embedding_outliers ------------------------------------------------------

def test_embedding_outliers_ranks_farthest(spark):
    from navigator_document_parser_spark.operators.similarity import (
        embedding_outliers,
    )

    # centroid of the first four ~ origin; vec 5 sits far away
    rows = [
        (1, [1.0, 0.0]),
        (2, [-1.0, 0.0]),
        (3, [0.0, 1.0]),
        (4, [0.0, -1.0]),
        (5, [10.0, 10.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = embedding_outliers(df, n_top=3).collect()
    assert out[0].vec_id == 5 and out[0].rank == 1
    # centroid is (2,2); among the unit vectors, (-1,0) and (0,-1) tie
    # farthest -> vec_id ascending breaks the tie
    assert [r.vec_id for r in out[1:]] == [2, 4]
    assert all(out[i].dist4 >= out[i + 1].dist4 for i in range(2))


def test_embedding_outliers_centroid_exact(spark):
    from navigator_document_parser_spark.operators.similarity import (
        embedding_outliers,
    )

    # all identical vectors: centroid == the vector, every dist = 0,
    # ranks fall back to vec_id order
    df = spark.createDataFrame(
        [(i, [0.5, -0.25, 0.125]) for i in range(1, 6)],
        ["vec_id", "embedding"],
    )
    out = embedding_outliers(df, n_top=5).collect()
    assert all(r.dist4 == 0.0 for r in out)
    assert [r.vec_id for r in out] == [1, 2, 3, 4, 5]


# ---- mmr_rerank --------------------------------------------------------------

def test_mmr_rerank_prefers_diversity(spark):
    from navigator_document_parser_spark.operators.similarity import (
        mmr_rerank,
    )

    # query along x; a and b are near-clones tilted +0.3/+0.31, c is
    # the mirror tilt -0.3: rel(a) == rel(c) > rel(b), sim(a,b) ~ 1,
    # sim(a,c) ~ 0.835. Pure relevance orders a,c,b or a,b,c within
    # 4dp; MMR at lam=0.7 must pick the mirror c at 2 because the
    # near-clone b pays the full redundancy penalty.
    rows = [
        (10, [1.0, 0.3]),    # clone a
        (11, [1.0, 0.31]),   # clone b
        (12, [1.0, -0.3]),   # mirror c
    ]
    emb = spark.createDataFrame(rows + [(0, [1.0, 0.0])], ["vec_id", "embedding"])
    qs = spark.createDataFrame([(0, [1.0, 0.0])], ["query_id", "embedding"])
    out = sorted(
        mmr_rerank(emb, qs, n_cands=3, k=3, lam=0.7).collect(),
        key=lambda r: r.pick,
    )
    assert out[0].vec_id == 10  # rel tie with 12 -> vec_id tiebreak
    assert out[1].vec_id == 12  # diversity beats the clone
    assert out[2].vec_id == 11
    assert [r.pick for r in out] == [1, 2, 3]


def test_mmr_rerank_lambda_one_is_pure_relevance(spark):
    from navigator_document_parser_spark.operators.similarity import (
        knn_bruteforce,
        mmr_rerank,
    )

    rows = [(i, [float(i % 5) + 0.1, float(i % 3)]) for i in range(1, 12)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qs = spark.createDataFrame(
        [(1, [1.0, 0.5])], ["query_id", "embedding"]
    )
    mmr = sorted(
        mmr_rerank(emb, qs, n_cands=6, k=4, lam=1.0).collect(),
        key=lambda r: r.pick,
    )
    knn = knn_bruteforce(emb, qs, k=4).collect()
    assert [r.vec_id for r in mmr] == [r.vec_id for r in sorted(knn, key=lambda r: r.rank)]


def test_mmr_rerank_rejects_bad_params(spark):
    import pytest

    from navigator_document_parser_spark.operators.similarity import (
        mmr_rerank,
    )

    emb = spark.createDataFrame([(1, [1.0])], ["vec_id", "embedding"])
    with pytest.raises(ValueError):
        mmr_rerank(emb, emb, n_cands=2, k=3)


# ---- script_stats -------------------------------------------------------------

def test_script_stats_counts_and_main(spark):
    from navigator_document_parser_spark.operators.text import script_stats

    docs = [
        (1, "hello world 42"),
        (2, "привет мир"),
        (3, "你好世界 ok"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r.doc_id: r for r in script_stats(df).collect()}
    assert out[1].n_latin == 10 and out[1].n_digit == 2
    assert out[1].main_script == "latin" and not out[1].is_suspect
    assert out[2].n_cyr == 9 and out[2].main_script == "cyr"
    assert out[3].n_cjk == 4 and out[3].main_script == "cjk"
    # doc 3 has 2 latin chars < 4 cjk -> cjk wins


def test_script_stats_homoglyph_spoof(spark):
    from navigator_document_parser_spark.operators.text import script_stats

    # 'pаypal' with U+0430: latin+cyrillic in ONE token -> spoof
    docs = [
        (1, "pаypal login"),
        (2, "plain latin мир separate scripts"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r.doc_id: r for r in script_stats(df).collect()}
    assert out[1].spoof_tokens == 1 and out[1].is_suspect
    # separate-token scripts are NOT spoofs
    assert out[2].spoof_tokens == 0 and not out[2].is_suspect


# ---- vocab_coverage ----------------------------------------------------------

def test_vocab_coverage_oov(spark):
    from navigator_document_parser_spark.operators.text import vocab_coverage

    docs = [
        ("en", "aa aa aa bb bb cc"),
        ("de", "aa bb zz zz"),
    ]
    df = spark.createDataFrame(docs, ["lang", "text"])
    # corpus counts: aa=4, bb=3, zz=2, cc=1 -> V=2 keeps {aa, bb}
    out = {r.lang: r for r in vocab_coverage(df, vocab_size=2).collect()}
    assert out["en"].n_tokens == 6 and out["en"].n_covered == 5
    assert out["en"].n_terms == 3
    assert out["en"].oov4 == round(1 / 6, 4)
    assert out["de"].n_tokens == 4 and out["de"].n_covered == 2
    assert out["de"].oov4 == 0.5


def test_vocab_coverage_tie_breaks_by_term(spark):
    from navigator_document_parser_spark.operators.text import vocab_coverage

    # xx and yy tie at 2; V=1 must keep 'xx' (term asc)
    df = spark.createDataFrame(
        [("en", "xx yy xx yy")], ["lang", "text"]
    )
    out = vocab_coverage(df, vocab_size=1).collect()[0]
    assert out.n_covered == 2


# ---- topic_classify ----------------------------------------------------------

def test_topic_classify_argmax_and_ties(spark):
    from navigator_document_parser_spark.operators.text import topic_classify

    docs = [
        (1, "table row column scan"),          # storage 4
        (2, "query join sort"),                # compute 3
        (3, "stream window stream"),           # stream 3
        (4, "nothing matches here"),           # none
        (5, "table query"),                    # 1-1 tie -> storage (earlier)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = _rows(topic_classify(df))
    assert out[1].topic == "storage" and out[1].s_storage == 4
    assert out[2].topic == "compute"
    assert out[3].topic == "stream" and out[3].s_stream == 3
    assert out[4].topic == "none"
    assert out[5].topic == "storage"


# ---- url_templates -----------------------------------------------------------

def test_url_templates_generalize_and_rank(spark):
    from navigator_document_parser_spark.operators.urls import url_templates

    urls = [
        ("h1", "/cal/2024/5/17"),
        ("h1", "/cal/2024/5/18"),
        ("h1", "/cal/2023/12/1"),
        ("h1", "/about"),
        ("h2", "/p/1"),
        ("h2", "/p/2"),
    ]
    df = spark.createDataFrame(urls, ["host", "path"])
    out = url_templates(df, top_k=2).collect()
    byhost = {}
    for r in out:
        byhost.setdefault(r.host, []).append(r)
    h1 = sorted(byhost["h1"], key=lambda r: r.rank)
    assert h1[0].template == "/cal/<n>/<n>/<n>"
    assert h1[0].n_urls == 3 and h1[0].n_paths == 3
    assert h1[1].template == "/about" and h1[1].rank == 2
    assert byhost["h2"][0].template == "/p/<n>" and byhost["h2"][0].n_urls == 2


# ---- host_reputation ---------------------------------------------------------

def test_host_reputation_flags_dup_farm(spark):
    from navigator_document_parser_spark.operators.selection import (
        host_reputation,
    )

    rows = (
        # clean host: 5 unique docs, one language
        [(f"u{i}", "en", "h1") for i in range(5)]
        # dup farm: 5 docs, 4 identical
        + [("same", "en", "h2")] * 4
        + [("other", "en", "h2")]
        # language-incoherent host: 4 docs, 4 langs
        + [(f"v{i}", l, "h3") for i, l in enumerate(["en", "de", "fr", "zh"])]
    )
    df = spark.createDataFrame(rows, ["text", "lang", "source"])
    out = {r.host: r for r in host_reputation(df).collect()}
    assert out["h1"].reputable
    assert out["h1"].dup_ratio4 == 0.0 and out["h1"].top_lang_share4 == 1.0
    assert not out["h2"].reputable  # dup_ratio 3/5 = 0.6 > 0.2
    assert out["h2"].n_unique == 2 and out["h2"].dup_ratio4 == 0.6
    assert not out["h3"].reputable  # top lang share 0.25 < 0.45


# ---- contrastive_triplets ----------------------------------------------------

def test_contrastive_triplets_negative_dodges_pair(spark):
    from navigator_document_parser_spark.operators.similarity import (
        contrastive_triplets,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)], ["vec_id", "embedding"]
    )
    pairs = spark.createDataFrame(
        [(0, 1, 0.99), (2, 3, 0.98)], ["id_a", "id_b", "sim"]
    )
    out = {(r.anchor_id, r.pos_id): r for r in
           contrastive_triplets(emb, pairs).collect()}
    assert len(out) == 2
    for (a, p), r in out.items():
        assert r.neg_id not in (a, p)
        assert 0 <= r.neg_id < 6


def test_contrastive_triplets_tiny_space_drops(spark):
    from navigator_document_parser_spark.operators.similarity import (
        contrastive_triplets,
    )

    # 2 ids: no valid negative exists -> zero triplets
    emb = spark.createDataFrame(
        [(0, [1.0]), (1, [1.0])], ["vec_id", "embedding"]
    )
    pairs = spark.createDataFrame([(0, 1, 1.0)], ["id_a", "id_b", "sim"])
    assert contrastive_triplets(emb, pairs).count() == 0


# ---- bbit_minhash_pairs ------------------------------------------------------

def test_bbit_identical_docs_estimate_one(spark):
    from navigator_document_parser_spark.operators.dedup import (
        bbit_minhash_pairs,
    )

    t = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame(
        [(1, t), (2, t), (3, "one two three four five six")],
        ["doc_id", "text"],
    )
    out = {(r.id_a, r.id_b): r for r in bbit_minhash_pairs(df).collect()}
    # identical docs share every band key and every b-bit value
    assert out[(1, 2)].n_match == 8
    assert out[(1, 2)].jhat4 == 1.0
    # the unrelated doc shares no band key -> never a candidate
    assert (1, 3) not in out and (2, 3) not in out


def test_bbit_estimate_clamped_at_zero(spark):
    from navigator_document_parser_spark.operators.dedup import (
        bbit_minhash_pairs,
    )
    import pytest

    with pytest.raises(ValueError):
        bbit_minhash_pairs(
            spark.createDataFrame([(1, "a b c")], ["doc_id", "text"]),
            b=0,
        )


# ---- dedup_cluster_stats -----------------------------------------------------

def test_dedup_cluster_stats_histogram(spark):
    from navigator_document_parser_spark.operators.dedup import (
        dedup_cluster_stats,
    )

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(10)], ["doc_id", "text"]
    )
    # clusters: {0,1,2} via chain, {3,4}; singletons 5..9
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4)], ["id_a", "id_b"]
    )
    out = {r.cluster_size: r for r in
           dedup_cluster_stats(docs, pairs).collect()}
    assert out[3].n_clusters == 1 and out[3].n_docs == 3
    assert out[2].n_clusters == 1 and out[2].n_docs == 2
    assert out[1].n_clusters == 5 and out[1].n_docs == 5
    assert sum(r.n_docs for r in out.values()) == 10


def test_dedup_cluster_stats_no_pairs(spark):
    from navigator_document_parser_spark.operators.dedup import (
        dedup_cluster_stats,
    )

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(4)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([], "id_a bigint, id_b bigint")
    out = dedup_cluster_stats(docs, pairs).collect()
    assert len(out) == 1
    assert out[0].cluster_size == 1 and out[0].n_docs == 4


# ---- meta_tags / markup_stats -------------------------------------------------

def test_meta_tags_fields(spark):
    from navigator_document_parser_spark.operators.tables import meta_tags

    html = (
        '<html><head><title>My Page</title>'
        '<meta property="og:title" content="OG Page">'
        '<meta property="og:type" content="article">'
        '<meta name="description" content="a nice page">'
        '<link rel="alternate" type="application/rss+xml"'
        ' href="/feed.xml"></head><body></body></html>'
    )
    df = spark.createDataFrame(
        [(1, html), (2, "<html><body>bare</body></html>")],
        ["doc_id", "html"],
    )
    out = _rows(meta_tags(df))
    assert out[1].title == "My Page"
    assert out[1].og_title == "OG Page" and out[1].og_type == "article"
    assert out[1].description == "a nice page"
    assert out[1].feed_href == "/feed.xml"
    assert out[2].title == "" and out[2].feed_href == ""


def test_markup_stats_counts(spark):
    from navigator_document_parser_spark.operators.tables import markup_stats

    html = (
        '<html><body><a href="/x">one</a><a href="/y">two</a>'
        "<script>var x;</script><p>hello</p></body></html>"
    )
    df = spark.createDataFrame([(1, html)], ["doc_id", "html"])
    out = _rows(markup_stats(df))[1]
    assert out.n_links == 2
    assert out.n_scripts == 1
    # visible text: one two var x; hello
    assert out.text_chars == len("onetwovar x;hello")
    assert 0.0 < out.text_ratio4 < 1.0


# ---- resolve_redirects --------------------------------------------------------

def test_resolve_redirects_chains_and_cycles(spark):
    from navigator_document_parser_spark.operators.urls import (
        resolve_redirects,
    )

    rows = [
        ("a", "b"),
        ("b", "c"),
        ("c", None),
        ("loop", "loop"),
        ("p", "q"),
        ("q", "p"),
        ("t", None),
    ]
    df = spark.createDataFrame(rows, "url string, target string")
    out = {r.url: r for r in resolve_redirects(df, max_hops=4).collect()}
    assert out["a"].final_url == "c" and out["a"].hops == 2
    assert out["a"].resolved
    assert out["t"].hops == 0 and out["t"].resolved
    assert not out["loop"].resolved and out["loop"].hops == 4
    assert not out["p"].resolved  # 2-cycle never terminates
    assert out["p"].final_url in ("p", "q")


# ---- jsonld_extract -----------------------------------------------------------

def test_jsonld_extract_fields_and_absent(spark):
    from navigator_document_parser_spark.operators.tables import (
        jsonld_extract,
    )

    html = (
        '<html><head><script type="application/ld+json">'
        '{"@type": "Article", "name": "T", '
        '"datePublished": "2026-01-02", '
        '"author": {"name": "Ann"}}</script></head></html>'
    )
    df = spark.createDataFrame(
        [(1, html), (2, "<html><body>plain</body></html>")],
        ["doc_id", "html"],
    )
    out = _rows(jsonld_extract(df))
    assert out[1].ld_type == "Article" and out[1].name == "T"
    assert out[1].date_published == "2026-01-02"
    assert out[1].author == "Ann"
    assert out[2].ld_type is None and out[2].author is None


# ---- readability_score --------------------------------------------------------

def test_readability_score_known_value(spark):
    from navigator_document_parser_spark.operators.text import (
        readability_score,
    )

    # "the cat sat. the dog ran." -> 6 words, 2 sentences, 6 syllables
    # wps = 3.0, spw = 1.0 -> flesch = 206.835 - 3.045 - 84.6 = 119.19
    df = spark.createDataFrame(
        [(1, "the cat sat. the dog ran.")], ["doc_id", "text"]
    )
    out = _rows(readability_score(df))[1]
    assert out.n_words == 6 and out.n_sentences == 2
    assert out.n_syllables == 6
    assert out.wps4 == 3.0 and out.spw4 == 1.0
    assert abs(out.flesch - 119.19) < 1e-9


def test_readability_score_guards_empty(spark):
    from navigator_document_parser_spark.operators.text import (
        readability_score,
    )

    df = spark.createDataFrame([(1, "")], ["doc_id", "text"])
    out = _rows(readability_score(df))[1]
    # denominators clamp at 1; no nulls, no division errors
    assert out.n_words == 1 and out.n_sentences == 1
    assert out.n_syllables == 0


# ---- gibberish_score ----------------------------------------------------------

def test_gibberish_score_orders_natural_above_mash(spark):
    from navigator_document_parser_spark.operators.text import (
        gibberish_score,
    )

    # doc 1/2 share common trigrams; doc 3 is keyboard mash whose
    # trigrams are singletons -> lowest mean log-probability
    docs = [
        (1, "the cat and the hat and the bat"),
        (2, "the cat and the rat and the mat"),
        (3, "zqxv jkwp qzzv xkjw"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = _rows(gibberish_score(df))
    assert out[3].score < out[1].score
    assert out[3].score < out[2].score
    assert out[1].n_tris == len("the cat and the hat and the bat") - 2


def test_gibberish_score_fallback_matches_vectorized(spark, monkeypatch):
    # the per-doc sums come from a vectorized Arrow pass against the
    # collected trigram dictionary; a zero DRIVER_MAX_ROWS forces the
    # broadcast-join shape. Same rows bit-for-bit — including
    # non-ASCII text (UTF-32 code packing vs substring).
    from navigator_document_parser_spark import operators
    from navigator_document_parser_spark.operators.text import (
        gibberish_score,
    )

    docs = [
        (1, "the cat and the hat and the bat"),
        (2, "Héllo wörld héllo wörld"),
        (3, "zqxv jkwp qzzv xkjw"),
        (4, "\U0001F600abc\U0001F600abc"),  # astral chars
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    fast = _rows(gibberish_score(df))
    monkeypatch.setattr(operators, "DRIVER_MAX_ROWS", 0)
    slow = _rows(gibberish_score(df))
    assert set(fast) == set(slow)
    for k in fast:
        assert fast[k].n_tris == slow[k].n_tris
        assert fast[k].score == slow[k].score  # identical doubles


def test_gibberish_score_short_text_dropped(spark):
    from navigator_document_parser_spark.operators.text import (
        gibberish_score,
    )

    df = spark.createDataFrame(
        [(1, "ab"), (2, "abcd")], ["doc_id", "text"]
    )
    out = _rows(gibberish_score(df))
    assert 1 not in out  # < 3 chars: no trigrams, no row
    assert out[2].n_tris == 2


# ---- mirror_hosts -------------------------------------------------------------

def test_mirror_hosts_full_and_partial(spark):
    from navigator_document_parser_spark.operators.dedup import (
        mirror_hosts,
    )

    rows = (
        [(f"m{i}", "h1") for i in range(4)]
        + [(f"m{i}", "h2") for i in range(4)]     # full mirror of h1
        + [(f"m{i}", "h3") for i in range(2)]
        + [("own3a", "h3"), ("own3b", "h3")]      # half mirror
        + [("solo", "h4")]                        # unrelated
    )
    df = spark.createDataFrame(rows, ["text", "source"])
    out = {(r.host_a, r.host_b): r for r in mirror_hosts(df).collect()}
    assert out[("h1", "h2")].is_mirror
    assert out[("h1", "h2")].overlap4 == 1.0 and out[("h1", "h2")].n_shared == 4
    # h3 shares 2 of min(4,4)=4 -> 0.5 NOT > 0.5 -> no mirror
    assert not out[("h1", "h3")].is_mirror
    assert out[("h1", "h3")].overlap4 == 0.5
    # h4 shares nothing: no pair row at all
    assert not any("h4" in k for k in out)


# ---- plan shapes (scale pins) -------------------------------------------------

def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_session6_plan_shapes(spark):
    """Pin the 100 TB shapes of the session-6 operators: map-only ops
    carry no Exchange, pair ops never degrade to nested-loop or
    cartesian plans, top-N is TakeOrdered rather than a global sort."""
    from navigator_document_parser_spark.operators.dedup import (
        mirror_hosts,
    )
    from navigator_document_parser_spark.operators.similarity import (
        embedding_outliers,
    )
    from navigator_document_parser_spark.operators.sketches import (
        kmv_slice_jaccard,
    )
    from navigator_document_parser_spark.operators.text import (
        code_detect,
        readability_score,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    # map-only profilers: zero shuffles
    p = _plan(code_detect(docs))
    assert "Exchange" not in p
    p = _plan(readability_score(docs))
    assert "Exchange" not in p

    # outlier top-N: TakeOrdered, never a global Sort over the corpus
    p = _plan(embedding_outliers(emb, n_top=5))
    assert "TakeOrderedAndProject" in p

    # pair ops: equi-join plans only
    p = _plan(mirror_hosts(docs))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p

    p = _plan(kmv_slice_jaccard(docs, k=8))
    assert "CartesianProduct" not in p
    # the (pair, role) membership join broadcasts the tiny unpivot
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p


# ---- title_consistency --------------------------------------------------------

def test_title_consistency_bands(spark):
    from navigator_document_parser_spark.operators.tables import (
        title_consistency,
    )

    rows = [
        (1, "the cat sat mat", "the cat sat on the mat today ok"),
        (2, "free money secret trick", "a long article about history"),
        (3, "", "body text"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "title", "text"])
    out = _rows(title_consistency(df))
    assert out[1].consistency4 == 1.0 and out[1].n_title_tokens == 4
    assert out[2].n_matched == 0 and out[2].consistency4 == 0.0
    # empty title: zero tokens, guarded denominator
    assert out[3].n_title_tokens == 0 and out[3].consistency4 == 0.0
