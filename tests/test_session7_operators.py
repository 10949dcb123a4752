"""Session-7 operators: bounded k-core peel, rendezvous-hash shard
layout, mojibake encoding repair.

Behavioral pins against hand-computed references; the DuckDB hash
oracles in __spark_entry__ cover the engine-parity axis."""

from pyspark.sql import functions as F

from navigator_document_parser_spark.operators.graph import k_core
from navigator_document_parser_spark.operators.layout import (
    rendezvous_shards,
)
from navigator_document_parser_spark.operators.text import (
    fix_mojibake,
    mojibake_pairs,
)


# ---- k_core ----------------------------------------------------------------

def test_k_core_clique_survives_pendant_peels(spark):
    # 4-clique a-b-c-d plus a pendant chain d-e-f: at k=3 the chain
    # peels (f deg 1, then e) and the clique survives with degree 3
    clique = [("a", "b"), ("a", "c"), ("a", "d"),
              ("b", "c"), ("b", "d"), ("c", "d")]
    chain = [("d", "e"), ("e", "f")]
    edges = spark.createDataFrame(
        clique + chain, ["src_host", "dst_host"]
    )
    out = {r.host: r.degree
           for r in k_core(edges, k=3, rounds=4).collect()}
    assert out == {"a": 3, "b": 3, "c": 3, "d": 3}


def test_k_core_whole_graph_peels(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], ["src_host", "dst_host"]
    )
    assert k_core(edges, k=2, rounds=3).count() == 0


def test_k_core_ignores_direction_and_self_loops(spark):
    # (a,b) and (b,a) are ONE undirected edge; self-loops dropped —
    # so a's degree is 1, not 3, and at k=2 everything peels
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "a")], ["src_host", "dst_host"]
    )
    assert k_core(edges, k=2, rounds=2).count() == 0
    out = {r.host: r.degree
           for r in k_core(edges, k=1, rounds=2).collect()}
    assert out == {"a": 1, "b": 1}


# ---- rendezvous_shards -----------------------------------------------------

def test_rendezvous_only_new_shard_steals(spark):
    # THE rendezvous guarantee: growing 8 -> 9 shards moves a key only
    # if the NEW shard (id 8) wins it — every moved row must land on 8,
    # and every unmoved row keeps its assignment by construction
    d = spark.createDataFrame(
        [(i, f"https://h{i % 7}.example/p/{i}") for i in range(300)],
        ["doc_id", "url"],
    )
    rows = rendezvous_shards(d, shards=8, alt_shards=9).collect()
    assert len(rows) == 300
    moved = [r for r in rows if r.moved == 1]
    assert 0 < len(moved) < 300
    assert all(r.shard_grown == 8 for r in moved)
    assert all(
        r.shard == r.shard_grown for r in rows if r.moved == 0
    )
    assert all(0 <= r.shard <= 7 and 0 <= r.shard_grown <= 8
               for r in rows)


def test_rendezvous_movement_fraction_near_one_over_n(spark):
    # expected moved fraction is 1/9; md5 uniformity keeps the sample
    # well inside [1/18, 2/9] at n=600
    d = spark.createDataFrame(
        [(i, f"k{i}") for i in range(600)], ["doc_id", "url"]
    )
    out = rendezvous_shards(d, shards=8, alt_shards=9)
    frac = out.agg(F.avg("moved")).collect()[0][0]
    assert 1 / 18 < frac < 2 / 9


def test_rendezvous_rejects_bad_counts(spark):
    d = spark.createDataFrame([(0, "x")], ["doc_id", "url"])
    try:
        rendezvous_shards(d, shards=0)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


# ---- encoding repair -------------------------------------------------------

def test_mojibake_pairs_are_derived_inverses(spark):
    # every (bad, good): bad really is good's UTF-8 bytes read as
    # cp1252, bads are multi-char, goods single-char
    for bad, good in mojibake_pairs():
        assert bad == good.encode("utf-8").decode("cp1252")
        assert len(good) == 1 and len(bad) > 1


def test_fix_mojibake_roundtrip(spark):
    goods = "".join(g for _, g in mojibake_pairs())
    clean = f"it’s a “test” — café…{goods} done"
    corrupted = clean
    for bad, good in mojibake_pairs():
        corrupted = corrupted.replace(good, bad)
    d = spark.createDataFrame([(0, corrupted)], ["doc_id", "text"])
    out = d.select(fix_mojibake(F.col("text")).alias("f")).collect()[0]
    assert out.f == clean


def test_fix_mojibake_clean_text_untouched(spark):
    clean = "plain ascii text stays exactly as-is."
    d = spark.createDataFrame([(0, clean)], ["doc_id", "text"])
    out = d.select(fix_mojibake(F.col("text")).alias("f")).collect()[0]
    assert out.f == clean


def test_entry_suffix_covers_every_good(spark):
    import __spark_entry__ as E

    for _, good in mojibake_pairs():
        assert good in E._MOJI_SUFFIX, repr(good)


def test_fix_mojibake_column_fn(spark):
    d = spark.createDataFrame([(0, "cafÃ© â€” ok",)], ["i", "t"])
    out = d.select(fix_mojibake(F.col("t")).alias("f")).collect()[0]
    assert out.f == "café — ok"


# ---- plan shapes (CLAUDE.md lesson 12 discipline) --------------------------

def test_rendezvous_plan_is_map_only(spark):
    # zero shuffles, zero joins: both CASE ladders must live in one
    # codegen projection
    d = spark.createDataFrame(
        [(i, f"u{i}") for i in range(50)], ["doc_id", "url"]
    )
    plan = (
        rendezvous_shards(d)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_k_core_plan_has_no_nested_loop(spark):
    edges = spark.createDataFrame(
        [(f"a{i % 7}", f"b{(i * 3) % 5}") for i in range(40)],
        ["src_host", "dst_host"],
    )
    df = k_core(edges, k=2, rounds=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan


# ---- snippet_search --------------------------------------------------------

def test_snippet_window_and_clamp(spark):
    from navigator_document_parser_spark.operators.search import (
        snippet_search,
    )

    filler = " ".join(f"w{i}" for i in range(30))
    rows = [
        (0, f"apple at the very start {filler}"),      # pos 1 -> clamp
        (1, f"{filler} then apple appears here late"),  # mid-doc window
        (2, "nothing relevant here at all"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r
           for r in snippet_search(
               d, [(0, ["apple"])], k=3, width=20, lead=5
           ).collect()}
    # doc 0: term at pos 1, window clamps to start 1
    assert out[0].pos == 1
    assert out[0].snippet == rows[0][1][:20]
    # doc 1: window starts 5 before the first occurrence
    p = rows[1][1].lower().index("apple") + 1
    assert out[1].pos == p
    assert out[1].snippet == rows[1][1][p - 6 : p - 6 + 20]


def test_snippet_first_of_many_terms(spark):
    from navigator_document_parser_spark.operators.search import (
        snippet_search,
    )

    d = spark.createDataFrame(
        [(0, "zebra banana apple banana")], ["doc_id", "text"]
    )
    out = snippet_search(
        d, [(0, ["apple", "banana"])], k=1, width=15, lead=2
    ).collect()[0]
    # banana (pos 7) beats apple (pos 14): min over terms
    assert out.pos == 7
    assert out.snippet == "zebra banana apple banana"[4:19]


# ---- triangle_count --------------------------------------------------------

def test_triangle_count_known_graph(spark):
    from navigator_document_parser_spark.operators.graph import (
        triangle_count,
    )

    # K4 on a,b,c,d = 4 triangles, each node in exactly 3;
    # pendant edge d-e adds none; direction/self-loops ignored
    k4 = [("a", "b"), ("a", "c"), ("a", "d"),
          ("b", "c"), ("b", "d"), ("c", "d")]
    extra = [("d", "e"), ("b", "a"), ("c", "c")]
    edges = spark.createDataFrame(
        k4 + extra, ["src_host", "dst_host"]
    )
    out = {r.host: r.triangles for r in triangle_count(edges).collect()}
    assert out == {"a": 3, "b": 3, "c": 3, "d": 3}


def test_triangle_count_triangle_free(spark):
    from navigator_document_parser_spark.operators.graph import (
        triangle_count,
    )

    # a 4-cycle has no triangles
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")],
        ["src_host", "dst_host"],
    )
    assert triangle_count(edges).count() == 0


# ---- weighted_sample -------------------------------------------------------

def test_weighted_sample_is_deterministic_topk(spark):
    from navigator_document_parser_spark.operators.selection import (
        weighted_sample,
    )

    rows = [(i, "en", (i % 7) * 100 + 1) for i in range(100)]
    d = spark.createDataFrame(rows, ["doc_id", "lang", "n_chars"])
    a = sorted((r.rank, r.doc_id)
               for r in weighted_sample(d, k=5).collect())
    b = sorted((r.rank, r.doc_id)
               for r in weighted_sample(d, k=5).collect())
    assert a == b and len(a) == 5


def test_weighted_sample_weight_bias(spark):
    from navigator_document_parser_spark.operators.selection import (
        weighted_sample,
    )

    # half the docs carry 100x the weight; the top-10 sample must be
    # dominated by heavy docs (P[light doc in top-k] is tiny under
    # u^(1/w) keys)
    rows = [(i, "en", 10000 if i % 2 == 0 else 10) for i in range(200)]
    d = spark.createDataFrame(rows, ["doc_id", "lang", "n_chars"])
    out = weighted_sample(d, k=10).collect()
    heavy = sum(1 for r in out if r.doc_id % 2 == 0)
    assert heavy >= 9


def test_weighted_sample_excludes_nonpositive(spark):
    from navigator_document_parser_spark.operators.selection import (
        weighted_sample,
    )

    d = spark.createDataFrame(
        [(0, "en", 0), (1, "en", -5), (2, "en", 7)],
        ["doc_id", "lang", "n_chars"],
    )
    out = weighted_sample(d, k=5).collect()
    assert [r.doc_id for r in out] == [2]
