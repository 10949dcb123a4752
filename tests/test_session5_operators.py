"""Session-5 operators: boolean retrieval, CCNet perplexity buckets,
anchor-text aggregation, label-propagation communities, leakage-safe
host split, margin-based bitext mining.

Each test pins semantics against a hand-computed or pure-Python
reference (the DuckDB hash oracle in __spark_entry__ covers the
engine-parity axis; these cover the behavioral axis)."""

import pytest
from pyspark.sql import functions as F

from navigator_document_parser_spark.operators.graph import (
    anchor_text_topk,
    label_propagation,
)
from navigator_document_parser_spark.operators.search import boolean_search
from navigator_document_parser_spark.operators.selection import host_split
from navigator_document_parser_spark.operators.similarity import (
    bitext_margin_mine,
)
from navigator_document_parser_spark.operators.text import ccnet_buckets


# ---- boolean_search --------------------------------------------------------

def _docs_df(spark):
    rows = [
        (0, "apple banana apple cherry"),
        (1, "apple banana"),
        (2, "banana cherry durian"),
        (3, "apple durian durian"),
        (4, "cherry cherry cherry"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_boolean_must_should_not(spark):
    d = _docs_df(spark)
    out = boolean_search(
        d,
        [
            # must apple AND banana, nothing else
            (0, ["apple", "banana"], [], []),
            # must apple, exclude durian
            (1, ["apple"], [], ["durian"]),
            # should banana-or-cherry (no must), exclude apple
            (2, [], ["banana", "cherry"], ["apple"]),
        ],
        k=10,
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.sum_tf))
    # q0: docs 0 (tf 2+1=3) and 1 (tf 1+1=2)
    assert sorted(by_q[0]) == [(1, 0, 3), (2, 1, 2)]
    # q1: apple docs are 0,1,3; doc 3 excluded (durian)
    assert sorted(by_q[1]) == [(1, 0, 2), (2, 1, 1)]
    # q2: banana/cherry docs without apple: 2 (1+1=2), 4 (3)
    assert sorted(by_q[2]) == [(1, 4, 3), (2, 2, 2)]


def test_boolean_rejects_pure_negation_and_overlap(spark):
    d = _docs_df(spark)
    with pytest.raises(ValueError, match="pure negation"):
        boolean_search(d, [(0, [], [], ["apple"])], k=5).collect()
    with pytest.raises(ValueError, match="positive"):
        boolean_search(d, [(0, ["apple"], [], ["apple"])], k=5).collect()


def test_boolean_doc_matching_only_negated_term_excluded(spark):
    # doc 4 contains cherry only; a (must=cherry, not=durian) query must
    # still return it, while doc 2 (cherry AND durian) is dropped
    d = _docs_df(spark)
    out = boolean_search(d, [(0, ["cherry"], [], ["durian"])], k=10)
    got = {r.doc_id for r in out.collect()}
    assert got == {0, 4}


# ---- ccnet_buckets ---------------------------------------------------------

def test_ccnet_buckets_tercile_sizes_and_order(spark):
    # 9 docs in one lang: bucket sizes must be exactly 3/3/3, with the
    # lowest-rarity docs in head. Make doc texts share bigrams so
    # rarity varies: docs 0-5 share "x y", docs 6-8 are unique noise.
    rows = []
    for i in range(6):
        rows.append((i, "en", "x y x y x y"))
    for i in range(6, 9):
        rows.append((i, "en", f"u{i} v{i} w{i} z{i}"))
    d = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = ccnet_buckets(d, min_count=5).collect()
    buckets = {r.doc_id: r.bucket for r in out}
    sizes = {}
    for b in buckets.values():
        sizes[b] = sizes.get(b, 0) + 1
    assert sizes == {"head": 3, "middle": 3, "tail": 3}
    # the three unique-bigram docs have rare_frac 1.0 -> all tail
    assert {buckets[6], buckets[7], buckets[8]} == {"tail"}


def test_ccnet_buckets_partitioned_per_language(spark):
    rows = [(0, "en", "a b a b"), (1, "en", "c d e f"),
            (2, "fr", "g h g h"), (3, "fr", "i j k l")]
    d = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = {r.doc_id: r.bucket for r in ccnet_buckets(d).collect()}
    # with 2 docs per lang: rn=1 -> 1*3 <= 2? no -> middle? 3 <= 4 yes
    # -> middle; rn=2 -> 6 <= 4 no -> tail. Both langs identical.
    assert out == {0: "middle", 1: "tail", 2: "middle", 3: "tail"}


# ---- anchor_text_topk ------------------------------------------------------

def test_anchor_text_topk_counts_and_ties(spark):
    rows = [
        ("t1", "download"), ("t1", "download"), ("t1", "home"),
        ("t1", "about"), ("t1", "about"),
        ("t2", "spam"),
    ]
    d = spark.createDataFrame(rows, ["dst_host", "anchor"])
    out = {(r.dst_host, r.rank): (r.anchor, r.n_links)
           for r in anchor_text_topk(d, k=2).collect()}
    # count desc, anchor asc on ties: about(2) before download(2)
    assert out[("t1", 1)] == ("about", 2)
    assert out[("t1", 2)] == ("download", 2)
    assert ("t1", 3) not in out  # k=2
    assert out[("t2", 1)] == ("spam", 1)


# ---- label_propagation -----------------------------------------------------

def test_label_propagation_finds_ring_communities(spark):
    # two disjoint rings -> two communities labeled by their min node
    edges = [("a1", "a2"), ("a2", "a3"), ("a3", "a1"),
             ("b1", "b2"), ("b2", "b3"), ("b3", "b1")]
    d = spark.createDataFrame(edges, ["src_host", "dst_host"])
    out = {r.node: r.community
           for r in label_propagation(d, iterations=5).collect()}
    assert out == {"a1": "a1", "a2": "a1", "a3": "a1",
                   "b1": "b1", "b2": "b1", "b3": "b1"}


def test_label_propagation_fixed_rounds_not_fixpoint(spark):
    # a path graph longer than the round count: after 2 rounds the min
    # label has traveled exactly 2 hops, no further (synchronous rule)
    edges = [(f"n{i}", f"n{i+1}") for i in range(6)]
    d = spark.createDataFrame(edges, ["src_host", "dst_host"])
    out = {r.node: r.community
           for r in label_propagation(d, iterations=2).collect()}
    assert out["n0"] == "n0"
    assert out["n1"] == "n0"
    assert out["n2"] == "n0"
    assert out["n3"] == "n1"  # min label 2 hops away after 2 rounds
    assert out["n6"] == "n4"


# ---- host_split ------------------------------------------------------------

def test_host_split_is_leakage_safe_and_deterministic(spark):
    rows = [(i, f"host{i % 7}") for i in range(70)]
    d = spark.createDataFrame(rows, ["doc_id", "source"])
    out = host_split(d, val_frac=0.3, test_frac=0.3)
    got = out.collect()
    # every doc assigned; all docs of one host share a split
    per_host = {}
    for r in got:
        per_host.setdefault(r.host, set()).add(r.split)
    assert len(got) == 70
    assert all(len(s) == 1 for s in per_host.values())
    # deterministic replay
    again = {(r.doc_id, r.split) for r in
             host_split(d, val_frac=0.3, test_frac=0.3).collect()}
    assert {(r.doc_id, r.split) for r in got} == again


def test_host_split_fraction_growth_is_monotone(spark):
    # growing test_frac only moves hosts INTO test (never out)
    rows = [(i, f"h{i}") for i in range(200)]
    d = spark.createDataFrame(rows, ["doc_id", "source"])
    small = {r.host for r in
             host_split(d, test_frac=0.1, val_frac=0.0).collect()
             if r.split == "test"}
    big = {r.host for r in
           host_split(d, test_frac=0.3, val_frac=0.0).collect()
           if r.split == "test"}
    assert small <= big
    assert len(small) < len(big)


# ---- bitext_margin_mine ----------------------------------------------------

def test_bitext_margin_accepts_clear_pairs_only(spark):
    # src s0 is near t0 and far from the rest -> accepted.
    # src s1 sits between two near-identical targets -> margin fails.
    # src s2 is far from everything -> sim floor fails.
    src = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]),
         (101, [0.0, 1.0, 0.0]),
         (102, [0.0, 0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    tgt = spark.createDataFrame(
        [(0, [0.9, 0.1, 0.0]),      # close to s0
         (1, [0.0, 1.0, 0.001]),    # near-tie pair for s1
         (2, [0.0, 1.0, -0.001]),
         (3, [0.5, 0.5, 0.0])],
        ["vec_id", "embedding"],
    )
    out = {r.src_id: (r.tgt_id, r.sim, r.margin)
           for r in bitext_margin_mine(
               src, tgt, min_sim=0.5, min_margin=0.05).collect()}
    assert set(out) == {100}
    assert out[100][0] == 0
    assert out[100][1] > 0.9


def test_bitext_margin_block_partitioning_invariant(spark, monkeypatch):
    """r7 optimization pin: scoring now runs per hash-block pair with
    an in-block top-2 containment guard — forcing 1-row blocks (every
    pair crosses blocks, every block emits its whole sub-matrix) must
    give the same accepted pairs as one giant block."""
    import math

    src = spark.createDataFrame(
        [(100 + i, [math.cos(i / 7.0), math.sin(i / 7.0), i * 0.05])
         for i in range(9)],
        ["vec_id", "embedding"],
    )
    tgt = spark.createDataFrame(
        [(j, [math.cos(j / 5.0), math.sin(j / 5.0), 0.1])
         for j in range(7)],
        ["vec_id", "embedding"],
    )

    from navigator_document_parser_spark.operators import similarity

    def snap(block_rows):
        monkeypatch.setattr(similarity, "BITEXT_BLOCK_ROWS", block_rows)
        return sorted(
            (r.src_id, r.tgt_id, r.sim, r.margin)
            for r in bitext_margin_mine(
                src, tgt, min_sim=0.3, min_margin=0.01,
            ).collect()
        )

    whole = snap(1024)
    assert whole
    assert snap(1) == whole
    assert snap(4) == whole


def test_bitext_margin_single_target_gets_full_margin(spark):
    # one target only: sim2 is NULL -> margin = sim - (-1) passes
    src = spark.createDataFrame([(10, [1.0, 0.0])], ["vec_id", "embedding"])
    tgt = spark.createDataFrame([(0, [1.0, 0.0])], ["vec_id", "embedding"])
    out = bitext_margin_mine(src, tgt, min_sim=0.5, min_margin=0.1).collect()
    assert len(out) == 1 and out[0].tgt_id == 0 and out[0].sim == 1.0


# ---- top_ngrams ------------------------------------------------------------

def test_top_ngrams_counts_and_tiebreak(spark):
    from navigator_document_parser_spark.operators.text import top_ngrams

    rows = [
        (0, "a b c a b c"),      # "a b c" x2, "b c a", "c a b"
        (1, "a b c"),            # "a b c" x1
        (2, "x y"),              # too short for trigrams
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.rank: (r.ngram, r.cnt) for r in top_ngrams(d, n=3, k=2).collect()}
    assert out[1] == ("a b c", 3)
    # tie between "b c a" and "c a b" (1 each): ngram-ascending wins
    assert out[2] == ("b c a", 1)
    assert len(out) == 2
