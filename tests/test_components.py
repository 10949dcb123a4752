"""Connected components + canonical dedup tests (union-find oracle)."""

import random

from pyspark.sql import functions as F

from navigator_document_parser_spark import operators
from navigator_document_parser_spark.operators.dedup import (
    connected_components,
    dedup_corpus,
)


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical min representative
    comp = {}
    for n in list(parent):
        r = find(n)
        comp[n] = r
    # min-id per root
    roots = {}
    for n, r in comp.items():
        roots.setdefault(r, []).append(n)
    out = {}
    for r, members in roots.items():
        m = min(members)
        for n in members:
            out[n] = m
    return out


# the default bound admits these small graphs (driver replay); a zero
# bound sends every non-empty frame to the distributed rounds
_BOUNDS = (operators.DRIVER_MAX_ROWS, 0)


def test_components_match_union_find_random(spark, monkeypatch):
    rng = random.Random(42)
    pairs = sorted({
        tuple(sorted(rng.sample(range(60), 2))) for _ in range(70)
    })
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    expected = _union_find(pairs)
    # the union-find fast path and the distributed label rounds must
    # produce the identical min-label table
    for bound in _BOUNDS:
        monkeypatch.setattr(operators, "DRIVER_MAX_ROWS", bound)
        got = {
            r["node"]: r["comp"]
            for r in connected_components(df).collect()
        }
        assert got == expected, f"DRIVER_MAX_ROWS={bound}"


def test_components_long_chain(spark, monkeypatch):
    # path graph 0-1-2-...-25: diameter stresses the iteration count
    pairs = [(i, i + 1) for i in range(25)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    for bound in _BOUNDS:
        monkeypatch.setattr(operators, "DRIVER_MAX_ROWS", bound)
        got = {
            r["node"]: r["comp"]
            for r in connected_components(df).collect()
        }
        assert got == {i: 0 for i in range(26)}, f"DRIVER_MAX_ROWS={bound}"


def test_components_null_endpoint_reaches_fixpoint(spark):
    # a NULL endpoint skips the driver replay; the distributed rounds,
    # which run until nothing changes, must still stop: NULL never
    # joins, so it neither takes nor gives a label
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (4, None), (5, 6)], "id_a long, id_b long"
    )
    got = {
        r["node"]: r["comp"] for r in connected_components(df).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, None: None}


def test_graph_driver_fast_paths_match_distributed(spark, monkeypatch):
    # label_propagation / bfs_depth / k_core replay their fixed rounds
    # on the driver when the edge table is small. Pin fast ==
    # distributed (a zero DRIVER_MAX_ROWS forces the join-round shape)
    # on a random directed multigraph with self-loops and asymmetric
    # edges.
    from navigator_document_parser_spark.operators.graph import (
        bfs_depth,
        k_core,
        label_propagation,
    )

    rng = random.Random(7)
    edges = [
        (f"h{rng.randrange(30)}", f"h{rng.randrange(30)}")
        for _ in range(80)
    ]
    df = spark.createDataFrame(edges, "src_host string, dst_host string")

    def rows(d):
        return sorted(tuple(r) for r in d.collect())

    seeds = ["h0", "h13"]
    fast = [
        rows(label_propagation(df, iterations=3)),
        rows(bfs_depth(df, seeds, rounds=3)),
        rows(k_core(df, k=2, rounds=3)),
    ]
    monkeypatch.setattr(operators, "DRIVER_MAX_ROWS", 0)
    assert rows(label_propagation(df, iterations=3)) == fast[0]
    assert rows(bfs_depth(df, seeds, rounds=3)) == fast[1]
    assert rows(k_core(df, k=2, rounds=3)) == fast[2]


def test_collect_if_small_gates_on_size_and_nulls(spark, monkeypatch):
    from navigator_document_parser_spark.operators import collect_if_small

    df = spark.createDataFrame(
        [(1, 2), (2, None), (3, 4)], "src long, dst long"
    )
    assert len(collect_if_small(df)) == 3
    assert len(collect_if_small(df, non_null=("src",))) == 3
    # a NULL in a named column sends the caller to its distributed path
    assert collect_if_small(df, non_null=("src", "dst")) is None
    monkeypatch.setattr(operators, "DRIVER_MAX_ROWS", 3)
    assert len(collect_if_small(df)) == 3  # at the bound: collected
    monkeypatch.setattr(operators, "DRIVER_MAX_ROWS", 2)
    assert collect_if_small(df) is None  # one row over: not collected


def test_dedup_corpus_keeps_one_per_cluster(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(10)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 3), (3, 7), (4, 5)], "id_a long, id_b long"
    )
    kept = sorted(r["doc_id"] for r in dedup_corpus(docs, pairs).collect())
    # cluster {1,3,7} -> keep 1; {4,5} -> keep 4; others untouched
    assert kept == [0, 1, 2, 4, 6, 8, 9]


def test_end_to_end_minhash_to_canonical(spark):
    from navigator_document_parser_spark.operators.dedup import (
        minhash_dedup_pairs,
    )

    rows = []
    for i in range(20):
        rows.append((i, f"unique document number {i} with its own words "
                        f"about topic {i} and nothing else shared"))
    # plant a duplicate cluster: 20, 21, 22 identical
    dup = "the same exact duplicated text repeated across three documents here"
    rows += [(20, dup), (21, dup), (22, dup)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_dedup_pairs(docs, threshold=0.8)
    kept = {r["doc_id"] for r in dedup_corpus(docs, pairs).collect()}
    assert 20 in kept and 21 not in kept and 22 not in kept
    assert all(i in kept for i in range(20))
