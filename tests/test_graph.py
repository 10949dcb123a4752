"""PageRank over host link graphs: numpy power-iteration parity,
mass conservation, dangling handling, and the bounded-lineage shape."""

import numpy as np
import pytest

from navigator_document_parser_spark.operators.graph import pagerank


def _numpy_pagerank(edges, n_nodes, damping, iterations):
    """Dense reference: identical update rule, float64."""
    W = np.zeros((n_nodes, n_nodes))
    for s, d, w in edges:
        W[s, d] += w
    out = W.sum(axis=1)
    r = np.full(n_nodes, 1.0 / n_nodes)
    for _ in range(iterations):
        dm = r[out == 0].sum()
        contrib = np.zeros(n_nodes)
        for s in range(n_nodes):
            if out[s] > 0:
                contrib += r[s] * W[s] / out[s]
        r = (1 - damping) / n_nodes + damping * (contrib + dm / n_nodes)
    return r


def test_pagerank_matches_numpy_power_iteration(spark):
    # 5 nodes, weighted edges, node 4 dangling (no out-edges)
    edges = [
        (0, 1, 3.0), (0, 2, 1.0), (1, 2, 1.0), (2, 0, 1.0),
        (3, 2, 2.0), (3, 4, 1.0), (1, 4, 1.0),
    ]
    df = spark.createDataFrame(edges, ["src_host", "dst_host", "n_links"])
    got = {
        r.node: r.rank
        for r in pagerank(df, iterations=10).collect()
    }
    want = _numpy_pagerank(edges, 5, 0.85, 10)
    assert set(got) == set(range(5))
    for i in range(5):
        assert got[i] == pytest.approx(want[i], abs=1e-9)
    # stochastic-matrix completion conserves total mass
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_star_graph_ordering_and_empty(spark):
    # hub receives from 4 spokes -> highest rank; spokes tie exactly
    edges = [(i, 99, 1) for i in range(4)]
    df = spark.createDataFrame(edges, ["src_host", "dst_host", "n_links"])
    got = {r.node: r.rank for r in pagerank(df, iterations=8).collect()}
    assert got[99] == max(got.values())
    spoke = [v for k, v in got.items() if k != 99]
    assert all(s == spoke[0] for s in spoke)

    empty = df.filter("src_host < 0")
    assert pagerank(empty, iterations=3).count() == 0


def test_trustrank_with_every_node_seeded_is_pagerank(spark):
    """Both run one power iteration; seeding every node makes
    trustrank's teleport and dangling share uniform, so the two agree
    up to the rounding of (1-d)*(1/N) vs (1-d)/N."""
    from navigator_document_parser_spark.operators.graph import trustrank

    edges = [
        (0, 1, 3.0), (0, 2, 1.0), (1, 2, 1.0), (2, 0, 1.0),
        (3, 2, 2.0), (3, 4, 1.0), (1, 4, 1.0),
    ]
    df = spark.createDataFrame(edges, ["src_host", "dst_host", "n_links"])
    pr = {r.node: r.rank for r in pagerank(df, iterations=10).collect()}
    tr = {
        r.node: r.rank
        for r in trustrank(df, seeds=list(range(5)), iterations=10).collect()
    }
    assert set(pr) == set(tr) == set(range(5))
    for v in pr:
        assert tr[v] == pytest.approx(pr[v], abs=1e-12)
