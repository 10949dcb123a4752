"""HITS hubs/authorities (operators/graph.py hits) vs a pure-Python
power iteration, plus structural sanity on a star graph."""

from pyspark.sql import functions as F  # noqa: F401

from navigator_document_parser_spark.operators.graph import hits


def _py_hits(edges, iterations=5):
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    hub = {v: 1.0 for v in nodes}
    auth = {}
    for _ in range(iterations):
        auth = {v: 0.0 for v in nodes}
        for s, d, w in edges:
            auth[d] += hub[s] * w
        hub = {v: 0.0 for v in nodes}
        for s, d, w in edges:
            hub[s] += auth[d] * w
    sa, sh = sum(auth.values()), sum(hub.values())
    return (
        {v: (a / sa if sa else 0.0) for v, a in auth.items()},
        {v: (h / sh if sh else 0.0) for v, h in hub.items()},
    )


EDGES = [
    ("a", "x", 3), ("a", "y", 1), ("b", "x", 2), ("b", "z", 1),
    ("c", "x", 1), ("c", "y", 2), ("x", "y", 1),
]


def test_hits_matches_pure_python(spark):
    df = spark.createDataFrame(
        EDGES, "src_host string, dst_host string, n_links int"
    )
    rows = {r["node"]: r for r in hits(df, iterations=5).collect()}
    pa, ph = _py_hits(EDGES, 5)
    for v in pa:
        assert abs(rows[v]["authority"] - pa[v]) < 1e-12, v
        assert abs(rows[v]["hub"] - ph[v]) < 1e-12, v


def test_hits_star_graph_roles(spark):
    # spokes all link to the hub-target: target is the top authority,
    # spokes are the hubs, target's hub score is 0 (no out-links)
    edges = [(f"s{i}", "center", 1) for i in range(5)]
    df = spark.createDataFrame(
        edges, "src_host string, dst_host string, n_links int"
    )
    rows = {r["node"]: r for r in hits(df, iterations=3).collect()}
    assert rows["center"]["authority"] == 1.0
    assert rows["center"]["hub"] == 0.0
    for i in range(5):
        assert abs(rows[f"s{i}"]["hub"] - 0.2) < 1e-12
        assert rows[f"s{i}"]["authority"] == 0.0


def test_hits_empty_edges(spark):
    df = spark.createDataFrame(
        [], "src_host string, dst_host string, n_links int"
    )
    assert hits(df, iterations=2).collect() == []


def test_rejects_nonpositive_iterations(spark):
    import pytest as _pytest

    df = spark.createDataFrame(
        EDGES, "src_host string, dst_host string, n_links int"
    )
    with _pytest.raises(ValueError):
        hits(df, iterations=0)
