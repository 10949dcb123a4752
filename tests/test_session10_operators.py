"""Round-5 session-10 operators: LSH-blocked bitext mining.

The exact bitext_margin_mine is the recall yardstick for the blocked
variant (the knn_ivf <-> knn_ivf_fullprobe pattern): near-identical
translation pairs share every hyperplane sign bucket with probability
~1, so the blocked miner must recover essentially all of the exact
miner's clear pairs; it may additionally accept pairs whose true
runner-up fell outside the block (documented approximation).
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from navigator_document_parser_spark.operators.similarity import (
    bitext_margin_mine,
    bitext_margin_mine_lsh,
)


def _det_unit(seed: str, dim: int) -> list[float]:
    """Deterministic pseudo-random unit-ish vector from md5 (no RNG)."""
    vals = []
    for d in range(dim):
        h = hashlib.md5(f"{seed}:{d}".encode()).hexdigest()
        vals.append((int(h[:8], 16) % 2001 - 1000) / 1000.0)
    n = sum(v * v for v in vals) ** 0.5
    return [v / n for v in vals]


def _perturb(vec: list[float], seed: str, eps: float) -> list[float]:
    noise = _det_unit(seed, len(vec))
    return [v + eps * n for v, n in zip(vec, noise)]


@pytest.fixture(scope="module")
def bitext_corpus(spark):
    """40 src vectors, each with one near-identical target 'translation'
    (eps=0.05 noise) plus 40 unrelated targets."""
    dim = 16
    src_rows, tgt_rows = [], []
    for i in range(40):
        base = _det_unit(f"pair:{i}", dim)
        src_rows.append((100 + i, base))
        tgt_rows.append((i, _perturb(base, f"noise:{i}", 0.05)))
    for i in range(40, 80):
        tgt_rows.append((i, _det_unit(f"bg:{i}", dim)))
    src = spark.createDataFrame(src_rows, ["vec_id", "embedding"])
    tgt = spark.createDataFrame(tgt_rows, ["vec_id", "embedding"])
    return dim, src, tgt


def test_bitext_lsh_recall_vs_exact(bitext_corpus):
    dim, src, tgt = bitext_corpus
    exact = {(r.src_id, r.tgt_id)
             for r in bitext_margin_mine(
                 src, tgt, min_sim=0.5, min_margin=0.05).collect()}
    lsh = {(r.src_id, r.tgt_id)
           for r in bitext_margin_mine_lsh(
               src, tgt, dim=dim, min_sim=0.5, min_margin=0.05,
               n_planes=4, n_tables=4).collect()}
    # the planted translations are clear pairs: exact finds them all
    assert len(exact) == 40
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.95, f"recall {recall} (exact={len(exact)} lsh={len(lsh)})"


def test_bitext_lsh_sims_match_exact_on_shared_pairs(bitext_corpus):
    """Accepted (src, tgt) pairs common to both paths must carry the
    identical 4dp sim — blocking changes the candidate set, never the
    scoring math."""
    dim, src, tgt = bitext_corpus
    exact = {(r.src_id, r.tgt_id): r.sim
             for r in bitext_margin_mine(
                 src, tgt, min_sim=0.5, min_margin=0.05).collect()}
    lsh = {(r.src_id, r.tgt_id): r.sim
           for r in bitext_margin_mine_lsh(
               src, tgt, dim=dim, min_sim=0.5, min_margin=0.05,
               n_planes=4, n_tables=4).collect()}
    for pair in set(exact) & set(lsh):
        assert exact[pair] == lsh[pair]


def test_bitext_lsh_multi_table_collision_dedup(spark):
    """A pair colliding in all n_tables tables must appear once, with
    margin computed over DISTINCT targets (runner-up is the second
    target, not the same pair again)."""
    dim = 8
    base = _det_unit("solo", dim)
    src = spark.createDataFrame([(100, base)], ["vec_id", "embedding"])
    tgt = spark.createDataFrame(
        [(0, base), (1, _perturb(base, "off", 0.6))],
        ["vec_id", "embedding"],
    )
    out = bitext_margin_mine_lsh(
        src, tgt, dim=dim, min_sim=0.5, min_margin=0.01,
        n_planes=2, n_tables=4,
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.src_id, r.tgt_id, r.sim) == (100, 0, 1.0)
    # margin must reflect target 1 as runner-up IF it shares a bucket;
    # either way it is < the single-candidate margin of sim - (-1)
    assert r.margin <= 2.0


def test_bitext_lsh_empty_sides(spark):
    dim = 8
    empty = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    one = spark.createDataFrame(
        [(0, _det_unit("x", dim))], ["vec_id", "embedding"]
    )
    assert bitext_margin_mine_lsh(empty, one, dim=dim).count() == 0
    assert bitext_margin_mine_lsh(one, empty, dim=dim).count() == 0


# ---------------------------------------------------------------------------
# knn_graph — all-vectors top-k neighbor graph (LSH-banded, oracle-exact)
# ---------------------------------------------------------------------------

from navigator_document_parser_spark.operators.similarity import knn_graph  # noqa: E402


@pytest.fixture(scope="module")
def graph_corpus(spark):
    dim = 16
    rows = [(i, _det_unit(f"g:{i}", dim)) for i in range(60)]
    # plant 10 near-duplicate pairs so some top-1 sims are ~1
    rows += [(1000 + i, _perturb(_det_unit(f"g:{i}", dim), f"gn:{i}", 0.03))
             for i in range(10)]
    return dim, spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_knn_graph_invariants(graph_corpus):
    dim, emb = graph_corpus
    out = knn_graph(emb, dim=dim, k=4, n_planes=3, n_tables=4).collect()
    per_src = {}
    for r in out:
        assert r.src_id != r.nbr_id
        per_src.setdefault(r.src_id, []).append(r)
    for src, rs in per_src.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 4
        # sim non-increasing; ties broken nbr-ascending
        for a, b in zip(rs, rs[1:]):
            assert (a.sim, -a.nbr_id) >= (b.sim, -b.nbr_id) or a.sim > b.sim
            if a.sim == b.sim:
                assert a.nbr_id < b.nbr_id


def test_knn_graph_sims_are_4dp_cosine(graph_corpus):
    """Emitted sims must equal the 4dp cosine computed independently."""
    dim, emb = graph_corpus
    vecs = {r.vec_id: r.embedding for r in emb.collect()}
    out = knn_graph(emb, dim=dim, k=3, n_planes=3, n_tables=4).collect()
    assert out
    for r in out:
        a, b = vecs[r.src_id], vecs[r.nbr_id]
        dot = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        assert r.sim == pytest.approx(round(dot / (na * nb), 4), abs=1e-12)


def test_knn_graph_prefix_consistent_across_k(graph_corpus):
    """rank<=2 slice of the k=5 graph must equal the k=2 graph — the
    in-block prune (kth-best - 2e-4 cut) may never change what survives
    at smaller ranks."""
    dim, emb = graph_corpus
    k5 = {(r.src_id, r.rank): (r.nbr_id, r.sim)
          for r in knn_graph(emb, dim=dim, k=5, n_planes=3,
                             n_tables=4).collect()}
    k2 = {(r.src_id, r.rank): (r.nbr_id, r.sim)
          for r in knn_graph(emb, dim=dim, k=2, n_planes=3,
                             n_tables=4).collect()}
    assert k2 == {key: v for key, v in k5.items() if key[1] <= 2}


def test_knn_graph_chunked_matmul_invariant(graph_corpus, monkeypatch):
    """7-row chunks (forces many partial gram blocks) == default."""
    from navigator_document_parser_spark.operators import similarity

    dim, emb = graph_corpus
    a = sorted((r.src_id, r.rank, r.nbr_id, r.sim) for r in knn_graph(
        emb, dim=dim, k=3, n_planes=3, n_tables=4).collect())
    monkeypatch.setattr(similarity, "KNN_GRAPH_CHUNK_ROWS", 7)
    b = sorted((r.src_id, r.rank, r.nbr_id, r.sim) for r in knn_graph(
        emb, dim=dim, k=3, n_planes=3, n_tables=4).collect())
    assert a == b


def test_knn_graph_tie_at_k_breaks_nbr_ascending(spark):
    """Six identical candidate vectors around one source: every sim is
    equal, so k=3 must pick the three smallest nbr ids at ranks 1-3."""
    dim = 8
    base = _det_unit("tie", dim)
    rows = [(0, base)] + [(i, base) for i in (7, 3, 9, 5, 11, 13)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r.rank: r.nbr_id
           for r in knn_graph(emb, dim=dim, k=3, n_planes=2,
                              n_tables=2).collect() if r.src_id == 0}
    assert out == {1: 3, 2: 5, 3: 7}


def test_knn_graph_singleton_and_empty(spark):
    dim = 8
    empty = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    assert knn_graph(empty, dim=dim, k=3).count() == 0
    one = spark.createDataFrame(
        [(0, _det_unit("solo", dim))], ["vec_id", "embedding"])
    assert knn_graph(one, dim=dim, k=3).count() == 0
