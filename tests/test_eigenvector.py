"""Eigenvector centrality + ArticleRank vs a numpy twin of the exact
documented recurrences (operators/eigenvector.py module header;
operators/pagerank.py::article_rank docstring)."""

import numpy as np
import pytest

from neo4j_graph_algorithms_spark import (
    Graph,
    article_rank,
    eigenvector_centrality,
)

EDGES = [
    (0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (4, 2), (4, 0), (1, 3),
    (5, 0), (5, 6), (6, 5), (2, 6),
]
N = 7


def _adj():
    a = np.zeros((N, N))
    for s, d in EDGES:
        a[s, d] = 1.0
    return a


@pytest.fixture(scope="module")
def graph(spark):
    return Graph.from_edges(spark.createDataFrame(EDGES, "src long, dst long"))


def _eig_twin(iters: int, interval: int) -> np.ndarray:
    a = _adj()
    x = np.ones(N)
    for k in range(1, iters + 1):
        x = a.T @ x
        if k % interval == 0 or k == iters:
            nrm = np.sqrt((x * x).sum())
            x = x / nrm if nrm > 0 else x * 0
    return x


@pytest.mark.parametrize("iters,interval", [(10, 4), (20, 4), (7, 3), (5, 1)])
def test_eigenvector_matches_numpy(spark, graph, iters, interval):
    res = eigenvector_centrality(
        graph, max_iterations=iters, check_interval=interval
    )
    got = {r["id"]: r["score"] for r in res.scores.collect()}
    want = _eig_twin(iters, interval)
    assert res.iterations_ran == iters
    for i in range(N):
        assert got[i] == pytest.approx(want[i], abs=1e-9), i


def test_eigenvector_result_is_unit_l2(spark, graph):
    res = eigenvector_centrality(graph, max_iterations=9, check_interval=4)
    scores = np.array([r["score"] for r in res.scores.collect()])
    assert np.sqrt((scores**2).sum()) == pytest.approx(1.0, abs=1e-12)


def test_eigenvector_tolerance_converges_to_dominant(spark, graph):
    res = eigenvector_centrality(
        graph, max_iterations=300, tolerance=1e-12, check_interval=4
    )
    assert res.converged
    got = {r["id"]: r["score"] for r in res.scores.collect()}
    # fixpoint check: A^T x = λ x  with  λ = ‖A^T x‖  (x unit-norm)
    x = np.array([got[i] for i in range(N)])
    y = _adj().T @ x
    lam = np.sqrt((y * y).sum())
    assert np.allclose(y, lam * x, atol=1e-6)


def test_eigenvector_source_only_vertex_scores_zero(spark):
    df = spark.createDataFrame([(0, 1), (1, 0), (2, 0)], "src long, dst long")
    res = eigenvector_centrality(Graph.from_edges(df), max_iterations=8)
    got = {r["id"]: r["score"] for r in res.scores.collect()}
    assert got[2] == 0.0  # no in-edges → 0 under A^T power iteration
    assert got[0] > 0 and got[1] > 0


def _articlerank_twin(iters: int) -> np.ndarray:
    a = _adj()
    outdeg = a.sum(axis=1)
    off = outdeg[outdeg > 0].sum() / (outdeg > 0).sum()
    x = np.full(N, 0.15)
    for _ in range(iters):
        y = np.full(N, 0.15)
        for s in range(N):
            if outdeg[s] > 0:
                y += 0.85 * a[s] * x[s] / (outdeg[s] + off)
        x = y
    return x


@pytest.mark.parametrize("iters", [1, 5, 20])
def test_article_rank_matches_numpy(spark, graph, iters):
    res = article_rank(graph, max_iterations=iters)
    got = {r["id"]: r["score"] for r in res.scores.collect()}
    want = _articlerank_twin(iters)
    for i in range(N):
        assert got[i] == pytest.approx(want[i], abs=1e-9), i


def test_article_rank_dampens_hubs_vs_pagerank(spark):
    """A low-out-degree feeder inflates its target less under
    ArticleRank than under PageRank (the +avg divisor) — the surface's
    defining property."""
    from neo4j_graph_algorithms_spark import pagerank

    edges = [(1, 0), (2, 0), (2, 3), (2, 4), (2, 5)]
    g = Graph.from_edges(spark.createDataFrame(edges, "src long, dst long"))
    pr = {r["id"]: r["score"] for r in pagerank(g, max_iterations=20).scores.collect()}
    ar = {r["id"]: r["score"] for r in article_rank(g, max_iterations=20).scores.collect()}
    # vertex 1 (outdeg 1) contributes full rank under PR, under half under AR
    assert ar[0] < pr[0]


def _hits_twin(iters: int, interval: int):
    a_mat = _adj()
    h = np.ones(N)
    a = np.ones(N)
    for k in range(1, iters + 1):
        a = a_mat.T @ h
        h = a_mat @ a
        if k % interval == 0 or k == iters:
            an = np.sqrt((a * a).sum())
            hn = np.sqrt((h * h).sum())
            a = a / an if an > 0 else a * 0
            h = h / hn if hn > 0 else h * 0
    return h, a


@pytest.mark.parametrize("iters,interval", [(8, 4), (5, 2), (3, 1)])
def test_hits_matches_numpy(spark, graph, iters, interval):
    from neo4j_graph_algorithms_spark.operators import hits

    res = hits(graph, max_iterations=iters, check_interval=interval)
    got = {r["id"]: (r["hub"], r["authority"]) for r in res.scores.collect()}
    h, a = _hits_twin(iters, interval)
    assert res.iterations_ran == iters
    for i in range(N):
        assert got[i][0] == pytest.approx(h[i], abs=1e-9), ("hub", i)
        assert got[i][1] == pytest.approx(a[i], abs=1e-9), ("authority", i)


def test_hits_bipartite_roles(spark):
    """On a directed bipartite graph, sources are pure hubs (authority
    0) and sinks pure authorities (hub 0)."""
    from neo4j_graph_algorithms_spark.operators import hits

    edges = [(0, 10), (0, 11), (1, 10), (2, 11), (2, 12)]
    g = Graph.from_edges(spark.createDataFrame(edges, "src long, dst long"))
    res = hits(g, max_iterations=8, check_interval=4)
    got = {r["id"]: (r["hub"], r["authority"]) for r in res.scores.collect()}
    for s in (0, 1, 2):
        assert got[s][0] > 0 and got[s][1] == 0.0, s
    for t in (10, 11, 12):
        assert got[t][0] == 0.0 and got[t][1] > 0, t


def test_eigenvector_weighted_matches_numpy(spark):
    wedges = [(0, 1, 2.0), (1, 2, 0.5), (2, 0, 3.0), (0, 2, 1.5), (3, 0, 1.0)]
    g = Graph.from_edge_list(spark, wedges, vertices=range(4))
    res = eigenvector_centrality(
        g, max_iterations=12, check_interval=4, weighted=True
    )
    got = {r["id"]: r["score"] for r in res.scores.collect()}
    w = np.zeros((4, 4))
    for s, d, wt in wedges:
        w[s, d] = wt
    x = np.ones(4)
    for k in range(1, 13):
        x = w.T @ x
        if k % 4 == 0 or k == 12:
            nrm = np.sqrt((x * x).sum())
            x = x / nrm if nrm > 0 else x * 0
    for i in range(4):
        assert got[i] == pytest.approx(x[i], abs=1e-9), i
