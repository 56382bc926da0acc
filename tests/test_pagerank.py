"""PageRank vs the reference's own golden fixtures (F1, F2) and
semantics guards (dangling, non-normalized, fixed iterations)."""

import pytest

from neo4j_graph_algorithms_spark import Graph, pagerank
from neo4j_graph_algorithms_spark import fixtures as FX


def _scores(result):
    return {r["id"]: r["score"] for r in result.scores.collect()}


@pytest.fixture(scope="module")
def f1_graph(spark):
    return Graph.from_edge_list(
        spark,
        FX.named_edges_to_ids(FX.PAGERANK_EDGES, FX.PAGERANK_IDS),
        vertices=FX.PAGERANK_IDS.values(),
    )


def test_pagerank_f1_golden_40(spark, f1_graph):
    res = pagerank(f1_graph, damping=0.85, max_iterations=40)
    got = _scores(res)
    assert res.iterations_ran == 40
    for name, want in FX.PAGERANK_GOLDEN_40.items():
        assert got[FX.PAGERANK_IDS[name]] == pytest.approx(want, abs=1e-2), name


def test_pagerank_f1_golden_20_defaults(spark, f1_graph):
    res = pagerank(f1_graph)  # proc defaults: d=0.85, 20 iterations
    got = _scores(res)
    for name, want in FX.PAGERANK_GOLDEN_20.items():
        assert got[FX.PAGERANK_IDS[name]] == pytest.approx(want, abs=0.1), name


def test_pagerank_f2_wiki_dangling(spark):
    g = Graph.from_edge_list(
        spark,
        FX.named_edges_to_ids(FX.WIKI_EDGES, FX.WIKI_IDS),
        vertices=FX.WIKI_IDS.values(),
    )
    res = pagerank(g, damping=0.85, max_iterations=40)
    got = _scores(res)
    for name, want in FX.WIKI_GOLDEN_40.items():
        assert got[FX.WIKI_IDS[name]] == pytest.approx(want, abs=1e-2), name


def test_pagerank_tolerance_convergence(spark, f1_graph):
    res = pagerank(f1_graph, max_iterations=200, tolerance=1e-6)
    assert res.converged
    assert res.iterations_ran < 200
    # converged scores equal the 40-iteration goldens at reference tolerance
    got = _scores(res)
    for name, want in FX.PAGERANK_GOLDEN_40.items():
        assert got[FX.PAGERANK_IDS[name]] == pytest.approx(want, abs=1e-2), name


def test_pagerank_batched_tolerance_check(spark, f1_graph):
    """tolerance_check_interval=k: convergence tested every k supersteps
    — stop may overshoot by <k supersteps, iterations_ran counts the
    supersteps actually applied, and the scores are bit-identical to a
    fixed-iteration run of that same count."""
    exact = pagerank(f1_graph, max_iterations=200, tolerance=1e-6)
    batched = pagerank(
        f1_graph, max_iterations=200, tolerance=1e-6, tolerance_check_interval=4
    )
    assert batched.converged
    assert exact.iterations_ran <= batched.iterations_ran < exact.iterations_ran + 4
    same_count = pagerank(f1_graph, max_iterations=batched.iterations_ran)
    a, b = _scores(batched), _scores(same_count)
    assert a == b  # bit-identical, not approx


def test_pagerank_reproducible_1e6(spark, f1_graph):
    a = _scores(pagerank(f1_graph, max_iterations=25))
    b = _scores(pagerank(f1_graph, max_iterations=25))
    for k in a:
        assert a[k] == pytest.approx(b[k], abs=1e-6)


def test_pagerank_isolated_vertices_keep_alpha(spark):
    g = Graph.from_edge_list(spark, [(0, 1)], vertices=[0, 1, 2])
    got = _scores(pagerank(g, max_iterations=5))
    assert got[2] == pytest.approx(0.15, abs=1e-12)
    assert got[1] == pytest.approx(0.15 + 0.85 * 0.15, abs=1e-9)


def test_pagerank_stats_yield_row(spark, f1_graph):
    from neo4j_graph_algorithms_spark import pagerank

    res = pagerank(f1_graph, max_iterations=2)
    r = res.stats().collect()[0]
    assert r["nodes"] == f1_graph.vertices.count()
    assert r["iterations"] == 2
    assert r["damping_factor"] == 0.85
    assert r["compute_millis"] >= 0


def test_pagerank_weighted_equal_weights_matches_unweighted(spark, f1_graph):
    from neo4j_graph_algorithms_spark import pagerank

    plain = pagerank(f1_graph, max_iterations=10)
    wtd = pagerank(f1_graph, max_iterations=10, weighted=True)  # all weights 1.0
    sp = {r["id"]: r["score"] for r in plain.scores.collect()}
    sw = {r["id"]: r["score"] for r in wtd.scores.collect()}
    for k in sp:
        assert sw[k] == pytest.approx(sp[k], abs=1e-12), k


def test_pagerank_personalized_unreached_stay_zero(spark):
    from neo4j_graph_algorithms_spark import Graph, pagerank

    # 0→1→2 chain plus isolated component 3→4
    g = Graph.from_edge_list(spark, [(0, 1), (1, 2), (3, 4)], vertices=range(5))
    res = pagerank(g, max_iterations=10, source_nodes=[0])
    got = {r["id"]: r["score"] for r in res.scores.collect()}
    assert got[0] == pytest.approx(0.15)
    assert got[1] == pytest.approx(0.15 * 0.85)
    assert got[2] == pytest.approx(0.15 * 0.85 * 0.85)
    assert got[3] == 0.0 and got[4] == 0.0


def test_fold_build_side_guard_identical_results(spark, f1_graph):
    """The build-side memory guard (n_part floor + MERGE fold switch —
    found by the 160M-edge criterion leg OOM) is plan-only: forcing it
    on with a tiny byte target must reproduce the unguarded scores
    exactly and restore spark.sql.shuffle.partitions afterwards."""
    import importlib

    prmod = importlib.import_module(
        "neo4j_graph_algorithms_spark.operators.pagerank"
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    base = {
        r["id"]: r["score"]
        for r in pagerank(
            f1_graph, max_iterations=20, tolerance_check_interval=8
        ).scores.collect()
    }
    saved = prmod._SHJ_BUILD_TARGET
    try:
        prmod._SHJ_BUILD_TARGET = 1024          # floor + MERGE both trigger
        guarded = {
            r["id"]: r["score"]
            for r in pagerank(
                f1_graph, max_iterations=20, tolerance_check_interval=8
            ).scores.collect()
        }
    finally:
        prmod._SHJ_BUILD_TARGET = saved
    assert guarded == base
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
