"""Triangle count / clustering coefficient vs fixtures F6/F7."""

import pytest

from neo4j_graph_algorithms_spark import (
    Graph,
    clustering_coefficients,
    triangle_count,
    triangle_stream,
)
from neo4j_graph_algorithms_spark import fixtures as FX


@pytest.fixture(scope="module")
def f6(spark):
    return Graph.from_edge_list(spark, FX.TRI_EDGES, vertices=FX.TRI_IDS.values())


def test_triangle_count_f6(spark, f6):
    res = triangle_count(f6)
    assert res.triangle_count == 3
    assert res.node_count == 9
    per = {r["id"]: r["triangles"] for r in res.per_node.collect()}
    assert per == {i: 1 for i in range(9)}


def test_triangle_stream_f6(spark, f6):
    rows = triangle_stream(f6).collect()
    got = [set((r["a"], r["b"], r["c"])) for r in rows]
    want = [set(FX.TRI_IDS[n] for n in t) for t in FX.TRI_TRIANGLES_NAMED]
    assert len(got) == 3
    for t in want:
        assert t in got


def test_clustering_coefficient_f7(spark):
    g = Graph.from_edge_list(
        spark,
        FX.named_edges_to_ids(FX.CC_EDGES, FX.CC_IDS),
        vertices=FX.CC_IDS.values(),
    )
    res = triangle_count(g)
    per = {r["id"]: r["coefficient"] for r in res.per_node.collect()}
    for name, want in FX.CC_EXPECTED.items():
        assert per[FX.CC_IDS[name]] == pytest.approx(want, abs=1e-6), name
    assert res.average_coefficient == pytest.approx(FX.CC_EXPECTED_AVG, abs=0.01)


def test_triangles_direction_and_duplicates_ignored(spark):
    # same triangle given twice with mixed directions counts once
    g = Graph.from_edge_list(
        spark, [(0, 1), (1, 0), (1, 2), (2, 0), (0, 2)], vertices=[0, 1, 2]
    )
    res = triangle_count(g)
    assert res.triangle_count == 1
    per = {r["id"]: r["triangles"] for r in res.per_node.collect()}
    assert per == {0: 1, 1: 1, 2: 1}


def test_no_triangles(spark):
    g = Graph.from_edge_list(spark, [(0, 1), (1, 2)], vertices=[0, 1, 2])
    res = triangle_count(g)
    assert res.triangle_count == 0
    assert res.average_coefficient == 0.0


def test_transitivity_matches_networkx(spark):
    import networkx as nx

    from neo4j_graph_algorithms_spark import Graph
    from neo4j_graph_algorithms_spark.operators import transitivity

    G = nx.gnm_random_graph(60, 180, seed=21)
    g = Graph.from_edge_list(spark, list(G.edges()), vertices=range(60))
    row = transitivity(g).collect()[0]
    assert row["transitivity"] == pytest.approx(nx.transitivity(G), abs=1e-12)
    assert row["triangles"] == sum(nx.triangles(G).values()) // 3
    # wedge-free graph -> 0.0
    g2 = Graph.from_edge_list(spark, [(0, 1)], vertices=[0, 1])
    row2 = transitivity(g2).collect()[0]
    assert row2["transitivity"] == 0.0 and row2["wedges"] == 0


def test_doulion_estimate_replays_md5_coins(spark):
    """doulion_estimate matches a brute-force twin: identical md5 edge
    coins, triangle count on the sparsified graph, x 1/p^3."""
    import hashlib
    from itertools import combinations

    from neo4j_graph_algorithms_spark import doulion_estimate

    # clique K7 + an 8-cycle tail: 35 triangles in the clique, 0 in the tail
    edges = list(combinations(range(7), 2)) + [
        (7 + i, 7 + (i + 1) % 8) for i in range(8)
    ]
    g = Graph.from_edge_list(spark, edges)
    p = 0.5
    row = doulion_estimate(g, p=p).first()

    def coin(a, b):
        h = hashlib.md5(f"{a}:{b}:doulion".encode()).hexdigest()[:15]
        return int(h, 16) % 1_000_000 < p * 1_000_000

    kept = {(a, b) for a, b in ((min(e), max(e)) for e in edges) if coin(a, b)}
    tris = sum(
        1
        for a, b, c in combinations(sorted({v for e in kept for v in e}), 3)
        if (a, b) in kept and (b, c) in kept and (a, c) in kept
    )
    assert row["sampled_edges"] == len(kept)
    assert row["sampled_triangles"] == tris
    assert row["est_triangles"] == pytest.approx(tris / p**3)


def test_doulion_p1_is_exact(spark):
    from itertools import combinations

    from neo4j_graph_algorithms_spark import doulion_estimate

    edges = list(combinations(range(6), 2))  # K6: 20 triangles
    g = Graph.from_edge_list(spark, edges)
    row = doulion_estimate(g, p=1.0).first()
    assert row["sampled_edges"] == 15
    assert row["sampled_triangles"] == 20
    assert row["est_triangles"] == pytest.approx(20.0)


def test_triangle_stream_runs_under_its_scale_guards(spark, monkeypatch):
    """Forced trigger: with the size gate at 0 and a tiny build budget
    the guards suspend AQE and floor shuffle partitions; the returned
    triangle set was computed under them (it has the floored partition
    count) and the caller's session conf is unchanged afterwards.
    doulion_estimate goes through triangle_stream and inherits this."""
    import itertools

    import networkx as nx

    from neo4j_graph_algorithms_spark import doulion_estimate
    from neo4j_graph_algorithms_spark.operators import triangles as T

    G = nx.gnm_random_graph(40, 160, seed=3)
    g = Graph.from_edge_list(spark, list(G.edges()), vertices=range(40))
    n_und = G.number_of_edges()
    monkeypatch.setattr(T, "_TRI_SMALL_EDGES", 0)
    monkeypatch.setattr(T, "_TRI_BUILD_TARGET", 48)  # floor = |E| partitions
    conf = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    before = {k: spark.conf.get(k) for k in conf}
    assert int(before["spark.sql.shuffle.partitions"]) < n_und

    tri = T.triangle_stream(g)
    assert {k: spark.conf.get(k) for k in conf} == before
    assert tri.rdd.getNumPartitions() == n_und
    want = sorted(
        tuple(sorted(c))
        for c in itertools.combinations(range(40), 3)
        if all(G.has_edge(a, b) for a, b in itertools.combinations(c, 2))
    )
    assert sorted(tuple(r) for r in tri.collect()) == want

    est = doulion_estimate(g, p=1.0).first()
    assert est["sampled_triangles"] == len(want)
    assert {k: spark.conf.get(k) for k in conf} == before


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_transitivity_builds_no_vertex_table(spark):
    """transitivity never reads a vertex table, so on a graph without one
    it runs no ``distinct`` job to build it: the same jobs as on the same
    edges with a vertex table."""
    import networkx as nx

    from neo4j_graph_algorithms_spark.operators import transitivity

    edges = list(nx.gnm_random_graph(30, 90, seed=5).edges())
    bare = Graph.from_edge_list(spark, edges)
    listed = Graph.from_edge_list(spark, edges, vertices={v for e in edges for v in e})
    n_bare = _jobs(spark, "tr-bare", lambda: transitivity(bare).first())
    n_listed = _jobs(spark, "tr-listed", lambda: transitivity(listed).first())
    assert n_bare == n_listed
