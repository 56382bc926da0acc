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


# ---- the per-graph triangle census ------------------------------------

# a K4, a triangle hanging off it, a tail; duplicate, reciprocal and
# self-loop rows; vertex 9 has nothing but a self-loop
_MESSY = [
    (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
    (3, 4), (4, 5), (5, 3), (5, 6), (6, 7),
    (0, 1), (1, 0), (2, 0), (4, 3), (2, 2), (5, 5), (9, 9),
]


def _nx_graph(edges, nodes=()):
    import networkx as nx

    G = nx.Graph()
    G.add_nodes_from(nodes)
    G.add_nodes_from(v for e in edges for v in e)
    G.add_edges_from((a, b) for a, b in edges if a != b)
    return G


def _assert_matches_networkx(res, tr_row, G):
    import networkx as nx

    per = {r["id"]: (r["triangles"], r["coefficient"]) for r in res.per_node.collect()}
    assert set(per) == set(G.nodes)
    want_cc = nx.clustering(G)
    for v, t in nx.triangles(G).items():
        assert per[v][0] == t, v
        assert per[v][1] == pytest.approx(want_cc[v], abs=1e-12), v
    n_tri = sum(nx.triangles(G).values()) // 3
    assert res.triangle_count == n_tri
    assert res.node_count == G.number_of_nodes()
    assert res.average_coefficient == pytest.approx(nx.average_clustering(G), abs=1e-12)
    assert tr_row["triangles"] == n_tri
    assert tr_row["wedges"] == sum(d * (d - 1) // 2 for _, d in G.degree())
    assert tr_row["transitivity"] == pytest.approx(nx.transitivity(G), abs=1e-12)


def test_census_self_loops_duplicates_reciprocals(spark):
    g = Graph.from_edge_list(spark, _MESSY)
    from neo4j_graph_algorithms_spark import transitivity

    res = triangle_count(g)
    _assert_matches_networkx(res, transitivity(g).first(), _nx_graph(_MESSY))


def test_census_vertex_table_with_isolated_vertices(spark):
    from neo4j_graph_algorithms_spark import transitivity

    g = Graph.from_edge_list(spark, _MESSY, vertices=range(12))
    tr = transitivity(g).first()  # builds the census first
    res = triangle_count(g)
    _assert_matches_networkx(res, tr, _nx_graph(_MESSY, range(12)))
    assert {r["id"] for r in res.per_node.filter("triangles = 0").collect()} >= {8, 9, 10, 11}


def test_census_undirected_view(spark):
    from neo4j_graph_algorithms_spark import transitivity
    from neo4j_graph_algorithms_spark.operators import triangles as T

    base = Graph.from_edge_list(spark, _MESSY)
    triangle_count(base)
    g = base.undirected()
    assert T._CENSUS.get(g) is None  # a derived graph starts without one
    res = triangle_count(g)
    _assert_matches_networkx(res, transitivity(g).first(), _nx_graph(_MESSY))


def test_census_call_order_matches_fresh_graphs(spark):
    """transitivity-then-triangle_count and the reverse, each on one
    Graph object, give what each call gives on its own fresh graph.
    transitivity first builds the totals only; triangle_count then
    builds the per-vertex table."""
    from neo4j_graph_algorithms_spark import transitivity
    from neo4j_graph_algorithms_spark.operators import triangles as T

    def make():
        return Graph.from_edge_list(spark, _MESSY, vertices=range(11))

    def rows(res):
        return sorted(tuple(r) for r in res.per_node.collect()), (
            res.triangle_count, res.node_count, res.average_coefficient)

    tc_fresh, tr_fresh = rows(triangle_count(make())), transitivity(make()).first()
    g = make()
    tr_first = transitivity(g).first()
    assert T._CENSUS[g].table is None
    assert (rows(triangle_count(g)), tr_first) == (tc_fresh, tr_fresh)
    assert T._CENSUS[g].table is not None
    h = make()
    tc_first = rows(triangle_count(h))
    assert (tc_first, transitivity(h).first()) == (tc_fresh, tr_fresh)


def test_census_is_reused_not_rebuilt(spark, monkeypatch):
    """After triangle_count, transitivity is a literal that runs no job
    until collected, and clustering_coefficients builds no wedge join."""
    import networkx as nx

    from neo4j_graph_algorithms_spark import transitivity
    from neo4j_graph_algorithms_spark.operators import triangles as T

    edges = list(nx.gnm_random_graph(30, 90, seed=5).edges())
    bare = Graph.from_edge_list(spark, edges)
    listed = Graph.from_edge_list(spark, edges, vertices=range(32))
    tc = {g: triangle_count(g) for g in (bare, listed)}

    def no_wedges(oe):
        raise AssertionError("wedge join rebuilt")

    monkeypatch.setattr(T, "_closed_wedges", no_wedges)
    tr = {}
    assert _jobs(spark, "census-tr", lambda: tr.update(row=transitivity(bare))) == 0
    assert _jobs(spark, "census-tr-collect", lambda: tr["row"].first()) <= 1
    assert tr["row"].first()["transitivity"] == pytest.approx(
        nx.transitivity(nx.Graph(edges)), abs=1e-12
    )
    cc = {}
    assert _jobs(spark, "census-cc", lambda: cc.update(df=clustering_coefficients(bare))) == 0
    for g in (bare, listed):
        got = {r["id"]: r["coefficient"] for r in clustering_coefficients(g).collect()}
        assert got == {r["id"]: r["coefficient"] for r in tc[g].per_node.collect()}


def test_census_runs_under_its_scale_guards(spark, monkeypatch):
    """Forced trigger: with the size gate at 0 and a tiny build budget the
    census and a vertex-table per_node are built with the floored
    partition count, and the session's AQE and partition settings are
    unchanged afterwards."""
    import networkx as nx

    from neo4j_graph_algorithms_spark import transitivity
    from neo4j_graph_algorithms_spark.operators import triangles as T

    G = nx.gnm_random_graph(20, 45, seed=7)
    G.add_nodes_from([20, 21])
    g = Graph.from_edge_list(spark, list(G.edges()), vertices=range(22))
    n_und = G.number_of_edges()
    monkeypatch.setattr(T, "_TRI_SMALL_EDGES", 0)
    monkeypatch.setattr(T, "_TRI_BUILD_TARGET", 48)  # floor = |E| partitions
    conf = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    before = {k: spark.conf.get(k) for k in conf}
    assert int(before["spark.sql.shuffle.partitions"]) < n_und

    res = triangle_count(g)
    assert {k: spark.conf.get(k) for k in conf} == before
    assert T._CENSUS[g].table.rdd.getNumPartitions() == n_und
    assert res.per_node.rdd.getNumPartitions() == n_und
    _assert_matches_networkx(res, transitivity(g).first(), G)
    assert {k: spark.conf.get(k) for k in conf} == before


def test_census_with_lost_blocks_is_rebuilt(spark):
    """Forced trigger for a lost executor: with the census table's
    checkpoint blocks dropped, the next triangle_count rebuilds the
    census instead of failing on the missing blocks."""
    from neo4j_graph_algorithms_spark.operators import triangles as T
    from neo4j_graph_algorithms_spark.plans.checkpoint import checkpoint_rdd_id

    g = Graph.from_edge_list(spark, _MESSY)
    first = sorted(tuple(r) for r in triangle_count(g).per_node.collect())
    lost = T._CENSUS[g].table
    rid = checkpoint_rdd_id(lost)
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        e = it.next()
        if e._1() == rid:
            e._2().unpersist(True)
    again = triangle_count(g)
    assert T._CENSUS[g].table is not lost
    assert sorted(tuple(r) for r in again.per_node.collect()) == first
