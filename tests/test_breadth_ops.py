"""Louvain, SSSP, closeness/harmonic, SCC, MST, betweenness — reference
fixtures + networkx cross-checks."""

import pytest

networkx = pytest.importorskip("networkx")
import networkx as nx  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from neo4j_graph_algorithms_spark import Graph  # noqa: E402
from neo4j_graph_algorithms_spark.operators import (  # noqa: E402
    all_shortest_paths_unweighted,
    betweenness_centrality,
    closeness_centrality,
    harmonic_centrality,
    louvain,
    minimum_spanning_forest,
    mst,
    scc,
    shortest_path,
    shortest_path_nodes,
    shortest_paths,
)

# Louvain fixture from LouvainTest.java:60-87 — two 4-cliques + weighted
# bridge + isolated z; ids in creation order a..h,z = 0..8.
LOUVAIN_EDGES = [
    (0, 1), (0, 2), (0, 3), (2, 3), (2, 1), (1, 3),
    (4, 5), (4, 6), (4, 7), (5, 7), (5, 6), (6, 7),
    (4, 1),
]


def test_louvain_two_cliques(spark):
    g = Graph.from_edge_list(spark, LOUVAIN_EDGES, vertices=range(9)).undirected()
    res = louvain(g, max_iterations=20, compute_community_count=True)
    comm = {r["id"]: r["community"] for r in res.communities.collect()}
    assert res.did_converge
    # abcd one community, efgh another, disjoint; z alone
    assert len({comm[i] for i in (0, 1, 2, 3)}) == 1
    assert len({comm[i] for i in (4, 5, 6, 7)}) == 1


def test_louvain_batched_check_interval(spark):
    """check_interval=k: the moved/wants aggregate runs at batch
    boundaries only; assignments are identical (fixpoint supersteps
    are no-ops) and convergence detection is delayed by < k."""
    g = Graph.from_edge_list(spark, LOUVAIN_EDGES, vertices=range(9)).undirected()
    exact = louvain(g, max_iterations=20)
    batched = louvain(g, max_iterations=20, check_interval=4)
    ce = {r["id"]: r["community"] for r in exact.communities.collect()}
    cb = {r["id"]: r["community"] for r in batched.communities.collect()}
    assert ce == cb
    assert batched.did_converge
    assert exact.iterations_ran <= batched.iterations_ran < exact.iterations_ran + 4


def test_louvain_multilevel_improves_cycle(spark):
    """Multi-level (coarsening) mode: on a long cycle, single-level
    Louvain gets stuck at small segments; contracting and rerunning
    merges them into larger arcs with strictly better modularity.
    On an already-optimal partition (ring of cliques), level 2 must
    decline to merge and the level loop must early-exit."""
    G = nx.cycle_graph(60)
    g = Graph.from_edge_list(spark, list(G.edges()), vertices=G.nodes).undirected()

    def q_of(res):
        groups = {}
        for r in res.communities.collect():
            groups.setdefault(r["community"], set()).add(r["id"])
        return nx.algorithms.community.modularity(G, groups.values())

    q1 = q_of(louvain(g, max_iterations=10, levels=1))
    multi = louvain(g, max_iterations=10, levels=4)
    assert multi.levels_ran > 1
    assert q_of(multi) > q1 + 0.05

    R = nx.ring_of_cliques(12, 6)
    rg = Graph.from_edge_list(spark, list(R.edges()), vertices=R.nodes).undirected()
    opt = louvain(rg, max_iterations=10, levels=3)
    assert opt.levels_ran == 2  # level 2 moved nothing -> early exit
    assert opt.communities.select("community").distinct().count() == 12


def test_louvain_modularity_quantitative(spark):
    """Rows-only driver entry gets its quantitative check here: the
    modularity of the produced partition must reach the known optimum
    of the LouvainTest.java fixture (two 4-cliques + bridge)."""
    g = Graph.from_edge_list(spark, LOUVAIN_EDGES, vertices=range(9)).undirected()
    res = louvain(g, max_iterations=20)
    comm = {r["id"]: r["community"] for r in res.communities.collect()}
    G = nx.Graph()
    G.add_nodes_from(range(9))
    G.add_edges_from(LOUVAIN_EDGES)
    groups = {}
    for node, c in comm.items():
        groups.setdefault(c, set()).add(node)
    got_q = nx.algorithms.community.modularity(G, groups.values())
    best_q = nx.algorithms.community.modularity(
        G, [{0, 1, 2, 3}, {4, 5, 6, 7}, {8}]
    )
    assert got_q >= best_q - 1e-9
    assert comm[0] != comm[4]
    assert comm[8] not in (comm[0], comm[4])


SSSP_EDGES = [
    (0, 1, 2.0), (0, 2, 5.0), (1, 2, 1.0), (1, 3, 4.0),
    (2, 3, 1.0), (3, 4, 3.0), (5, 6, 1.0),
]


@pytest.fixture(scope="module")
def sssp_graph(spark):
    return Graph.from_edge_list(spark, SSSP_EDGES, vertices=range(7))


def _nx_digraph(edges):
    G = nx.DiGraph()
    for s, t, *w in edges:
        G.add_edge(s, t, weight=w[0] if w else 1.0)
    return G


def test_sssp_matches_dijkstra(spark, sssp_graph):
    got = {r["id"]: r["distance"] for r in shortest_paths(sssp_graph, 0).distances.collect()}
    want = nx.single_source_dijkstra_path_length(_nx_digraph(SSSP_EDGES), 0)
    for v in range(7):
        if v in want:
            assert got[v] == pytest.approx(want[v], abs=1e-9), v
        else:
            assert got[v] == float("inf"), v


def test_sssp_delta_stepping_same_result(spark, sssp_graph):
    plain = {r["id"]: r["distance"] for r in shortest_paths(sssp_graph, 0).distances.collect()}
    delta = {
        r["id"]: r["distance"]
        for r in shortest_paths(sssp_graph, 0, delta=2.0).distances.collect()
    }
    assert plain == delta


def test_sssp_delta_stepping_deferred_bucket_not_dropped(spark):
    # Vertex 1 enters the frontier at d=10 (bucket 5) while bucket 0 is
    # still open, and is never improved afterwards — a buggy delta loop
    # that drops out-of-bucket frontier rows would never relax 1→2.
    edges = [(0, 1, 10.0), (1, 2, 1.0), (0, 3, 1.0)]
    g = Graph.from_edge_list(spark, edges, vertices=range(4))
    got = {r["id"]: r["distance"] for r in shortest_paths(g, 0, delta=2.0).distances.collect()}
    assert got == {0: 0.0, 1: 10.0, 2: 11.0, 3: 1.0}


def test_point_to_point(spark, sssp_graph):
    assert shortest_path(sssp_graph, 0, 4) == pytest.approx(7.0)
    assert shortest_path(sssp_graph, 0, 6) == float("inf")


def test_shortest_path_nodes_matches_dijkstra_path(spark, sssp_graph):
    rows = shortest_path_nodes(sssp_graph, 0, 4).orderBy("step").collect()
    got = [r["node_id"] for r in rows]
    assert got == nx.dijkstra_path(_nx_digraph(SSSP_EDGES), 0, 4)
    # per-node cumulative cost matches the distance map
    want_d = nx.single_source_dijkstra_path_length(_nx_digraph(SSSP_EDGES), 0)
    for r in rows:
        assert r["cost"] == pytest.approx(want_d[r["node_id"]], abs=1e-9)
    assert [r["step"] for r in rows] == list(range(len(rows)))


def test_shortest_path_nodes_unreachable_and_trivial(spark, sssp_graph):
    assert shortest_path_nodes(sssp_graph, 0, 6).count() == 0
    triv = shortest_path_nodes(sssp_graph, 0, 0).collect()
    assert [(r["step"], r["node_id"], r["cost"]) for r in triv] == [(0, 0, 0.0)]


CENT_EDGES = [(0, 1), (1, 2), (2, 3), (1, 4)]


def test_closeness_matches_networkx(spark):
    g = Graph.from_edge_list(spark, CENT_EDGES, vertices=range(5))
    got = {r["id"]: r["centrality"] for r in closeness_centrality(g).centrality.collect()}
    G = nx.Graph(CENT_EDGES)
    want = nx.closeness_centrality(G)
    for v in range(5):
        assert got[v] == pytest.approx(want[v], abs=1e-9), v


def test_harmonic_matches_networkx(spark):
    g = Graph.from_edge_list(spark, CENT_EDGES, vertices=range(5))
    got = {r["id"]: r["centrality"] for r in harmonic_centrality(g).centrality.collect()}
    G = nx.Graph(CENT_EDGES)
    want = nx.harmonic_centrality(G)  # unnormalized
    n = 5
    for v in range(5):
        assert got[v] == pytest.approx(want[v] / (n - 1), abs=1e-9), v


def test_all_shortest_paths_unweighted(spark):
    g = Graph.from_edge_list(spark, CENT_EDGES, vertices=range(5))
    rows = all_shortest_paths_unweighted(g).collect()
    got = {(r["source"], r["target"]): r["distance"] for r in rows}
    want = dict(nx.all_pairs_shortest_path_length(nx.Graph(CENT_EDGES)))
    for s in range(5):
        for t in range(5):
            assert got[(s, t)] == pytest.approx(float(want[s][t])), (s, t)


SCC_EDGES = [
    (0, 1), (1, 2), (2, 0),          # scc {0,1,2}
    (2, 3), (3, 4), (4, 3),          # scc {3,4}
    (4, 5),                          # scc {5}
    (6, 6),                          # self loop → {6}
]


def test_scc_matches_networkx(spark):
    g = Graph.from_edge_list(spark, SCC_EDGES, vertices=range(7))
    res = scc(g)
    got = {r["id"]: r["scc_id"] for r in res.components.collect()}
    want = list(nx.strongly_connected_components(_nx_digraph(SCC_EDGES)))
    # same partition: nodes grouped identically
    for comp in want:
        ids = {got[v] for v in comp}
        assert len(ids) == 1, comp
    assert len({got[v] for v in range(7)}) == len(want)
    # the trim phase peeled {5} and {6}... in fact every singleton
    assert any(m.get("mode") == "trim" for m in res.metrics)


def test_scc_trim_peels_sparse_digraph(spark):
    # sparse random digraph: most vertices are in singleton SCCs, so
    # the iterated trim phase must remove the bulk before FW-BW runs —
    # and the partition must be identical with and without trim
    gnx = nx.gnm_random_graph(120, 150, seed=11, directed=True)
    g = Graph.from_edge_list(spark, list(gnx.edges()), vertices=range(120))
    res = scc(g)
    res_notrim = scc(g, trim=False)
    want = list(nx.strongly_connected_components(gnx))
    for got in (
        {r["id"]: r["scc_id"] for r in res.components.collect()},
        {r["id"]: r["scc_id"] for r in res_notrim.components.collect()},
    ):
        for comp in want:
            assert len({got[v] for v in comp}) == 1, comp
        assert len(set(got.values())) == len(want)
    trim_assigned = sum(
        m["assigned"] for m in res.metrics if m.get("mode") == "trim"
    )
    assert trim_assigned >= 80  # the bulk fell to the degree filter
    fwbw_rounds = sum(1 for m in res.metrics if m.get("mode") != "trim")
    fwbw_rounds_notrim = sum(1 for m in res_notrim.metrics)
    assert fwbw_rounds <= fwbw_rounds_notrim


MST_EDGES = [
    (0, 1, 1.0), (1, 2, 2.0), (0, 2, 3.0),
    (2, 3, 4.0), (3, 4, 1.0), (2, 4, 6.0),
    (5, 6, 1.0),
]


def test_msf_matches_networkx(spark):
    g = Graph.from_edge_list(spark, MST_EDGES, vertices=range(7))
    res = minimum_spanning_forest(g)
    G = nx.Graph()
    for s, t, w in MST_EDGES:
        G.add_edge(s, t, weight=w)
    want_total = sum(
        d["weight"] for _, _, d in nx.minimum_spanning_edges(G, data=True)
    )
    assert res.total_weight == pytest.approx(want_total)
    assert res.edges.count() == 5  # n - #components = 7 - 2


def test_mst_from_start_node(spark):
    g = Graph.from_edge_list(spark, MST_EDGES, vertices=range(7))
    res = mst(g, start_node=0)
    # only the component containing 0: weight 1+2+4+1 = 8, 4 edges
    assert res.total_weight == pytest.approx(8.0)
    assert res.edges.count() == 4


BC_EDGES = [(0, 1), (1, 2), (2, 3), (1, 4), (4, 2)]


def test_betweenness_exact_matches_networkx(spark):
    g = Graph.from_edge_list(spark, BC_EDGES, vertices=range(5))
    got = {r["id"]: r["centrality"] for r in betweenness_centrality(g).centrality.collect()}
    want = nx.betweenness_centrality(_nx_digraph(BC_EDGES), normalized=False)
    for v in range(5):
        assert got[v] == pytest.approx(want[v], abs=1e-9), v


def test_betweenness_sampled_scales(spark):
    g = Graph.from_edge_list(spark, BC_EDGES, vertices=range(5))
    res = betweenness_centrality(g, sample=[0, 1, 2, 3, 4])
    exact = betweenness_centrality(g)
    a = {r["id"]: r["centrality"] for r in res.centrality.collect()}
    b = {r["id"]: r["centrality"] for r in exact.centrality.collect()}
    for v in range(5):
        assert a[v] == pytest.approx(b[v], abs=1e-9)


def test_iter_source_batches_streams_without_collect(spark):
    """Exact-mode source feed: 1M-vertex table, batches stream via
    toLocalIterator — consuming the first few batches must not require
    materializing the full id list driver-side."""
    from neo4j_graph_algorithms_spark.operators.msbfs import iter_source_batches

    big = spark.range(1_000_000).select(F.col("id"))
    gen = iter_source_batches(big, None, 62)
    first = next(gen)
    second = next(gen)
    assert len(first) == 62 and len(second) == 62
    assert first[0] == 0 and second[0] == 62
    # sample mode slices the provided list verbatim
    batches = list(iter_source_batches(big, [5, 6, 7], 2))
    assert batches == [[5, 6], [7]]


def test_exact_mode_centrality_uses_streamed_sources(spark):
    """closeness with sample=None must run through the streamed feed
    and still match networkx on the fixture."""
    g = Graph.from_edge_list(spark, CENT_EDGES, vertices=range(5)).undirected()
    res = closeness_centrality(g, sample=None)
    assert res.sources_used == 5
    got = {r["id"]: r["centrality"] for r in res.centrality.collect()}
    G = nx.Graph(CENT_EDGES)
    want = nx.closeness_centrality(G)
    for v in range(5):
        assert got[v] == pytest.approx(want[v], abs=1e-9)


LP_SIM_EDGES = [(0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (0, 4), (5, 6)]


def test_neighbor_similarity_matches_networkx(spark):
    from neo4j_graph_algorithms_spark.operators import neighbor_similarity

    g = Graph.from_edge_list(spark, LP_SIM_EDGES, vertices=range(7))
    G = nx.Graph(LP_SIM_EDGES)
    got_j = {(r["id_a"], r["id_b"]): (r["common"], r["score"])
             for r in neighbor_similarity(g, "jaccard").collect()}
    got_aa = {(r["id_a"], r["id_b"]): r["score"]
              for r in neighbor_similarity(g, "adamic_adar").collect()}
    # pairs emitted = pairs sharing >= 1 neighbor
    import itertools
    expect_pairs = {
        (a, b) for a, b in itertools.combinations(range(7), 2)
        if set(G[a]) & set(G[b])
    }
    assert set(got_j) == expect_pairs
    for (a, b), (common, score) in got_j.items():
        inter = set(G[a]) & set(G[b])
        union = set(G[a]) | set(G[b])
        assert common == len(inter), (a, b)
        assert score == pytest.approx(len(inter) / len(union), abs=1e-6), (a, b)
    for (a, b), score in got_aa.items():
        _, _, want = next(iter(nx.adamic_adar_index(G, [(a, b)])))
        assert score == pytest.approx(want, abs=1e-6), (a, b)


def test_neighbor_similarity_overlap_and_hub_pruning(spark):
    from neo4j_graph_algorithms_spark.operators import neighbor_similarity

    # star: hub 0 connects 1..5; plus 1-2 edge
    edges = [(0, i) for i in range(1, 6)] + [(1, 2)]
    g = Graph.from_edge_list(spark, edges, vertices=range(6))
    full = {(r["id_a"], r["id_b"]): r["common"]
            for r in neighbor_similarity(g, "overlap").collect()}
    assert full[(1, 2)] == 1          # via hub 0 only
    # pruning the hub removes its wedges: only 1-2's other wedges remain
    pruned = {(r["id_a"], r["id_b"]): r["common"]
              for r in neighbor_similarity(g, "overlap", max_neighbor_degree=4).collect()}
    assert (1, 2) not in pruned       # hub was the only shared neighbor
    assert (0, 1) in pruned and pruned[(0, 1)] == 1   # shared neighbor 2 (deg 2)


KCORE_EDGES = [
    (0, 1), (0, 2), (1, 2),          # triangle (2-core)
    (2, 3), (3, 4),                  # tail (1-core)
    (5, 6), (5, 7), (5, 8), (6, 7), (6, 8), (7, 8),  # 4-clique (3-core)
    (8, 0),                          # bridge
]


def test_core_numbers_match_networkx(spark):
    from neo4j_graph_algorithms_spark.operators import core_numbers

    g = Graph.from_edge_list(spark, KCORE_EDGES, vertices=range(10))
    res = core_numbers(g)
    got = {r["id"]: r["core"] for r in res.core.collect()}
    G = nx.Graph(KCORE_EDGES)
    G.add_nodes_from(range(10))
    want = nx.core_number(G)
    assert got == want


def test_k_core_subgraph_matches_networkx(spark):
    from neo4j_graph_algorithms_spark.operators import k_core

    g = Graph.from_edge_list(spark, KCORE_EDGES, vertices=range(10))
    for k in (1, 2, 3, 4):
        res = k_core(g, k)
        got_v = {r["id"] for r in res.vertices.collect()}
        want = set(nx.k_core(nx.Graph(KCORE_EDGES), k).nodes())
        assert got_v == want, k


def test_kcore_batched_check_interval(spark):
    """check_interval batches the fixpoint test for both peeling and
    the h-operator; no-op rounds past the fixpoint leave the results
    identical (peeling is monotone; a no-change h-step is absorbing)."""
    from neo4j_graph_algorithms_spark.operators import core_numbers, k_core

    g = Graph.from_edge_list(spark, KCORE_EDGES, vertices=range(10))
    e = core_numbers(g)
    b = core_numbers(g, check_interval=4)
    assert {r["id"]: r["core"] for r in e.core.collect()} == {
        r["id"]: r["core"] for r in b.core.collect()
    }
    assert e.iterations_ran <= b.iterations_ran < e.iterations_ran + 4
    ek = {r["id"] for r in k_core(g, 3).vertices.collect()}
    bk = {r["id"] for r in k_core(g, 3, check_interval=4).vertices.collect()}
    assert ek == bk


def test_random_walks_deterministic_and_valid(spark):
    from neo4j_graph_algorithms_spark.operators import random_walks

    edges = [(0, 1), (1, 2), (2, 3), (3, 0), (2, 4)]
    g = Graph.from_edge_list(spark, edges, vertices=range(5))
    res = random_walks(g, walk_length=6, walks_per_node=2, seed=7)
    rows = res.steps.collect()
    a = {(r["walk_id"], r["step"]): r["vertex"] for r in rows}
    # every step follows an undirected edge
    und = {(s, t) for s, t in edges} | {(t, s) for s, t in edges}
    for (wid, st), v in a.items():
        if st == 0:
            assert v == wid // 2
        else:
            assert (a[(wid, st - 1)], v) in und, (wid, st)
    # full length (no dead ends in this connected graph)
    assert len(rows) == 5 * 2 * 7
    # bit-for-bit reproducible
    b = {(r["walk_id"], r["step"]): r["vertex"]
         for r in random_walks(g, walk_length=6, walks_per_node=2, seed=7).steps.collect()}
    assert a == b
    # a different seed gives a different corpus
    c = {(r["walk_id"], r["step"]): r["vertex"]
         for r in random_walks(g, walk_length=6, walks_per_node=2, seed=8).steps.collect()}
    assert a != c


def test_random_walks_dead_end_terminates(spark):
    from neo4j_graph_algorithms_spark.operators import random_walks

    # directed chain with a sink: walks stop at 2
    g = Graph.from_edge_list(spark, [(0, 1), (1, 2)], vertices=range(3))
    res = random_walks(g, walk_length=5, direction_both=False)
    per_walk = {}
    for r in res.steps.collect():
        per_walk.setdefault(r["walk_id"], []).append((r["step"], r["vertex"]))
    assert sorted(per_walk[0]) == [(0, 0), (1, 1), (2, 2)]
    assert sorted(per_walk[2]) == [(0, 2)]


def test_betweenness_max_depth_variant(spark):
    # chain 0-1-2-3-4: full BC of center 2 = 4 (pairs (0,3),(0,4),(1,3),(1,4)
    # + (0..),(..) symmetric handled by undirected counting); with
    # max_depth=1 no length-2 path exists, so all centralities are 0
    edges = [(0, 1), (1, 2), (2, 3), (3, 4)]
    g = Graph.from_edge_list(spark, edges, vertices=range(5))
    full = {r["id"]: r["centrality"]
            for r in betweenness_centrality(g, direction_both=True).centrality.collect()}
    G = nx.Graph(edges)
    want = nx.betweenness_centrality(G, normalized=False)
    for v in range(5):
        assert full[v] == pytest.approx(2 * want[v], abs=1e-9), v  # both directions counted
    capped = {r["id"]: r["centrality"]
              for r in betweenness_centrality(g, direction_both=True, max_depth=1).centrality.collect()}
    assert all(c == 0.0 for c in capped.values())


def test_node2vec_walks_match_pure_python_replay(spark):
    """The biased choice is md5-replayable: an independent pure-python
    implementation of the min-of-W-hashes scheme must reproduce every
    walk bit-for-bit."""
    import hashlib

    from neo4j_graph_algorithms_spark.operators import node2vec_walks

    edge_list = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 2), (1, 5)]
    g = Graph.from_edges(
        spark.createDataFrame(edge_list, "src long, dst long")
    )
    p_, q_, scale, seed, L = 2.0, 0.5, 4, 3, 6
    res = node2vec_walks(
        g, walk_length=L, walks_per_node=2, p=p_, q=q_,
        weight_scale=scale, seed=seed,
    )
    got = {(r["walk_id"], r["step"]): r["vertex"] for r in res.steps.collect()}

    # pure-python replay
    nb = {}
    for s, d in edge_list:
        nb.setdefault(s, set()).add(d)
        nb.setdefault(d, set()).add(s)
    nb = {k: sorted(v) for k, v in nb.items()}
    w_back = max(1, round(scale / p_))      # 2
    w_common = scale                        # 4
    w_far = max(1, round(scale / q_))       # 8

    def key(walk, step, cur, cand, w):
        return min(
            hashlib.md5(f"{seed}:{walk}:{step}:{cur}:{cand}:{i}".encode()).hexdigest()
            for i in range(w)
        )

    want = {}
    for v in nb:
        for j in range(2):
            walk = v * 2 + j
            prev, cur = None, v
            want[(walk, 0)] = cur
            for step in range(1, L + 1):
                cands = nb[cur]
                if step == 1:
                    choice = min(cands, key=lambda c: (key(walk, 1, cur, c, 1), c))
                else:
                    def w_of(c):
                        if c == prev:
                            return w_back
                        return w_common if c in nb[prev] else w_far
                    choice = min(
                        cands, key=lambda c: (key(walk, step, cur, c, w_of(c)), c)
                    )
                prev, cur = cur, choice
                want[(walk, step)] = cur
    assert got == want


def test_node2vec_bias_direction(spark):
    """Sanity on the quantized bias: low p (return-heavy) must produce
    more immediate backtracks than high p on the same graph."""
    from neo4j_graph_algorithms_spark.operators import node2vec_walks

    edges = [(i, (i + 1) % 30) for i in range(30)] + [(i, (i + 7) % 30) for i in range(30)]
    g = Graph.from_edges(spark.createDataFrame(edges, "src long, dst long"))

    def backtracks(p, q):
        res = node2vec_walks(g, walk_length=5, p=p, q=q, weight_scale=6, seed=1)
        rows = {(r["walk_id"], r["step"]): r["vertex"] for r in res.steps.collect()}
        n = 0
        for (w, s), v in rows.items():
            if s >= 2 and rows.get((w, s - 2)) == v:
                n += 1
        return n

    assert backtracks(p=0.2, q=1.0) > backtracks(p=6.0, q=1.0)


def test_modularity_matches_networkx(spark):
    import networkx as nx
    from pyspark.sql import functions as F

    from neo4j_graph_algorithms_spark import Graph
    from neo4j_graph_algorithms_spark.operators import modularity

    G = nx.gnm_random_graph(80, 200, seed=13)
    g = Graph.from_edge_list(spark, list(G.edges()), vertices=range(80))
    # arbitrary deterministic 5-way partition
    part = [set(n for n in range(80) if n % 5 == k) for k in range(5)]
    a = g.vertices.select("id", F.pmod("id", F.lit(5)).alias("community"))
    rows = modularity(g, a).collect()
    q = sum(r["contribution"] for r in rows)
    want = nx.algorithms.community.modularity(G, part)
    assert q == pytest.approx(want, abs=1e-9)
    assert len(rows) == 5


def test_conductance_matches_networkx(spark):
    import networkx as nx
    from pyspark.sql import functions as F

    from neo4j_graph_algorithms_spark import Graph
    from neo4j_graph_algorithms_spark.operators import conductance

    G = nx.gnm_random_graph(80, 200, seed=13)
    g = Graph.from_edge_list(spark, list(G.edges()), vertices=range(80))
    a = g.vertices.select("id", F.pmod("id", F.lit(5)).alias("community"))
    rows = {r["community"]: r for r in conductance(g, a).collect()}
    assert len(rows) == 5
    for k in range(5):
        S = {n for n in range(80) if n % 5 == k}
        want = nx.conductance(G, S)  # cut / min(vol(S), vol(V−S))
        assert rows[k]["conductance"] == pytest.approx(want, abs=1e-9)
        assert rows[k]["cut_weight"] == nx.cut_size(G, S)
        assert rows[k]["volume"] == nx.volume(G, S)


def test_k1coloring_proper_and_deterministic(spark):
    import networkx as nx

    from neo4j_graph_algorithms_spark import Graph
    from neo4j_graph_algorithms_spark.operators import k1coloring

    G = nx.gnm_random_graph(120, 400, seed=7)
    g = Graph.from_edge_list(spark, list(G.edges()), vertices=range(120))
    res = k1coloring(g, compute_color_count=True)
    colors = {r["id"]: r["color"] for r in res.colors.collect()}
    assert set(colors) == set(range(120))
    # proper: no edge joins equal colors
    for u, v in G.edges():
        assert colors[u] != colors[v], (u, v)
    # palette bound: k <= max degree + 1
    assert res.color_count <= max(d for _, d in G.degree()) + 1
    # deterministic across runs and parallelism
    colors2 = {r["id"]: r["color"] for r in k1coloring(g).colors.collect()}
    assert colors2 == colors


def test_k1coloring_shapes(spark):
    from neo4j_graph_algorithms_spark import Graph
    from neo4j_graph_algorithms_spark.operators import k1coloring

    # triangle needs 3 colors; isolated vertex gets color 0
    g = Graph.from_edge_list(spark, [(0, 1), (1, 2), (2, 0)], vertices=[0, 1, 2, 9])
    res = k1coloring(g, compute_color_count=True)
    got = {r["id"]: r["color"] for r in res.colors.collect()}
    assert sorted(got[i] for i in (0, 1, 2)) == [0, 1, 2]
    assert got[9] == 0
    # path: proper, and within the greedy Delta+1 bound (JP is a
    # heuristic — it does not promise the chromatic number)
    g2 = Graph.from_edge_list(spark, [(0, 1), (1, 2), (2, 3)])
    res2 = k1coloring(g2, compute_color_count=True)
    got2 = {r["id"]: r["color"] for r in res2.colors.collect()}
    assert got2[0] != got2[1] != got2[2] != got2[3]
    assert res2.color_count <= 3


def test_topological_levels_matches_networkx(spark):
    import networkx as nx

    from neo4j_graph_algorithms_spark import Graph
    from neo4j_graph_algorithms_spark.operators import topological_levels

    G = nx.gnm_random_graph(60, 150, seed=11, directed=True)
    dag_edges = [(u, v) for u, v in G.edges() if u < v]  # low->high: acyclic
    g = Graph.from_edge_list(spark, dag_edges, vertices=range(60))
    res = topological_levels(g)
    got = {r["id"]: r["level"] for r in res.levels.collect()}
    # networkx DP: level(v) = longest path ending at v
    D = nx.DiGraph()
    D.add_nodes_from(range(60))
    D.add_edges_from(dag_edges)
    want = {v: 0 for v in D.nodes()}
    for v in nx.topological_sort(D):
        for u in D.predecessors(v):
            want[v] = max(want[v], want[u] + 1)
    assert got == want
    assert res.max_level == max(want.values())
    # a topological order: every edge goes to a strictly higher level
    for u, v in dag_edges:
        assert got[u] < got[v]


def test_condensation_matches_networkx_and_feeds_topo(spark):
    import networkx as nx

    from neo4j_graph_algorithms_spark import Graph
    from neo4j_graph_algorithms_spark.operators import (
        condensation,
        topological_levels,
    )

    G = nx.gnm_random_graph(40, 120, seed=9, directed=True)
    g = Graph.from_edge_list(spark, list(G.edges()))
    cond = condensation(g)
    got = {(r["src"], r["dst"]): r["edge_count"] for r in cond.collect()}
    # networkx condensation (relabel its integer component ids to our
    # min-member convention)
    C = nx.condensation(G)
    min_id = {c: min(C.nodes[c]["members"]) for c in C.nodes()}
    want = {}
    for u, v in G.edges():
        cu, cv = min_id[C.graph["mapping"][u]], min_id[C.graph["mapping"][v]]
        if cu != cv:
            want[(cu, cv)] = want.get((cu, cv), 0) + 1
    assert got == want
    # quotient is a DAG: topological_levels accepts it (no cycle raise)
    if got:
        dag = Graph.from_edges(cond.select("src", "dst"))
        res = topological_levels(dag)
        lv = {r["id"]: r["level"] for r in res.levels.collect()}
        for u, v in got:
            assert lv[u] < lv[v]


def test_mis_independent_maximal_deterministic(spark):
    import networkx as nx

    from neo4j_graph_algorithms_spark import Graph
    from neo4j_graph_algorithms_spark.operators import maximal_independent_set

    G = nx.gnm_random_graph(100, 300, seed=17)
    g = Graph.from_edge_list(spark, list(G.edges()), vertices=range(100))
    res = maximal_independent_set(g, compute_set_size=True)
    got = {r["id"]: r["in_set"] for r in res.members.collect()}
    assert set(got) == set(range(100)) and all(v is not None for v in got.values())
    S = {v for v, m in got.items() if m}
    # independence: no edge inside S
    for u, v in G.edges():
        assert not (u in S and v in S), (u, v)
    # maximality: every non-member has a member neighbor
    for v in range(100):
        if v not in S:
            assert any(u in S for u in G.neighbors(v)), v
    assert res.set_size == len(S)
    # deterministic across runs
    got2 = {r["id"]: r["in_set"]
            for r in maximal_independent_set(g).members.collect()}
    assert got2 == got
    # isolated vertex always joins
    g2 = Graph.from_edge_list(spark, [(0, 1)], vertices=[0, 1, 5])
    got3 = {r["id"]: r["in_set"]
            for r in maximal_independent_set(g2).members.collect()}
    assert got3[5] is True and (got3[0] ^ got3[1])


def test_topological_levels_cycle_raises(spark):
    from neo4j_graph_algorithms_spark import Graph
    from neo4j_graph_algorithms_spark.operators import topological_levels

    g = Graph.from_edge_list(spark, [(0, 1), (1, 2), (2, 0)])
    with pytest.raises(ValueError, match="cycle"):
        topological_levels(g, max_iterations=10)


def test_conductance_degenerate_labels(spark):
    from pyspark.sql import functions as F

    from neo4j_graph_algorithms_spark import Graph
    from neo4j_graph_algorithms_spark.operators import conductance

    # one label covers the whole graph -> no boundary, NULL conductance
    g = Graph.from_edge_list(spark, [(0, 1), (1, 2), (2, 0)])
    a = g.vertices.select("id", F.lit(7).alias("community"))
    rows = conductance(g, a).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["cut_weight"] == 0.0 and r["volume"] == 6.0
    assert r["conductance"] is None


def test_butterflies_hand_graph(spark):
    from neo4j_graph_algorithms_spark import Graph
    from neo4j_graph_algorithms_spark.operators.butterflies import butterflies

    # c1,c2 both connect s10,s11 (one butterfly); c3 adds no motif
    edges = [(1, 10), (1, 11), (2, 10), (2, 11), (3, 10), (3, 12)]
    g = Graph.from_edges(spark.createDataFrame(edges, "src long, dst long"))
    res = butterflies(g)
    assert res.total == 1 and res.skipped_centers == 0
    per = {r["id"]: r["butterflies"] for r in res.per_right.collect()}
    assert per == {10: 1, 11: 1}
    # a third customer on both suppliers -> C(3,2) = 3 butterflies
    g2 = Graph.from_edges(spark.createDataFrame(
        edges + [(4, 10), (4, 11)], "src long, dst long"
    ))
    assert butterflies(g2).total == 3
    # hub cap excludes centers and reports them
    capped = butterflies(g2, max_center_degree=1)
    assert capped.total == 0 and capped.skipped_centers == 4


def test_random_walks_hub_safe_plan_and_replay(spark):
    """VERDICT r3 scale hazard: walks must not build per-vertex
    collect_list adjacency rows (a 10^7-degree hub would become one
    ~80 MB array row re-joined every step).  Checks (a) the plan of a
    walk step contains no collect_list / sort_array, and (b) on a
    hub-shaped graph (star + tail) the walks still replay the
    md5-mod-degree contract bit-for-bit."""
    import hashlib

    from neo4j_graph_algorithms_spark.operators import random_walks

    hub_edges = [(0, i) for i in range(1, 60)] + [(59, 60), (60, 61)]
    g = Graph.from_edge_list(spark, hub_edges, vertices=range(62))
    res = random_walks(g, walk_length=4, walks_per_node=1, seed=5)
    plan = res.steps._jdf.queryExecution().toString()
    assert "collect_list" not in plan and "sort_array" not in plan

    got = {(r["walk_id"], r["step"]): r["vertex"] for r in res.steps.collect()}

    nb = {}
    for s, d in hub_edges:
        nb.setdefault(s, set()).add(d)
        nb.setdefault(d, set()).add(s)
    nb = {k: sorted(v) for k, v in nb.items()}
    want = {}
    for v in range(62):
        cur = v
        want[(v, 0)] = cur
        for step in range(1, 5):
            h = int(
                hashlib.md5(f"5:{v}:{step}:{cur}".encode()).hexdigest()[:15], 16
            )
            cur = nb[cur][h % len(nb[cur])]
            want[(v, step)] = cur
    assert got == want


def test_scc_forward_backward_seed_scoped(spark):
    """Reference ForwardBackwardScc.java:46-66 — returns ONLY the SCC
    containing the seed (one node_id row per member), not the full
    partition (VERDICT r3 gap)."""
    from neo4j_graph_algorithms_spark.operators import scc_forward_backward

    g = Graph.from_edge_list(spark, SCC_EDGES, vertices=range(7))
    assert {r["node_id"] for r in scc_forward_backward(g, 1).collect()} == {0, 1, 2}
    assert {r["node_id"] for r in scc_forward_backward(g, 4).collect()} == {3, 4}
    assert {r["node_id"] for r in scc_forward_backward(g, 5).collect()} == {5}
    assert {r["node_id"] for r in scc_forward_backward(g, 6).collect()} == {6}
    # dispatchable through the reference procedure name
    from neo4j_graph_algorithms_spark.functions import call

    got = call("algo.scc.forwardBackward.stream", g, start_node=1)
    assert {r["node_id"] for r in got.collect()} == {0, 1, 2}


def test_all_shortest_paths_weighted_matches_dijkstra(spark):
    """Batched multi-source weighted APSP (AllShortestPaths.java twin):
    distances for every (source, target) pair match per-source
    Dijkstra; unreached pairs are absent; self pairs are 0."""
    from neo4j_graph_algorithms_spark.operators import all_shortest_paths_weighted

    g = Graph.from_edge_list(spark, SSSP_EDGES, vertices=range(7))
    out = all_shortest_paths_weighted(g, sources=[0, 1, 5])
    got = {
        (r["source_node_id"], r["target_node_id"]): r["distance"]
        for r in out.collect()
    }
    G = _nx_digraph(SSSP_EDGES)
    want = {}
    for s in (0, 1, 5):
        for t, d in nx.single_source_dijkstra_path_length(G, s).items():
            want[(s, t)] = d
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-12), k
    # sources=None covers every vertex
    full = all_shortest_paths_weighted(g)
    assert full.filter(F.col("source_node_id") == F.col("target_node_id")).count() == 7


def test_all_shortest_paths_weighted_delta_identical(spark):
    """The batched plain Bellman-Ford loop and per-source delta-stepping
    (``shortest_paths(delta=)``) give identical distances on a weighted
    high-diameter chain with tempting-but-wrong heavy shortcuts (the
    shape where Bellman-Ford floods speculative relaxations that are
    improved later by the cheap chain path)."""
    from neo4j_graph_algorithms_spark.operators import all_shortest_paths_weighted

    # chain 0-1-...-19 of weight-1 links + heavy shortcuts 0->k of
    # weight k+5 (each improved later by the cheap chain path)
    edges = [(i, i + 1, 1.0) for i in range(19)]
    edges += [(0, k, float(k + 5)) for k in range(5, 19, 3)]
    g = Graph.from_edge_list(spark, edges, vertices=range(20))
    batched = {
        (r["source_node_id"], r["target_node_id"]): r["distance"]
        for r in all_shortest_paths_weighted(g, sources=[0, 3]).collect()
    }
    bucketed = {
        (s, r["id"]): r["distance"]
        for s in (0, 3)
        for r in shortest_paths(g, s, delta=4.0).distances.collect()
        if r["distance"] != float("inf")
    }
    assert batched == bucketed
    assert batched[(0, 18)] == 18.0          # chain beats every shortcut


def test_all_shortest_paths_weighted_delta_metrics(spark):
    """The metrics path counts the rows each superstep relaxes without
    changing the distances."""
    from neo4j_graph_algorithms_spark.operators import all_shortest_paths_weighted

    edges = [(i, i + 1, 1.0) for i in range(9)] + [(0, 6, 9.0)]
    g = Graph.from_edge_list(spark, edges, vertices=range(10))
    plain = sorted(map(tuple, all_shortest_paths_weighted(g, sources=[0]).collect()))
    metrics = []
    got = all_shortest_paths_weighted(g, sources=[0], metrics=metrics)
    assert sorted(map(tuple, got.collect())) == plain
    assert metrics and all(m["relaxed_rows"] >= 0 for m in metrics)
    assert sum(m["relaxed_rows"] for m in metrics) >= 10  # every vertex relaxes once
