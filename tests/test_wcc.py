"""WCC vs reference fixtures F3/F4: set sizes, counts, threshold semantics."""

import pytest

from neo4j_graph_algorithms_spark import Graph, wcc
from neo4j_graph_algorithms_spark import fixtures as FX


def _sizes(result):
    return sorted(r["size"] for r in result.set_sizes().collect())


@pytest.fixture(scope="module")
def f3_graph(spark):
    return Graph.from_edge_list(
        spark,
        FX.named_edges_to_ids(FX.WCC_EDGES, FX.WCC_IDS),
        vertices=FX.WCC_IDS.values(),
    )


@pytest.fixture(scope="module")
def f3_graph_default10(spark):
    # the reference threshold tests load weightProperty:'cost' with
    # defaultValue:10.0 (UnionFindProcIntegrationTest.java:154,165)
    return Graph.from_edge_list(
        spark,
        FX.named_edges_to_ids(FX.WCC_EDGES, FX.WCC_IDS),
        vertices=FX.WCC_IDS.values(),
        default_weight=10.0,
    )


def test_wcc_full_graph(spark, f3_graph):
    res = wcc(f3_graph, compute_set_count=True)
    assert res.set_count == 3
    assert _sizes(res) == sorted(FX.WCC_EXPECT_SIZES)


def test_wcc_threshold_splits(spark, f3_graph_default10):
    res = wcc(f3_graph_default10, threshold=5.0)
    assert _sizes(res) == sorted(FX.WCC_EXPECT_SIZES_T5)


def test_wcc_threshold_keeps_geq(spark, f3_graph_default10):
    # 4.2 >= 3.14 → edge survives (reference uses >=, GraphUnionFind.java:89-93)
    res = wcc(f3_graph_default10, threshold=3.14)
    assert _sizes(res) == sorted(FX.WCC_EXPECT_SIZES_T314)


def test_wcc_set_id_is_min_member(spark, f3_graph):
    comp = {r["id"]: r["set_id"] for r in wcc(f3_graph).components.collect()}
    # component {nA..nG} has min id 0; {nH,nI} min 7; {nJ} itself
    assert comp[FX.WCC_IDS["nA"]] == 0
    assert comp[FX.WCC_IDS["nG"]] == 0
    assert comp[FX.WCC_IDS["nH"]] == FX.WCC_IDS["nH"]
    assert comp[FX.WCC_IDS["nI"]] == FX.WCC_IDS["nH"]
    assert comp[FX.WCC_IDS["nJ"]] == FX.WCC_IDS["nJ"]


def test_wcc_16_line_graphs(spark):
    vertices, edges = FX.wcc_lines_fixture()
    g = Graph.from_edge_list(spark, edges, vertices=vertices)
    res = wcc(g, compute_set_count=True)
    assert res.set_count == 16
    assert _sizes(res) == [10] * 16


def test_wcc_direction_irrelevant(spark, f3_graph):
    a = {r["id"]: r["set_id"] for r in wcc(f3_graph).components.collect()}
    b = {r["id"]: r["set_id"] for r in wcc(f3_graph.reverse()).components.collect()}
    assert a == b


def test_wcc_stats_yield_row(spark, f3_graph):
    """Write-mode YIELD parity (UnionFindResult.java:26-30): one row,
    deterministic counters, non-negative timings."""
    res = wcc(f3_graph, compute_set_count=True)
    row = res.stats().collect()
    assert len(row) == 1
    r = row[0]
    assert r["nodes"] == f3_graph.vertices.count()
    assert r["set_count"] == res.set_count
    assert r["iterations"] == res.iterations_ran
    assert r["load_millis"] >= 0 and r["compute_millis"] >= 0
    assert r["write_millis"] == 0


def test_wcc_adjacency_hub_salting(spark):
    """A 49-leaf hub next to a separate pair: every leaf takes the hub's
    (minimum) id, with the fixpoint tested every superstep or every
    fourth."""
    edges = [(0, i) for i in range(1, 50)] + [(50, 51)]
    g = Graph.from_edge_list(spark, edges, vertices=range(52))
    want = {v: 0 if v < 50 else 50 for v in range(52)}
    for k in (1, 4):
        res = wcc(g, check_interval=k)
        assert {r["id"]: r["set_id"] for r in res.components.collect()} == want


def test_wcc_batched_check_interval(spark):
    """check_interval=k: fixpoint tested every k supersteps — the <k
    overshoot supersteps are no-ops (min is idempotent), components
    identical, iterations_ran within [exact, exact+k)."""
    edges = [(i, i + 1) for i in range(0, 20)] + [(30, 31), (31, 32)]
    g = Graph.from_edge_list(spark, edges, vertices=range(33))
    exact = wcc(g)
    batched = wcc(g, check_interval=4)
    ce = {r["id"]: r["set_id"] for r in exact.components.collect()}
    cb = {r["id"]: r["set_id"] for r in batched.components.collect()}
    assert ce == cb
    assert exact.iterations_ran <= batched.iterations_ran < exact.iterations_ran + 4


def test_wcc_local_finish_identical(spark):
    """local_finish_edges endgame: in-process union-find over the
    collected pairs yields the identical (id, set_id) relation as the
    distributed min-label loop — incl. isolated vertices, self-loops,
    threshold filtering, and compute_set_count."""
    from pyspark.sql import functions as F

    edges = spark.createDataFrame(
        [(i, (i * 17 + 5) % 97, float(1 + i % 4)) for i in range(250)]
        + [(7, 7, 9.0)],
        "src long, dst long, weight double",
    )
    verts = spark.createDataFrame([(i,) for i in range(120)], "id long")  # isolated ids too
    g = Graph(edges, vertices=verts.union(edges.select(F.col("src").alias("id"))).distinct())

    base = wcc(g, compute_set_count=True)
    fast = wcc(g, compute_set_count=True, local_finish_edges=10_000)
    assert fast.metrics and fast.metrics[0].get("mode") == "local_finish"
    b = {r["id"]: r["set_id"] for r in base.components.collect()}
    f = {r["id"]: r["set_id"] for r in fast.components.collect()}
    assert f == b
    assert fast.set_count == base.set_count

    bt = {r["id"]: r["set_id"] for r in wcc(g, threshold=3.0).components.collect()}
    ft = {
        r["id"]: r["set_id"]
        for r in wcc(g, threshold=3.0, local_finish_edges=10_000).components.collect()
    }
    assert ft == bt

    # above the threshold the distributed loop still runs
    big = wcc(g, local_finish_edges=10)
    assert not (big.metrics and big.metrics[0].get("mode") == "local_finish")
    assert {r["id"]: r["set_id"] for r in big.components.collect()} == b


def test_near_dup_clusters_local_finish_parity(spark):
    from neo4j_graph_algorithms_spark.functions.dedup import near_dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10), (20, 21)],
        "id_a long, id_b long",
    )
    fast = {(r["doc_id"], r["cluster_id"], r["keep"])
            for r in near_dup_clusters(pairs).collect()}
    loop = {(r["doc_id"], r["cluster_id"], r["keep"])
            for r in near_dup_clusters(pairs, local_finish_edges=0).collect()}
    assert fast == loop
    assert (1, 1, True) in fast and (3, 1, False) in fast
