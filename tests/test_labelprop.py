"""Label propagation vs reference fixture F5: weighted votes, seed
labels with node-id fallback, direction handling, convergence flag."""

import pytest

from neo4j_graph_algorithms_spark import Graph, label_propagation
from neo4j_graph_algorithms_spark import fixtures as FX


@pytest.fixture(scope="module")
def f5(spark):
    vertices = spark.createDataFrame(
        FX.LP_VERTICES, "id long, cls string, partition long, weight double"
    )
    edges = spark.createDataFrame(
        [(s, t, 1.0) for s, t in FX.LP_EDGES], "src long, dst long, weight double"
    )
    return Graph(edges, vertices=vertices)


def _labels(res):
    return {r["id"]: r["label"] for r in res.labels.collect()}


def test_lp_outgoing_defaults(spark, f5):
    # roots see leaf votes: partition 2 with node weight 8.0 beats
    # partition 1 with 1+2+1+1=5.0 (LabelPropagationProcIntegrationTest:117-137)
    res = label_propagation(f5, max_iterations=1)
    got = _labels(res)
    assert got[0] == 2
    assert got[1] == 2
    assert res.iterations_ran == 1


def test_lp_seed_fallback_to_node_id(spark, f5):
    # without the partition property, init label = node id; roots adopt
    # the heaviest leaf's own id: node0 → 6, node1 → 11 (test :140-151)
    res = label_propagation(f5, max_iterations=1, node_labels=f5.spark.createDataFrame([], "id long, label long"))
    got = _labels(res)
    assert got[0] == 6
    assert got[1] == 11


def test_lp_incoming_leaves_adopt_roots(spark, f5):
    # INCOMING: leaves' only in-neighbor... reference runs INCOMING on :A
    # and leaves adopt 42 (test :167-174)
    res = label_propagation(f5, direction="INCOMING", max_iterations=1)
    got = _labels(res)
    for leaf in (2, 3, 4, 5, 6):
        assert got[leaf] == 42


def test_lp_converges_and_reports(spark, f5):
    res = label_propagation(f5, max_iterations=10)
    assert res.did_converge
    assert res.iterations_ran <= 10


def test_lp_deterministic_tie_break_smallest_label(spark):
    # node 0 has two neighbors with equal-weight different labels → min wins
    vertices = spark.createDataFrame(
        [(0, 100), (1, 7), (2, 3)], "id long, partition long"
    )
    edges = spark.createDataFrame(
        [(0, 1, 1.0), (0, 2, 1.0)], "src long, dst long, weight double"
    )
    g = Graph(edges, vertices=vertices)
    got = _labels(label_propagation(g, max_iterations=1))
    assert got[0] == 3


def test_lp_isolated_keeps_label(spark):
    vertices = spark.createDataFrame([(0, 5), (1, 9)], "id long, partition long")
    edges = spark.createDataFrame([], "src long, dst long, weight double")
    g = Graph(edges, vertices=vertices)
    got = _labels(label_propagation(g, max_iterations=2))
    assert got == {0: 5, 1: 9}
