"""Graph-abstraction unit tests: dense-id mapping, AQE and partition guards."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from neo4j_graph_algorithms_spark.graph import Graph
from neo4j_graph_algorithms_spark.plans.checkpoint import (
    aqe_suspended,
    shuffle_partitions_override,
)


def test_dense_ids_rank_and_determinism(spark):
    edges = [(i * 7 % 50, (i * 7 + 13) % 50) for i in range(60)]
    g = Graph.from_edge_list(spark, edges)
    d1 = g.dense_ids(num_partitions=4)
    # executes across multiple partitions (no global single-partition sort)
    assert d1.rdd.getNumPartitions() > 1
    rows = {r["id"]: r["vid"] for r in d1.collect()}
    ids = sorted(rows)
    # vid is the dense rank in id order
    assert [rows[i] for i in ids] == list(range(len(ids)))
    # stable across runs
    d2 = {r["id"]: r["vid"] for r in g.dense_ids(num_partitions=4).collect()}
    assert rows == d2


def test_aqe_suspended_nested_restores_original(spark):
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    with aqe_suspended(spark):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        with aqe_suspended(spark):
            assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        # inner exit must NOT restore yet (refcount > 0)
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_shuffle_partitions_override_overlapping_restores_original(spark):
    """Two overlapping overrides (entered and exited out of order, as two
    operator runs on one session do): the live value is the largest
    floor asked for, and the original comes back only when the last
    override exits."""
    key = "spark.sql.shuffle.partitions"
    original = spark.conf.get(key)
    assert original not in ("20", "40")
    a, b = shuffle_partitions_override(spark), shuffle_partitions_override(spark)
    a.__enter__()(40)
    assert spark.conf.get(key) == "40"
    b.__enter__()(20)
    assert spark.conf.get(key) == "40"
    a.__exit__(None, None, None)
    assert spark.conf.get(key) == "20"
    b.__exit__(None, None, None)
    assert spark.conf.get(key) == original


def test_summary_stats_vs_networkx(spark):
    import networkx as nx
    import pytest as pt

    from neo4j_graph_algorithms_spark import Graph

    gnx = nx.gnm_random_graph(60, 150, seed=9)
    g = Graph.from_edge_list(spark, list(gnx.edges()), vertices=range(60))
    row = g.summary_stats().collect()[0]
    assert row["nodes"] == 60
    assert row["undirected_edges"] == gnx.number_of_edges()
    assert row["density"] == pt.approx(nx.density(gnx))
    assert row["avg_degree"] == pt.approx(
        sum(d for _, d in gnx.degree()) / 60
    )
    assert row["max_degree"] == max(d for _, d in gnx.degree())
    assert row["degree_assortativity"] == pt.approx(
        nx.degree_assortativity_coefficient(gnx), abs=1e-9
    )


def test_summary_stats_degenerate_regular_graph(spark):
    from neo4j_graph_algorithms_spark import Graph

    # 4-cycle: every degree = 2 → zero variance → assortativity NULL
    g = Graph.from_edge_list(spark, [(0, 1), (1, 2), (2, 3), (3, 0)], vertices=range(4))
    row = g.summary_stats().collect()[0]
    assert row["degree_assortativity"] is None
    assert row["avg_degree"] == 2.0


def test_project_bipartite_counts_and_skew_guard(spark):
    from pyspark.sql import functions as F

    from neo4j_graph_algorithms_spark import Graph

    rows = [
        ("o1", 1), ("o1", 2), ("o1", 3),     # pairs (1,2),(1,3),(2,3)
        ("o2", 1), ("o2", 2),                # pair (1,2) again
        ("o3", 9),                           # singleton: no pairs
    ] + [("big", 100 + i) for i in range(10)]  # 10-item group, disjoint ids
    df = spark.createDataFrame(rows, "grp string, item long")

    g = Graph.project_bipartite(df, "grp", "item")
    got = {(r["src"], r["dst"]): r["weight"] for r in g.edges.collect()
           if r["src"] < 9}  # ignore the big group's pairs
    assert got[(1, 2)] == 2.0 and got[(1, 3)] == 1.0 and got[(2, 3)] == 1.0

    # skew guard drops the 10-item group entirely; min_count prunes ties
    g2 = Graph.project_bipartite(df, "grp", "item", min_count=2, max_group_size=5)
    pairs = {(r["src"], r["dst"]) for r in g2.edges.collect()}
    assert pairs == {(1, 2)}


def test_undirected_merges_per_pair_weights(spark):
    """undirected() must give both directions of a pair the SAME
    (max-merged) weight, so filter_weight keeps/drops the pair
    atomically — a threshold must never leave a one-way edge on a
    graph flagged symmetrized."""
    from neo4j_graph_algorithms_spark.operators.wcc import wcc

    g = Graph(spark.createDataFrame(
        [(2, 1, 5.0), (1, 2, 0.5)], "src long, dst long, weight double"
    ))
    und = g.undirected()
    rows = {(r["src"], r["dst"]): r["weight"] for r in und.edges.collect()}
    assert rows == {(1, 2): 5.0, (2, 1): 5.0}
    filtered = und.filter_weight(1.0)
    assert filtered.symmetrized
    assert {(r["src"], r["dst"]) for r in filtered.edges.collect()} == {(1, 2), (2, 1)}
    comp = {r["id"]: r["set_id"] for r in wcc(und, threshold=1.0).components.collect()}
    assert comp == {1: 1, 2: 1}


def test_powerlaw_alpha_hand_computed(spark):
    """Graph.powerlaw_alpha matches the CSN discrete MLE computed by
    hand, and respects x_min / direction."""
    import math

    from neo4j_graph_algorithms_spark import Graph

    # out-degrees: 1->3, 2->2, 3->1, 4->0 (4 is dst-only)
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    g = Graph.from_edges(
        spark.createDataFrame(edges, "src long, dst long")
    )
    row = g.powerlaw_alpha(x_min=1).first()
    degs = [3, 2, 1]  # degree >= 1
    s = sum(math.log(d / 0.5) for d in degs)
    assert row["n_tail"] == 3
    assert row["alpha"] == round(1.0 + 3 / s, 6)
    assert row["sigma"] == round((3 / s) / math.sqrt(3), 6)
    # x_min=2 drops the degree-1 vertex
    row2 = g.powerlaw_alpha(x_min=2).first()
    s2 = sum(math.log(d / 1.5) for d in (3, 2))
    assert row2["n_tail"] == 2 and row2["alpha"] == round(1.0 + 2 / s2, 6)
    # empty tail -> NULL alpha, not a crash
    row3 = g.powerlaw_alpha(x_min=10).first()
    assert row3["n_tail"] == 0 and row3["alpha"] is None
