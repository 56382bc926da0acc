"""Public superstep_fixpoint primitive: a user-written min-label WCC
and an unweighted BFS, both built from the exported API only, must
reproduce the built-in operators / networkx."""

import networkx as nx
import pytest
from pyspark.sql import functions as F

from neo4j_graph_algorithms_spark import Graph, superstep_fixpoint, wcc
from neo4j_graph_algorithms_spark.plans import SuperstepCheckpointer


@pytest.fixture(scope="module")
def gnx():
    return nx.gnm_random_graph(150, 200, seed=21)  # several components


@pytest.fixture(scope="module")
def graph(spark, gnx):
    return Graph.from_edge_list(spark, list(gnx.edges()), vertices=range(150))


def _user_wcc_step(both, frontier_only=False):
    def step(state, it):
        # `state` carries the previous superstep's `changed` flags
        senders = state.filter("changed") if frontier_only else state
        cand = (
            both.join(
                senders.select(F.col("id").alias("src"), "comp").hint("SHUFFLE_HASH"),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("comp").alias("cand"))
        )
        return state.join(cand.hint("SHUFFLE_HASH"), "id", "left").select(
            "id",
            F.least(F.col("comp"), F.coalesce("cand", "comp")).alias("comp"),
            (F.coalesce("cand", F.col("comp")) < F.col("comp")).alias("changed"),
        )

    return step


@pytest.mark.parametrize("frontier_only", [False, True])
def test_user_wcc_matches_builtin(spark, graph, frontier_only):
    both = graph.edges.select("src", "dst").union(
        graph.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    init = graph.vertices.select("id", F.col("id").alias("comp"))
    res = superstep_fixpoint(
        init, _user_wcc_step(both, frontier_only), max_iterations=100,
        check_interval=4, partition_cols=["id"], algorithm="user_wcc",
    )
    assert res.converged
    mine = {r["id"]: r["comp"] for r in res.state.collect()}
    ref = {r["id"]: r["set_id"] for r in wcc(graph).components.collect()}
    assert mine == ref


def test_user_bfs_matches_networkx(spark, graph, gnx):
    both = graph.edges.select("src", "dst").union(
        graph.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    init = graph.vertices.select(
        "id", F.when(F.col("id") == 0, F.lit(0)).otherwise(F.lit(None)).alias("dist")
    )

    def step(state, it):
        relaxed = (
            both.join(
                state.filter(F.col("dist") == it - 1)
                .select(F.col("id").alias("src"), "dist")
                .hint("SHUFFLE_HASH"),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min(F.col("dist") + 1).alias("nd"))
        )
        return state.join(relaxed.hint("SHUFFLE_HASH"), "id", "left").select(
            "id",
            F.coalesce("dist", "nd").alias("dist"),
            (F.col("dist").isNull() & F.col("nd").isNotNull()).alias("changed"),
        )

    res = superstep_fixpoint(init, step, max_iterations=200, algorithm="user_bfs")
    mine = {r["id"]: r["dist"] for r in res.state.collect() if r["dist"] is not None}
    ref = nx.single_source_shortest_path_length(gnx, 0)
    assert mine == ref


def test_user_loop_durable_resume(spark, graph, tmp_path):
    both = graph.edges.select("src", "dst").union(
        graph.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    init = graph.vertices.select("id", F.col("id").alias("comp"))
    step = _user_wcc_step(both)
    # run 1: stop after 2 supersteps, saving durably
    ck = SuperstepCheckpointer(spark, str(tmp_path), "user_wcc")
    partial = superstep_fixpoint(
        init, step, max_iterations=2, checkpointer=ck, algorithm="user_wcc"
    )
    assert not partial.converged and partial.iterations_ran == 2
    # run 2: fresh checkpointer on the same dir resumes past iteration 2
    ck2 = SuperstepCheckpointer(spark, str(tmp_path), "user_wcc")
    res = superstep_fixpoint(
        init, step, max_iterations=100, checkpointer=ck2, algorithm="user_wcc"
    )
    assert res.converged and res.iterations_ran > 2
    mine = {r["id"]: r["comp"] for r in res.state.collect()}
    ref = {r["id"]: r["set_id"] for r in wcc(graph).components.collect()}
    assert mine == ref
