"""The single PageRank loop: durable checkpoint/resume through the
message fold, its job budget, its plans, and old checkpoint layouts."""

import json
import os

import pytest

from neo4j_graph_algorithms_spark import Graph, article_rank, pagerank
from neo4j_graph_algorithms_spark import fixtures as FX
from neo4j_graph_algorithms_spark.plans import SuperstepCheckpointer

WEIGHTED_EDGES = [
    (0, 1, 2.0), (0, 2, 1.0), (1, 2, 3.0), (2, 0, 1.0),
    (2, 3, 0.5), (3, 0, 1.0), (4, 2, 1.0), (3, 4, 0.25),
]


@pytest.fixture(scope="module")
def f1_graph(spark):
    return Graph.from_edge_list(
        spark,
        FX.named_edges_to_ids(FX.PAGERANK_EDGES, FX.PAGERANK_IDS),
        vertices=FX.PAGERANK_IDS.values(),
    )


@pytest.fixture(scope="module")
def weighted_graph(spark):
    return Graph.from_edge_list(spark, WEIGHTED_EDGES, vertices=range(6))


def _scores(res):
    return {r["id"]: r["score"] for r in res.scores.collect()}


VARIANTS = {
    "plain": (pagerank, {}),
    "weighted": (pagerank, {"weighted": True}),
    "personalized": (pagerank, {"source_nodes": [0, 3]}),
    "article_rank": (article_rank, {}),
}


@pytest.mark.parametrize("variant", sorted(VARIANTS))
def test_stop_and_resume_bit_identical(spark, f1_graph, weighted_graph, tmp_path, variant):
    """Stopped at 3 and resumed to 7 == uninterrupted durable run to 7
    == in-memory run of 7 supersteps, bit for bit."""
    run, kw = VARIANTS[variant]
    g = weighted_graph if variant == "weighted" else f1_graph
    in_memory = _scores(run(g, max_iterations=7, **kw))

    whole = SuperstepCheckpointer(spark, str(tmp_path), "pr", run_id="whole")
    uninterrupted = run(g, max_iterations=7, checkpointer=whole, **kw)

    first = SuperstepCheckpointer(spark, str(tmp_path), "pr", run_id="cut")
    assert run(g, max_iterations=3, checkpointer=first, **kw).iterations_ran == 3
    again = SuperstepCheckpointer(spark, str(tmp_path), "pr", run_id="cut")
    resumed = run(g, max_iterations=7, checkpointer=again, **kw)

    assert resumed.iterations_ran == uninterrupted.iterations_ran == 7
    assert _scores(resumed) == _scores(uninterrupted) == in_memory
    # the metric rows of both durable runs describe the same supersteps
    for a, b in zip(again.metrics(), whole.metrics()):
        assert a["iteration"] == b["iteration"]
        assert a["active_vertices"] == b["active_vertices"]
        for k in ("max_delta", "l1_delta", "skew_ratio"):
            assert a[k] == pytest.approx(b[k], rel=1e-12, abs=0.0), k
    assert [m["iteration"] for m in again.metrics()] == list(range(1, 8))


def test_durable_tolerance_stops_where_in_memory_does(spark, f1_graph, tmp_path):
    mem = pagerank(f1_graph, max_iterations=200, tolerance=1e-6)
    ck = SuperstepCheckpointer(spark, str(tmp_path), "pr", run_id="tol")
    dur = pagerank(f1_graph, max_iterations=200, tolerance=1e-6, checkpointer=ck)
    assert dur.converged and dur.iterations_ran == mem.iterations_ran
    assert _scores(dur) == _scores(mem)


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_checkpointed_superstep_is_one_job(spark, f1_graph, tmp_path):
    """After the load phase every checkpointed superstep is exactly one
    Spark job — the state write, which also collects the metrics."""

    def run(run_id, iters):
        ck = SuperstepCheckpointer(spark, str(tmp_path), "pr", run_id=run_id)
        return lambda: pagerank(f1_graph, max_iterations=iters, checkpointer=ck)

    short = _jobs(spark, "pr-2", run("a", 2))
    long = _jobs(spark, "pr-6", run("b", 6))
    assert long - short == 4
    assert short - 2 <= 1  # load phase: the vertex count
    resume = _jobs(spark, "pr-resume", run("a", 6))
    assert resume - 4 <= 2  # + the checkpoint's schema read


def test_fold_plans_have_no_array_lambdas(spark, f1_graph):
    """The batch fold is one max(when(t = k, msg)) column per level and a
    left-to-right sum: no collect_list/array_sort/aggregate lambda."""
    store = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001

    def executions():  # the store keeps only the most recent ones
        ex = store.executionsList()
        return [ex.apply(i) for i in range(ex.size())]

    seen = max((e.executionId() for e in executions()), default=-1)
    res = pagerank(f1_graph, max_iterations=9, aggregate_interval=4)
    res.scores.collect()
    tol = pagerank(f1_graph, max_iterations=20, tolerance=1e-6, tolerance_check_interval=3)
    tol.scores.collect()
    texts = [e.physicalPlanDescription() for e in executions() if e.executionId() > seen]
    assert texts
    for text in texts:
        for banned in ("ArrayAggregate", "ArraySort", "array_sort(", "aggregate(", "collect_list("):
            assert banned not in text, banned


def _replay_state(edges, vertices, iters, d=0.85):
    """Pure-Python delta-push replay: {id: (rank, delta, outdeg)}."""
    outdeg = {v: 0 for v in vertices}
    for s, _ in edges:
        outdeg[s] += 1
    rank = {v: 1 - d for v in vertices}
    delta = dict(rank)
    for _ in range(iters):
        msg = {v: 0.0 for v in vertices}
        for s, t in edges:
            if delta[s] != 0.0:
                msg[t] += delta[s] / outdeg[s]
        delta = {v: d * msg[v] for v in vertices}
        rank = {v: rank[v] + delta[v] for v in vertices}
    return {v: (rank[v], delta[v], outdeg[v]) for v in vertices}


@pytest.mark.parametrize("with_outdeg", [True, False])
def test_hand_written_old_layout_checkpoint_resumes(spark, f1_graph, tmp_path, with_outdeg):
    """A checkpoint in the layout earlier versions wrote — (id, rank,
    delta, outdeg), or (id, rank, delta) from before outdeg was kept —
    resumes and finishes like an uninterrupted run."""
    edges = FX.named_edges_to_ids(FX.PAGERANK_EDGES, FX.PAGERANK_IDS)
    vertices = sorted(FX.PAGERANK_IDS.values())
    state = _replay_state([(s, t) for s, t, *_ in edges], vertices, 2)
    if with_outdeg:
        rows = [(v, r, dl, o) for v, (r, dl, o) in state.items()]
        schema = "id long, rank double, delta double, outdeg long"
    else:
        rows = [(v, r, dl) for v, (r, dl, _) in state.items()]
        schema = "id long, rank double, delta double"
    root = os.path.join(str(tmp_path), "pagerank", "old")
    it_dir = os.path.join(root, "iter=00002")
    spark.createDataFrame(rows, schema).write.parquet(os.path.join(it_dir, "state"))
    with open(os.path.join(it_dir, "_COMMITTED"), "w") as fh:
        fh.write("ok")
    with open(os.path.join(root, "metrics.jsonl"), "w") as fh:
        for i in (1, 2):
            fh.write(json.dumps({"iteration": i, "max_delta": 1.0}) + "\n")

    ck = SuperstepCheckpointer(spark, str(tmp_path), "pagerank", run_id="old")
    resumed = pagerank(f1_graph, max_iterations=8, checkpointer=ck)
    assert resumed.iterations_ran == 8
    assert [m["iteration"] for m in ck.metrics()] == list(range(1, 9))
    want = _scores(pagerank(f1_graph, max_iterations=8))
    got = _scores(resumed)
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12), k
    written = spark.read.parquet(os.path.join(root, "iter=00008", "state"))
    assert written.columns == ["id", "rank", "delta", "outdeg"]
