"""One-row results (transitivity, DOULION, every operator's stats())
are JVM literal rows: no ``ExistingRDD`` scan of a pickled Python RDD,
so running them starts no Python worker.  Names and types are pinned."""

import pytest

from neo4j_graph_algorithms_spark import (
    Graph,
    doulion_estimate,
    eigenvector_centrality,
    k1coloring,
    katz_centrality,
    label_propagation,
    maximal_independent_set,
    pagerank,
    transitivity,
    wcc,
)
from neo4j_graph_algorithms_spark.operators.hits import hits
from neo4j_graph_algorithms_spark.plans.rows import one_row

EDGES = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (5, 6)]

ROWS = {
    "transitivity": (
        lambda g: transitivity(g),
        "triangles:bigint,wedges:bigint,transitivity:double",
    ),
    "doulion": (
        lambda g: doulion_estimate(g, p=1.0),
        "sampled_edges:bigint,sampled_triangles:bigint,est_triangles:double",
    ),
    "wcc": (
        lambda g: wcc(g).stats(),
        "nodes:bigint,set_count:bigint,iterations:bigint,"
        "load_millis:bigint,compute_millis:bigint,write_millis:bigint",
    ),
    "labelprop": (
        lambda g: label_propagation(g, max_iterations=3).stats(),
        "nodes:bigint,iterations:bigint,did_converge:boolean,"
        "load_millis:bigint,compute_millis:bigint,write_millis:bigint",
    ),
    "pagerank": (
        lambda g: pagerank(g, max_iterations=3).stats(),
        "nodes:bigint,iterations:bigint,damping_factor:double,"
        "load_millis:bigint,compute_millis:bigint,write_millis:bigint",
    ),
    "eigenvector": (
        lambda g: eigenvector_centrality(g, max_iterations=3).stats(),
        "nodes:bigint,iterations:bigint,converged:boolean",
    ),
    "katz": (
        lambda g: katz_centrality(g, max_iterations=3).stats(),
        "nodes:bigint,iterations:bigint,converged:boolean",
    ),
    "hits": (
        lambda g: hits(g, max_iterations=3).stats(),
        "nodes:bigint,iterations:bigint",
    ),
    "coloring": (
        lambda g: k1coloring(g).stats(),
        "nodes:bigint,color_count:bigint,iterations:bigint,"
        "load_millis:bigint,compute_millis:bigint,write_millis:bigint",
    ),
    "mis": (
        lambda g: maximal_independent_set(g).stats(),
        "nodes:bigint,set_size:bigint,iterations:bigint",
    ),
}


@pytest.fixture(scope="module")
def g(spark):
    return Graph.from_edge_list(spark, EDGES, vertices=range(7))


@pytest.mark.parametrize("name", sorted(ROWS))
def test_one_row_results_have_no_python_rdd(spark, g, name):
    build, schema = ROWS[name]
    df = build(g)
    assert df.schema.simpleString() == f"struct<{schema}>"
    assert df.count() == 1
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "ExistingRDD" not in plan, plan


def test_transitivity_values(spark, g):
    # triangles {0,1,2} and {2,3,4}; degrees 2,2,4,2,2,1,1 -> wedges 1+1+6+1+1
    r = transitivity(g).first()
    assert (r["triangles"], r["wedges"]) == (2, 10)
    assert r["transitivity"] == 3.0 * 2 / 10


def test_one_row_keeps_values_exactly(spark):
    big, frac = 2**62 + 1, 0.1 + 0.2
    r = one_row(spark, "a long, b double, c boolean, d long", big, frac, True, None).first()
    assert (r["a"], r["b"], r["c"], r["d"]) == (big, frac, True, None)
    with pytest.raises(ValueError):
        one_row(spark, "a long, b long", 1)
