"""Repo-table ingest → extract → graph pipeline (the north-rule input
path), including the per-row sha256 invariant."""

import hashlib

import pytest
from pyspark.sql import functions as F

from neo4j_graph_algorithms_spark import Graph, pagerank, wcc
from neo4j_graph_algorithms_spark.sources import (
    extract_imports,
    load_graph,
    path_edges,
    repo_edges,
    synthetic_repo_files,
    with_sha256,
)
from neo4j_graph_algorithms_spark.sources.extract import repo_graph


@pytest.fixture(scope="module")
def files(spark):
    df = synthetic_repo_files(spark, n_repos=20, files_per_repo=5).persist()
    df.count()
    return df


def test_generator_deterministic(spark, files):
    again = synthetic_repo_files(spark, n_repos=20, files_per_repo=5)
    a = sorted(files.select("repo", "path", "commit", "content").collect())
    b = sorted(again.select("repo", "path", "commit", "content").collect())
    assert a == b
    assert files.count() == 100


def test_sha256_invariant(spark, files):
    out = with_sha256(files).collect()
    for r in out:
        assert r["content_sha256"] == hashlib.sha256(r["content"].encode()).hexdigest()


def test_sha256_survives_pipeline(spark, files):
    # the invariant column rides through extraction untouched
    ex = extract_imports(with_sha256(files))
    joined = ex.select("repo", "path", "content", "content_sha256").collect()
    for r in joined:
        assert r["content_sha256"] == hashlib.sha256(r["content"].encode()).hexdigest()


def test_extract_imports_per_language(spark):
    rows = [
        ("r1", "src/a.py", "c1", "python", "import foo.bar\nfrom baz import q\nx=1"),
        ("r1", "src/b.java", "c2", "java", "package p;\nimport com.ex.Lib;\nimport static com.ex.S.x;"),
        ("r1", "src/c.js", "c3", "javascript", "const a = require('lodash');\nimport x from 'react';"),
        ("r1", "src/d.go", "c4", "go", 'import (\n  "fmt"\n  "github.com/x/y"\n)'),
        ("r1", "src/e.py", "c5", "unknown_lang", "import nothing"),
    ]
    df = spark.createDataFrame(rows, "repo string, path string, commit string, lang string, content string")
    got = {r["path"]: r["imports"] for r in extract_imports(df).collect()}
    assert got["src/a.py"] == ["foo.bar", "baz"]
    assert got["src/b.java"] == ["com.ex.Lib", "com.ex.S.x"]
    assert got["src/c.js"] == ["lodash", "react"]
    assert got["src/d.go"] == ["fmt", "github.com/x/y"]
    assert got["src/e.py"] == []


def test_repo_edges_resolve_providers(spark, files):
    e = repo_edges(files, verify_invariant=True)
    rows = e.collect()
    assert len(rows) > 0
    # no self-loops, weights are positive reference counts
    for r in rows:
        assert r["src_repo"] != r["dst_repo"]
        assert r["weight"] >= 1.0
        assert r["src"] != r["dst"]


def test_pagerank_on_repo_graph(spark, files):
    g, mapping = repo_graph(files)
    res = pagerank(g, max_iterations=10)
    scores = res.scores.join(mapping, "id").select("repo", "score").collect()
    assert len(scores) == mapping.count()
    assert all(r["score"] >= 0.15 - 1e-9 for r in scores)
    comps = wcc(g, compute_set_count=True)
    assert comps.set_count >= 1


def test_path_edges(spark, files):
    pe = path_edges(files)
    assert pe.count() > 0
    r = pe.first()
    assert "::" in r["src_file"] and "::" in r["dst_file"]


def test_load_graph_projection(spark):
    vertices = spark.createDataFrame(
        [(0, "Person"), (1, "Person"), (2, "City")], "id long, label string"
    )
    edges = spark.createDataFrame(
        [(0, 1, "KNOWS", 2.0), (0, 2, "LIVES_IN", 1.0), (1, 2, "LIVES_IN", None)],
        "src long, dst long, type string, cost double",
    )
    g = load_graph(
        vertices, edges,
        label="Person", relationship_type="KNOWS",
        direction="OUTGOING", weight_property="cost", default_weight=9.0,
    )
    got = [(r.src, r.dst, r.weight) for r in g.edges.collect()]
    assert got == [(0, 1, 2.0)]
    # default weight fills missing property values
    g2 = load_graph(None, edges, direction="OUTGOING", weight_property="cost", default_weight=9.0)
    w = {(r.src, r.dst): r.weight for r in g2.edges.collect()}
    assert w[(1, 2)] == 9.0


def test_writeback_node_property(spark, tmp_path):
    from neo4j_graph_algorithms_spark.sources import (
        with_node_property,
        write_node_property,
    )

    vertices = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, name string")
    result = spark.createDataFrame([(1, 0.5), (2, 0.7)], "id long, score double")
    out = with_node_property(vertices, result, "pagerank", default=0.15)
    got = {r["id"]: (r["name"], r["pagerank"]) for r in out.collect()}
    assert got == {1: ("a", 0.5), 2: ("b", 0.7), 3: ("c", 0.15)}

    p = str(tmp_path / "verts")
    write_node_property(vertices, result, "partition", p, default=-1)
    back = {r["id"]: r["partition"] for r in spark.read.parquet(p).collect()}
    assert back == {1: 0.5, 2: 0.7, 3: -1.0}


def test_read_edges_formats(spark, tmp_path):
    from neo4j_graph_algorithms_spark.sources.loader import read_edges

    # SNAP-style text edge list with comments and weights
    p = tmp_path / "edges.txt"
    p.write_text("# comment\n0 1 2.5\n1 2 1.0\n\n2 0 3.0\n")
    got = sorted(tuple(r) for r in read_edges(spark, str(p), weight="w").collect())
    assert got == [(0, 1, 2.5), (1, 2, 1.0), (2, 0, 3.0)]
    got2 = sorted(tuple(r) for r in read_edges(spark, str(p)).collect())
    assert got2 == [(0, 1), (1, 2), (2, 0)]

    # CSV with header
    c = tmp_path / "edges.csv"
    c.write_text("src,dst,weight\n0,1,2.5\n1,2,1.0\n")
    got3 = sorted(tuple(r) for r in read_edges(spark, str(c), weight="weight").collect())
    assert got3 == [(0, 1, 2.5), (1, 2, 1.0)]

    # parquet round-trip
    q = str(tmp_path / "edges_parquet")
    spark.createDataFrame([(5, 6, 9.0)], "src long, dst long, weight double").write.parquet(q)
    got4 = [tuple(r) for r in read_edges(spark, q, fmt="parquet", weight="weight").collect()]
    assert got4 == [(5, 6, 9.0)]


def test_graph_store_bucketed_roundtrip(spark, tmp_path):
    """save_graph → load_graph: bucketed edge scan plans the degree
    groupBy + join with zero edge-side Exchange, and PageRank over the
    bucketed graph is bit-identical to the plain-edges run."""
    from pyspark.sql import functions as F

    from neo4j_graph_algorithms_spark import Graph, pagerank
    from neo4j_graph_algorithms_spark.sources.graph_store import (
        load_graph,
        save_graph,
    )

    edges = spark.createDataFrame(
        [(i, (i * 7 + 3) % 50) for i in range(200) for _ in range(1 + i % 3)],
        "src long, dst long",
    ).distinct()
    g = Graph.from_edges(edges)
    p = str(tmp_path / "gstore")
    save_graph(g, "gstore_rt", p, buckets=8)
    try:
        loaded = load_graph(spark, "gstore_rt")
        assert loaded.src_partitioned

        # plan check: degree aggregation + degree join over the bucketed
        # scan run with zero Exchange — both sides read bucket-aligned
        # (SHUFFLE_HASH = the operators' hint; without it the tiny deg
        # side would broadcast here, hiding the property under test)
        deg = loaded.edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
        plan = (
            loaded.edges.join(deg.hint("SHUFFLE_HASH"), "src")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan

        base = {
            r["id"]: r["score"]
            for r in pagerank(g, max_iterations=10).scores.collect()
        }
        got = {
            r["id"]: r["score"]
            for r in pagerank(loaded, max_iterations=10).scores.collect()
        }
        assert got == base  # bit-identical, not allclose

        # operators with their own src-side layouts skip the repartition
        # too — still bit-identical over the bucketed graph
        from neo4j_graph_algorithms_spark import eigenvector_centrality
        from neo4j_graph_algorithms_spark.operators.hits import hits

        ev_b = {r["id"]: r["score"] for r in eigenvector_centrality(g, max_iterations=5).scores.collect()}
        ev_l = {r["id"]: r["score"] for r in eigenvector_centrality(loaded, max_iterations=5).scores.collect()}
        assert ev_l == ev_b
        h_b = {r["id"]: (r["hub"], r["authority"]) for r in hits(g, max_iterations=3).scores.collect()}
        h_l = {r["id"]: (r["hub"], r["authority"]) for r in hits(loaded, max_iterations=3).scores.collect()}
        assert h_l == h_b

        # re-attach path: fresh catalog (external table → files survive)
        spark.sql("DROP TABLE gstore_rt")
        re = load_graph(spark, "gstore_rt", path=p)
        assert re.edges.count() == g.edges.count()
        plan2 = (
            re.edges.groupBy("src").count()._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan2, plan2
    finally:
        spark.sql("DROP TABLE IF EXISTS gstore_rt")


def test_graph_store_symmetrized(spark, tmp_path):
    """save_graph(symmetrize=True) → load_graph(sym=True): the whole
    undirected load phase (symmetrize union + pair dedup + src
    repartition) moved to write time — wcc's message-edge prep plans
    with ZERO Exchange over the store, and results stay bit-identical
    to the same graph symmetrized inline."""
    from pyspark.sql import functions as F

    from neo4j_graph_algorithms_spark import Graph
    from neo4j_graph_algorithms_spark.operators.labelprop import (
        BOTH,
        label_propagation,
    )
    from neo4j_graph_algorithms_spark.operators.wcc import _message_edges, wcc
    from neo4j_graph_algorithms_spark.sources.graph_store import (
        load_graph,
        save_graph,
    )

    # weighted digraph with asymmetric reverse pairs and self-loops
    edges = spark.createDataFrame(
        [
            (i, (i * 13 + 7) % 80, float(1 + i % 5))
            for i in range(300)
        ]
        + [(5, 5, 9.0), (18, 5, 2.0), (5, 18, 7.0)],
        "src long, dst long, weight double",
    )
    g = Graph(edges)
    p = str(tmp_path / "gsym")
    save_graph(g, "gstore_sym_t", p, buckets=8, symmetrize=True)
    try:
        gs = load_graph(spark, "gstore_sym_t", sym=True)
        assert gs.src_partitioned and gs.symmetrized

        # VERDICT r2 item 4 done-criterion: zero-Exchange message-edge
        # prep for wcc over a load_graph store
        prep = _message_edges(gs, 8)
        plan = prep._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # bucket-aligned scan: exactly the 8 written buckets, no coalesce
        assert prep.rdd.getNumPartitions() == 8

        # reference semantics: the inline undirected view (same
        # union + per-pair max-merge + self-loops-kept as the store)
        sym_inline = g.undirected()
        base = {r["id"]: r["set_id"] for r in wcc(sym_inline).components.collect()}
        got = {r["id"]: r["set_id"] for r in wcc(gs).components.collect()}
        assert got == base

        # threshold flows through filter_weight preserving both flags
        bt = {
            r["id"]: r["set_id"]
            for r in wcc(sym_inline, threshold=3.0).components.collect()
        }
        gt = {r["id"]: r["set_id"] for r in wcc(gs, threshold=3.0).components.collect()}
        assert gt == bt

        # labelPropagation BOTH: single-orientation fast path over the
        # sym view ≡ the legacy OUT ∪ IN union on the same table
        legacy = Graph(gs.edges)  # same rows, flags off
        lp_fast = {
            r["id"]: r["label"]
            for r in label_propagation(gs, direction=BOTH, max_iterations=4).labels.collect()
        }
        lp_legacy = {
            r["id"]: r["label"]
            for r in label_propagation(legacy, direction=BOTH, max_iterations=4).labels.collect()
        }
        assert lp_fast == lp_legacy

        # canonical undirected view needs no dedup shuffle on a sym graph
        canon = gs.canonical_undirected_edges()
        cplan = canon._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in cplan, cplan
        assert {(r["src"], r["dst"]) for r in canon.collect()} == {
            (r["src"], r["dst"]) for r in g.canonical_undirected_edges().collect()
        }

        # re-attach from sidecar in a fresh catalog
        spark.sql("DROP TABLE gstore_sym_t_sym")
        re = load_graph(spark, "gstore_sym_t", path=p, sym=True)
        assert re.symmetrized and re.edges.count() == gs.edges.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS gstore_sym_t")
        spark.sql("DROP TABLE IF EXISTS gstore_sym_t_sym")


def test_random_edges_generator(spark):
    from neo4j_graph_algorithms_spark.sources import random_edges

    g1 = random_edges(spark, 100, 500, salt="t", skew_k=1)
    rows1 = sorted((r["src"], r["dst"]) for r in g1.collect())
    # deterministic across runs and parallelism
    rows2 = sorted(
        (r["src"], r["dst"])
        for r in random_edges(spark, 100, 500, salt="t", skew_k=1)
        .repartition(7)
        .collect()
    )
    assert rows1 == rows2
    assert all(s != d for s, d in rows1)
    assert all(0 <= s < 100 and 0 <= d < 100 for s, d in rows1)
    # a different salt gives a different graph
    rows3 = sorted(
        (r["src"], r["dst"]) for r in random_edges(spark, 100, 500, salt="u").collect()
    )
    assert rows1 != rows3
    # skew_k=3 concentrates degree on low ids: max degree grows
    from collections import Counter

    def max_deg(k):
        c = Counter()
        for r in random_edges(spark, 100, 2000, salt="t", skew_k=k).collect():
            c[r["src"]] += 1
            c[r["dst"]] += 1
        top_id, top = c.most_common(1)[0]
        return top_id, top

    u_id, u_deg = max_deg(1)
    s_id, s_deg = max_deg(3)
    assert s_deg > u_deg  # hubs formed
    assert s_id < 25      # hubs live at low ids by construction
    # dedup collapses parallel edges
    d = random_edges(spark, 10, 2000, salt="t", dedup=True)
    pairs = [(r["src"], r["dst"]) for r in d.collect()]
    assert len(pairs) == len(set(pairs)) <= 90


def test_graph_store_sym_keeps_self_loop_only_vertices(spark, tmp_path):
    """A vertex whose only edges are self-loops must survive the
    symmetrized write — dropping it would silently remove the vertex
    from every result computed over load_graph(sym=True)."""
    from neo4j_graph_algorithms_spark import Graph
    from neo4j_graph_algorithms_spark.operators.wcc import wcc
    from neo4j_graph_algorithms_spark.sources.graph_store import (
        load_graph,
        save_graph,
    )

    g = Graph(spark.createDataFrame(
        [(1, 2, 1.0), (5, 5, 9.0)], "src long, dst long, weight double"
    ))
    p = str(tmp_path / "gloop")
    save_graph(g, "gstore_loop_t", p, buckets=4, symmetrize=True)
    try:
        gs = load_graph(spark, "gstore_loop_t", sym=True)
        comp = {r["id"]: r["set_id"] for r in wcc(gs).components.collect()}
        direct = {r["id"]: r["set_id"] for r in wcc(g).components.collect()}
        assert comp == direct == {1: 1, 2: 1, 5: 5}
    finally:
        spark.sql("DROP TABLE IF EXISTS gstore_loop_t")
        spark.sql("DROP TABLE IF EXISTS gstore_loop_t_sym")


def test_graph_store_sym_rejects_append(spark, tmp_path):
    """Append cannot preserve the sym table's pair-dedup/max-merge
    invariant — save_graph refuses instead of corrupting it."""
    import pytest as _pytest

    from neo4j_graph_algorithms_spark import Graph
    from neo4j_graph_algorithms_spark.sources.graph_store import save_graph

    g = Graph(spark.createDataFrame([(1, 2, 1.0)], "src long, dst long, weight double"))
    with _pytest.raises(ValueError, match="append"):
        save_graph(g, "gstore_app_t", str(tmp_path / "gapp"), mode="append", symmetrize=True)
