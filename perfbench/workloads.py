"""The benchmark workloads.

Each workload writes its seeded inputs once (``build``), names the
environment the package must be imported with (``env``), reads and
caches the inputs in a session (``setup``), computes its references
without Spark (``reference``), and runs one pass of its operation
sequence (``run_pass``), every call into a package layer wrapped in
``tracer.call(tag)``.  ``check`` compares one pass's outputs against the
references and returns ``{tag: [mismatch, ...]}``.

Sizes are chosen so that one benchmark run (JVM start, set-up, one cold
pass, verification) takes under a minute on a 4-core host; README.md
gives the scale-down from the sizes the workloads were designed at.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen
import oracle

PARQUET_FILES = 8  # input files per table, so scans split across all cores


def _write_parquet(df: pd.DataFrame, path: str) -> None:
    os.makedirs(path)
    for i, part in enumerate(np.array_split(np.arange(len(df)), PARQUET_FILES)):
        df.iloc[part].to_parquet(os.path.join(path, f"part-{i:03d}.parquet"), index=False)


def dir_mb(path: str) -> float:
    total = 0
    for root, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    return total / float(1 << 20)


class ComponentsSkewed:
    """WCC and label propagation loops, then the triangle pipeline, over a
    skewed, triangle-rich import graph given as one ``(src, dst)`` table."""

    name = "components_skewed"
    tags = ("operators.wcc", "operators.labelprop",
            "operators.triangles.count", "operators.triangles.transitivity")
    graph = dict(n_repos=400, files_per_repo=50, max_imports=8, shape="zipf",
                 zipf_s=1.1, local_frac=0.5, local_window=3)
    LP_ITERS = 5
    # The triangle pipeline's scale guards switch on at 5M undirected
    # edges with a 16 MiB per-partition build budget.  Both thresholds
    # are scaled by this graph's size relative to the 5.87M-edge graph
    # the triangle workload was designed at, so the guarded path (AQE
    # suspended, shuffle partitions floored) runs here with the same
    # partition floor it has there.
    DESIGN_UNDIRECTED = 5_870_000

    def params(self) -> dict:
        return dict(self.graph)

    def build(self, d: str, seed: int) -> None:
        src, dst, n = gen.import_graph(seed, **self.graph)
        ids = gen.vertex_ids(seed, n)
        _write_parquet(pd.DataFrame({"src": ids[src], "dst": ids[dst]}), os.path.join(d, "edges"))

    def load_edges(self, d: str) -> pd.DataFrame:
        return pq.read_table(os.path.join(d, "edges")).to_pandas()

    def setup(self, spark, d: str) -> None:
        from neo4j_graph_algorithms_spark import Graph

        self.df = spark.read.parquet(os.path.join(d, "edges")).persist()
        self.df.count()
        self.g = Graph.from_edges(self.df)

    def release(self) -> None:
        self.df.unpersist(blocking=True)

    def env(self, d: str) -> dict[str, str]:
        e = self.load_edges(d)
        lo = np.minimum(e["src"].to_numpy(), e["dst"].to_numpy())
        hi = np.maximum(e["src"].to_numpy(), e["dst"].to_numpy())
        n_und = len(np.unique(np.stack([lo, hi], axis=1), axis=0))
        scale = n_und / self.DESIGN_UNDIRECTED
        return {
            "SPARK_GRAFT_TRI_SMALL_EDGES": str(int(5_000_000 * scale)),
            "SPARK_GRAFT_TRI_BUILD_TARGET": str(int((16 << 20) * scale)),
        }

    def reference(self, d: str) -> None:
        e = self.load_edges(d)
        self.dense = oracle.DenseGraph(e["src"].to_numpy(), e["dst"].to_numpy())
        self.want_wcc = oracle.components(self.dense)
        self.want_lp = oracle.labelprop_reference(e, self.LP_ITERS)
        self.tri = oracle.TriangleReference(e)

    def run_pass(self, spark, tracer, out_dir: str) -> dict:
        from neo4j_graph_algorithms_spark import label_propagation, transitivity, triangle_count, wcc

        with tracer.call("operators.wcc"):
            w = wcc(self.g, check_interval=4)
            comps = w.components.toPandas()
        with tracer.call("operators.labelprop"):
            lp = label_propagation(self.g, direction="BOTH", max_iterations=self.LP_ITERS,
                                   aggregate_interval=self.LP_ITERS)
            labels = lp.labels.toPandas()
        with tracer.call("operators.triangles.count"):
            tc = triangle_count(self.g)
            per_node = tc.per_node.toPandas()
        with tracer.call("operators.triangles.transitivity"):
            tr = transitivity(self.g).toPandas()
        return {"comps": comps, "labels": labels, "wcc": w, "lp": lp,
                "tc": tc, "per_node": per_node, "tr": tr}

    def check(self, out: dict) -> dict[str, list[str]]:
        tc = out["tc"]
        return {
            "operators.wcc": oracle.check_wcc(self.dense, out["comps"], self.want_wcc),
            "operators.labelprop": oracle.check_labelprop(self.want_lp, out["labels"]),
            "operators.triangles.count": oracle.check_triangle_count(
                self.tri, out["per_node"], tc.triangle_count, tc.node_count, tc.average_coefficient),
            "operators.triangles.transitivity": oracle.check_transitivity(self.tri, out["tr"]),
        }

    def op_metrics(self, walls: dict[str, float], out: dict) -> dict[str, float]:
        return {"wcc_s": walls["operators.wcc"], "labelprop_s": walls["operators.labelprop"],
                "triangle_count_s": walls["operators.triangles.count"],
                "transitivity_s": walls["operators.triangles.transitivity"]}

    def layer_counts(self, out: dict) -> dict[str, float]:
        return {
            "operators.wcc.supersteps": out["wcc"].iterations_ran,
            "operators.wcc.load_s": out["wcc"].load_millis / 1e3,
            "operators.labelprop.supersteps": out["lp"].iterations_ran,
            "operators.labelprop.load_s": out["lp"].load_millis / 1e3,
            "operators.triangles.triangles": out["tc"].triangle_count,
            "operators.triangles.wedges": int(out["tr"]["wedges"].iloc[0]),
        }


def timed_checkpointer_class():
    """A ``SuperstepCheckpointer`` that times its own ``save`` and ``load``
    (passed to ``pagerank`` through the public ``checkpointer=``).  Built
    on first use: the package is imported only after run.py has set the
    environment the workload asks for."""
    from neo4j_graph_algorithms_spark import SuperstepCheckpointer

    class TimedCheckpointer(SuperstepCheckpointer):
        def __init__(self, *args, **kwargs):
            super().__init__(*args, **kwargs)
            self.saves = 0
            self.save_s = self.load_s = self.output_mb = 0.0
            self.loaded: list[int] = []
            self._saving = False

        def save(self, iteration, state, metrics=None):
            t0 = time.perf_counter()
            self._saving = True
            try:
                out = super().save(iteration, state, metrics)
            finally:
                self._saving = False
            self.save_s += time.perf_counter() - t0
            self.saves += 1
            self.output_mb += dir_mb(self._iter_dir(iteration))
            return out

        def load(self, iteration, names):
            t0 = time.perf_counter()
            out = super().load(iteration, names)
            if not self._saving:  # save() re-reads what it wrote; not a resume
                self.load_s += time.perf_counter() - t0
                self.loaded.append(iteration)
            return out

    return TimedCheckpointer


class IngestResume:
    """Raw repo table -> edges -> in-memory PageRank -> bucketed store ->
    interrupted and resumed checkpointed PageRank -> node-property
    write-back."""

    name = "ingest_resume"
    tags = ("sources.extract", "operators.pagerank", "sources.graph_store",
            "operators.pagerank.durable", "sources.writeback")
    table = dict(n_repos=200, files_per_repo=50, max_imports=8)
    # in-memory PageRank: one 8-superstep batch of the tolerance-mode
    # fold engine (the 1e-6 north query runs 16-superstep batches to ~80)
    TOL, INTERVAL, CAP = 1e-6, 8, 8
    STOP, RESUME = 3, 6

    def params(self) -> dict:
        return dict(self.table)

    def env(self, d: str) -> dict[str, str]:
        return {}

    def build(self, d: str, seed: int) -> None:
        cols, (src, dst) = gen.repo_table(seed, **self.table)
        _write_parquet(pd.DataFrame(cols), os.path.join(d, "files"))
        pd.DataFrame({"src_file": src, "dst_file": dst}).to_parquet(os.path.join(d, "pairs.parquet"))

    def setup(self, spark, d: str) -> None:
        self.files = spark.read.parquet(os.path.join(d, "files")).persist()
        self.n_files = self.files.count()
        self.ck_class = timed_checkpointer_class()

    def release(self) -> None:
        self.files.unpersist(blocking=True)

    def reference(self, d: str) -> None:
        files = pq.read_table(os.path.join(d, "files")).to_pandas()
        self.want_files = {c: files[c].tolist() for c in ("repo", "path", "content")}
        pairs = pd.read_parquet(os.path.join(d, "pairs.parquet"))
        self.want_pairs = (pairs["src_file"].tolist(), pairs["dst_file"].tolist())

    def run_pass(self, spark, tracer, out_dir: str) -> dict:
        from neo4j_graph_algorithms_spark import Graph, pagerank
        from neo4j_graph_algorithms_spark.sources import path_edges, with_sha256, write_node_property
        from neo4j_graph_algorithms_spark.sources.graph_store import load_graph, save_graph

        shutil.rmtree(out_dir, ignore_errors=True)  # never resume from a stale checkpoint
        store, ck_dir, wb = (os.path.join(out_dir, p) for p in ("store", "checkpoints", "writeback"))
        with tracer.call("sources.extract"):
            edges = path_edges(self.files).persist()
            n_edges = edges.count()
            shas = with_sha256(self.files).select("repo", "path", "content_sha256").toPandas()
        with tracer.call("operators.pagerank"):
            pr = pagerank(Graph.from_edges(edges), max_iterations=self.CAP, tolerance=self.TOL,
                          tolerance_check_interval=self.INTERVAL)
            pr_scores = pr.scores.toPandas()
        with tracer.call("sources.graph_store"):
            save_graph(Graph.from_edges(edges), "perfbench_edges", store)
            g = load_graph(spark, "perfbench_edges", store)
        with tracer.call("operators.pagerank.durable"):
            ck1 = self.ck_class(spark, ck_dir, "pagerank", "resume")
            r1 = pagerank(g, max_iterations=self.STOP, checkpointer=ck1)
            s1 = r1.scores.toPandas()
            ck2 = self.ck_class(spark, ck_dir, "pagerank", "resume")  # a fresh process would do this
            r2 = pagerank(g, max_iterations=self.RESUME, checkpointer=ck2)
            s2 = r2.scores.toPandas()
        with tracer.call("sources.writeback"):
            write_node_property(g.vertices, r2.scores, "pagerank", wb)
        edge_rows = edges.select("src_file", "dst_file", "src", "dst").toPandas()
        edges.unpersist()
        return {
            "edges": edge_rows, "n_edges": n_edges, "shas": shas, "store": store, "wb": wb,
            "pr": pr, "pr_scores": pr_scores,
            "r1": r1, "r2": r2, "s1": s1, "s2": s2, "ck1": ck1, "ck2": ck2,
            "store_mb": dir_mb(store), "wb_mb": dir_mb(wb),
        }

    def check(self, out: dict) -> dict[str, list[str]]:
        errs = {t: [] for t in self.tags}
        e = out["edges"]
        errs["sources.extract"] = oracle.check_extract(e, out["shas"], self.want_files, self.want_pairs)
        if errs["sources.extract"]:
            return errs  # ids below are only meaningful over a correct edge table
        stored = pq.read_table(out["store"]).to_pandas()
        if sorted(zip(stored["src"], stored["dst"])) != sorted(zip(e["src"], e["dst"])):
            errs["sources.graph_store"].append("graph_store: stored edges differ from the extracted edges")
        g = oracle.DenseGraph(e["src"].to_numpy(), e["dst"].to_numpy())
        ref = oracle.PageRankReference(g, self.TOL, self.INTERVAL, self.CAP)
        errs["operators.pagerank"] = ref.check(out["pr_scores"], out["pr"].iterations_ran)
        want1, _ = oracle.pagerank_replay(g, self.STOP)
        want2, _ = oracle.pagerank_replay(g, self.RESUME)
        durable = errs["operators.pagerank.durable"]
        r1, r2, ck1, ck2 = out["r1"], out["r2"], out["ck1"], out["ck2"]
        if r1.iterations_ran != self.STOP or r2.iterations_ran != self.RESUME:
            durable.append(f"durable pagerank: ran {r1.iterations_ran} then {r2.iterations_ran} supersteps")
        if ck1.saves != self.STOP or ck2.saves != self.RESUME - self.STOP or ck2.loaded != [self.STOP]:
            durable.append(f"durable pagerank: saves {ck1.saves}+{ck2.saves}, resumed from {ck2.loaded}")
        durable += oracle.check_scores(g, out["s1"], want1, "interrupted pagerank")
        durable += oracle.check_scores(g, out["s2"], want2, "resumed pagerank")
        wb = pq.read_table(out["wb"]).to_pandas().rename(columns={"pagerank": "score"})
        errs["sources.writeback"] = oracle.check_scores(g, wb, want2, "writeback")
        return errs

    def op_metrics(self, walls: dict[str, float], out: dict) -> dict[str, float]:
        pr = walls["operators.pagerank"]
        return {"pagerank_s": pr, "pagerank_eps": out["n_edges"] * out["pr"].iterations_ran / pr,
                "ingest_s": walls["sources.extract"] + walls["sources.graph_store"],
                "resume_s": walls["operators.pagerank.durable"],
                "sources.extract.files_per_s": self.n_files / walls["sources.extract"]}

    def layer_counts(self, out: dict) -> dict[str, float]:
        ck1, ck2 = out["ck1"], out["ck2"]
        return {
            "sources.extract.edges": out["n_edges"],
            "operators.pagerank.supersteps": out["pr"].iterations_ran,
            "operators.pagerank.load_s": out["pr"].load_millis / 1e3,
            "sources.graph_store.output_mb": out["store_mb"],
            "sources.writeback.output_mb": out["wb_mb"],
            "operators.pagerank.durable.supersteps": out["r1"].iterations_ran
            + out["r2"].iterations_ran - self.STOP,
            "plans.checkpoint.saves": ck1.saves + ck2.saves,
            "plans.checkpoint.save_s": ck1.save_s + ck2.save_s,
            "plans.checkpoint.load_s": ck1.load_s + ck2.load_s,
            "plans.checkpoint.output_mb": ck1.output_mb + ck2.output_mb,
        }


WORKLOADS = {w.name: w for w in (ComponentsSkewed, IngestResume)}
