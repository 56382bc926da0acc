"""Graph-tier scale smoke — the core graph operators driven at
10^8-edge scale with planted mega-hubs, the twin of
tools/neardup_scale_smoke.py for the link-graph tier.

The sf0.1 bench (~10^5 edges) verifies plans but cannot surface the
planner landmines that only appear when build sides stop fitting in
task memory or a hub's adjacency stops fitting in one partition (the
dedup smoke found three such at 1-5M docs).  This harness runs wcc,
label_propagation, triangle_count (then transitivity on the same
graph, which reuses its triangle census), transitivity alone on a fresh
graph and k_truss on a deterministic
power-law multigraph with:

- a planted in-hub (vertex 0) of degree >= ``hub_degree`` (default
  10^6) — the skew case the map-side combined gathers / degree-oriented
  wedge join / guarded walks are designed for;
- a Zipf-ish destination distribution (inverse-CDF of u^3 over the
  vertex range) so the top-1k vertices carry a realistic heavy tail,
  not just one adversarial hub.

No RNG, no Python UDFs: edges are xxhash64-keyed column expressions,
so every run is bit-identical and prep is one codegen'd projection.

Usage:
  python tools/graph_scale_smoke.py [--edges 100000000] [--cores 32]
      [--hub-degree 1000000] [--ops wcc,labelprop,triangles,transitivity,ktruss]
      [--truss-edges 30000000]

Per op prints one JSON line: {"op": ..., "edges": ..., "seconds": ...,
"result": {...}} (or {"error": ...} — a landmine found is the point,
not a harness failure).  Results land in BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from neo4j_graph_algorithms_spark import (  # noqa: E402
    Graph,
    label_propagation,
    pagerank,
    transitivity,
    triangle_count,
    wcc,
)
from neo4j_graph_algorithms_spark.operators.ktruss import k_truss  # noqa: E402
from neo4j_graph_algorithms_spark.session import get_spark  # noqa: E402


def synth_edges(spark, n_edges: int, n_vertices: int, hub_degree: int):
    """Deterministic power-law edge table.  First ``hub_degree`` rows
    fan into vertex 0 from distinct sources (the planted mega-hub);
    the rest pick src uniformly and dst by inverse-CDF u^3 (vertex
    popularity ~ heavy tail over the id range)."""
    e = spark.range(n_edges)
    u = (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(1 << 30)) / float(1 << 30))
    zipf_dst = F.floor(F.lit(n_vertices) * u * u * u).cast("long")
    return e.select(
        F.when(
            F.col("id") < hub_degree, (F.col("id") % (n_vertices - 1)) + 1
        )
        .otherwise(F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n_vertices)))
        .alias("src"),
        F.when(F.col("id") < hub_degree, F.lit(0))
        .otherwise(zipf_dst)
        .alias("dst"),
    ).filter(F.col("src") != F.col("dst"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--edges", type=int, default=100_000_000)
    ap.add_argument("--truss-edges", type=int, default=30_000_000,
                    help="separate (smaller) input for the iterative "
                         "truss peel, whose cost is superlinear in the "
                         "triangle count")
    ap.add_argument("--vertices", type=int, default=None,
                    help="default edges // 5")
    ap.add_argument("--hub-degree", type=int, default=1_000_000)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--ops", default="wcc,labelprop,triangles,ktruss")
    ap.add_argument("--path", default="/tmp/graph_smoke_edges.parquet")
    args = ap.parse_args()
    n_vertices = args.vertices or max(args.edges // 5, 1000)
    ops = args.ops.split(",")

    spark = get_spark(
        app_name="graph-scale-smoke",
        cores=args.cores,
        shuffle_partitions=args.cores * 4,
    )

    def prep(path: str, n_edges: int) -> None:
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            t0 = time.time()
            nv = args.vertices or max(n_edges // 5, 1000)
            synth_edges(spark, n_edges, nv, args.hub_degree).write.mode(
                "overwrite"
            ).parquet(path)
            print(
                f"# prep {path}: {round(time.time() - t0, 1)}s (untimed)",
                file=sys.stderr,
            )

    prep(args.path, args.edges)
    edges = spark.read.parquet(args.path)
    # skew census (untimed): the planted hub + organic tail
    deg = edges.groupBy("dst").count()
    top = deg.orderBy(F.desc("count")).limit(5).collect()
    print(
        json.dumps(
            {
                "op": "skew_census",
                "edges": edges.count(),
                "vertices_hint": n_vertices,
                "top_in_degrees": {str(r["dst"]): r["count"] for r in top},
            }
        )
    )

    def leg(op: str, fn) -> None:
        t0 = time.time()
        try:
            result = fn()
            print(
                json.dumps(
                    {
                        "op": op,
                        "seconds": round(time.time() - t0, 1),
                        "result": result,
                    }
                )
            )
        except Exception as exc:  # noqa: BLE001 — landmines are the point
            traceback.print_exc()
            print(
                json.dumps(
                    {
                        "op": op,
                        "seconds": round(time.time() - t0, 1),
                        "error": f"{type(exc).__name__}: {exc}",
                    }
                )
            )

    if "wcc" in ops:
        def run_wcc():
            g = Graph.from_edges(edges)
            res = wcc(g, check_interval=4)
            sizes = res.components.groupBy("set_id").count()
            row = sizes.agg(
                F.count(F.lit(1)).alias("n_components"),
                F.max("count").alias("largest"),
            ).first()
            return {
                "n_components": row["n_components"],
                "largest": row["largest"],
                "iterations": res.iterations_ran,
            }

        leg("wcc", run_wcc)

    if "labelprop" in ops:
        def run_lp():
            g = Graph.from_edges(edges)
            res = label_propagation(g, max_iterations=10)
            n_labels = res.labels.select("label").distinct().count()
            return {"n_labels": n_labels, "iterations": res.iterations_ran}

        leg("labelprop", run_lp)

    if "pagerank" in ops:
        def run_pr():
            g = Graph.from_edges(edges)
            res = pagerank(
                g, max_iterations=200, tolerance=1e-6,
                tolerance_check_interval=16,
            )
            return {"supersteps": res.iterations_ran, "converged": res.converged}

        leg("pagerank", run_pr)

    if "triangles" in ops:
        def run_tri():
            # transitivity on the same Graph reads triangle_count's census
            g, t0 = Graph.from_edges(edges), time.time()
            n_tri, t1 = triangle_count(g).triangle_count, time.time()
            tr = transitivity(g).first()
            return {"triangle_count": n_tri, "triangle_count_s": round(t1 - t0, 1),
                    "transitivity": tr["transitivity"], "wedges": tr["wedges"],
                    "transitivity_s": round(time.time() - t1, 1)}

        leg("triangles", run_tri)

    if "transitivity" in ops:  # alone, on a fresh Graph: it builds the totals itself
        leg("transitivity", lambda: transitivity(Graph.from_edges(edges)).first().asDict())

    if "ktruss" in ops:
        truss_path = "/tmp/graph_smoke_edges_truss.parquet"
        prep(truss_path, args.truss_edges)
        tedges = spark.read.parquet(truss_path)

        def run_truss():
            g = Graph.from_edges(tedges)
            res = k_truss(g, k=4)
            return {
                "k4_truss_edges": res.edge_count,
                "iterations": res.iterations_ran,
            }

        leg("ktruss", run_truss)

    spark.stop()


if __name__ == "__main__":
    main()
