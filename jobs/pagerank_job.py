"""spark-submit job: PageRank over an edge table (parquet/Iceberg).

    spark-submit --py-files dist/neo4j_graph_algorithms_spark.zip \
        jobs/pagerank_job.py \
        --edges /data/edges --src src --dst dst \
        --out /data/pagerank_scores \
        --damping 0.85 --tolerance 1e-6 --max-iterations 100 \
        [--checkpoint-dir /data/ckpt --run-id job42]

On a cluster, spark-submit owns master/memory; ``get_spark`` is then a
passthrough ``getOrCreate``.  Without ``--checkpoint-dir`` PageRank runs
in memory.  With it, every superstep commits ``(id, rank, delta,
outdeg)`` under ``{dir}/pagerank/{run-id}/`` — one Spark job per
superstep, the write itself — plus a metrics.jsonl row (max and L1
delta, active vertices, gather skew, write time, parquet part sizes)
observed inside that write.  Re-submitting with the same dir + run-id
restarts from the last committed superstep; the result is bit-identical
to an uninterrupted run.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession

from neo4j_graph_algorithms_spark import Graph, pagerank
from neo4j_graph_algorithms_spark.plans.checkpoint import SuperstepCheckpointer


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--edges", required=True, help="parquet path or table of edges")
    ap.add_argument("--src", default="src")
    ap.add_argument("--dst", default="dst")
    ap.add_argument("--out", required=True, help="output path for (id, score)")
    ap.add_argument("--damping", type=float, default=0.85)
    ap.add_argument("--max-iterations", type=int, default=20)
    ap.add_argument("--tolerance", type=float, default=None)
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--run-id", default="default")
    args = ap.parse_args()

    spark = SparkSession.builder.appName("pagerank_job").getOrCreate()
    edges = (
        spark.read.parquet(args.edges)
        if "/" in args.edges or args.edges.endswith(".parquet")
        else spark.table(args.edges)
    )
    g = Graph.from_edges(edges, src=args.src, dst=args.dst)
    ckpt = None
    if args.checkpoint_dir:
        ckpt = SuperstepCheckpointer(
            spark, args.checkpoint_dir, "pagerank", run_id=args.run_id
        )
    res = pagerank(
        g,
        damping=args.damping,
        max_iterations=args.max_iterations,
        tolerance=args.tolerance,
        checkpointer=ckpt,
    )
    res.scores.write.mode("overwrite").parquet(args.out)
    print(
        f"pagerank: iterations={res.iterations_ran} converged={res.converged} -> {args.out}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
