"""Shortest paths — frontier-relaxation DataFrame loops.

Reference surface:
- ``algo.shortestPaths[.stream]`` — SSSP Dijkstra to all nodes
  (``impl/ShortestPaths.java:21-60``);
- ``algo.shortestPath.deltaStepping`` — parallel delta-stepping
  (``impl/ShortestPathDeltaStepping.java:20-66``);
- ``algo.shortestPath`` — point-to-point Dijkstra
  (``impl/ShortestPathDijkstra.java:21-60``).

A distributed engine relaxes in bulk rather than popping a priority
queue: per superstep

    relax = edges ⋈ frontier(src) → groupBy(dst).min(dist + w)
    improved = relax < dist       → next frontier

i.e. frontier Bellman-Ford.  ``delta`` bucketing (delta-stepping's
priority) maps to restricting each superstep's frontier to the lowest
open distance bucket — fewer wasted relaxations on weighted graphs at
the cost of more supersteps; with ``delta=None`` every improved vertex
re-relaxes (plain Bellman-Ford, best for small-diameter graphs).  The
batched all-pairs loop (``all_shortest_paths_weighted``) has no
bucketing: there it lost its wall-time A/B.

Results match Dijkstra exactly on non-negative weights (both are exact
SSSP); unreachable vertices get infinity, as in the reference
(``ShortestPaths.java`` initializes Double.POSITIVE_INFINITY).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.checkpoint import SuperstepCache, truncate_lineage


@dataclass
class SsspResult:
    distances: DataFrame           # (id long, distance double)
    iterations_ran: int
    metrics: list[dict] = field(default_factory=list)
    predecessors: DataFrame | None = None   # (id long, pred long)


def shortest_paths(
    graph: Graph,
    start_node: int,
    delta: float | None = None,
    max_iterations: int = 10_000,
    with_predecessors: bool = False,
) -> SsspResult:
    """SSSP from ``start_node`` over non-negative edge weights.

    ``with_predecessors=True`` adds one post-convergence pass computing
    the **canonical** shortest-path tree: ``pred(v) = min{u :
    dist(u) + w(u,v) == dist(v) and dist(u) < dist(v)}``.  Deriving
    preds from the final distances (instead of recording the argmin
    superstep-by-superstep) makes the tree deterministic and
    independent of relaxation order — the same tree any system
    computing the same float64 distances derives, which is what makes
    the materialized path oracle-checkable."""
    inf = float("inf")
    edges = graph.edges.persist()

    dist = graph.vertices.select(
        "id",
        F.when(F.col("id") == start_node, 0.0).otherwise(F.lit(inf)).alias("distance"),
    )
    dist = truncate_lineage(dist.repartition("id"))  # eager
    frontier = dist.filter(F.col("distance") < inf).select(
        F.col("id").alias("src"), F.col("distance").alias("d")
    )
    cache = SuperstepCache(graph.spark)
    cache.track(dist)
    metrics: list[dict] = []
    it = 0
    while it < max_iterations:
        it += 1
        t0 = time.time()
        f = frontier
        deferred = None
        if delta is not None:
            # delta-stepping: relax only the lowest open bucket; rows in
            # higher buckets are *deferred*, not dropped — they rejoin the
            # frontier next superstep (possibly with an improved distance,
            # resolved by the min-merge below).
            min_open = f.agg(F.min("d")).first()[0]
            if min_open is None:
                break
            bucket_end = (int(min_open / delta) + 1) * delta
            deferred = f.filter(F.col("d") >= F.lit(bucket_end))
            f = f.filter(F.col("d") < F.lit(bucket_end))
        relax = (
            edges.join(f.hint("SHUFFLE_HASH"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min(F.col("d") + F.col("weight")).alias("nd"))
        )
        joined = dist.join(relax.hint("SHUFFLE_HASH"), "id", "left").select(
            "id",
            F.least(F.col("distance"), F.coalesce(F.col("nd"), F.col("distance"))).alias(
                "distance"
            ),
            (F.coalesce(F.col("nd"), F.col("distance")) < F.col("distance")).alias(
                "improved"
            ),
        )
        joined = truncate_lineage(joined, eager=False)
        improved = joined.filter(F.col("improved")).count()
        metrics.append(
            {
                "algorithm": "sssp",
                "iteration": it,
                "improved": int(improved),
                "wall_ms": int(1000 * (time.time() - t0)),
            }
        )
        dist = joined.select("id", "distance")
        frontier = joined.filter(F.col("improved")).select(
            F.col("id").alias("src"), F.col("distance").alias("d")
        )
        if deferred is not None:
            # min-merge: a deferred row whose distance improved this round
            # appears in both branches; keep the smaller distance.
            frontier = (
                frontier.unionByName(deferred)
                .groupBy("src")
                .agg(F.min("d").alias("d"))
            )
            frontier = truncate_lineage(frontier)  # eager
            # retire the previous iteration's state AND frontier only
            # after BOTH of this iteration's checkpoints are live
            cache.track(joined, frontier)
            if improved == 0 and frontier.isEmpty():
                break
        else:
            cache.track(joined)
            if improved == 0:
                break

    preds = None
    if with_predecessors:
        d_src = dist.select(F.col("id").alias("src"), F.col("distance").alias("sd"))
        d_dst = dist.select(F.col("id").alias("dst"), F.col("distance").alias("dd"))
        preds = (
            edges.join(d_src, "src")
            .join(d_dst, "dst")
            .filter(
                (F.col("sd") + F.col("weight") == F.col("dd"))
                & (F.col("sd") < F.col("dd"))
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("src").alias("pred"))
        )
        preds = truncate_lineage(preds)
    edges.unpersist()
    return SsspResult(
        distances=dist, iterations_ran=it, metrics=metrics, predecessors=preds
    )


def shortest_path(
    graph: Graph, start_node: int, end_node: int, delta: float | None = None
) -> float:
    """Point-to-point distance (``algo.shortestPath`` without the path
    materialization); infinity when unreachable."""
    res = shortest_paths(graph, start_node, delta=delta)
    row = res.distances.filter(F.col("id") == end_node).first()
    return float(row["distance"]) if row is not None else float("inf")


def _ancestor_chain(preds: DataFrame, end_node: int) -> DataFrame:
    """All ancestors of ``end_node`` in the (functional) predecessor
    graph, via pointer doubling: each round the reachable set absorbs
    its current ancestors and the pred pointers double their jump
    distance — O(log path-length) supersteps, never a driver-side walk
    (the reference walks driver-side arrays,
    ``impl/ShortestPathDijkstra.java:92-107``; a 10^9-edge graph can't)."""
    spark = preds.sparkSession
    reach = truncate_lineage(
        spark.createDataFrame([(int(end_node),)], "node long")
    )
    hop = truncate_lineage(
        preds.select(F.col("id").alias("node"), F.col("pred").alias("anc"))
    )
    cache = SuperstepCache(spark)
    cache.track(reach, hop)
    n = 1
    while True:
        grown = (
            reach.join(hop, "node", "left")
            .select(F.coalesce("anc", "node").alias("node"))
            .union(reach)
            .distinct()
        )
        grown = truncate_lineage(grown)
        m = grown.count()
        if m == n:
            cache.track(grown)
            reach = grown
            break
        n = m
        doubled = (
            hop.alias("a")
            .join(
                hop.select(
                    F.col("node").alias("anc"), F.col("anc").alias("anc2")
                ).alias("b"),
                "anc",
                "left",
            )
            .select("node", F.coalesce("anc2", "anc").alias("anc"))
        )
        hop = truncate_lineage(doubled)
        reach = grown
        cache.track(reach, hop)
    return reach


def shortest_path_nodes(
    graph: Graph, start_node: int, end_node: int, delta: float | None = None
) -> DataFrame:
    """``algo.shortestPath.stream`` parity: the actual node sequence of
    the shortest path as ``(step long, node_id long, cost double)``,
    matching the reference's ``{nodeId, cost}`` YIELD
    (``ShortestPathProc.java:76``, path walk-back in
    ``impl/ShortestPathDijkstra.java:92-107``).  ``cost`` is the
    cumulative distance from ``start_node``; ``step`` is the 0-based
    position along the path.  Empty DataFrame when unreachable.

    Requires strictly positive edge weights (the canonical-pred chain
    steps strictly downhill in distance; a zero-weight tie would
    truncate it — detected and raised)."""
    spark = graph.spark
    empty = spark.createDataFrame([], "step long, node_id long, cost double")
    res = shortest_paths(
        graph, start_node, delta=delta, with_predecessors=True
    )
    end_row = res.distances.filter(F.col("id") == end_node).first()
    if end_row is None or end_row["distance"] == float("inf"):
        return empty
    chain = _ancestor_chain(res.predecessors, end_node)
    if chain.filter(F.col("node") == start_node).isEmpty():
        raise ValueError(
            "predecessor chain from end_node did not reach start_node "
            "(zero-weight edge tie?); shortest_path_nodes requires "
            "strictly positive weights"
        )
    path = chain.join(
        res.distances.hint("SHUFFLE_HASH"), chain["node"] == res.distances["id"]
    ).select(F.col("id").alias("node_id"), F.col("distance").alias("cost"))
    # the path is at most diameter-long — a single-partition window over
    # it is fine at any graph scale (the *path*, not the graph, is small)
    from pyspark.sql import Window

    w = Window.orderBy("cost")
    return path.select(
        (F.row_number().over(w).cast("long") - 1).alias("step"),
        "node_id",
        "cost",
    )


def all_shortest_paths_weighted(
    graph: Graph,
    sources: list[int] | DataFrame | None = None,
    max_iterations: int = 10_000,
    metrics: list[dict] | None = None,
) -> DataFrame:
    """``(source_node_id, target_node_id, distance)`` — weighted
    all-pairs shortest paths, the missing twin of the reference's
    ``impl/AllShortestPaths.java:21-60`` (multi-source parallel
    Dijkstra behind ``algo.allShortestPaths.stream`` when a
    ``weightProperty`` is configured; the unweighted dispatch is
    ``operators/msbfs.py::all_shortest_paths_unweighted``).  Emits one
    row per REACHED pair, including the zero-distance self pair —
    unreached pairs are absent (the reference streams ∞ rows only
    because its result set is dense by construction).

    ``sources`` restricts the batch (list of ids or an ``(id)``
    DataFrame); ``None`` runs every vertex — at 10^12 edges the n²
    output, not the compute, is then the limit, exactly as the
    reference's blocking result queue is.

    Spark shape: ONE batched frontier Bellman-Ford over composite key
    ``(source, id)`` — per superstep a scatter join ``edges ⋈
    frontier`` (SHUFFLE_HASH, edge side never re-sorted), a map-side-
    combined ``min`` gather per (source, dst), and a full-outer merge
    against the discovered-distance map; all |sources| Dijkstras
    advance in the same three dataflow ops, so superstep count is
    max-hops over sources, not Σ.  The distance map grows toward
    Σ reachable(source) rows — intrinsic to APSP output, and the
    reason ``sources`` exists.  Exact on non-negative weights.

    Plain Bellman-Ford only: per-source delta bucketing gave the same
    distances and lost its wall-time A/B (BENCH/BASELINE.md).

    ``metrics``: optional caller-owned list; one dict per superstep is
    appended (``iteration``, ``relaxed_rows`` = frontier rows
    scattered this round, ``improved``)."""
    spark = graph.spark
    inf = float("inf")
    edges = graph.edges.select("src", "dst", "weight").persist()
    if sources is None:
        srcs = graph.vertices.select(F.col("id").alias("source"))
    elif isinstance(sources, DataFrame):
        srcs = sources.select(F.col(sources.columns[0]).alias("source"))
    else:
        srcs = spark.createDataFrame([(int(s),) for s in sources], "source long")

    dist = truncate_lineage(
        srcs.select(
            "source", F.col("source").alias("id"), F.lit(0.0).alias("distance")
        ).repartition("source", "id")
    )
    frontier = dist
    cache = SuperstepCache(spark)
    cache.track(dist)
    it = 0
    while it < max_iterations:
        it += 1
        if metrics is not None:
            relaxed_rows = frontier.count()
        relax = (
            edges.join(
                frontier.select(
                    F.col("id").alias("src"), "source", F.col("distance").alias("d")
                ).hint("SHUFFLE_HASH"),
                "src",
            )
            .groupBy("source", F.col("dst").alias("id"))
            .agg(F.min(F.col("d") + F.col("weight")).alias("nd"))
        )
        joined = dist.join(relax.hint("SHUFFLE_HASH"), ["source", "id"], "full").select(
            "source",
            "id",
            F.least(
                F.coalesce(F.col("distance"), F.lit(inf)),
                F.coalesce(F.col("nd"), F.lit(inf)),
            ).alias("distance"),
            (
                F.coalesce(F.col("nd"), F.lit(inf))
                < F.coalesce(F.col("distance"), F.lit(inf))
            ).alias("improved"),
        )
        joined = truncate_lineage(joined, eager=False)
        improved = joined.filter(F.col("improved")).count()  # full materialize
        if metrics is not None:
            metrics.append(
                {
                    "algorithm": "apsp_weighted",
                    "iteration": it,
                    "relaxed_rows": int(relaxed_rows),
                    "improved": int(improved),
                }
            )
        dist = joined.select("source", "id", "distance")
        frontier = joined.filter(F.col("improved")).select(
            "source", "id", "distance"
        )
        cache.track(joined)
        if improved == 0:
            break
    out = truncate_lineage(
        dist.select(
            F.col("source").alias("source_node_id"),
            F.col("id").alias("target_node_id"),
            "distance",
        )
    )
    cache.track()  # retire the loop's final checkpoint; `out` owns the data
    edges.unpersist()
    return out
