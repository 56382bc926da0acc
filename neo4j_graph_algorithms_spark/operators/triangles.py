"""Triangle count / clustering coefficient — degree-oriented self-joins.

Reference semantics (``algo/.../TriangleProc.java``): graph loaded
undirected + sorted + deduped (``TriangleProc.java:103-104``); node
iterator enumerates each triangle once via ordered neighbor
intersection (``TriangleCountQueue.java:126-143``); every triangle
increments all three member counts (``impl/TriangleCountBase.java:93-98``);
clustering coefficient ``2·tri(v) / (deg(v)·(deg(v)−1))``, 0 when
degree < 2 (``TriangleCountBase.java:106-115``); average over all nodes
(``TriangleCountQueue.java:70-81``).  The stream variant emits each
triangle once as ``nodeA < nodeB < nodeC`` (``impl/TriangleStream.java``).

Spark shape: orient the deduplicated undirected edge set **from the
lower-degree endpoint to the higher-degree endpoint** (ties by id).
Every triangle then has exactly one "apex" — the first vertex in the
(degree, id) order — and is found once by the wedge join

    e1(u→v) ⋈ e2(u→w)  with ord(v) < ord(w)   →  check e3(v→w)

Degree orientation bounds the wedge fan-out per vertex by its oriented
out-degree ≤ O(√m) on any graph — the standard compact-forward bound —
so hub vertices do not explode the self-join (the skew handling the
north rule calls out for triangle counting; SURVEY.md §2.2).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import os as _os

from ..graph import Graph
from ..plans.checkpoint import (
    aqe_suspended,
    shuffle_partitions_override,
    truncate_lineage,
)
from ..plans.rows import one_row

#: per-partition budget for the pipeline's |E|-row SHUFFLE_HASH build
#: sides (the wedge edge-existence map and the closing-edge set, ~48
#: B/row hashed).  The 10^8-edge scale smoke OOM'd the closing-edge
#: build on an 8g local JVM once the cached oriented edges squeezed
#: the execution pool; flooring shuffle partitions to keep each build
#: under this budget makes the pipeline degrade into more waves
#: instead of failing an allocation.  Bench scale (1.2M edges, 32
#: partitions) never triggers.  Override: SPARK_GRAFT_TRI_BUILD_TARGET.
_TRI_BUILD_TARGET = int(
    _os.environ.get("SPARK_GRAFT_TRI_BUILD_TARGET", str(16 << 20))
)

#: undirected-edge count below which the pipeline leaves AQE alone:
#: coalescing small shuffles is a measured win on latency-bound bench
#: graphs, and builds this small cannot fail their memory grant.
_TRI_SMALL_EDGES = int(
    _os.environ.get("SPARK_GRAFT_TRI_SMALL_EDGES", str(5_000_000))
)


@dataclass
class TriangleCountResult:
    per_node: DataFrame            # (id long, triangles long, coefficient double)
    triangle_count: int
    node_count: int
    average_coefficient: float


def _oriented_edges(
    graph: Graph, guard_stack=None, with_vertices: bool = False
) -> tuple[DataFrame, DataFrame | None]:
    """(oriented edges with order keys, vertex table or ``None``).

    Orientation key is (undirected degree, id); the oriented edge goes
    low-key → high-key.  Returned columns:
    ``(src, dst, sdeg, ddeg)`` where (sdeg, src) < (ddeg, dst).

    The user's edge subtree (arbitrary SQL — at 100 TB the expensive
    scan) is evaluated EXACTLY ONCE: the raw projection is persisted,
    the canonical undirected set is eagerly checkpointed off that
    cache, and with ``with_vertices`` the vertex table (which must
    include self-loop-only vertices the canonical set drops) is
    checkpointed off the same cache — previously the degree agg, the
    orientation joins, and the caller's per-node relabel each re-ran
    the subtree.  Only ``triangle_count`` needs the vertex table; on a
    graph without one it costs a ``distinct`` shuffle job.
    """
    base = graph.edges.select("src", "dst").persist()
    base.count()
    if graph.symmetrized:
        und = base.filter(F.col("src") < F.col("dst"))
    else:
        e0 = base.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        und = e0.filter(F.col("src") != F.col("dst")).dropDuplicates(["src", "dst"])
    und = truncate_lineage(und)  # eager — frees base for the joins below
    if guard_stack is not None:
        # Size-dependent scale guards, decided once |E| is known and
        # scoped to the CALLER's ExitStack (restores on its exit):
        # below _TRI_SMALL_EDGES nothing changes — AQE's partition
        # coalescing measurably HELPS latency-bound bench graphs
        # (triangle_counts_cop 11 s with AQE vs 26 s without at sf0.1).
        # Above it, the 10^8-edge smoke showed AQE coalescing merges
        # the SHUFFLE_HASH build sides into few oversized partitions
        # (hash-build allocation failures), so AQE is suspended and
        # shuffle partitions are floored to keep every |E|-row build
        # under the _TRI_BUILD_TARGET per-partition budget.
        n_und = und.count()  # cheap: counts the fresh checkpoint RDD
        if n_und > _TRI_SMALL_EDGES:
            spark = graph.spark
            guard_stack.enter_context(aqe_suspended(spark))
            set_np = guard_stack.enter_context(
                shuffle_partitions_override(spark)
            )
            n_part = int(
                spark.conf.get("spark.sql.shuffle.partitions", "200")
            )
            needed = -(-n_und * 48 // _TRI_BUILD_TARGET)  # ceil
            if needed > n_part:
                set_np(needed)
    verts = graph._vertices if with_vertices else None  # noqa: SLF001
    if with_vertices and verts is None:
        verts = truncate_lineage(
            base.select(F.col("src").alias("id"))
            .union(base.select(F.col("dst").alias("id")))
            .distinct()
        )
    base.unpersist()
    deg = (
        und.select(F.col("src").alias("id"))
        .union(und.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # SHUFFLE_HASH: build on the |V|-row degree side, stream the edges
    # unsorted (an SMJ would sort the |E| side twice)
    e = (
        und.join(
            deg.select(F.col("id").alias("src"), F.col("degree").alias("adeg"))
            .hint("SHUFFLE_HASH"),
            "src",
        )
        .join(
            deg.select(F.col("id").alias("dst"), F.col("degree").alias("bdeg"))
            .hint("SHUFFLE_HASH"),
            "dst",
        )
    )
    fwd = (F.col("adeg") < F.col("bdeg")) | (
        (F.col("adeg") == F.col("bdeg")) & (F.col("src") < F.col("dst"))
    )
    oriented = e.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("src"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("dst"),
        F.when(fwd, F.col("adeg")).otherwise(F.col("bdeg")).alias("sdeg"),
        F.when(fwd, F.col("bdeg")).otherwise(F.col("adeg")).alias("ddeg"),
    )
    return oriented, verts


def _wedge_triangles(oe: DataFrame, close_bcast: bool = False) -> DataFrame:
    """One row per triangle ``(a, b, c)``, ids ascending, from a
    (materialized) oriented edge set ``(src, dst, sdeg, ddeg)``.

    ``close_bcast`` broadcasts the closing edge set, making the semi
    join map-side (the Σ deg²-row wedge stream is filtered where it is
    produced instead of being exchanged).  A/B-measured OFF by
    default: in local mode the broadcast build costs more than the
    in-process exchange it saves (1.2M-edge close: 4.0-4.9 s vs
    2.6-3.4 s SHUFFLE_HASH); on a multi-node cluster, where the wedge
    exchange crosses the network, flip it on for edge sets that fit
    the driver."""
    e1 = oe.select(
        F.col("src").alias("u"), F.col("dst").alias("v"), F.col("ddeg").alias("vdeg")
    )
    e2 = oe.select(
        F.col("src").alias("u"), F.col("dst").alias("w"), F.col("ddeg").alias("wdeg")
    )
    # wedge at the apex u, ordered (deg, id) so each wedge appears once.
    # SHUFFLE_HASH: hash one |E| branch instead of sorting both; the
    # payoff is the SEMI join below — its probe side is the wedge set
    # (Σ deg² rows), which an SMJ would SORT in full, while SHJ builds
    # the |E|-row edge-existence map and streams the wedges unsorted.
    wedges = e1.join(e2.hint("SHUFFLE_HASH"), "u").filter(
        (F.col("vdeg") < F.col("wdeg"))
        | ((F.col("vdeg") == F.col("wdeg")) & (F.col("v") < F.col("w")))
    )
    e3 = oe.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    e3 = F.broadcast(e3) if close_bcast else e3.hint("SHUFFLE_HASH")
    tri = wedges.join(e3, ["v", "w"], "left_semi").select("u", "v", "w")
    return tri.select(
        F.array_sort(F.array("u", "v", "w")).alias("t")
    ).select(
        F.col("t")[0].alias("a"), F.col("t")[1].alias("b"), F.col("t")[2].alias("c")
    )


def _undirected_degrees(oe: DataFrame) -> DataFrame:
    """``(id, degree)`` from the oriented edge set (each undirected edge
    appears exactly once, so incidences = undirected degree)."""
    return (
        oe.select(F.col("src").alias("id"))
        .unionAll(oe.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def triangle_stream(graph: Graph) -> DataFrame:
    """``(a < b < c)`` one row per triangle — ``algo.triangle.stream``.

    The oriented edge set is materialized once (eager lineage cut) so
    the three self-join branches read a cached copy instead of
    recomputing the degree-orientation join per branch.  The triangle
    set is returned materialized, computed under the size guards of
    ``_oriented_edges`` (which the caller's session no longer has)."""
    from contextlib import ExitStack

    with ExitStack() as stack:
        oriented, _ = _oriented_edges(graph, stack)
        # materialized while the scale guards are still in force: a lazy
        # result would run after the stack restored AQE and partitions
        return truncate_lineage(_wedge_triangles(truncate_lineage(oriented)))


def triangle_count(graph: Graph, with_summary: bool = True) -> TriangleCountResult:
    """Per-node triangle counts + clustering coefficients —
    ``algo.triangleCount[.stream]`` with
    ``clusteringCoefficientProperty`` (``TriangleProc.java:151-222``).

    ``per_node`` is fully materialized before the intermediate triangle
    set is released — consuming the result never re-runs the wedge
    join, and counts + coefficients come from ONE computation.

    Above ``_TRI_SMALL_EDGES`` undirected edges the pipeline suspends
    AQE and floors shuffle partitions (guards decided in
    ``_oriented_edges`` once |E| is known — see the inline rationale;
    both found by the 10^8-edge scale smoke).  Below it, plans are
    exactly the round-4 bench plans: AQE coalescing measurably helps
    latency-bound graphs."""
    from contextlib import ExitStack

    with ExitStack() as stack:
        return _triangle_count_impl(graph, with_summary, stack)


def _triangle_count_impl(
    graph: Graph, with_summary: bool, guard_stack=None
) -> TriangleCountResult:
    oriented, verts = _oriented_edges(graph, guard_stack, with_vertices=True)
    oe = oriented.persist()
    tri = _wedge_triangles(oe).persist()
    n_triangles = tri.count()
    member = (
        tri.select(F.col("a").alias("id"))
        .unionAll(tri.select(F.col("b").alias("id")))
        .unionAll(tri.select(F.col("c").alias("id")))
    )
    counts = member.groupBy("id").agg(F.count(F.lit(1)).alias("triangles"))
    per_node = (
        verts.select("id")
        .join(counts, "id", "left")
        .join(_undirected_degrees(oe), "id", "left")
        .select(
            "id",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            F.coalesce("degree", F.lit(0)).alias("degree"),
        )
        .withColumn(
            "coefficient",
            F.when(
                F.col("degree") >= 2,
                2.0 * F.col("triangles") / (F.col("degree") * (F.col("degree") - 1)),
            ).otherwise(F.lit(0.0)),
        )
        .select("id", "triangles", "coefficient")
    )
    per_node = truncate_lineage(per_node)  # eager: owns its data now
    node_count = 0
    avg_coeff = 0.0
    if with_summary:
        row = per_node.agg(
            F.count(F.lit(1)).alias("n"), F.avg("coefficient").alias("avg")
        ).first()
        node_count = int(row["n"])
        avg_coeff = float(row["avg"] or 0.0)
    tri.unpersist()
    oe.unpersist()
    return TriangleCountResult(
        per_node=per_node,
        triangle_count=int(n_triangles),
        node_count=node_count,
        average_coefficient=avg_coeff,
    )


def clustering_coefficients(graph: Graph) -> DataFrame:
    """``(id, coefficient)`` convenience view."""
    return triangle_count(graph, with_summary=False).per_node.select("id", "coefficient")


def transitivity(graph: Graph) -> DataFrame:
    """One-row global transitivity —
    ``(triangles, wedges, transitivity)`` with
    ``transitivity = 3·#triangles / #wedges`` and
    ``wedges = Σ_v deg(v)·(deg(v)−1)/2`` over the deduped undirected
    graph (the "global clustering coefficient" — the closed-wedge
    fraction, which weights hubs by their wedge count, unlike the
    per-node average ``triangle_count`` reports).

    Plan: the same degree-oriented wedge join as ``triangle_count``
    (O(√m) fan-out bound) for the triangle total, plus one
    map-side-combined degree aggregate for the wedge total — two
    driver-job scalars, no new shuffle shapes.  Returns 0.0 when the
    graph has no wedges.
    """
    from contextlib import ExitStack

    with ExitStack() as stack:
        oriented, _ = _oriented_edges(graph, stack)
        oe = oriented.persist()
        n_tri = _wedge_triangles(oe).count()
        # sum d*(d-1) as exact long (each term is even) and halve the
        # scalar — a double sum loses exactness past 2^53 total wedges,
        # which hub-heavy graphs reach at the advertised scale
        row = _undirected_degrees(oe).agg(
            F.sum(F.col("degree").cast("long") * (F.col("degree") - 1)).alias("w")
        ).first()
        oe.unpersist()
    wedges = int(row["w"] or 0) // 2
    t = (3.0 * n_tri / wedges) if wedges else 0.0
    return one_row(
        graph.spark,
        "triangles long, wedges long, transitivity double",
        int(n_tri),
        wedges,
        t,
    )


def doulion_estimate(
    graph: Graph,
    p: float = 0.5,
    salt: str = "doulion",
) -> DataFrame:
    """One-row DOULION sampled triangle estimate —
    ``(sampled_edges, sampled_triangles, est_triangles)``.

    DOULION (Tsourakakis et al., KDD'09): keep each undirected edge
    independently with probability ``p``, count triangles on the
    sparsified graph, scale by ``1/p^3``.  The unbiased estimator that
    makes exact triangle counting affordable when the edge set itself
    is the bottleneck — at 100 TB the sample is a pushed-down filter on
    the edge scan, so the wedge join (the expensive part) runs on
    ``p·m`` edges (cost shrinks ~``p^2`` for the join fan-out).

    Determinism (so the DuckDB oracle replays the coin flips): the
    "coin" for canonical edge (a, b) is the first 60 bits of
    ``md5(a ':' b ':' salt)`` as an integer modulo 10^6 compared to
    ``p·10^6`` — a pure function of the edge, stable across runs,
    partitionings, and engines (the same md5-bucket convention as
    ``functions/sampling.py::hash_bucket``).

    Reference has no sampled-triangle surface; this extends
    ``algo.triangleCount`` (TriangleProc.java) with the standard
    scale-out estimator.
    """
    if not 0.0 < p <= 1.0:
        raise ValueError(f"doulion_estimate: p must be in (0, 1], got {p}")
    # the md5 coin has 1e-6 granularity: the effective keep probability
    # is round(p*1e6)/1e6, which deviates from p by up to 5e-7 — for
    # p >= 1e-4 that is a <=0.5% relative bias on the 1/p^3 estimator,
    # but below it the quantization dominates (p < 5e-7 keeps NOTHING).
    # Reject outright rather than silently return a biased estimate
    # (ADVICE r3).
    if p < 1e-4:
        raise ValueError(
            f"doulion_estimate: p={p} is below the 1e-4 floor — the md5 "
            "coin is quantized to 1e-6, so round(p*1e6)/1e6 deviates "
            "materially from p (and p < 5e-7 keeps zero edges)"
        )
    canon = (
        graph.edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    coin = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("a").cast("string"),
                        F.col("b").cast("string"),
                        F.lit(salt),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % F.lit(1_000_000)
    )
    sampled = canon.filter(coin < F.lit(int(round(p * 1_000_000)))).select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )
    sampled = truncate_lineage(sampled)
    n_edges = sampled.count()
    n_tri = triangle_stream(Graph.from_edges(sampled)).count()
    est = n_tri / (p ** 3)
    return one_row(
        graph.spark,
        "sampled_edges long, sampled_triangles long, est_triangles double",
        int(n_edges),
        int(n_tri),
        round(est, 6),
    )
