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

One census per graph, like the reference's single ``TriangleProc``
enumeration: the first triangle statistic on a ``Graph`` object builds
exact triangle and wedge totals and, unless it is ``transitivity``, a
materialized ``(id, degree, triangles)`` table over every edge
endpoint.  The object keeps them until it is dropped (the table is a
``localCheckpoint``, freed by Spark's ContextCleaner); later calls read
them.  A table whose blocks went with a lost executor is rebuilt; a
``per_node`` already returned shares them and fails.  Derived graphs
(``undirected()``, …) start without a census.
"""

from __future__ import annotations

import weakref
from contextlib import ExitStack
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

import os as _os

from ..graph import Graph
from ..plans.checkpoint import (
    aqe_suspended,
    checkpoint_blocks_present,
    shuffle_partitions_override,
    truncate_lineage,
)
from ..plans.rows import one_row

#: per-partition budget for the pipeline's |E|-row SHUFFLE_HASH build
#: sides (the wedge edge-existence map and the closing-edge set, ~48
#: B/row hashed).  The 10^8-edge scale smoke OOM'd the closing-edge
#: build on an 8g local JVM; flooring shuffle partitions to this budget
#: makes the pipeline degrade into more waves instead of failing an
#: allocation.  Override: SPARK_GRAFT_TRI_BUILD_TARGET.
_TRI_BUILD_TARGET = int(_os.environ.get("SPARK_GRAFT_TRI_BUILD_TARGET", 16 << 20))

#: undirected-edge count below which the pipeline leaves AQE alone:
#: coalescing small shuffles is a measured win on latency-bound bench
#: graphs, and builds this small cannot fail their memory grant.
_TRI_SMALL_EDGES = int(_os.environ.get("SPARK_GRAFT_TRI_SMALL_EDGES", 5_000_000))


@dataclass
class TriangleCountResult:
    per_node: DataFrame            # (id long, triangles long, coefficient double)
    triangle_count: int
    node_count: int
    average_coefficient: float


@dataclass(frozen=True)
class _Census:
    undirected_edges: int          # non-loop canonical pairs: sizes the guards
    triangles: int
    wedges: int
    # (id, degree, triangles), materialized, with its node count and
    # average coefficient; None when only the totals were built
    table: DataFrame | None = None
    nodes: int = 0
    average_coefficient: float = 0.0


#: each Graph object's census; an entry is dropped with its Graph
_CENSUS: weakref.WeakKeyDictionary[Graph, _Census] = weakref.WeakKeyDictionary()


def _coefficient() -> Column:
    d = F.col("degree")
    return F.when(d >= 2, 2.0 * F.col("triangles") / (d * (d - 1))).otherwise(0.0)


def _guarded_pairs(graph: Graph, stack: ExitStack) -> tuple[DataFrame, int]:
    """(eager checkpoint of the canonical ``src <= dst`` pairs, self-loops
    kept; non-loop pair count, observed in the checkpoint job).  The
    checkpoint is the one evaluation of the user's edge subtree; its
    loops keep self-loop-only vertices.  The count decides the scale
    guards, entered on ``stack``: below ``_TRI_SMALL_EDGES`` nothing
    changes — AQE's coalescing HELPS latency-bound graphs
    (triangle_counts_cop 11 s with AQE vs 26 s without at sf0.1).  Above
    it, the 10^8-edge smoke showed AQE merging the SHUFFLE_HASH build
    sides into oversized partitions, so AQE is suspended and shuffle
    partitions are floored to keep every |E|-row build under the
    ``_TRI_BUILD_TARGET`` per-partition budget."""
    e = graph.edges.select("src", "dst")
    if graph.symmetrized:
        pairs = e.filter(F.col("src") <= F.col("dst"))
    else:
        pairs = e.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        ).dropDuplicates(["src", "dst"])
    obs = Observation()
    pairs = truncate_lineage(
        pairs.observe(obs, F.sum((F.col("src") != F.col("dst")).cast("long")).alias("n"))
    )
    n_und = int(obs.get["n"] or 0)
    _scale_guards(graph.spark, n_und, stack)
    return pairs, n_und


def _scale_guards(spark, n_und: int, stack: ExitStack) -> None:
    if n_und > _TRI_SMALL_EDGES:
        stack.enter_context(aqe_suspended(spark))
        set_np = stack.enter_context(shuffle_partitions_override(spark))
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        needed = -(-n_und * 48 // _TRI_BUILD_TARGET)  # ceil
        if needed > n_part:
            set_np(needed)


def _undirected_degrees(pairs: DataFrame) -> DataFrame:
    """``(id, degree)`` over canonical ``(src <= dst)`` pairs in one
    aggregate; a self-loop pair adds its vertex with degree 0."""
    return (
        pairs.select(
            F.explode(F.array("src", "dst")).alias("id"),
            (F.col("src") != F.col("dst")).cast("long").alias("e"),
        )
        .groupBy("id")
        .agg(F.sum("e").alias("degree"))
    )


def _orient_by_degree(e: DataFrame, deg: DataFrame) -> DataFrame:
    """Degree-orient a loop-free canonical (src < dst) edge set: low
    (degree, id) endpoint → high, as ``(src, dst, sdeg, ddeg)`` with
    (sdeg, src) < (ddeg, dst) — the input shape ``_closed_wedges``
    expects.  SHUFFLE_HASH: build on the |V|-row degree side, stream
    the edges unsorted (an SMJ would sort the |E| side twice)."""
    j = e.join(
        deg.select(F.col("id").alias("src"), F.col("degree").alias("adeg"))
        .hint("SHUFFLE_HASH"),
        "src",
    ).join(
        deg.select(F.col("id").alias("dst"), F.col("degree").alias("bdeg"))
        .hint("SHUFFLE_HASH"),
        "dst",
    )
    fwd = (F.col("adeg") < F.col("bdeg")) | (
        (F.col("adeg") == F.col("bdeg")) & (F.col("src") < F.col("dst"))
    )
    return j.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("src"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("dst"),
        F.when(fwd, F.col("adeg")).otherwise(F.col("bdeg")).alias("sdeg"),
        F.when(fwd, F.col("bdeg")).otherwise(F.col("adeg")).alias("ddeg"),
    )


def _closed_wedges(oe: DataFrame) -> DataFrame:
    """One row ``(u, v, w)`` per triangle — apex ``u``, in orientation
    order — from an oriented edge set ``(src, dst, sdeg, ddeg)``."""
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
    # (A broadcast closing set lost its A/B: 4.0-4.9 s vs 2.6-3.4 s.)
    wedges = e1.join(e2.hint("SHUFFLE_HASH"), "u").filter(
        (F.col("vdeg") < F.col("wdeg"))
        | ((F.col("vdeg") == F.col("wdeg")) & (F.col("v") < F.col("w")))
    )
    e3 = oe.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    return wedges.join(e3.hint("SHUFFLE_HASH"), ["v", "w"], "left_semi").select(
        "u", "v", "w"
    )


def _wedge_triangles(oe: DataFrame) -> DataFrame:
    """One row per triangle ``(a, b, c)``, ids ascending, from a
    (materialized) oriented edge set ``(src, dst, sdeg, ddeg)``."""
    return _closed_wedges(oe).select(
        F.array_sort(F.array("u", "v", "w")).alias("t")
    ).select(
        F.col("t")[0].alias("a"), F.col("t")[1].alias("b"), F.col("t")[2].alias("c")
    )


def _census(graph: Graph, stack: ExitStack, per_vertex: bool) -> _Census:
    """The graph's census, built once per ``Graph`` object (``per_vertex``:
    with the table); its scale guards are entered on ``stack`` either
    way, so the caller's own materialization runs under them.  Racing
    builds store identical censuses, so no lock is needed."""
    census = _CENSUS.get(graph)
    if census is not None and (
        not per_vertex
        or (census.table is not None and checkpoint_blocks_present(census.table))
    ):
        _scale_guards(graph.spark, census.undirected_edges, stack)
        return census
    pairs, n_und = _guarded_pairs(graph, stack)
    deg = _undirected_degrees(pairs)
    oe = _orient_by_degree(pairs.filter(F.col("src") < F.col("dst")), deg).persist()
    closing = _closed_wedges(oe)
    if per_vertex:
        # per-vertex counts from one explode + groupBy of the closing
        # rows, joined into a checkpoint whose job observes the scalars
        counts = (
            closing.select(F.explode(F.array("u", "v", "w")).alias("id"))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("triangles"))
        )
        obs, d = Observation(), F.col("degree")
        table = truncate_lineage(
            deg.join(counts, "id", "left").fillna(0, ["triangles"]).observe(
                obs,
                F.sum("triangles").alias("t"),
                # Σ d·(d−1) as an exact long (each term is even), halved
                # below — a double sum loses exactness past 2^53 wedges
                F.sum(d * (d - 1)).alias("w"),
                F.count(F.lit(1)).alias("nodes"),
                F.avg(_coefficient()).alias("avg"),
            )
        )
        m = obs.get
        census = _Census(
            n_und, int(m["t"] or 0) // 3, int(m["w"] or 0) // 2,
            table, int(m["nodes"]), float(m["avg"] or 0.0),
        )
    else:
        # totals only: Σ_v d·(d−1) is Σ over the edges of d_src + d_dst − 2
        n_tri = closing.count()
        w = oe.agg(F.sum(F.col("sdeg") + F.col("ddeg") - 2)).first()[0]
        census = _Census(n_und, n_tri, int(w or 0) // 2)
    oe.unpersist()
    _CENSUS[graph] = census
    return census


def triangle_stream(graph: Graph) -> DataFrame:
    """``(a < b < c)`` one row per triangle — ``algo.triangle.stream``.
    Its own path (the census keeps counts, not triangles), returned
    materialized under the scale guards, with the oriented edges
    checkpointed once for the three self-join branches."""
    with ExitStack() as stack:
        pairs, _ = _guarded_pairs(graph, stack)
        und = pairs.filter(F.col("src") < F.col("dst"))
        oriented = _orient_by_degree(und, _undirected_degrees(und))
        # materialized while the scale guards are still in force: a lazy
        # result would run after the stack restored AQE and partitions
        return truncate_lineage(_wedge_triangles(truncate_lineage(oriented)))


def triangle_count(graph: Graph, with_summary: bool = True) -> TriangleCountResult:
    """Per-node triangle counts + clustering coefficients —
    ``algo.triangleCount[.stream]`` with
    ``clusteringCoefficientProperty`` (``TriangleProc.java:151-222``).

    Reads the graph's triangle census (module docstring).  ``per_node``
    is fully materialized: the census table, or the vertex table
    left-joined to it (isolated vertices at 0), checkpointed under the
    census's scale guards."""
    with ExitStack() as stack:
        census = _census(graph, stack, per_vertex=True)
        per_node = census.table
        verts = graph._vertices  # noqa: SLF001
        if verts is not None:
            per_node = truncate_lineage(
                verts.select("id")
                .join(per_node.hint("SHUFFLE_HASH"), "id", "left")
                .fillna(0, ["degree", "triangles"])
            )
    per_node = per_node.select("id", "triangles", _coefficient().alias("coefficient"))
    node_count, avg_coeff = census.nodes, census.average_coefficient
    if verts is not None:
        node_count, avg_coeff = 0, 0.0
        if with_summary:
            row = per_node.agg(
                F.count(F.lit(1)).alias("n"), F.avg("coefficient").alias("avg")
            ).first()
            node_count, avg_coeff = int(row["n"]), float(row["avg"] or 0.0)
    return TriangleCountResult(
        per_node=per_node,
        triangle_count=census.triangles,
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

    Both totals come from the graph's triangle census: after any
    triangle call on the same ``Graph`` object this one-row literal runs
    no Spark job until collected.  Called first, it builds the totals
    only, not the per-vertex table.  0.0 when the graph has no wedges.
    """
    with ExitStack() as stack:
        census = _census(graph, stack, per_vertex=False)
    n_tri, wedges = census.triangles, census.wedges
    return one_row(
        graph.spark,
        "triangles long, wedges long, transitivity double",
        n_tri,
        wedges,
        (3.0 * n_tri / wedges) if wedges else 0.0,
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
