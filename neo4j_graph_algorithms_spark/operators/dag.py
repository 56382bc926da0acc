"""DAG scheduling primitives — topological levels / longest path.

GDS-era surface (``gds.dag.topologicalSort`` / ``gds.dag.longestPath``):
for a directed *acyclic* graph, assign every vertex its **level** = the
length of the longest directed path ending at it.  Sorting by
``(level, id)`` is a valid topological order (every edge goes from a
lower level to a strictly higher one), and the per-vertex level is the
critical-path distance used by build/task schedulers.

Spark shape: monotone max-propagation fixpoint — the same
frontier-superstep plan as WCC's min-label loop with ``max(level)+1``
as the gather.  Only vertices whose level changed re-send (the
frontier shrinks to the vertices on still-growing paths), one
SHUFFLE_HASH scatter + map-side-combined gather per superstep, state
lineage-cut and superstep-cache-retired every round.  Supersteps =
longest-path length; on the deep-chain worst case that is O(n), which
is inherent to longest-path semantics (it is NOT reducible by
pointer-doubling without materializing quadratic path state) — run
:func:`neo4j_graph_algorithms_spark.operators.scc` first when
cyclicity is unknown, and bound the depth with ``max_iterations``.

Cycle handling: on a cyclic input the recurrence has no fixpoint
(levels grow forever); the loop raises once ``max_iterations`` is
exceeded rather than returning wrong levels.  A true cycle *witness*
is SCC's job (``algo.scc``); this operator's contract mirrors the
reference's procs, which assume the projection matches the algorithm.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..graph import derived_vertices as _verts
from ..plans.checkpoint import SuperstepCheckpointer, aqe_suspended
from ..plans.superstep import superstep_fixpoint


@dataclass
class TopoResult:
    levels: DataFrame              # (id long, level long)
    iterations_ran: int
    max_level: int | None = None
    metrics: list[dict] = field(default_factory=list)
    load_millis: int = 0
    compute_millis: int = 0


def topological_levels(
    graph: Graph,
    max_iterations: int = 1000,
    checkpointer: SuperstepCheckpointer | None = None,
) -> TopoResult:
    """``(id, level)`` with level = longest directed path length ending
    at the vertex (sources = 0).  Raises ``ValueError`` if the levels
    have not stabilized after ``max_iterations`` supersteps — a cycle,
    or a path deeper than the bound."""
    spark = graph.spark
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    t_load0 = time.time()
    with aqe_suspended(spark):
        base = graph.edges.select("src", "dst").persist()
        base.count()  # ONE evaluation of the user's edge subtree
        edges = (
            base
            .filter(F.col("src") != F.col("dst"))
            .dropDuplicates(["src", "dst"])
            .repartition(n_part, "src")
            .persist()
        )
        edges.count()

        state = _verts(graph, base).select("id", F.lit(0).cast("long").alias("level"))
        load_millis = int(1000 * (time.time() - t_load0))
        t_compute0 = time.time()

        def step(prev: DataFrame, it: int) -> DataFrame:
            if base.is_cached:  # the engine has checkpointed the initial state
                base.unpersist()
            frontier = prev.filter("changed").select(F.col("id").alias("src"), "level")
            cand = (
                edges.join(frontier.hint("SHUFFLE_HASH"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg((F.max("level") + F.lit(1)).alias("cand"))
            )
            return prev.select("id", "level").join(cand.hint("SHUFFLE_HASH"), "id", "left").select(
                "id",
                F.greatest(F.col("level"), F.coalesce("cand", F.col("level"))).alias("level"),
                (F.coalesce("cand", F.col("level")) > F.col("level")).alias("changed"),
            )

        try:
            res = superstep_fixpoint(
                state, step, max_iterations, checkpointer=checkpointer,
                partition_cols=["id"], algorithm="topological_levels",
            )
        finally:
            base.unpersist()
            edges.unpersist()
        if not res.converged:
            raise ValueError(
                f"topological_levels did not stabilize after {max_iterations} "
                "supersteps: the graph has a cycle, or a directed path deeper "
                "than max_iterations (run algo.scc to locate cycles)"
            )
        mx = res.state.agg(F.max("level")).collect()[0][0]
    return TopoResult(
        levels=res.state,
        iterations_ran=res.iterations_ran,
        max_level=int(mx) if mx is not None else None,
        metrics=res.metrics,
        load_millis=load_millis,
        compute_millis=int(1000 * (time.time() - t_compute0)),
    )
