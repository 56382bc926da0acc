"""Maximal independent set — deterministic Luby rounds.

Beyond-reference surface (the classic distributed symmetry-breaking
primitive; Luby 1986): select a set S such that no edge joins two
members (independence) and every non-member has a member neighbor
(maximality — NOT maximum-cardinality, which is NP-hard).  MIS is the
building block under scheduling, coloring, and clustering primitives,
and the per-round structure is the same one this engine's
``k1coloring`` uses.

Per round, over the still-*live* vertices (not yet decided):

- every live vertex whose per-round md5 priority beats all live
  neighbors' priorities joins S;
- live neighbors of new members become non-members;
- repeat until no live vertices remain.

Adjacent vertices never join in the same round (one priority wins,
ties broken by the zero-padded id suffix), and a vertex is only
excluded when a neighbor joined — so S is independent AND maximal by
construction.  Round-varying priorities (md5 of ``round:id``) give the
Luby O(log n) expected round count; everything is a pure function of
the graph — replayable in the DuckDB oracle, stable across
parallelism, retries, and resume.

Spark shape per round: one SHUFFLE_HASH scatter of the symmetric edge
set against the live frontier + one map-side-combined ``max`` gather
(the frontier shrinks geometrically — each round decides at least the
priority-maxima and their neighborhoods); one driver job per round
(the remaining-live count, which adopts the round's checkpoint into
the superstep cache).
"""

from __future__ import annotations

import warnings
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..graph import derived_vertices as _verts
from ..plans.checkpoint import SuperstepCheckpointer, aqe_suspended
from ..plans.rows import one_row
from ..plans.superstep import superstep_fixpoint


@dataclass
class MisResult:
    members: DataFrame             # (id long, in_set boolean)
    iterations_ran: int
    set_size: int | None = None
    metrics: list[dict] = field(default_factory=list)
    # False iff max_iterations ran out with live (NULL in_set) vertices
    # remaining — those rows are neither independent-verified nor
    # maximal-covered, so callers must check this before trusting the
    # set contract.
    converged: bool = True

    def stats(self) -> DataFrame:
        nodes = self.members.count()
        size = (
            self.set_size
            if self.set_size is not None
            else self.members.filter(F.col("in_set")).count()
        )
        return one_row(
            self.members.sparkSession,
            "nodes long, set_size long, iterations long",
            nodes,
            size,
            self.iterations_ran,
        )


def maximal_independent_set(
    graph: Graph,
    max_iterations: int = 64,
    checkpointer: SuperstepCheckpointer | None = None,
    compute_set_size: bool = False,
) -> MisResult:
    """``(id, in_set)`` — a maximal independent set of the undirected
    graph (self-loops ignored), deterministic Luby schedule (module
    header)."""
    spark = graph.spark
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    with aqe_suspended(spark):
        base = graph.edges.select("src", "dst").persist()
        base.count()  # ONE evaluation of the user's edge subtree
        both = (
            base
            .union(base.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .dropDuplicates(["src", "dst"])
            .repartition(n_part, "src")
            .persist()
        )
        both.count()

        # state: NULL = live (undecided), true/false = decided
        state = _verts(graph, base).select(
            "id", F.lit(None).cast("boolean").alias("in_set")
        )

        def step(prev: DataFrame, it: int) -> DataFrame:
            if base.is_cached:  # the engine has checkpointed the initial state
                base.unpersist()
            state = prev.select("id", "in_set")
            s = F.col("id").cast("string")
            pri = F.concat(F.md5(F.concat(F.lit(f"{it}:"), s)), F.lpad(s, 20, "0"))
            live = state.filter(F.col("in_set").isNull()).select("id", pri.alias("pri"))
            # max live-neighbor priority per live vertex
            agg = (
                both.join(
                    live.select(F.col("id").alias("src"), "pri").hint("SHUFFLE_HASH"),
                    "src",
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(F.max("pri").alias("mx"))
            )
            winners = (
                live.join(agg.hint("SHUFFLE_HASH"), "id", "left")
                .filter(F.col("mx").isNull() | (F.col("pri") > F.col("mx")))
                .select("id")
            )
            # live neighbors of winners are excluded
            excluded = (
                both.join(
                    winners.select(F.col("id").alias("src")).hint("SHUFFLE_HASH"),
                    "src",
                )
                .select(F.col("dst").alias("id"))
                .distinct()
            )
            return (
                state.join(
                    winners.select("id", F.lit(True).alias("won")).hint("SHUFFLE_HASH"),
                    "id",
                    "left",
                )
                .join(
                    excluded.select("id", F.lit(True).alias("lost")).hint("SHUFFLE_HASH"),
                    "id",
                    "left",
                )
                .select(
                    "id",
                    F.when(F.col("in_set").isNotNull(), F.col("in_set"))
                    .when(F.col("won").isNotNull(), F.lit(True))
                    .when(F.col("lost").isNotNull(), F.lit(False))
                    .alias("in_set"),
                )
                .withColumn("changed", F.col("in_set").isNull())  # still live
            )

        try:
            res = superstep_fixpoint(
                state, step, max_iterations, checkpointer=checkpointer,
                partition_cols=["id"], algorithm="mis",
            )
        finally:
            base.unpersist()
            both.unpersist()
        members = res.state
        remaining = 0
        if not res.converged:
            remaining = members.filter(F.col("in_set").isNull()).count()
        if remaining > 0:
            warnings.warn(
                f"maximal_independent_set: {remaining} vertices still "
                f"undecided after {res.iterations_ran} rounds — result is PARTIAL "
                "(converged=False); raise max_iterations",
                RuntimeWarning,
                stacklevel=2,
            )
        size = None
        if compute_set_size:
            size = members.filter(F.col("in_set")).count()
    return MisResult(
        members=members,
        iterations_ran=res.iterations_ran,
        set_size=size,
        metrics=res.metrics,
        converged=remaining == 0,
    )
