"""Eigenvector centrality — batched-normalization power iteration.

Beyond-reference surface (GDS-era `gds.eigenvector`; this reference's
procedure family stops at PageRank variants).  Spec implemented here,
mirrored exactly by the driver query's unrolled SQL oracle:

    x_0(v)   = 1.0
    y_k(v)   = Σ_{(u,v)∈E} x_{k-1}(u)·w(u,v)         (unweighted: w=1)
    x_k      = y_k / ‖y_k‖₂   if k is a ``check_interval`` boundary or
                              the final iteration   (0 if ‖y_k‖₂ = 0)
             = y_k            otherwise

i.e. the classic power-iteration fixpoint of Aᵀ (vertices with no
in-edges go to 0; no teleport, no damping — that's PageRank's
department), with the L2 normalization applied every k-th superstep
instead of every superstep.  In exact arithmetic the direction is
identical either way (normalization is a positive scalar); batching it
bounds magnitudes (growth ≤ λ₁ᵏ between boundaries, harmless in
float64 for any sane k) while keeping the per-superstep plan free of
global aggregates.  The returned scores are normalized (the final
iteration is always a boundary).

Spark shape per superstep (same co-partitioned discipline as
``operators/pagerank.py``, module header there):

    msgs = edges ⋈ state(src)         # exchange-free: both hash-
                                      # partitioned on src/id, SHJ hint
         → groupBy(dst).sum(score·w)  # THE one shuffle, map-side
                                      # combined
    y    = state ⟕ msgs               # exchange-free

At each batch boundary ONE materializing aggregate reads ‖y_k‖₂ (plus
the active count); the driver then divides by that known constant —
a lazy projection, not another pass.  So the driver-job cadence is one
per ``check_interval`` supersteps, exactly PageRank's
``aggregate_interval`` machinery, and each superstep costs
|E| + |V| with a single exchange (power iteration has no frontier
sparsity, so there is no delta-push variant to exploit).

With ``tolerance`` set, convergence compares the two latest
*boundary* states (both normalized, both materialized):
max |x_k − x_{k−interval}| < tolerance stops the run — a sampled
version of the per-superstep delta test; ``iterations_ran`` counts
the supersteps actually applied.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..graph import derived_vertices as _verts
from ..plans.checkpoint import (
    SuperstepCache,
    SuperstepCheckpointer,
    aqe_suspended,
    truncate_lineage,
)
from ..plans.rows import one_row


@dataclass
class EigenvectorResult:
    scores: DataFrame  # (id long, score double)  — L2-normalized
    iterations_ran: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)

    def stats(self) -> DataFrame:
        return one_row(
            self.scores.sparkSession,
            "nodes long, iterations long, converged boolean",
            self.scores.count(),
            self.iterations_ran,
            self.converged,
        )


def eigenvector_centrality(
    graph: Graph,
    max_iterations: int = 20,
    tolerance: float | None = None,
    check_interval: int = 4,
    weighted: bool = False,
    adaptive: bool = False,
    checkpointer: SuperstepCheckpointer | None = None,
) -> EigenvectorResult:
    """Power-iteration eigenvector centrality (module header for the
    exact recurrence, normalization schedule, and plan shape).
    ``weighted=True`` multiplies each pushed score by the edge weight
    (requires a weighted graph).  With a ``checkpointer`` the
    normalized state of every superstep lands in the durable store and
    a rerun resumes from the last committed iteration; durable mode
    forces ``check_interval=1`` (each boundary is a commit point), same
    as PageRank's checkpointer semantics."""
    with aqe_suspended(graph.spark, enabled=adaptive):
        return _run(
            graph, max_iterations, tolerance, check_interval, weighted, checkpointer
        )


def _run(
    graph: Graph,
    max_iterations: int,
    tolerance: float | None,
    check_interval: int,
    weighted: bool,
    checkpointer: SuperstepCheckpointer | None = None,
) -> EigenvectorResult:
    spark = graph.spark
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))

    cols = ["src", "dst"] + (["weight"] if weighted else [])
    edges = graph.edges.select(*cols)
    if not graph.src_partitioned:  # bucketed store: shuffle paid at write time
        edges = edges.repartition(n_part, "src")
    edges = edges.persist()
    edges.count()  # materialize once; reused every superstep

    cache = SuperstepCache(spark)
    metrics: list[dict] = []
    it = 0
    state = None
    prev_boundary: DataFrame | None = None  # last normalized boundary state
    if checkpointer is not None:
        last = checkpointer.latest_iteration()
        if last is not None:
            state = checkpointer.load(last, ["state"])["state"]
            it = last
            metrics = checkpointer.metrics()
    if state is None:
        # vertex set from the persisted edge table (one user-subtree
        # evaluation per run; graph.vertices would re-run it)
        state = _verts(graph, edges).select(F.col("id"), F.lit(1.0).alias("score"))
    state = truncate_lineage(state.repartition(n_part, "id"))  # eager
    cache.track(state)
    if it > 0:
        prev_boundary = state

    # durable mode commits per superstep (each boundary is a commit)
    interval = 1 if checkpointer is not None else max(1, int(check_interval))
    converged = False
    pending: list[DataFrame] = []
    while it < max_iterations:
        it += 1
        t0 = time.time()
        contrib = (
            (F.col("score") * F.col("weight")) if weighted else F.col("score")
        )
        msgs = (
            edges.join(
                state.select(F.col("id").alias("src"), "score").hint(
                    "SHUFFLE_HASH"
                ),
                "src",
            )
            .groupBy("dst")
            .agg(F.sum(contrib).alias("msg"))
            .hint("SHUFFLE_HASH")
        )
        y = state.join(msgs, state["id"] == msgs["dst"], "left").select(
            state["id"], F.coalesce(msgs["msg"], F.lit(0.0)).alias("score")
        )
        y = truncate_lineage(y, eager=False)
        pending.append(y)
        state = y
        if it % interval == 0 or it >= max_iterations:
            # ONE materializing aggregate per batch: reads the norm and
            # lazily caches/checkpoints every pending level
            row = y.agg(
                F.sqrt(F.sum(F.col("score") * F.col("score"))).alias("nrm")
            ).first()
            nrm = float(row["nrm"] or 0.0)
            normalized = y.select(
                "id",
                (F.col("score") / F.lit(nrm)).alias("score")
                if nrm > 0.0
                else F.lit(0.0).alias("score"),
            )
            iter_metrics: dict = {
                "algorithm": "eigenvector",
                "norm": nrm,
                "wall_ms": int(1000 * (time.time() - t0)),
            }
            if tolerance is not None and prev_boundary is not None:
                delta = (
                    normalized.alias("a")
                    .join(prev_boundary.alias("b"), "id")
                    .agg(
                        F.max(
                            F.abs(F.col("a.score") - F.col("b.score"))
                        ).alias("max_delta")
                    )
                    .first()
                )
                iter_metrics["max_delta"] = float(delta["max_delta"] or 0.0)
            if checkpointer is not None:
                # durable commit: parquet round-trip IS the lineage cut;
                # the save materializes this superstep, so the previous
                # one can be retired
                normalized = checkpointer.save(
                    it, {"state": normalized}, iter_metrics
                )["state"]
                cache.track(*pending)
                pending = []
            else:
                normalized = truncate_lineage(normalized, eager=False)
                # batch materialized: adopt every level, retire the
                # previous batch's checkpoints.  `normalized` itself is
                # adopted at the NEXT boundary — its parent y stays
                # cached until then (it is in the batch adopted here),
                # so the lazy projection always computes from cache
                # before its parent can be retired.
                cache.track(*pending)
                pending = [normalized]
            metrics.append(iter_metrics)
            state = normalized
            prev_boundary = normalized
            if (
                tolerance is not None
                and iter_metrics.get("max_delta", tolerance) < tolerance
            ):
                converged = True
                break
            if nrm == 0.0:  # graph with no edges: fixpoint reached
                converged = tolerance is not None
                break

    edges.unpersist()
    return EigenvectorResult(
        scores=state.select("id", "score"),
        iterations_ran=it,
        converged=converged,
        metrics=metrics,
    )
