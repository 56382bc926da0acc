"""Katz centrality — attenuated-walk power iteration.

Beyond-reference surface (GDS-era ``gds.alpha.katz``; the reference's
centrality family stops at PageRank/betweenness/closeness).  Katz
scores count all incoming walks, attenuated by length:

    x(v) = Σ_k α^k · (#walks of length k ending at v) · β
         = the fixpoint of  x = α·Aᵀx + β·1      (converges iff
           α < 1/λ₁(A))

Recurrence implemented here (and replayed exactly by the driver
query's unrolled SQL oracle):

    x_0(v) = 0
    x_k(v) = β + α · Σ_{(u,v)∈E} x_{k-1}(u)·w(u,v)   (unweighted: w=1)

with an optional single L2 normalization of the final state
(``normalize=True``, matching ``networkx.katz_centrality``'s
``normalized=True``).  Unlike eigenvector centrality there is no
per-batch normalization: α < 1/λ₁ keeps magnitudes bounded by
β/(1−αλ₁), so the loop body has **zero global aggregates** — the only
driver jobs are the per-``check_interval`` convergence probe and the
final norm read.

Spark shape per superstep — identical to ``operators/eigenvector.py``
(module header there): one SHUFFLE_HASH scatter join of the persisted
src-partitioned edges against the id-partitioned state, one map-side
combined ``groupBy(dst).sum`` (THE shuffle), one exchange-free
left-join projection; state lineage-cut per superstep and retired
through ``SuperstepCache``; durable resume via
``SuperstepCheckpointer``.
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
class KatzResult:
    scores: DataFrame  # (id long, score double)
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


def katz_centrality(
    graph: Graph,
    alpha: float = 0.1,
    beta: float = 1.0,
    max_iterations: int = 50,
    tolerance: float | None = None,
    check_interval: int = 4,
    weighted: bool = False,
    normalize: bool = True,
    checkpointer: SuperstepCheckpointer | None = None,
) -> KatzResult:
    """Katz centrality (module header for the recurrence and plan).
    ``alpha`` must satisfy α < 1/λ₁ for the fixpoint to exist — the
    caller owns that bound (estimate λ₁ ≤ max degree).  With
    ``tolerance``, stops when max |x_k − x_{k−interval}| < tolerance
    at a check boundary."""
    with aqe_suspended(graph.spark):
        return _run(
            graph, alpha, beta, max_iterations, tolerance, check_interval,
            weighted, normalize, checkpointer,
        )


def _run(
    graph: Graph,
    alpha: float,
    beta: float,
    max_iterations: int,
    tolerance: float | None,
    check_interval: int,
    weighted: bool,
    normalize: bool,
    checkpointer: SuperstepCheckpointer | None,
) -> KatzResult:
    spark = graph.spark
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))

    cols = ["src", "dst"] + (["weight"] if weighted else [])
    edges = graph.edges.select(*cols)
    if not graph.src_partitioned:
        edges = edges.repartition(n_part, "src")
    edges = edges.persist()
    edges.count()

    cache = SuperstepCache(spark)
    metrics: list[dict] = []
    it = 0
    state = None
    prev_boundary: DataFrame | None = None
    if checkpointer is not None:
        last = checkpointer.latest_iteration()
        if last is not None:
            state = checkpointer.load(last, ["state"])["state"]
            it = last
            metrics = checkpointer.metrics()
    if state is None:
        # vertex set from the persisted edge table (one user-subtree
        # evaluation per run; graph.vertices would re-run it)
        state = _verts(graph, edges).select(F.col("id"), F.lit(0.0).alias("score"))
    state = truncate_lineage(state.repartition(n_part, "id"))
    cache.track(state)
    if it > 0:
        prev_boundary = state

    interval = 1 if checkpointer is not None else max(1, int(check_interval))
    converged = False
    pending: list[DataFrame] = []
    while it < max_iterations:
        it += 1
        t0 = time.time()
        contrib = (F.col("score") * F.col("weight")) if weighted else F.col("score")
        msgs = (
            edges.join(
                state.select(F.col("id").alias("src"), "score").hint("SHUFFLE_HASH"),
                "src",
            )
            .groupBy("dst")
            .agg(F.sum(contrib).alias("msg"))
            .hint("SHUFFLE_HASH")
        )
        y = state.join(msgs, state["id"] == msgs["dst"], "left").select(
            state["id"],
            (
                F.lit(float(beta))
                + F.lit(float(alpha)) * F.coalesce(msgs["msg"], F.lit(0.0))
            ).alias("score"),
        )
        y = truncate_lineage(y, eager=False)
        pending.append(y)
        state = y
        if it % interval == 0 or it >= max_iterations:
            iter_metrics: dict = {"algorithm": "katz"}
            if tolerance is not None and prev_boundary is not None:
                delta = (
                    y.alias("a")
                    .join(prev_boundary.alias("b"), "id")
                    .agg(F.max(F.abs(F.col("a.score") - F.col("b.score"))).alias("d"))
                    .first()
                )
                iter_metrics["max_delta"] = float(delta["d"] or 0.0)
            else:
                y.count()  # materialize the batch
            iter_metrics["wall_ms"] = int(1000 * (time.time() - t0))
            if checkpointer is not None:
                y = checkpointer.save(it, {"state": y}, iter_metrics)["state"]
            cache.track(*pending)
            pending = []
            metrics.append(iter_metrics)
            state = y
            prev_boundary = y
            if (
                tolerance is not None
                and iter_metrics.get("max_delta", tolerance) < tolerance
            ):
                converged = True
                break

    scores = state
    if normalize:
        row = scores.agg(
            F.sqrt(F.sum(F.col("score") * F.col("score"))).alias("nrm")
        ).first()
        nrm = float(row["nrm"] or 0.0)
        if nrm > 0.0:
            scores = scores.select("id", (F.col("score") / F.lit(nrm)).alias("score"))
    edges.unpersist()
    return KatzResult(
        scores=scores.select("id", "score"),
        iterations_ran=it,
        converged=converged,
        metrics=metrics,
    )
