"""HITS (hubs & authorities) — alternating power iteration.

Beyond-reference surface (GDS-era `gds.alpha.hits`; this reference's
procedure family stops at PageRank variants).  Spec implemented here,
mirrored exactly by the driver query's unrolled SQL oracle
(Kleinberg's update order: authorities from the PREVIOUS hubs, hubs
from the CURRENT authorities):

    h_0(v) = a_0(v) = 1.0
    a_k(v) = Σ_{(u,v)∈E} h_{k-1}(u)
    h_k(u) = Σ_{(u,v)∈E} a_k(v)
    at a ``check_interval`` boundary (or the final iteration) both
    vectors are L2-normalized: a_k /= ‖a_k‖₂, h_k /= ‖h_k‖₂
    (a zero norm leaves the zero vector, same guard as eigenvector).

In exact arithmetic the directions equal the per-step-normalized
classic; batching the normalization (à la ``operators/eigenvector.py``)
keeps every superstep free of global aggregates — magnitudes grow by
at most (λ₁)^(2k) between boundaries, harmless in float64.

Spark shape per superstep — TWO gathers, ZERO edge exchanges:

    auth = edges_by_src ⋈ hubs(src)   → groupBy(dst).sum   (shuffle 1)
         ⟕ state(id)                                       (co-part)
    hub  = edges_by_dst ⋈ auth(dst)   → groupBy(src).sum   (shuffle 2)
         ⟕ state(id)                                       (co-part)

The edge table is persisted TWICE, hash-partitioned by ``src`` and by
``dst`` — 2× storage buys exchange-free scatter joins in both
directions every superstep (the alternative re-shuffles the full edge
set once per superstep, the scale-killer).  Both scatter joins carry
the engine's standard SHUFFLE_HASH hint; both gathers are map-side
combined, so hub in/out-degree skew collapses before the exchange.
Lineage is cut lazily per superstep and materialized once per
``check_interval`` batch by the norm aggregate (one driver job per
batch), with ``SuperstepCache`` retiring the previous batch's
checkpoint RDDs.
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
class HitsResult:
    scores: DataFrame  # (id long, hub double, authority double)
    iterations_ran: int
    metrics: list[dict] = field(default_factory=list)

    def stats(self) -> DataFrame:
        return one_row(
            self.scores.sparkSession,
            "nodes long, iterations long",
            self.scores.count(),
            self.iterations_ran,
        )


def hits(
    graph: Graph,
    max_iterations: int = 20,
    check_interval: int = 4,
    adaptive: bool = False,
    checkpointer: SuperstepCheckpointer | None = None,
) -> HitsResult:
    """Hub and authority scores by alternating power iteration (module
    header for the exact recurrence and plan shape).  With a
    ``checkpointer`` every superstep's normalized state is committed
    durably and a rerun resumes from the last committed iteration
    (durable mode forces ``check_interval=1``, like PageRank)."""
    with aqe_suspended(graph.spark, enabled=adaptive):
        return _run(graph, max_iterations, check_interval, checkpointer)


def _run(
    graph: Graph,
    max_iterations: int,
    check_interval: int,
    checkpointer: SuperstepCheckpointer | None = None,
) -> HitsResult:
    spark = graph.spark
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))

    e = graph.edges.select("src", "dst")
    if graph.src_partitioned:  # bucketed store: src copy needs no shuffle
        edges_by_src = e.persist()
    else:
        edges_by_src = e.repartition(n_part, "src").persist()
    edges_by_dst = e.repartition(n_part, "dst").persist()
    edges_by_src.count()
    edges_by_dst.count()

    cache = SuperstepCache(spark)
    metrics: list[dict] = []
    it = 0
    state = None
    if checkpointer is not None:
        last = checkpointer.latest_iteration()
        if last is not None:
            state = checkpointer.load(last, ["state"])["state"]
            it = last
            metrics = checkpointer.metrics()
    if state is None:
        # vertex set from the persisted src-copy (one user-subtree
        # evaluation per run; graph.vertices would re-run it)
        state = _verts(graph, edges_by_src).select(
            F.col("id"), F.lit(1.0).alias("hub"), F.lit(1.0).alias("authority")
        )
    state = truncate_lineage(state.repartition(n_part, "id"))  # eager
    cache.track(state)

    # durable mode commits per superstep (each boundary is a commit)
    interval = 1 if checkpointer is not None else max(1, int(check_interval))
    pending: list[DataFrame] = []
    while it < max_iterations:
        it += 1
        t0 = time.time()
        # authorities from previous hubs
        amsg = (
            edges_by_src.join(
                state.select(F.col("id").alias("src"), "hub").hint(
                    "SHUFFLE_HASH"
                ),
                "src",
            )
            .groupBy("dst")
            .agg(F.sum("hub").alias("amsg"))
            .hint("SHUFFLE_HASH")
        )
        with_auth = state.join(
            amsg, state["id"] == amsg["dst"], "left"
        ).select(
            state["id"],
            state["hub"],
            F.coalesce(amsg["amsg"], F.lit(0.0)).alias("authority"),
        )
        # hubs from CURRENT authorities
        hmsg = (
            edges_by_dst.join(
                with_auth.select(F.col("id").alias("dst"), "authority").hint(
                    "SHUFFLE_HASH"
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.sum("authority").alias("hmsg"))
            .hint("SHUFFLE_HASH")
        )
        new_state = with_auth.join(
            hmsg, with_auth["id"] == hmsg["src"], "left"
        ).select(
            with_auth["id"],
            F.coalesce(hmsg["hmsg"], F.lit(0.0)).alias("hub"),
            with_auth["authority"],
        )
        new_state = truncate_lineage(new_state, eager=False)
        pending.append(new_state)
        state = new_state
        if it % interval == 0 or it >= max_iterations:
            row = new_state.agg(
                F.sqrt(F.sum(F.col("hub") * F.col("hub"))).alias("hn"),
                F.sqrt(
                    F.sum(F.col("authority") * F.col("authority"))
                ).alias("an"),
            ).first()
            hn, an = float(row["hn"] or 0.0), float(row["an"] or 0.0)
            normalized = new_state.select(
                "id",
                (F.col("hub") / F.lit(hn)).alias("hub")
                if hn > 0.0
                else F.lit(0.0).alias("hub"),
                (F.col("authority") / F.lit(an)).alias("authority")
                if an > 0.0
                else F.lit(0.0).alias("authority"),
            )
            iter_metrics = {
                "algorithm": "hits",
                "hub_norm": hn,
                "authority_norm": an,
                "wall_ms": int(1000 * (time.time() - t0)),
            }
            metrics.append(iter_metrics)
            if checkpointer is not None:
                # durable commit: parquet round-trip IS the lineage cut
                normalized = checkpointer.save(
                    it, {"state": normalized}, iter_metrics
                )["state"]
                cache.track(*pending)
                pending = []
            else:
                normalized = truncate_lineage(normalized, eager=False)
                # batch materialized by the norm agg; `normalized` (a
                # lazy projection of the cached boundary level) is
                # adopted at the next boundary — see eigenvector.py for
                # the retirement invariant.
                cache.track(*pending)
                pending = [normalized]
            state = normalized
            if hn == 0.0 and an == 0.0:
                break

    edges_by_src.unpersist()
    edges_by_dst.unpersist()
    return HitsResult(
        scores=state.select("id", "hub", "authority"),
        iterations_ran=it,
        metrics=metrics,
    )
