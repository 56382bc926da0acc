"""Label propagation — synchronous weighted voting with deterministic ties.

Reference semantics (``algo/.../impl/LabelPropagation.java``, proc
``LabelPropagationProc.java:51-56``):

- init: ``labels[v] = node's 'partition' property, falling back to its
  own node id`` (``LabelPropagation.java:196-202``; fallback proven by
  ``LabelPropagationProcIntegrationTest.java:140-151``);
- vote: each neighbor t (via ``direction`` — OUTGOING default) votes for
  its current label with weight
  ``edgeWeight(v,t) · nodeWeight(t)`` (``LabelPropagation.java:280-289``);
  the max-total-weight label wins (``:260-278``);
- the reference is **semi-asynchronous with nondeterministic ties**
  (strict ``<`` over hash-map iteration order); we run the synchronous
  variant with the deterministic tie-break *smallest label wins* —
  identical on the reference's own tie-free fixtures (SURVEY.md §2.2);
- ``iterations`` (default 1) supersteps; ``didConverge`` when a
  superstep changes nothing (``LabelPropagation.java:104-123``).

Spark shape per superstep: scatter = edges ⋈ labels(neighbor side);
gather = ``groupBy(voter-target, label).sum(weight)`` then per-vertex
argmax via ``max_by(struct)`` — a two-level aggregation that keeps hub
vertices inside map-side partial aggregation (no windowed sort, no
single-partition shuffle).  The vote edges stay flat rows: a salted
CSR-style block layout (one row per neighbor holding its voters) lost
its A/B against them and was removed (README, "Scale design").
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.checkpoint import SuperstepCheckpointer, aqe_suspended
from ..plans.rows import one_row
from ..plans.superstep import superstep_fixpoint

OUTGOING = "OUTGOING"
INCOMING = "INCOMING"
BOTH = "BOTH"


@dataclass
class LabelPropagationResult:
    labels: DataFrame              # (id long, label long)
    iterations_ran: int
    did_converge: bool
    metrics: list[dict] = field(default_factory=list)
    load_millis: int = 0
    compute_millis: int = 0
    write_millis: int = 0

    def stats(self) -> DataFrame:
        """One-row write-mode YIELD parity —
        ``(nodes, iterations, didConverge, loadMillis, computeMillis,
        writeMillis)`` (``results/LabelPropagationStats.java:23-25``)."""
        return one_row(
            self.labels.sparkSession,
            "nodes long, iterations long, did_converge boolean, "
            "load_millis long, compute_millis long, write_millis long",
            self.labels.count(),
            self.iterations_ran,
            self.did_converge,
            self.load_millis,
            self.compute_millis,
            self.write_millis,
        )


def label_propagation(
    graph: Graph,
    direction: str = OUTGOING,
    max_iterations: int = 1,
    node_labels: DataFrame | None = None,
    node_weights: DataFrame | None = None,
    checkpointer: SuperstepCheckpointer | None = None,
    checkpoint_interval: int = 1,
    aggregate_interval: int = 1,
) -> LabelPropagationResult:
    """``node_labels``: optional ``(id, label long)`` seed — the
    reference's ``partition`` node property; missing vertices fall back
    to their own id.  ``node_weights``: optional ``(id, node_weight
    double)`` — the reference's ``weight`` property, default 1.0.

    ``aggregate_interval`` > 1 batches the materializing changed-count
    across k supersteps (one driver job per batch, labels bit-identical
    — iterating past a fixpoint is a no-op).  Opt-in because
    ``did_converge``/``iterations_ran`` are then only resolved at batch
    granularity; keep 1 when reference YIELD parity of the iteration
    counter matters."""
    with aqe_suspended(graph.spark):
        return _run(
            graph, direction, max_iterations, node_labels, node_weights,
            checkpointer, checkpoint_interval, aggregate_interval,
        )


def _run(
    graph: Graph,
    direction: str,
    max_iterations: int,
    node_labels: DataFrame | None,
    node_weights: DataFrame | None,
    checkpointer: SuperstepCheckpointer | None,
    checkpoint_interval: int,
    aggregate_interval: int = 1,
) -> LabelPropagationResult:
    t_load0 = time.time()
    n_part = int(graph.spark.conf.get("spark.sql.shuffle.partitions", "200"))
    # Evaluate the user's edge subtree EXACTLY ONCE (arbitrary SQL — at
    # 100 TB the expensive scan): the raw projection is persisted, the
    # vote-edge layout AND the vertex set derive from that cache, and
    # the base is released once the labels init is materialized.
    base = graph.edges.select("src", "dst", "weight").persist()
    base.count()
    if graph._vertices is not None:
        vertices = graph.vertices.select("id")
    else:
        vertices = (
            base.select(F.col("src").alias("id"))
            .union(base.select(F.col("dst").alias("id")))
            .distinct()
        )

    seed = node_labels
    if seed is None and graph._vertices is not None and "partition" in graph._vertices.columns:
        seed = graph._vertices.select("id", F.col("partition").cast("long").alias("label"))
    if seed is not None:
        labels = vertices.join(
            seed.select("id", F.col(seed.columns[1]).cast("long").alias("label")),
            "id",
            "left",
        ).select("id", F.coalesce("label", F.col("id")).alias("label"))
    else:
        labels = vertices.select("id", F.col("id").alias("label"))

    nw = node_weights
    if nw is None and graph._vertices is not None and "weight" in graph._vertices.columns:
        nw = graph._vertices.select("id", F.col("weight").cast("double").alias("node_weight"))
    if nw is not None:
        weights = vertices.join(
            nw.select("id", F.col(nw.columns[1]).cast("double").alias("node_weight")),
            "id",
            "left",
        ).select("id", F.coalesce("node_weight", F.lit(1.0)).alias("node_weight"))
    else:
        weights = vertices.select("id", F.lit(1.0).alias("node_weight"))

    # Voting edges (voter ← neighbor): neighbor votes for the voter's new
    # label.  OUTGOING: v's neighbors are its out-targets.
    e = base
    if direction == BOTH and graph.symmetrized:
        # Symmetrized view (undirected() or load_graph(sym=True)): each
        # unordered pair is stored both ways already, so ONE orientation
        # pass enumerates the same votes as the OUT ∪ IN union — and
        # keyed nbr=src, a bucketed store's HashPartitioning(src) flows
        # straight into the vote layout.
        votes_edges = e.select(F.col("dst").alias("voter"), F.col("src").alias("nbr"), "weight")
        nbr_partitioned = graph.src_partitioned
    elif direction == OUTGOING:
        votes_edges = e.select(F.col("src").alias("voter"), F.col("dst").alias("nbr"), "weight")
        nbr_partitioned = False
    elif direction == INCOMING:
        votes_edges = e.select(F.col("dst").alias("voter"), F.col("src").alias("nbr"), "weight")
        nbr_partitioned = graph.src_partitioned
    elif direction == BOTH:
        votes_edges = e.select(
            F.col("src").alias("voter"), F.col("dst").alias("nbr"), "weight"
        ).union(e.select(F.col("dst").alias("voter"), F.col("src").alias("nbr"), "weight"))
        nbr_partitioned = False
    else:
        raise ValueError(f"direction must be OUTGOING/INCOMING/BOTH, got {direction}")

    # vote weight = edge_weight(v,t) * node_weight(t)  (LabelPropagation.java:286)
    # Persisted hash-partitioned by nbr: the per-superstep scatter join
    # against the id-partitioned labels is then exchange-free, leaving
    # the two-level tally aggregation as the only shuffles.
    if nw is None and graph._vertices is None:
        # Every node weight is the 1.0 default and there is no vertex
        # table to semi-filter against — the |E| ⋈ |V| weight join is
        # the identity.  Skip it: vote_w = edge weight, load phase
        # stays narrow (zero exchanges on a symmetrized store).
        votes_edges = votes_edges.select(
            "voter", "nbr", F.col("weight").alias("vote_w")
        )
    else:
        votes_edges = votes_edges.join(
            weights.withColumnRenamed("id", "nbr").hint("SHUFFLE_HASH"), "nbr"
        ).select("voter", "nbr", (F.col("weight") * F.col("node_weight")).alias("vote_w"))
        # the |V|-row build side shuffles to the edge side's layout; the
        # streamed edge side keeps its clustering (no sort — SHJ, not
        # SMJ), so nbr_partitioned survives the join
    if not nbr_partitioned:
        # rows off a bucketed symmetrized store are already clustered by nbr
        votes_edges = votes_edges.repartition(n_part, "nbr")
    votes_edges = votes_edges.persist()
    votes_edges.count()

    load_millis = int(1000 * (time.time() - t_load0))
    t_compute0 = time.time()

    def step(prev: DataFrame, it: int) -> DataFrame:
        if base.is_cached:  # the engine has checkpointed the initial labels
            base.unpersist()
        labels = prev.select("id", "label")
        # SHJ hints: stream the (larger) vote-edge side unsorted against
        # per-partition hash maps of the label/argmax sides (the SMJ
        # fallback would re-sort the vote edges every superstep)
        lbl_nbr = labels.select(
            F.col("id").alias("nbr"), F.col("label").alias("cand")
        ).hint("SHUFFLE_HASH")
        tallies = (
            votes_edges.join(lbl_nbr, "nbr")
            .groupBy("voter", "cand")
            .agg(F.sum("vote_w").alias("total"))
        )
        # argmax with smallest-label tie-break: max_by over the orderable
        # struct (total, -cand) — larger total wins, then smaller label.
        best = tallies.groupBy(F.col("voter").alias("id")).agg(
            F.max(F.struct(F.col("total"), (-F.col("cand")).alias("neg"))).alias("win")
        ).select("id", (-F.col("win.neg")).alias("new_label"))
        return labels.join(best.hint("SHUFFLE_HASH"), "id", "left").select(
            "id",
            F.coalesce("new_label", "label").alias("label"),
            (F.coalesce("new_label", "label") != F.col("label")).alias("changed"),
        )

    try:
        res = superstep_fixpoint(
            labels, step, max_iterations, check_interval=aggregate_interval,
            checkpointer=checkpointer, checkpoint_interval=checkpoint_interval,
            partition_cols=["id"], algorithm="label_propagation",
        )
    finally:
        base.unpersist()
        votes_edges.unpersist()
    return LabelPropagationResult(
        labels=res.state,
        iterations_ran=res.iterations_ran,
        did_converge=res.converged,
        metrics=res.metrics,
        load_millis=load_millis,
        compute_millis=int(1000 * (time.time() - t_compute0)),
    )
