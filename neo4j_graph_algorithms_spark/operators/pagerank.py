"""PageRank — delta-push power iteration as a superstep DataFrame loop.

Reference semantics (``algo/src/main/java/org/neo4j/graphalgo/impl/
PageRank.java``, proc ``PageRankProc.java:52-56``):

- non-normalized Google formula ``PR(v) = (1-d) + d·Σ PR(u)/outdeg(u)``
  over in-neighbors u (``doc/pagerank.adoc:16-18``);
- init ``rank = delta = 1-d`` (``PageRank.java:416,444-453``);
- each iteration every node with ``delta>0`` pushes ``delta/outdeg`` to
  its out-neighbors (``PageRank.java:455-481``); the received sum is
  scaled by d and added: ``rank += d·Σ; delta = d·Σ``
  (``PageRank.java:505-517``);
- **dangling nodes do not redistribute mass and nothing is normalized**
  (guarded by ``tests/.../impl/PageRankWikiTest.java:131-141``);
- fixed iteration count by default (no convergence test in the
  reference, ``PageRank.java:159-164``); we additionally support
  ``tolerance`` for the north rule's "supersteps to 1e-6 convergence".
- the reference quantizes messages to ``int(100_000·x)``
  (``PageRank.java:54,464``) as a lock-free-accumulation trick; shuffle
  aggregation makes that unnecessary — we keep float64, which *improves*
  on reference precision while staying inside its test tolerances.

Spark shape — ONE loop, the message fold (``_run_edges_fold``), for
every variant (plain, weighted, personalized, ArticleRank, durable):

    msgs_t = edges ⋈ frontier(src)  →  groupBy(dst).sum(push)
    every k supersteps:  rank += d·msg_t, t in order  (one fold join)

Scale notes (the part that must survive 10^12 edges):

- **co-partitioning = one shuffle per superstep**: edges are persisted
  hash-partitioned by ``src`` and the frontier comes out of the gather
  partitioned by vertex id on the same partition count, so the scatter
  join (SHUFFLE_HASH hint: edges stream unsorted against a
  per-partition hash of the frontier) needs no exchange; the only
  shuffle is the gather ``groupBy(dst)`` — the reference's all-to-all
  score transpose (``PageRank.java:55-83``), which no engine can elide.
- the gather is map-side combined (partial aggregation), so hub
  in-degree skew collapses before the exchange — one partial per map
  partition, not one row per edge;
- there is no per-superstep |V|-row state join: ranks are folded from
  the message levels once per k-superstep batch, and that fold is the
  batch's single driver job (the convergence/active-count aggregate);
- with a ``SuperstepCheckpointer`` every superstep is a batch and every
  ``checkpoint_interval``-th one is committed: the parquet write of
  ``(id, rank, delta[, outdeg])`` is that superstep's only job, and
  ``DataFrame.observe`` collects its metrics (max/L1 delta, active
  vertices, gather skew) inside the write.
"""

from __future__ import annotations

import os as _os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.checkpoint import (
    SuperstepCache,
    SuperstepCheckpointer,
    aqe_suspended,
    shuffle_partitions_override,
    truncate_lineage,
)
from ..plans.rows import one_row

#: per-partition hash-build budget for the superstep joins (bytes).
#: A LongHashedRelation build that outgrows the task memory grant
#: fails hard ("Can't acquire N bytes memory to build hash relation");
#: 128 MiB stays far under any sane task grant while never triggering
#: at bench scale.  Override via SPARK_GRAFT_SHJ_BUILD_TARGET.
_SHJ_BUILD_TARGET = int(
    _os.environ.get("SPARK_GRAFT_SHJ_BUILD_TARGET", str(128 << 20))
)


@dataclass
class PageRankResult:
    scores: DataFrame              # (id long, score double)
    iterations_ran: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)
    damping: float = 0.85
    load_millis: int = 0
    compute_millis: int = 0
    write_millis: int = 0

    def stats(self) -> DataFrame:
        """One-row write-mode YIELD parity — ``(nodes, iterations,
        dampingFactor, loadMillis, computeMillis, writeMillis)``
        (``PageRankProc.java`` write mode / ``results/PageRankScore.Stats``)."""
        return one_row(
            self.scores.sparkSession,
            "nodes long, iterations long, damping_factor double, "
            "load_millis long, compute_millis long, write_millis long",
            self.scores.count(),
            self.iterations_ran,
            self.damping,
            self.load_millis,
            self.compute_millis,
            self.write_millis,
        )


def pagerank(
    graph: Graph,
    damping: float = 0.85,
    max_iterations: int = 20,
    tolerance: float | None = None,
    checkpointer: SuperstepCheckpointer | None = None,
    checkpoint_interval: int = 1,
    adaptive: bool = False,
    aggregate_interval: int = 4,
    weighted: bool = False,
    source_nodes: list[int] | None = None,
    tolerance_check_interval: int = 1,
) -> PageRankResult:
    """Run PageRank; defaults mirror ``PageRankProc.java:52-56``
    (damping 0.85, 20 iterations, unweighted, OUTGOING edges).

    Beyond-reference variants (GDS-era surface, same delta-push loop):

    - ``weighted=True``: a node pushes ``delta · w(s,t) / W(s)`` with
      ``W(s)`` its total outgoing weight.
    - ``source_nodes``: personalized PageRank — the (1-d) teleport mass
      starts (and implicitly restarts) only at the given sources; all
      other vertices init at 0.  Scores are the non-normalized
      source-seeded recurrence, reference-style.

    ``checkpointer``: commit the state ``(id, rank, delta, outdeg)``
    (``(id, rank, delta)`` when weighted) of every
    ``checkpoint_interval``-th superstep, with one metrics row each; a
    rerun with the same checkpointer directory resumes from the last
    committed superstep.  Durable runs test convergence every superstep
    (as ``tolerance_check_interval=1``), and their results are
    bit-identical to the in-memory run of the same superstep count.

    ``adaptive=False`` suspends AQE for the superstep loop (restored
    after, refcounted across overlapping runs): the loop's joins are
    exchange-free by co-partitioning, so AQE only adds per-stage
    replanning latency; its skew-join splitting has nothing to split
    here (the gather is an aggregation, absorbed by map-side partial
    agg).  Pass ``adaptive=True`` to leave AQE on — e.g. when the edge
    build is part of this job's plan and skewed.

    ``aggregate_interval``: in fixed-iteration mode, fold and run the
    materializing active-count aggregate every k supersteps instead of
    every superstep — one driver job amortized over k lazily-
    checkpointed levels (bit-identical results).  Not used in
    tolerance mode or with a checkpointer.

    ``tolerance_check_interval``: in tolerance mode, test convergence
    (the materializing max-delta aggregate) every k supersteps instead
    of every superstep.  The run may overshoot the minimal stopping
    point by up to k-1 supersteps — ``iterations_ran`` counts the
    supersteps actually applied, and the returned scores are at least
    as converged (delta shrinks monotonically under power iteration).
    Periodic convergence checks are the standard trade at cluster
    scale: k-1 cheap extra supersteps against k× fewer driver
    round-trips.  Default 1 preserves exact minimal-stop semantics."""
    return _run(
        graph,
        adaptive,
        damping,
        max_iterations,
        tolerance,
        checkpointer,
        checkpoint_interval,
        aggregate_interval,
        weighted,
        source_nodes,
        tolerance_check_interval,
        0.0,
    )


def article_rank(
    graph: Graph,
    damping: float = 0.85,
    max_iterations: int = 20,
    tolerance: float | None = None,
    aggregate_interval: int = 4,
    tolerance_check_interval: int = 1,
    adaptive: bool = False,
    checkpointer: SuperstepCheckpointer | None = None,
    checkpoint_interval: int = 1,
) -> PageRankResult:
    """ArticleRank (beyond-reference; GDS-era surface) — the PageRank
    recurrence with the push divisor ``outdeg(u) + avg_outdeg`` instead
    of ``outdeg(u)``, damping low-out-degree nodes' influence:

        AR_0(v)     = 1-d
        AR_{k+1}(v) = (1-d) + d·Σ_{(u,v)∈E} AR_k(u) / (outdeg(u) + ō)

    with ``ō = Σ outdeg / |{u: outdeg(u)>0}|`` (exact integer sum and
    count, divided once in float64 — engine and SQL oracle compute the
    identical double).  The recurrence is linear, so the same fold
    loop applies unchanged (module header).  Same result/stats surface
    and checkpoint layout as :func:`pagerank`."""
    row = (
        graph.edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .agg(F.sum("d").alias("s"), F.count(F.lit(1)).alias("n"))
        .first()
    )
    offset = float(row["s"]) / float(row["n"]) if row["n"] else 0.0
    return _run(
        graph,
        adaptive,
        damping,
        max_iterations,
        tolerance,
        checkpointer,
        checkpoint_interval,
        aggregate_interval,
        False,
        None,
        tolerance_check_interval,
        offset,
    )


def _run(graph: Graph, adaptive: bool, *args) -> PageRankResult:
    with aqe_suspended(graph.spark, enabled=adaptive), shuffle_partitions_override(
        graph.spark
    ) as set_np:
        return _run_edges_fold(graph, *args, set_shuffle_partitions=set_np)


def _run_edges_fold(
    graph: Graph,
    damping: float,
    max_iterations: int,
    tolerance: float | None,
    checkpointer: SuperstepCheckpointer | None,
    checkpoint_interval: int,
    aggregate_interval: int,
    weighted: bool,
    source_nodes: list[int] | None,
    tolerance_check_interval: int,
    outdeg_offset: float,
    set_shuffle_partitions=None,
) -> PageRankResult:
    """The superstep loop: **message-fold PageRank** — there is NO
    per-superstep |V|-row state join or state cache write at all.

    Key identity: ``delta_t(v) = d·msg_t(v)`` and ``rank(v) = init(v) +
    Σ_t d·msg_t(v)`` added in superstep order, so the gather output
    *is* the whole superstep state: ``msgs_t`` (≤ active vertices rows)
    directly yields the next frontier (its ``push = d·msg/outdeg``; the
    destination's out-degree rides the edge table and is gathered with
    a free ``max`` — constant per dst), and ranks are reconstructed at
    each batch boundary by ONE fold join: the batch's levels are
    pivoted to one column per superstep (``max(when(t = k, msg))``, one
    row per (id, t) so the max is that row's msg) and added to the
    previous rank left to right, ``rank + d·m_1 + d·m_2 + …``.  That
    reproduces the sequential ``rank += d·msg_t`` recurrence
    bit-for-bit (same addends, same order — a superstep a vertex missed
    adds exactly 0.0, an FP identity), so results hash-match the
    unrolled SQL oracle.

    Per superstep this leaves exactly: one co-partitioned scatter join
    (SHUFFLE_HASH, zero exchange), one map-side-combined gather
    exchange, one ≤|active|-row lazy checkpoint (only when the batch
    has more than one level).  Per k-superstep batch: ONE driver job —
    the lazily-checkpointed fold (which carries the batch-final msg as
    a ``last_msg`` column) is executed by the stats aggregate.

    Durable mode (``checkpointer``): every superstep is a one-level
    batch; on a commit superstep the fold is written as the checkpoint
    state instead — that write is the superstep's only job, its
    metrics are observed inside it, and the next superstep reads the
    state back from the files just written (lineage cut for free).
    The load phase is one job, the vertex count (two on resume: the
    checkpoint's schema read).
    """
    spark = graph.spark
    d = float(damping)
    alpha = 1.0 - d
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    t_load0 = time.time()

    metrics: list[dict] = []
    saved = None
    start_iter = 0
    if checkpointer is not None:
        last = checkpointer.latest_iteration()
        if last is not None:
            saved = checkpointer.load(last, ["state"])["state"]
            start_iter = last
            metrics = checkpointer.metrics()

    # Evaluate the user's edge subtree EXACTLY ONCE: the edge DataFrame
    # is arbitrary SQL (projections, joins — at 100 TB the expensive
    # scan), and out-degree / odeg-join / vertex derivation would each
    # re-run it.  The src-partitioned base is persisted lazily — the
    # vertex count (or, when it does not read the edges, the first
    # batch) fills the cache — and released once the first batch has
    # materialized the decorated edge table.
    cols = ["src", "dst", "weight"] if weighted else ["src", "dst"]
    base = graph.edges.select(*cols)
    if not graph.src_partitioned:
        base = base.repartition(n_part, "src")
    base = base.persist()

    def with_outdeg(df: DataFrame, deg_src: DataFrame) -> DataFrame:
        deg = deg_src.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("outdeg")
        )
        # co-partitioned with `df` on the id: a hash join, no broadcast job
        return df.join(deg.hint("SHUFFLE_HASH"), "id", "left").withColumn(
            "outdeg", F.coalesce("outdeg", F.lit(0))
        )

    # vertex set (graph.vertices would re-run the user subtree when no
    # explicit vertex table was provided), or the resumed state — its
    # rows are the vertex set; counted BEFORE the loop partitioning is
    # fixed so |V| can size it (build-side guard below)
    if saved is not None:
        verts = saved
        if not weighted and "outdeg" not in verts.columns:
            verts = with_outdeg(verts, base)  # checkpoint without outdeg
    elif graph._vertices is not None:  # noqa: SLF001
        verts = graph.vertices.select("id")
    elif graph.symmetrized:
        verts = base.select(F.col("src").alias("id")).distinct()
    else:
        verts = (
            base.select(F.col("src").alias("id"))
            .union(base.select(F.col("dst").alias("id")))
            .distinct()
        )
    verts = verts.repartition(n_part, "id").persist()
    n_vertices = verts.count()

    if weighted:
        wsum = base.groupBy("src").agg(F.sum("weight").alias("wsum"))
        edges = (
            base.join(wsum.hint("SHUFFLE_HASH"), "src")  # co-partitioned
            .select("src", "dst", (F.col("weight") / F.col("wsum")).alias("share"))
        )
    else:
        # each edge row carries its DESTINATION's out-degree so the
        # gather hands the next frontier everything it needs (msg +
        # odeg) with zero extra joins; dangling dsts get odeg 0 and
        # fall out of the frontier (they absorb rank, push nothing).
        # SHUFFLE_HASH, not a broadcast: a broadcast costs its own job
        # at bench scale and cannot hold |V| rows at cluster scale
        out_deg = base.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
        edges = (
            base.join(
                out_deg.select(
                    F.col("src").alias("dst"), F.col("outdeg").alias("odeg")
                ).hint("SHUFFLE_HASH"),
                "dst",
                "left",
            )
            .select("src", "dst", F.coalesce("odeg", F.lit(0)).alias("odeg"))
        )

    # ------------------------------------------------------------------
    # Build-side memory guard (found by the 160M-edge / 2-partition
    # criterion leg, which died with "Can't acquire 1073741824 bytes
    # memory to build hash relation"): the superstep scatter join
    # builds a per-partition hash of the FRONTIER (up to |V| rows), and
    # the per-batch fold join builds one of the k-level message columns
    # (|V| rows × ~(8 + 24k) bytes).  Neither scales with executor
    # count — only with |V|/n_part — so partitions==cores on a narrow
    # cluster, or any 100-TB run with conservatively few partitions,
    # eventually exceeds a task's memory grant.  Two mechanisms, both
    # plan-level (results bit-identical):
    #   1. floor n_part so the frontier hash build stays under
    #      _SHJ_BUILD_TARGET bytes per partition (~48 B/row in
    #      LongHashedRelation) — partition sizing, the fix the brief
    #      prescribes ("size shuffle partitions so partitions fit");
    #   2. when the fold's build would still exceed the target, switch
    #      THAT join to sort-merge (MERGE hint): it sorts-and-spills
    #      instead of failing a 1 GB+ allocation — the same
    #      degrade-gracefully shape as the dedup tier's corpus-sized
    #      joins.
    # At bench scales (|V| ≤ 5M, 32 partitions) neither triggers, so
    # the measured north plans are unchanged.
    # ------------------------------------------------------------------
    shj_target = int(_SHJ_BUILD_TARGET)
    needed = -(-n_vertices * 48 // shj_target)  # ceil
    if needed > n_part:
        n_part = int(needed)
        if set_shuffle_partitions is not None:
            # the per-superstep groupBy exchanges read the session
            # conf; raise it too (restored by the caller's
            # shuffle_partitions_override) so gather output partitioning
            # keeps matching the edge table — the SHUFFLE_HASH scatter
            # join stays zero-exchange (the override is a floor: under a
            # larger overlapping one, each superstep pays one exchange)
            set_shuffle_partitions(n_part)
    # filled by the first batch's job, which also derives the initial
    # frontier from it; `base` and `verts` are released after that job
    edges = edges.repartition(n_part, "src").persist()

    def denom(col):
        return col + F.lit(outdeg_offset) if outdeg_offset else col

    def push_frontier(df: DataFrame, delta, odeg: str) -> DataFrame:
        """Next scatter input from a state-like frame: ``(src, delta)``
        weighted, ``(src, push = delta/outdeg)`` otherwise; vertices
        that received nothing (or have no out-edges) push nothing."""
        if weighted:
            return df.filter(delta != 0.0).select(
                F.col("id").alias("src"), delta.alias("delta")
            )
        return df.filter((delta != 0.0) & (F.col(odeg) > 0)).select(
            F.col("id").alias("src"), (delta / denom(F.col(odeg))).alias("push")
        )

    # state carried between batches: (id, rank), plus the out-degree in
    # durable mode so a committed superstep writes the checkpoint layout
    keep = [] if weighted or checkpointer is None else ["outdeg"]
    if saved is not None:
        ranks = verts.select("id", "rank", *keep)
        frontier = push_frontier(verts, F.col("delta"), "outdeg")
    else:
        if source_nodes is not None:
            srcs = spark.createDataFrame([(int(v),) for v in source_nodes], "id long")
            seeded = verts.join(srcs.withColumn("seeded", F.lit(True)), "id", "left")
            init = F.when(F.col("seeded"), F.lit(alpha)).otherwise(F.lit(0.0))
        else:
            seeded, init = verts, F.lit(alpha)
        # out-degrees from the persisted edge table (src-partitioned:
        # no exchange); every vertex starting with delta = init pushes
        state0 = seeded.select("id", init.alias("rank"))
        if not weighted:
            state0 = with_outdeg(state0, edges)
        ranks = state0.select("id", "rank", *keep)
        frontier = push_frontier(state0, F.col("rank"), "outdeg")
    cache = SuperstepCache(spark)
    load_millis = int(1000 * (time.time() - t_load0))
    t_compute0 = time.time()

    if checkpointer is not None:
        interval = 1
    else:
        interval = max(
            1,
            int(tolerance_check_interval if tolerance is not None else aggregate_interval),
        )
    # fold-join strategy by estimated per-partition build bytes (guard
    # mechanism 2 above); at bench scale this stays SHUFFLE_HASH
    fold_hint = (
        "MERGE"
        if n_vertices * (8 + 24 * interval) // n_part > shj_target
        else "SHUFFLE_HASH"
    )
    # durable mode counts messages per destination for the skew metric
    durable_aggs = [] if checkpointer is None else [F.count(F.lit(1)).alias("n_in")]
    batch: list[tuple[int, DataFrame]] = []
    converged = False
    it = start_iter
    while it < max_iterations:
        it += 1
        t0 = time.time()
        contrib = F.col("delta") * F.col("share") if weighted else F.col("push")
        aggs = [F.sum(contrib).alias("msg"), *durable_aggs]
        if not weighted:
            aggs.append(F.max("odeg").alias("odeg"))
        msgs = (
            edges.join(frontier.hint("SHUFFLE_HASH"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(*aggs)
        )
        if interval > 1:
            # later levels of the batch chain on this one, and the fold
            # reads it again: cache it as the batch job computes it
            msgs = truncate_lineage(msgs, eager=False)
        batch.append((it, msgs))
        iter_metrics: dict = {"algorithm": "pagerank"}
        metrics.append(iter_metrics)
        if not (it % interval == 0 or it >= max_iterations):
            frontier = push_frontier(msgs, F.lit(d) * F.col("msg"), "odeg")
            iter_metrics["wall_ms"] = int(1000 * (time.time() - t0))
            continue

        folded = _fold(ranks, batch, d, fold_hint, keep, weighted, bool(durable_aggs))
        levels, batch = [m for _, m in batch], []
        last = F.col("last_msg")
        if checkpointer is not None and it % checkpoint_interval == 0:
            delta = F.lit(d) * F.coalesce(last, F.lit(0.0))
            state_cols = ["id", "rank", "delta", *keep]
            obs = Observation()
            observed = folded.select(
                "id", "rank", delta.alias("delta"), *keep, "n_in"
            ).observe(
                obs,
                F.max(F.abs("delta")).alias("max_delta"),
                F.sum(F.abs("delta")).alias("l1_delta"),
                F.sum(F.when(F.col("delta") != 0.0, 1).otherwise(0)).alias("active"),
                F.max("n_in").alias("in_max"),
                F.avg("n_in").alias("in_avg"),
            )

            def observed_metrics(m=iter_metrics, obs=obs, t0=t0) -> dict:
                row = obs.get
                m.update(
                    max_delta=float(row["max_delta"] or 0.0),
                    l1_delta=float(row["l1_delta"] or 0.0),
                    active_vertices=int(row["active"] or 0),
                    # max/mean messages per destination (1.0 when none)
                    skew_ratio=float(row["in_max"]) / float(row["in_avg"])
                    if row["in_avg"]
                    else 1.0,
                    wall_ms=int(1000 * (time.time() - t0)),
                )
                return m

            state = checkpointer.save(
                it, {"state": observed.select(*state_cols)}, observed_metrics
            )["state"]
            ranks = state.select("id", "rank", *keep)
            frontier = push_frontier(state, F.col("delta"), "outdeg")
            cache.track()  # the state now lives in the committed files
        else:
            folded = truncate_lineage(folded, eager=False)
            stats = folded.agg(
                F.max(F.abs(F.lit(d) * last)).alias("max_delta"),
                F.sum(F.when(last != 0.0, 1).otherwise(0)).alias("active"),
            ).first()
            iter_metrics.update(
                max_delta=float(stats["max_delta"] or 0.0),
                active_vertices=int(stats["active"] or 0),
                wall_ms=int(1000 * (time.time() - t0)),
            )
            ranks = folded.select("id", "rank", *keep)
            # Rebuild the frontier from the TRUNCATED folded state, not
            # from the batch's last msgs level: RDD.doCheckpoint only
            # truncates the first checkpoint-marked RDD it reaches from
            # the job's final RDD (spark.checkpoint.checkpointAllMarked-
            # Ancestors defaults false), so the lazily-marked msgs
            # levels below `folded` never truncate — a frontier chained
            # on msgs accumulates unbounded lineage across batches
            # (StackOverflowError past ~100 supersteps).  Same rows,
            # same expression, so results are unchanged: last_msg IS
            # the batch-final msg and odeg rides the fold.
            frontier = push_frontier(folded, F.lit(d) * last, "odeg")
            # the batch is materialized: adopt it (retiring the previous
            # batch), then retire this batch's msgs levels — the next
            # superstep reads only `folded`
            cache.track(folded, *levels)
            cache.track(folded)
        base.unpersist()  # no-ops after the first batch
        verts.unpersist()
        if tolerance is not None and iter_metrics["max_delta"] < tolerance:
            converged = True
            break
        if iter_metrics["active_vertices"] == 0:
            converged = True
            break

    edges.unpersist()
    base.unpersist()
    scores = ranks.select("id", F.col("rank").alias("score"))
    return PageRankResult(
        scores=scores,
        iterations_ran=it,
        converged=converged,
        metrics=metrics,
        damping=d,
        load_millis=load_millis,
        compute_millis=int(1000 * (time.time() - t_compute0)),
    )


def _fold(
    ranks: DataFrame,
    batch: list[tuple[int, DataFrame]],
    d: float,
    hint: str,
    keep: list[str],
    weighted: bool,
    count_in: bool,
) -> DataFrame:
    """``ranks`` advanced over the batch's message levels:
    ``(id, rank, last_msg, *keep, [odeg], [n_in])``.  ``last_msg`` and
    ``n_in`` are the batch-final level's, null where that level sent
    the vertex nothing; ``odeg`` (unweighted) is the vertex's
    out-degree wherever it received a message in the batch."""
    final = batch[-1][0]
    tagged = None
    for t, m in batch:
        part = m.select(
            "id",
            F.lit(t).alias("t"),
            "msg",
            *([] if weighted else ["odeg"]),
            *(["n_in"] if count_in else []),
        )
        tagged = part if tagged is None else tagged.unionByName(part)

    def at(t: int, col: str):
        return F.max(F.when(F.col("t") == t, F.col(col)))

    aggs = [at(t, "msg").alias(f"m{t}") for t, _ in batch]
    if count_in:
        aggs.append(at(final, "n_in").alias("n_in"))
    if not weighted:
        # odeg is constant per vertex; max over the levels that carried
        # it reproduces it for the frontier rebuild
        aggs.append(F.max("odeg").alias("odeg"))
    levels = tagged.groupBy("id").agg(*aggs)
    rank = F.col("rank")
    for t, _ in batch:
        rank = rank + F.lit(d) * F.coalesce(F.col(f"m{t}"), F.lit(0.0))
    return ranks.join(levels.hint(hint), "id", "left").select(
        "id",
        rank.alias("rank"),
        F.col(f"m{final}").alias("last_msg"),
        *keep,
        *([] if weighted else ["odeg"]),
        *(["n_in"] if count_in else []),
    )
