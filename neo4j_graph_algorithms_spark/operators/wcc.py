"""Weakly connected components — iterative min-label propagation.

Reference semantics (``algo.unionFind`` family): sequential
``impl/GraphUnionFind.java:41-106`` iterates every edge once through a
``DisjointSetStruct`` (path compression + union by depth,
``core/.../dss/DisjointSetStruct.java:178-222``); parallel variants
(QUEUE / FORK_JOIN / FJ_MERGE / MSColoring) reach the same partition via
per-batch DSS merging or min-id coloring (``impl/MSColoring.java:24-60``
*is* min-label propagation).  Edge direction is irrelevant to the result
(union is symmetric); the optional ``threshold`` unions only edges with
``weight >= threshold`` (``GraphUnionFind.java:82-99``).

Set-id identity is arbitrary in the reference (the DSS root); its own
tests compare set sizes/counts only
(``UnionFindProcIntegrationTest.java:111-171``).  We emit the
**minimum member id** as ``set_id`` — deterministic and reproducible.

Spark shape: hash-propagate the running minimum along both edge
directions until fixpoint, with a **frontier**: only vertices whose
component id changed last superstep re-send.  Messages shrink
geometrically; supersteps = O(diameter) on the un-doubled variant.
The gather is ``groupBy(dst).min`` — map-side partial aggregation
absorbs hub skew; the scatter join streams edges unsorted against a
per-partition frontier hash map (SHUFFLE_HASH hint — the SMJ fallback
would re-sort the edge set every superstep).  The message edges stay
flat rows: a salted CSR-style block layout (one row per vertex holding
its neighbor array) lost its A/B against them and was removed (README,
"Scale design").
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.checkpoint import (
    SuperstepCache,
    SuperstepCheckpointer,
    aqe_suspended,
    truncate_lineage,
)
from ..plans.rows import one_row
from ..plans.superstep import superstep_fixpoint


@dataclass
class WccResult:
    components: DataFrame          # (id long, set_id long)
    iterations_ran: int
    set_count: int | None = None
    metrics: list[dict] = field(default_factory=list)
    load_millis: int = 0
    compute_millis: int = 0
    write_millis: int = 0

    def set_sizes(self) -> DataFrame:
        return self.components.groupBy("set_id").agg(F.count(F.lit(1)).alias("size"))

    def stats(self) -> DataFrame:
        """One-row write-mode YIELD parity —
        ``(nodes, setCount, loadMillis, computeMillis, writeMillis)``
        (``algo/.../results/UnionFindResult.java:26-30``), plus the
        iteration count.  ``write_millis`` stays 0 until a write-back
        sink stamps it."""
        nodes = self.components.count()
        set_count = (
            self.set_count
            if self.set_count is not None
            else self.components.select("set_id").distinct().count()
        )
        return one_row(
            self.components.sparkSession,
            "nodes long, set_count long, iterations long, "
            "load_millis long, compute_millis long, write_millis long",
            nodes,
            set_count,
            self.iterations_ran,
            self.load_millis,
            self.compute_millis,
            self.write_millis,
        )


def wcc(
    graph: Graph,
    threshold: float | None = None,
    max_iterations: int = 200,
    checkpointer: SuperstepCheckpointer | None = None,
    checkpoint_interval: int = 1,
    compute_set_count: bool = False,
    check_interval: int = 1,
    local_finish_edges: int = 0,
) -> WccResult:
    """Connected components; ``threshold`` keeps only edges with
    ``weight >= threshold`` first (``UnionFindProcExec`` ``"threshold"``
    config key, ``GraphUnionFind.java:89-93``).

    ``check_interval``: test the fixpoint (the materializing
    changed-count) every k supersteps instead of every superstep — one
    driver job amortized over k lazily-checkpointed levels.  Supersteps
    past the fixpoint are no-ops (min over longs is idempotent), so the
    components are identical; ``iterations_ran`` may overshoot by up to
    k-1 and per-superstep ``metrics`` are recorded at batch boundaries
    only.  The standard periodic-check trade for cluster-scale runs.

    ``local_finish_edges``: opt-in endgame — if the (symmetrized,
    deduped) message-edge set holds at most this many undirected pairs,
    skip the superstep loop and union-find the collected pairs
    in-process; the vertex relabel stays distributed.  Components and
    ``set_id`` are identical (unique partition, canonical min-member
    label); ``iterations_ran`` reports 1 with a ``local_finish``
    metrics row, so keep the default 0 where superstep-count YIELD
    parity or durable resume matters.  Same trade as k-truss's
    local-finish peel: below ~10^6 pairs the distributed loop is pure
    per-superstep scheduling floor."""
    g = graph if threshold is None else graph.filter_weight(threshold)
    spark = graph.spark
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    with aqe_suspended(spark):
        return _run(
            graph, g, n_part, max_iterations, checkpointer,
            checkpoint_interval, compute_set_count,
            check_interval, local_finish_edges,
        )


def _message_edges(g: Graph, n_part: int) -> DataFrame:
    """Undirected message edges: each edge both ways, deduped,
    hash-clustered by ``src`` so the per-superstep scatter join against
    the id-partitioned state needs no exchange (one shuffle per
    superstep: the gather ``groupBy(dst)``).

    Layout-aware load phase:

    - ``g.symmetrized`` (an ``undirected()`` view or a
      ``load_graph(sym=True)`` store): the both-ways union and the
      pair dedup are already part of the plan — the projection is a
      pass-through;
    - ``g.src_partitioned`` + symmetrized: the bucketed
      scan already reports ``HashPartitioning(src)`` — **zero
      exchanges in the whole load phase** (the cross-run answer to the
      one-time edge shuffle, ``sources/graph_store.py``);
    - general path: one 2|E| shuffle, not two — the pair dedup runs
      *after* the src repartition, whose ``HashPartitioning(src)``
      already satisfies the dedup's clustered distribution on
      ``(src, dst)``.
    """
    # Self-loops are kept: (v, v) sends v its own comp — a no-op for
    # the min gather — and keeping them makes the persisted message
    # table a COMPLETE vertex source (src side covers every vertex,
    # including self-loop-only ones), so the state init below never
    # re-evaluates the user's edge subtree.
    if g.symmetrized:
        both = g.edges.select("src", "dst")
    else:
        both = g.edges.select("src", "dst").union(
            g.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    if not (g.symmetrized and g.src_partitioned):
        both = both.repartition(n_part, "src")
    if not g.symmetrized:
        both = both.dropDuplicates(["src", "dst"])
    return both


def _local_components(graph: Graph, both: DataFrame, n_part: int) -> DataFrame:
    """In-process union-find over a small symmetric edge set; vertex
    relabel stays distributed (|V| can exceed the edge threshold).

    Path-halving find + union by pointing at the smaller root's parent
    chain; canonical ``set_id`` = minimum member id — identical to the
    distributed min-label fixpoint (the components partition is unique
    and the labeling is order-confluent)."""
    import pandas as pd

    pairs = both.filter(F.col("src") < F.col("dst")).collect()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            parent[r] = parent[parent[r]]
            r = parent[r]
        return r

    for row in pairs:
        a, b = row[0], row[1]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min id keeps the root the eventual set_id
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    if not parent:
        return graph.vertices.select("id", F.col("id").alias("set_id"))
    rows = [(v, find(v)) for v in parent]
    spark = graph.spark
    touched = spark.createDataFrame(
        pd.DataFrame(rows, columns=["id", "set_id"]).astype("int64")
    )
    return (
        graph.vertices.select("id")
        .join(touched.hint("SHUFFLE_HASH"), "id", "left")
        .select("id", F.coalesce("set_id", F.col("id")).alias("set_id"))
    )


def _run(
    graph: Graph,
    g: Graph,
    n_part: int,
    max_iterations: int,
    checkpointer: SuperstepCheckpointer | None,
    checkpoint_interval: int,
    compute_set_count: bool,
    check_interval: int = 1,
    local_finish_edges: int = 0,
) -> WccResult:
    t_load0 = time.time()
    both = _message_edges(g, n_part)
    both = both.persist()
    n_msg_edges = both.count()

    if (
        local_finish_edges
        and checkpointer is None
        and n_msg_edges <= 2 * local_finish_edges
    ):
        # Endgame for small edge sets (the near-dup cluster graph, the
        # tail of a funnel): below the threshold the distributed loop
        # is pure per-superstep scheduling floor — a single in-process
        # union-find over the collected pairs produces the SAME unique
        # partition with the SAME canonical set_id (min member; the
        # partition is algorithm-independent, labeling is order-
        # confluent).  Same trade as k-truss's local-finish peel.  The
        # vertex relabel stays distributed, so |V| ≫ |E| inputs are
        # fine.  Opt-in (default 0): callers that need superstep
        # metrics/YIELD parity or durable resume keep the loop.
        load_millis = int(1000 * (time.time() - t_load0))
        t_compute0 = time.time()
        comps = _local_components(graph, both, n_part)
        both.unpersist()
        set_count = None
        if compute_set_count:
            set_count = comps.select("set_id").distinct().count()
        return WccResult(
            comps,
            iterations_ran=1,
            set_count=set_count,
            metrics=[{"mode": "local_finish", "edges": n_msg_edges}],
            load_millis=load_millis,
            compute_millis=int(1000 * (time.time() - t_compute0)),
        )

    # comp init = own id; all vertices start in the frontier.  Vertex
    # source: the persisted message table's src side when it covers the
    # full graph (symmetrized union + self-loops kept ⇒ every vertex
    # appears as src) — graph.vertices would re-evaluate the user's
    # edge subtree (arbitrary SQL; at 100 TB the expensive scan, and
    # already 2 extra scans on the sf0.1 co-purchase bench graph).
    # With an explicit vertex table, or when `g` is a threshold-
    # filtered view (vertices must come from the UNfiltered graph so
    # below-threshold vertices stay as singletons), keep graph.vertices.
    if graph._vertices is None and g is graph:  # noqa: SLF001
        vsrc = both.select(F.col("src").alias("id")).distinct()
    else:
        vsrc = graph.vertices
    init = vsrc.select("id", F.col("id").alias("comp"))
    load_millis = int(1000 * (time.time() - t_load0))
    t_compute0 = time.time()

    def step(prev: DataFrame, it: int) -> DataFrame:
        # only vertices whose comp changed last superstep re-send; SHJ
        # streams edges unsorted against the per-partition frontier hash
        # map (the SMJ fallback re-sorts edges every superstep)
        frontier = prev.filter("changed").select(F.col("id").alias("src"), "comp")
        cand = (
            both.join(frontier.hint("SHUFFLE_HASH"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("comp").alias("cand"))
        )
        return prev.select("id", "comp").join(cand.hint("SHUFFLE_HASH"), "id", "left").select(
            "id",
            F.least(F.col("comp"), F.coalesce(F.col("cand"), F.col("comp"))).alias("comp"),
            (F.coalesce(F.col("cand"), F.col("comp")) < F.col("comp")).alias("changed"),
        )

    try:
        res = superstep_fixpoint(
            init, step, max_iterations, check_interval=check_interval,
            checkpointer=checkpointer, checkpoint_interval=checkpoint_interval,
            partition_cols=["id"], algorithm="wcc",
        )
    finally:
        both.unpersist()
    components = res.state.select("id", F.col("comp").alias("set_id"))
    set_count = None
    if compute_set_count:
        set_count = components.select("set_id").distinct().count()
    return WccResult(
        components=components,
        iterations_ran=res.iterations_ran,
        set_count=set_count,
        metrics=res.metrics,
        load_millis=load_millis,
        compute_millis=int(1000 * (time.time() - t_compute0)),
    )


def wcc_two_phase(
    graph: Graph,
    threshold: float | None = None,
    max_rounds: int = 64,
    checkpointer: SuperstepCheckpointer | None = None,
) -> WccResult:
    """Connected components via alternating **large-star / small-star**
    contraction (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii —
    "Connected Components in MapReduce and Beyond", SoCC'14).

    Identical output contract to :func:`wcc` (``set_id`` = minimum
    member id; same ``threshold`` semantics as
    ``GraphUnionFind.java:82-99``), different round complexity: the
    min-label loop needs **O(diameter)** supersteps, which is fine on
    bounded-diameter web graphs but degenerates on long chains (a
    10^6-node path needs 10^6 supersteps); star contraction converges
    in **O(log n) rounds regardless of diameter** — the property that
    matters on an adversarial 10^12-edge graph whose diameter nobody
    has measured yet.

    Per round (all whole-stage-codegen DataFrame ops, no collect_list —
    a hub's neighborhood is never materialized as one row):

    - *large-star*: per node ``u``, ``m = min(Γ(u) ∪ {u})`` (map-side
      combined ``groupBy.min``); emit ``(v, m)`` for each neighbor
      ``v > u`` (SHUFFLE_HASH join of the symmetrized edge set against
      the per-node min — linear output, hub-skew handled by the partial
      aggregation and AQE-free fixed hash exchange).
    - *small-star*: on the (larger→smaller)-oriented set, per node
      ``u``: ``m = min(N(u))``; emit ``(v, m)`` for ``v ∈ N(u) ∪ {u},
      v ≠ m``.

    Both phases keep every emitted pair oriented larger-first, so the
    edge set is canonical and ``dropDuplicates`` bounds it by the input
    size.  Fixpoint test: one aggregate per round over
    ``(count, sum(u), sum(v), sum(xxhash64(u,v)))`` — the round
    transformation is a deterministic function of the edge *set*, so an
    unchanged checksum means an unchanged set and therefore a fixpoint
    (collision probability < 2^-60 per round; the count and the two
    exact sums must collide simultaneously with the hash sum).  At the
    fixpoint the edges form stars whose centers are the component
    minima; members not present (isolated vertices) map to themselves.

    ``checkpointer``: one durable save per round (the evolving edge
    set *is* the whole state), resumable mid-algorithm like the
    min-label loop.
    """
    g = graph if threshold is None else graph.filter_weight(threshold)
    spark = graph.spark
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    t_load0 = time.time()
    with aqe_suspended(spark):
        # ONE evaluation of the user's edge subtree: the canonical
        # orientation and the final-relabel vertex set both read a
        # persisted raw projection (the vertex set must be captured
        # NOW — star contraction consumes the edge set, and self-loop-
        # only vertices are dropped by the canonical filter).
        base = g.edges.select("src", "dst").persist()
        base.count()
        # canonical larger→smaller orientation, self-loops out
        edges = (
            base.select(
                F.greatest("src", "dst").alias("u"),
                F.least("src", "dst").alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .dropDuplicates(["u", "v"])
        )
        if graph._vertices is None and g is graph:  # noqa: SLF001
            verts = truncate_lineage(
                base.select(F.col("src").alias("id"))
                .union(base.select(F.col("dst").alias("id")))
                .distinct()
            )
        else:
            verts = graph.vertices.select("id")
        metrics: list[dict] = []
        start_round = 0
        if checkpointer is not None:
            last = checkpointer.latest_iteration()
            if last is not None:
                edges = checkpointer.load(last, ["state"])["state"]
                start_round = last
                metrics = checkpointer.metrics()
        cache = SuperstepCache(spark)
        edges = truncate_lineage(edges.repartition(n_part, "u"))
        cache.track(edges)
        base.unpersist()  # canonical set checkpointed, verts captured
        load_millis = int(1000 * (time.time() - t_load0))
        t_compute0 = time.time()

        def _checksum(e: DataFrame) -> tuple:
            # decimal(38) sums: exact, no ANSI long-overflow on the
            # hash column (or on ids at 10^12-row scale)
            row = e.agg(
                F.count(F.lit(1)),
                F.sum(F.col("u").cast("decimal(38,0)")),
                F.sum(F.col("v").cast("decimal(38,0)")),
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
            ).collect()[0]
            return tuple(row)

        prev_sum = None
        rounds = start_round
        while rounds < max_rounds:
            rounds += 1
            t0 = time.time()
            # ---- large-star ----------------------------------------
            sym = edges.select("u", "v").union(
                edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            lmins = (
                sym.groupBy("u")
                .agg(F.min("v").alias("mn"))
                .select("u", F.least("mn", "u").alias("m"))
            )
            large = (
                sym.join(lmins.hint("SHUFFLE_HASH"), "u")
                .where(F.col("v") > F.col("u"))
                # emitted (v, m): v > u >= m, already larger-first
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .dropDuplicates(["u", "v"])
            )
            # ---- small-star (input already larger-first) -----------
            smins = large.groupBy("u").agg(F.min("v").alias("m"))  # m < u
            small = (
                large.join(smins.hint("SHUFFLE_HASH"), "u")
                .where(F.col("v") != F.col("m"))
                # emitted (v, m): m = min <= v and v != m → larger-first
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .union(smins.select("u", F.col("m").alias("v")))
                .dropDuplicates(["u", "v"])
                .repartition(n_part, "u")
            )
            if checkpointer is not None:
                small = checkpointer.save(
                    rounds, {"state": small}, {"algorithm": "wcc_two_phase"}
                )["state"]
            else:
                small = truncate_lineage(small, eager=False)
            cur = _checksum(small)  # materializes the lazy cut
            cache.track(small)
            edges = small
            metrics.append(
                {
                    "algorithm": "wcc_two_phase",
                    "iteration": rounds,
                    "edges": int(cur[0]),
                    "wall_ms": int(1000 * (time.time() - t0)),
                }
            )
            if cur == prev_sum:
                break
            prev_sum = cur

        # fixpoint: stars (member → component-min center); isolated
        # vertices never appear — they are their own set.
        stars = edges.groupBy(F.col("u").alias("id")).agg(
            F.min("v").alias("star_id")
        )
        components = (
            verts
            .join(stars.hint("SHUFFLE_HASH"), "id", "left")
            .select("id", F.coalesce("star_id", "id").alias("set_id"))
        )
        components = truncate_lineage(components.repartition(n_part, "id"))
        cache.release()
    return WccResult(
        components=components,
        iterations_ran=rounds,
        metrics=metrics,
        load_millis=load_millis,
        compute_millis=int(1000 * (time.time() - t_compute0)),
    )
