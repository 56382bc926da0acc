"""k-truss subgraph — support peeling with incremental maintenance.

Beyond-reference (GDS-era ``gds.alpha.ktruss`` shape; the reference
stops at triangle counting, ``algo/.../TriangleProc.java``): the
k-truss is the maximal edge subgraph in which every edge participates
in at least ``k-2`` triangles *within the subgraph* — the standard
cohesive-core definition (Cohen 2008).  Trusses are the
triangle-analogue of k-cores: denser, and robust to the single-edge
bridges that inflate cores.

Spark shape — one full enumeration, then delta rounds:

- **Round 1** enumerates all triangles once with the degree-oriented
  wedge join from ``operators/triangles.py`` (out-fan bounded by
  O(√m) per vertex — hub skew cannot explode the self-join) and seeds
  a per-edge ``(src, dst, sup)`` support table.
- **Each peel round** removes the under-supported edges R and — instead
  of re-enumerating the whole graph — finds exactly the triangles that
  *died*: for every removed edge, wedges are emitted from its
  lower-degree endpoint over the surviving+removed adjacency and
  closed against the opposite endpoint's adjacency.  Dead triangles
  are deduplicated and their surviving member edges decremented.
  Per-round work is Σ_{(u,v)∈R} min(deg u, deg v) — proportional to
  what was removed, not to the graph; an edge whose support did not
  change is never re-joined.
- Support never increases under edge removal, so ``R = ∅`` is an exact
  fixpoint; rounds are bounded by the peeling depth.
- **Endgame**: once the survivor set fits one task
  (``local_finish_edges``, default 200k ≈ 5 MB), the remaining peel
  runs in-process off one bounded collect — peeling is
  order-confluent, so the asynchronous local peel lands on the same
  unique maximal subgraph, and a long peeling tail stops paying a
  multi-job scheduler floor per round.

Correctness of the delta: a triangle of the round-entry edge set
either keeps all three edges (survives, no support change) or contains
at least one removed edge — and is then found through that edge's
wedge, deduplicated across its removed edges, and subtracted exactly
once from each surviving edge.  Triangles that lost an edge in an
*earlier* round were already subtracted in that round.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.checkpoint import SuperstepCache, aqe_suspended, truncate_lineage
from .kcore import k_core
from .triangles import _orient_by_degree, _undirected_degrees, _wedge_triangles


#: delta rounds with at most this many removed edges run fully
#: broadcast-side (three exchange-free linear scans); bigger removal
#: sets fall back to SHUFFLE_HASH shapes
_DELTA_BROADCAST_ROWS = 20_000

#: once the survivor set fits in one task's memory (~5 MB at the
#: default), finish the peel in-process instead of paying the
#: per-round driver-job floor (~1-3 s/round on a long peeling tail).
#: k-truss peeling is order-confluent — the truss is the unique
#: maximal subgraph with min support, so asynchronous local peeling
#: returns exactly the synchronous rounds' fixpoint.
_LOCAL_FINISH_EDGES = 200_000


@dataclass
class KTrussResult:
    edges: DataFrame               # (src long, dst long), src < dst
    k: int
    iterations_ran: int
    edge_count: int
    metrics: list[dict] = field(default_factory=list)


def _dead_triangle_decs(
    kept: DataFrame, removed: DataFrame, deg: DataFrame, small_delta: bool
) -> DataFrame:
    """Per-surviving-edge decrement counts ``(src, dst, dec)``: the
    triangles of kept ∪ removed that lost at least one edge to
    ``removed``, deduplicated, scattered to their canonical member
    edges.  ``deg`` may be stale after earlier removals — staleness
    affects which endpoint fans out wedges (cost), never which
    triangles are found (correctness).  When ``small_delta`` every
    join runs broadcast-side — three exchange-free linear scans of
    the edge set; otherwise SHUFFLE_HASH shapes apply."""
    eprev = kept.select("src", "dst").unionAll(removed)
    adj = eprev.select(
        F.col("src").alias("x"), F.col("dst").alias("w")
    ).unionAll(
        eprev.select(F.col("dst").alias("x"), F.col("src").alias("w"))
    )
    # orient each removed edge from its lower-degree endpoint
    if small_delta:
        rd = (
            deg.select(F.col("id").alias("src"), F.col("degree").alias("sd"))
            .join(F.broadcast(removed), "src")
            .join(
                F.broadcast(
                    deg.select(
                        F.col("id").alias("dst"), F.col("degree").alias("dd")
                    )
                    .join(
                        F.broadcast(removed.select("dst").distinct()), "dst"
                    )
                ),
                "dst",
            )
        )
    else:
        rd = (
            removed.join(
                deg.select(F.col("id").alias("src"), F.col("degree").alias("sd"))
                .hint("SHUFFLE_HASH"),
                "src",
            )
            .join(
                deg.select(F.col("id").alias("dst"), F.col("degree").alias("dd"))
                .hint("SHUFFLE_HASH"),
                "dst",
            )
        )
    lo_first = (F.col("sd") < F.col("dd")) | (
        (F.col("sd") == F.col("dd")) & (F.col("src") < F.col("dst"))
    )
    rr = rd.select(
        F.when(lo_first, F.col("src")).otherwise(F.col("dst")).alias("lo"),
        F.when(lo_first, F.col("dst")).otherwise(F.col("src")).alias("hi"),
    )
    # wedges from lo over the round-entry adjacency, closed against
    # hi's adjacency; dedupe triangles found through several removed
    # edges
    adj_lo = adj.select(F.col("x").alias("lo"), "w")
    adj_hi = adj.select(F.col("x").alias("hi"), "w")
    if small_delta:
        cand = adj_lo.join(F.broadcast(rr), "lo").filter(
            F.col("w") != F.col("hi")
        )
        # inner flip of the semi join: each (hi, w) edge occurs once
        # per direction in adj, so a closing candidate matches exactly
        # once
        closed = adj_hi.join(F.broadcast(cand), ["hi", "w"])
    else:
        cand = rr.join(adj_lo.hint("SHUFFLE_HASH"), "lo").filter(
            F.col("w") != F.col("hi")
        )
        closed = cand.join(
            adj_hi.hint("SHUFFLE_HASH"), ["hi", "w"], "left_semi"
        )
    dead = (
        closed.select(F.array_sort(F.array("lo", "hi", "w")).alias("t"))
        .select(
            F.col("t")[0].alias("a"),
            F.col("t")[1].alias("b"),
            F.col("t")[2].alias("c"),
        )
        .distinct()
    )
    return _edge_scatter(dead, "dec")


def _edge_scatter(tri: DataFrame, value_name: str) -> DataFrame:
    """Scatter each ``(a < b < c)`` triangle to its three canonical
    member edges and count per edge.

    One ``explode`` pass, NOT a 3-way union of projections: a union
    would evaluate the (unmaterialized) triangle plan — the Σdeg²-row
    wedge join — once per branch, tripling the dominant cost."""
    return (
        tri.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                    F.struct(F.col("a").alias("src"), F.col("c").alias("dst")),
                    F.struct(F.col("b").alias("src"), F.col("c").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias(value_name))
    )


def _local_peel(edges, min_sup: int) -> tuple[list[tuple[int, int]], int]:
    """Exact in-process truss peel over collected canonical
    ``(src, dst)`` rows (size-gated by the caller).  Supports are
    recomputed from scratch over exactly this edge set — the caller's
    stored supports are relative to the *previous* round's graph, so
    they cannot seed the peel.  C-side set intersections keep the
    recompute cheap at the gate size.  Returns (survivor edges, number
    of edges peeled)."""
    from collections import deque

    adj: dict[int, set[int]] = {}
    for src, dst in edges:
        adj.setdefault(src, set()).add(dst)
        adj.setdefault(dst, set()).add(src)
    sup: dict[tuple[int, int], int] = {}
    for src, dst in edges:
        a, b = (src, dst) if len(adj[src]) <= len(adj[dst]) else (dst, src)
        sup[(src, dst)] = len(adj[a] & adj[b])
    queue = deque(e for e, s in sup.items() if s < min_sup)
    dead = set(queue)
    while queue:
        u, v = queue.popleft()
        adj[u].discard(v)
        adj[v].discard(u)
        for w in adj[u] & adj[v]:
            for e in (
                (u, w) if u < w else (w, u),
                (v, w) if v < w else (w, v),
            ):
                if e not in dead:
                    sup[e] -= 1
                    if sup[e] < min_sup:
                        dead.add(e)
                        queue.append(e)
    return [e for e in sup if e not in dead], len(dead)


def k_truss(
    graph: Graph,
    k: int,
    max_iterations: int = 100,
    local_finish_edges: int = _LOCAL_FINISH_EDGES,
) -> KTrussResult:
    """Edges of the k-truss of the undirected simple graph.

    ``k >= 2``; the 2-truss is the input edge set itself (every edge
    trivially has ≥ 0 triangles).  Returns canonical ``src < dst``
    rows.  ``local_finish_edges`` gates the in-process endgame: when
    the survivor set drops at or below it, the remaining peel runs
    driver-side in one bounded collect (0 disables)."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    spark = graph.spark
    min_sup = k - 2
    with aqe_suspended(spark):
        cache = SuperstepCache(spark)
        # no upfront repartition: every downstream join re-shuffles by
        # its own key (src for degrees, (src,dst) for supports), so a
        # pre-shuffle by src is pure extra I/O
        edges = truncate_lineage(
            graph.canonical_undirected_edges().select("src", "dst")
        )
        cache.track(edges)
        n_edges = edges.count()
        metrics: list[dict] = []
        if min_sup <= 0 or n_edges == 0:
            return KTrussResult(
                edges=edges, k=k, iterations_ran=0,
                edge_count=int(n_edges), metrics=metrics,
            )

        # one degree aggregate up front: it decides the core prefilter,
        # orients the round-1 wedge join, and steers the removed-edge
        # wedge side in every delta round (degree staleness after
        # removals affects cost, never correctness)
        deg = truncate_lineage(_undirected_degrees(edges))
        cache.track(edges, deg)

        # ---- (k-1)-core prefilter ------------------------------------
        # Every k-truss edge has >= k-2 triangle partners inside the
        # truss, so both endpoints have degree >= k-1 there: the truss
        # is contained in the (k-1)-core.  Degree peeling is orders of
        # magnitude cheaper than the wedge join, so shrink the graph
        # with it before paying for triangle enumeration (standard
        # truss pruning) — but only when the degree table shows
        # sub-(k-1) vertices at all (one cheap scalar probe; dense
        # graphs skip the peel entirely).
        t0 = time.time()
        if deg.filter(F.col("degree") < k - 1).isEmpty():
            pass  # min degree already >= k-1: the (k-1)-core is the graph
        else:
            core = k_core(Graph(edges), k - 1, check_interval=2)
            edges = truncate_lineage(core.edges)
            deg = truncate_lineage(_undirected_degrees(edges))
            cache.track(edges, deg)
            n_core = edges.count()
            metrics.append(
                {
                    "algorithm": "k_truss",
                    "iteration": 0,
                    "edges": int(n_core),
                    "removed": int(n_edges - n_core),
                    "mode": f"core_prefilter(rounds={core.rounds})",
                    "wall_ms": int(1000 * (time.time() - t0)),
                }
            )
            n_edges = n_core
            if n_edges == 0:
                return KTrussResult(
                    edges=edges, k=k, iterations_ran=0,
                    edge_count=0, metrics=metrics,
                )

        # ---- round 1: full enumeration seeds the support table -------
        it = 1
        t0 = time.time()
        ori = truncate_lineage(_orient_by_degree(edges, deg))
        cache.track(edges, deg, ori)
        sup0 = _edge_scatter(_wedge_triangles(ori), "sup")
        es = (
            edges.join(sup0.hint("SHUFFLE_HASH"), ["src", "dst"], "left")
            .select(
                "src", "dst",
                F.coalesce(F.col("sup"), F.lit(0)).cast("long").alias("sup"),
            )
        )
        # one checkpointed support table per round; kept/removed are
        # filter views over it (the fixpoint count materializes it in
        # full while its parents are still cached)
        es = truncate_lineage(es, eager=False)
        kept = es.filter(F.col("sup") >= min_sup)
        removed = es.filter(F.col("sup") < min_sup).select("src", "dst")
        n_kept = kept.count()
        n_removed = n_edges - n_kept
        cache.track(es, deg)
        metrics.append(
            {
                "algorithm": "k_truss",
                "iteration": it,
                "edges": int(n_kept),
                "removed": int(n_removed),
                "wall_ms": int(1000 * (time.time() - t0)),
            }
        )

        # ---- peel rounds ----------------------------------------------
        # Hybrid strategy per round: when the peel removed most of the
        # graph (early rounds of a high k), re-enumerate the (now much
        # smaller) survivor set with the degree-oriented wedge join —
        # its cost tracks the survivors.  When removals are a small
        # minority (long peeling tails), subtract only the triangles
        # that died — cost tracks the removals.  Both branches produce
        # the same table: per-edge support WITHIN the survivor set.
        while n_removed > 0 and it < max_iterations:
            it += 1
            t0 = time.time()
            if 0 < n_kept <= local_finish_edges:
                # endgame: survivors fit in one task's memory — one
                # bounded collect replaces the whole remaining peel
                # tail (each distributed round costs a multi-job
                # scheduler floor regardless of data size)
                survivors, n_dead = _local_peel(
                    [tuple(r) for r in kept.select("src", "dst").collect()],
                    min_sup,
                )
                kept = spark.createDataFrame(
                    survivors, "src long, dst long"
                ) if survivors else spark.createDataFrame([], "src long, dst long")
                n_kept -= n_dead
                n_removed = 0
                metrics.append(
                    {
                        "algorithm": "k_truss",
                        "iteration": it,
                        "edges": int(n_kept),
                        "removed": int(n_dead),
                        "mode": "local_finish",
                        "wall_ms": int(1000 * (time.time() - t0)),
                    }
                )
                break
            if n_removed * 4 >= n_kept:
                # rebuild path — survivors shrank enough to re-enumerate
                deg = truncate_lineage(
                    _undirected_degrees(kept.select("src", "dst"))
                )
                cache.track(es, deg)
                ori = truncate_lineage(
                    _orient_by_degree(kept.select("src", "dst"), deg)
                )
                cache.track(es, deg, ori)
                sup_k = _edge_scatter(_wedge_triangles(ori), "sup")
                es2 = (
                    kept.select("src", "dst")
                    .join(sup_k.hint("SHUFFLE_HASH"), ["src", "dst"], "left")
                    .select(
                        "src", "dst",
                        F.coalesce(F.col("sup"), F.lit(0)).cast("long").alias("sup"),
                    )
                )
                es2 = truncate_lineage(es2, eager=False)
                new_kept = es2.filter(F.col("sup") >= min_sup)
                new_removed = es2.filter(F.col("sup") < min_sup).select("src", "dst")
                n_new_kept = new_kept.count()
                n_removed = n_kept - n_new_kept
                cache.track(es2, deg)
                metrics.append(
                    {
                        "algorithm": "k_truss",
                        "iteration": it,
                        "edges": int(n_new_kept),
                        "removed": int(n_removed),
                        "mode": "rebuild",
                        "wall_ms": int(1000 * (time.time() - t0)),
                    }
                )
                es, kept, n_kept, removed = es2, new_kept, n_new_kept, new_removed
                continue
            # delta path: subtract only the triangles that died.
            # When the removed set is tiny (the long-tail rounds this
            # path exists for) every join runs broadcast-side — the
            # round is three exchange-free linear scans of the edge
            # set; otherwise the SHUFFLE_HASH shapes below apply.
            small_delta = n_removed <= _DELTA_BROADCAST_ROWS
            dec = _dead_triangle_decs(kept, removed, deg, small_delta)
            # removed edges fall out here because the join base is kept
            dec_side = F.broadcast(dec) if small_delta else dec.hint("SHUFFLE_HASH")
            es2 = (
                kept.join(dec_side, ["src", "dst"], "left")
                .select(
                    "src", "dst",
                    (F.col("sup") - F.coalesce(F.col("dec"), F.lit(0))).alias("sup"),
                )
            )
            es2 = truncate_lineage(es2, eager=False)
            new_kept = es2.filter(F.col("sup") >= min_sup)
            new_removed = es2.filter(F.col("sup") < min_sup).select("src", "dst")
            n_new_kept = new_kept.count()
            n_removed = n_kept - n_new_kept
            cache.track(es2, deg)
            metrics.append(
                {
                    "algorithm": "k_truss",
                    "iteration": it,
                    "edges": int(n_new_kept),
                    "removed": int(n_removed),
                    "mode": "delta",
                    "wall_ms": int(1000 * (time.time() - t0)),
                }
            )
            es, kept, n_kept, removed = es2, new_kept, n_new_kept, new_removed
    return KTrussResult(
        edges=kept.select("src", "dst"),
        k=k,
        iterations_ran=it,
        edge_count=int(n_kept),
        metrics=metrics,
    )


@dataclass
class TrussDecompositionResult:
    per_edge: DataFrame            # (src long, dst long, truss long), src < dst
    max_truss: int
    iterations_ran: int
    edge_count: int
    metrics: list[dict] = field(default_factory=list)


def _local_truss(edges, min_level: int = 0) -> list[tuple[int, int, int]]:
    """Exact in-process truss decomposition over collected canonical
    ``(src, dst)`` rows (size-gated by the caller).  Bucket-queue peel
    in increasing support order: the minimum-support edge's truss is
    ``level + 2`` where ``level`` only ever rises; decrements clamp at
    the current level (the k-core trick transplanted to edges).
    Supports are recomputed from scratch in the residual — they equal
    the delta-maintained supports (both count triangles among the
    surviving edges).

    ``min_level``: the distributed peel's current level.  The residual
    handed in MID-CASCADE is *not* a truss of the input — an edge
    whose support already dropped to s < min_level still has truss
    ``min_level + 2`` (any removal while the peel sits at level l is
    truss l+2; the level never decreases), so the local peel must
    start at ``min_level``, not 0: sub-level edges are seeded into the
    ``min_level`` bucket (peel order within a level is confluent).
    Callers handing in a *completed* truss (fixpoint reached, e.g.
    ``k_truss_multi``) keep the default 0 — a truss's edges' truss
    numbers equal their input-graph truss numbers
    (k-truss(G) = k-truss(j-truss(G)) for j <= k).
    Returns ``(src, dst, truss)`` rows."""
    from collections import defaultdict

    adj: dict[int, set[int]] = {}
    for src, dst in edges:
        adj.setdefault(src, set()).add(dst)
        adj.setdefault(dst, set()).add(src)
    sup: dict[tuple[int, int], int] = {}
    for src, dst in edges:
        a, b = (src, dst) if len(adj[src]) <= len(adj[dst]) else (dst, src)
        sup[(src, dst)] = len(adj[a] & adj[b])
    buckets: dict[int, set[tuple[int, int]]] = defaultdict(set)
    for e, s in sup.items():
        buckets[max(s, min_level)].add(e)
    out: list[tuple[int, int, int]] = []
    level = min_level
    max_sup = max(max(sup.values(), default=0), min_level)
    remaining = len(sup)
    while remaining:
        while level <= max_sup and not buckets.get(level):
            level += 1
        u, v = e = buckets[level].pop()
        out.append((u, v, level + 2))
        remaining -= 1
        adj[u].discard(v)
        adj[v].discard(u)
        del sup[e]
        # adj holds live edges only, so every common neighbor closes a
        # still-live triangle whose other two edges both decrement
        for w in adj[u] & adj[v]:
            for f in (
                (u, w) if u < w else (w, u),
                (v, w) if v < w else (w, v),
            ):
                s = sup.get(f)
                if s is not None and s > level:
                    buckets[s].discard(f)
                    sup[f] = s - 1
                    buckets[s - 1].add(f)
    return out


def truss_decomposition(
    graph: Graph,
    max_iterations: int = 10_000,
    local_finish_edges: int = _LOCAL_FINISH_EDGES,
) -> TrussDecompositionResult:
    """Per-edge truss numbers — the whole k-truss spectrum in ONE
    triangle enumeration (``k_truss(k)`` for every k at once, the way
    ``core_numbers`` generalizes ``k_core``).

    The truss number of an edge is the largest k such that the edge
    survives in the k-truss; edges in no triangle have truss 2.
    Level-synchronous peel: at level l remove every edge whose current
    support is <= l (those edges have truss exactly l + 2 — the
    residual entering level l is precisely the (l+2)-truss), subtract
    the triangles that died via the same delta maintenance as
    ``k_truss`` (cost tracks removals, not the graph), and when no
    edge is at or below l jump l straight to the minimum surviving
    support (empty levels are free).  Endgame: once survivors fit one
    task (``local_finish_edges``), one bounded collect finishes the
    whole remaining spectrum in-process — truss numbers of a truss's
    edges equal their input-graph truss numbers, so the local answer
    is exact, not approximate.

    Returns canonical ``(src, dst, truss)`` rows for EVERY input edge.
    One pass replaces one ``k_truss`` call per distinct k."""
    spark = graph.spark
    with aqe_suspended(spark):
        cache = SuperstepCache(spark)
        edges = truncate_lineage(
            graph.canonical_undirected_edges().select("src", "dst")
        )
        cache.track(edges)
        n_edges = edges.count()
        metrics: list[dict] = []
        empty = spark.createDataFrame([], "src long, dst long, truss long")
        if n_edges == 0:
            return TrussDecompositionResult(
                per_edge=empty, max_truss=0, iterations_ran=0,
                edge_count=0, metrics=metrics,
            )

        deg = truncate_lineage(_undirected_degrees(edges))
        cache.track(edges, deg)

        # ---- round 1: full enumeration seeds the support table -------
        it = 1
        t0 = time.time()
        ori = truncate_lineage(_orient_by_degree(edges, deg))
        cache.track(edges, deg, ori)
        sup0 = _edge_scatter(_wedge_triangles(ori), "sup")
        es = truncate_lineage(
            edges.join(sup0.hint("SHUFFLE_HASH"), ["src", "dst"], "left")
            .select(
                "src", "dst",
                F.coalesce(F.col("sup"), F.lit(0)).cast("long").alias("sup"),
            ),
            eager=False,
        )
        n_active = n_edges
        # es is a LAZY checkpoint — do not track it (which would
        # unpersist its parents) until an action materializes it; the
        # first loop round's min-sup probe or collect does that
        metrics.append(
            {
                "algorithm": "truss_decomposition",
                "iteration": it,
                "edges": int(n_active),
                "wall_ms": int(1000 * (time.time() - t0)),
            }
        )

        assigned = empty
        level = 0
        max_truss = 2
        # ---- level-synchronous peel rounds ---------------------------
        while n_active > 0 and it < max_iterations:
            it += 1
            t0 = time.time()
            if n_active <= local_finish_edges:
                # min_level=level: the residual may be mid-cascade (a
                # prior round's delta dropped some survivors to support
                # <= level) — those edges have truss level+2, not what
                # a from-scratch level-0 peel would assign
                rows = _local_truss(
                    [tuple(r) for r in es.select("src", "dst").collect()],
                    min_level=level,
                )
                done = (
                    spark.createDataFrame(rows, "src long, dst long, truss long")
                    if rows
                    else empty
                )
                assigned = truncate_lineage(assigned.unionAll(done))
                if rows:
                    max_truss = max(max_truss, max(t for _, _, t in rows))
                metrics.append(
                    {
                        "algorithm": "truss_decomposition",
                        "iteration": it,
                        "edges": 0,
                        "removed": int(n_active),
                        "level": int(level),
                        "mode": "local_finish",
                        "wall_ms": int(1000 * (time.time() - t0)),
                    }
                )
                n_active = 0
                break
            # the level jumps straight to the minimum surviving support
            # (empty levels cost one cheap scalar probe, not a round)
            cur_min = es.agg(F.min("sup")).first()[0]
            level = max(level, int(cur_min))
            removed_es = es.filter(F.col("sup") <= level)
            kept = es.filter(F.col("sup") > level)
            removed = removed_es.select("src", "dst")
            # every edge removed while the peel sits at level l has
            # truss exactly l + 2 — assign it on the way out
            assigned = truncate_lineage(
                assigned.unionAll(
                    removed.select(
                        "src", "dst", F.lit(level + 2).cast("long").alias("truss")
                    )
                )
            )
            max_truss = level + 2
            n_kept = kept.count()
            n_removed = n_active - n_kept
            cache.track(es, deg, assigned)
            if n_kept == 0:
                metrics.append(
                    {
                        "algorithm": "truss_decomposition",
                        "iteration": it,
                        "edges": 0,
                        "removed": int(n_removed),
                        "level": int(level),
                        "mode": "drain",
                        "wall_ms": int(1000 * (time.time() - t0)),
                    }
                )
                n_active = 0
                break
            if n_removed * 4 >= n_kept:
                # rebuild path — survivors shrank enough to re-enumerate
                deg = truncate_lineage(
                    _undirected_degrees(kept.select("src", "dst"))
                )
                cache.track(es, deg, assigned)
                ori = truncate_lineage(
                    _orient_by_degree(kept.select("src", "dst"), deg)
                )
                cache.track(es, deg, ori, assigned)
                sup_k = _edge_scatter(_wedge_triangles(ori), "sup")
                es2 = truncate_lineage(
                    kept.select("src", "dst")
                    .join(sup_k.hint("SHUFFLE_HASH"), ["src", "dst"], "left")
                    .select(
                        "src", "dst",
                        F.coalesce(F.col("sup"), F.lit(0)).cast("long").alias("sup"),
                    ),
                    eager=False,
                )
                mode = "rebuild"
            else:
                # delta path — subtract only the triangles that died
                small_delta = n_removed <= _DELTA_BROADCAST_ROWS
                dec = _dead_triangle_decs(kept, removed, deg, small_delta)
                dec_side = (
                    F.broadcast(dec) if small_delta else dec.hint("SHUFFLE_HASH")
                )
                es2 = truncate_lineage(
                    kept.join(dec_side, ["src", "dst"], "left")
                    .select(
                        "src", "dst",
                        (F.col("sup") - F.coalesce(F.col("dec"), F.lit(0)))
                        .alias("sup"),
                    ),
                    eager=False,
                )
                mode = "delta"
            n_active2 = es2.count()
            assert n_active2 == n_kept
            cache.track(es2, deg, assigned)
            metrics.append(
                {
                    "algorithm": "truss_decomposition",
                    "iteration": it,
                    "edges": int(n_kept),
                    "removed": int(n_removed),
                    "level": int(level),
                    "mode": mode,
                    "wall_ms": int(1000 * (time.time() - t0)),
                }
            )
            es, n_active = es2, n_active2
    return TrussDecompositionResult(
        per_edge=assigned.select("src", "dst", "truss"),
        max_truss=int(max_truss),
        iterations_ran=it,
        edge_count=int(n_edges),
        metrics=metrics,
    )


def k_truss_multi(
    graph: Graph,
    ks: list[int],
    max_iterations: int = 100,
    local_finish_edges: int = _LOCAL_FINISH_EDGES,
) -> dict[int, KTrussResult]:
    """k-trusses for SEVERAL k values sharing one peel: because
    k-truss(G) = k-truss(j-truss(G)) for j <= k, each truss is peeled
    from the PREVIOUS truss's edges instead of from the full graph —
    the triangle-enumeration and peel work for every k beyond the
    smallest runs on an already-shrunk subgraph, so the whole list
    costs about one ``k_truss(min(ks))`` call (the 1.3x-of-single-k
    contract the bench leg checks) instead of len(ks) full runs.

    Returns ``{k: KTrussResult}``.  For per-edge truss NUMBERS over
    every k at once use ``truss_decomposition`` — exact but a full
    level-by-level peel, strictly more work than a k short-list."""
    if not ks:
        return {}
    out: dict[int, KTrussResult] = {}
    ks_sorted = sorted(set(ks))
    g = graph
    while ks_sorted:
        k = ks_sorted.pop(0)
        res = k_truss(
            g, k, max_iterations=max_iterations,
            local_finish_edges=local_finish_edges,
        )
        out[k] = res
        if not ks_sorted:
            break
        if res.edge_count == 0:
            # every larger k is empty too — no more peeling needed
            for k2 in ks_sorted:
                out[k2] = KTrussResult(
                    edges=res.edges, k=k2, iterations_ran=0,
                    edge_count=0, metrics=[],
                )
            break
        if res.edge_count <= local_finish_edges:
            # the truss fits one task: ONE local decomposition answers
            # every remaining k at once — no more distributed calls,
            # no per-call job floor (this is what keeps the whole list
            # at ~1x the smallest-k cost instead of len(ks)x)
            spark = graph.spark
            rows = _local_truss(
                [tuple(r) for r in res.edges.select("src", "dst").collect()]
            )
            for k2 in ks_sorted:
                ek = [(s, d) for s, d, t in rows if t >= k2]
                df = (
                    spark.createDataFrame(ek, "src long, dst long")
                    if ek
                    else spark.createDataFrame([], "src long, dst long")
                )
                out[k2] = KTrussResult(
                    edges=df, k=k2, iterations_ran=0,
                    edge_count=len(ek),
                    metrics=[{"algorithm": "k_truss", "mode": "local_spectrum"}],
                )
            break
        g = Graph(res.edges)
    return out
