"""The superstep loop shared by the count-to-zero operators, and the
public primitive for custom iterative graph algorithms.

wcc's min-label loop, label propagation, topological levels, maximal
independent set and k1-coloring are one Pregel-style vote-to-halt loop
(Malewicz et al., SIGMOD 2010) with different step functions: build the
next state from the previous one, cut its lineage so the plan stays
constant-size, materialize once per check boundary, retire the previous
batch's cached checkpoints, and stop when no row is flagged
``changed``.  Loops that halt on something else keep their own code:
PageRank's message fold, katz/eigenvector/hits (a tolerance on a
convergence reducer), SCC, k-core, SSSP, ANF, FastRP, Louvain and
``wcc_two_phase`` (an edge-set checksum).  The reference's ``Algorithm``
base class (``core/.../Algorithm.java:28-58``) is termination/progress
plumbing only; users cannot bring their own superstep.

The engine supplies lazy lineage truncation, ``SuperstepCache``
checkpoint retirement (O(1)-supersteps cache footprint), batched
convergence checks (one driver job per ``check_interval`` lazily cached
levels), AQE suspension around the loop, and optional durable
``SuperstepCheckpointer`` saves with resume.  A committed superstep is
one Spark job: its changed count is collected by ``DataFrame.observe``
inside the state write and lands in the ``metrics.jsonl`` row.

Contract for ``step(prev, iteration) -> DataFrame``:

- ``prev`` is the previous superstep's output, ``changed`` column
  included, so a frontier step reads ``prev.filter("changed")``; the
  first superstep of a run (fresh or resumed) sees every row changed;
- must return the id/user columns plus a boolean ``changed`` column
  (name configurable);
- must be a *pure plan builder* — called once per superstep, no
  actions inside;
- when ``check_interval > 1`` the step must be **idempotent at the
  fixpoint** (a superstep applied to converged state changes nothing).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .checkpoint import (
    SuperstepCache,
    SuperstepCheckpointer,
    aqe_suspended,
    truncate_lineage,
)


@dataclass
class SuperstepResult:
    state: DataFrame
    iterations_ran: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


def superstep_fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_iterations: int = 100,
    changed_col: str = "changed",
    check_interval: int = 1,
    checkpointer: SuperstepCheckpointer | None = None,
    checkpoint_interval: int = 1,
    partition_cols: list[str] | None = None,
    algorithm: str = "custom",
) -> SuperstepResult:
    """Iterate ``step`` until no row has ``changed_col`` true (or
    ``max_iterations``).  Returns the final state WITHOUT the
    ``changed`` column; ``metrics`` holds one row per check boundary.

    ``partition_cols``: hash-partition the initial state on these
    columns (e.g. ``["id"]``) so a co-partitioned step plan stays
    exchange-free on the state side, like the built-in operators.

    With a ``checkpointer`` every superstep is checked and every
    ``checkpoint_interval``-th one committed; a rerun on the same
    directory resumes from the last committed superstep.
    """
    if max_iterations < 0:
        raise ValueError(f"max_iterations must be >= 0, got {max_iterations}")
    if check_interval < 1:
        raise ValueError(f"check_interval must be >= 1, got {check_interval}")
    if checkpoint_interval < 1:
        raise ValueError(f"checkpoint_interval must be >= 1, got {checkpoint_interval}")
    spark = state.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    with aqe_suspended(spark):
        metrics: list[dict] = []
        it = 0
        if checkpointer is not None:
            last = checkpointer.latest_iteration()
            if last is not None:
                state = checkpointer.load(last, ["state"])["state"]
                it = last
                metrics = checkpointer.metrics()
        if changed_col in state.columns:
            state = state.drop(changed_col)
        if partition_cols:
            state = state.repartition(n_part, *partition_cols)
        cache = SuperstepCache(spark)
        state = truncate_lineage(state)
        cache.track(state)
        user_cols = state.columns
        prev = state.withColumn(changed_col, F.lit(True))

        k = check_interval if checkpointer is None else 1
        pending: list[DataFrame] = []
        converged = False
        while it < max_iterations:
            it += 1
            t0 = time.time()
            nxt = step(prev, it)
            if changed_col not in nxt.columns:
                raise ValueError(
                    f"step() must return a '{changed_col}' boolean column; "
                    f"got {nxt.columns}"
                )
            row = {"algorithm": algorithm, "iteration": it}
            if checkpointer is not None and it % checkpoint_interval == 0:
                # one job: the write, which also counts the changed rows
                obs = Observation()
                observed = nxt.observe(
                    obs, F.count_if(F.col(changed_col)).alias("changed")
                )

                def observed_metrics(row=row, obs=obs, t0=t0) -> dict:
                    row["changed"] = int(obs.get["changed"])
                    row["wall_ms"] = int(1000 * (time.time() - t0))
                    return row

                nxt = checkpointer.save(it, {"state": observed}, observed_metrics)["state"]
            else:
                nxt = truncate_lineage(nxt, eager=False)
            pending.append(nxt)
            prev = nxt
            if it % k == 0 or it >= max_iterations:
                if "changed" not in row:  # not committed: count materializes
                    row["changed"] = nxt.filter(F.col(changed_col)).count()
                    row["wall_ms"] = int(1000 * (time.time() - t0))
                cache.track(*pending)  # batch materialized: retire the previous
                pending = []
                metrics.append(row)
                if row["changed"] == 0:
                    converged = True
                    break
    return SuperstepResult(
        state=prev.select(*user_cols),
        iterations_ran=it,
        converged=converged,
        metrics=metrics,
    )
