"""Per-superstep checkpoint + metrics so iterative runs resume mid-algorithm.

Two jobs, one mechanism (SURVEY.md §7 risk register):

1. **Lineage truncation.**  An iterative DataFrame loop grows an
   unbounded logical plan; ``truncate_lineage`` breaks it every
   superstep (``localCheckpoint(eager=True)`` at the serialized
   ``MEMORY_AND_DISK`` level) — on a cluster, with a durable
   ``checkpoint_dir``, a parquet round-trip instead.
2. **Resume.**  With a ``SuperstepCheckpointer`` the state DataFrames of
   every k-th superstep land in a durable table
   (``{dir}/{algo}/{run_id}/iter=NNNN/{name}``, parquet here; Iceberg
   when its catalog jars are on the classpath — gated import-try) plus a
   ``metrics.jsonl`` row per superstep (messages sent, delta-norm, skew
   ratio, wall ms — the north rule's per-partition lineage + metrics).
   A rerun with the same dir/run_id restarts from the last *committed*
   iteration (commit marker written after the data), not from scratch.

The reference has no such machinery (its runs are single-process,
minutes-long); at 10^12 edges a 40-superstep PageRank **will** lose an
executor, so resumability is a first-class design input, not a bolt-on.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from contextlib import contextmanager
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        jvm = spark._jvm  # noqa: SLF001
        jvm.java.lang.Class.forName("org.apache.iceberg.catalog.Catalog")
        return True
    except Exception:
        return False


# Superstep checkpoints are stored SERIALIZED.  localCheckpoint's
# implicit level (MEMORY_AND_DISK_DESER in PySpark-4 naming) keeps one
# UnsafeRow object per row: at 5M vertices x several live levels that
# is tens of millions of small heap objects per superstep batch, and
# -Xlog:gc showed 32% of a 32-core leg's wall in G1 pauses.  The
# serialized level packs each cached partition into a few large byte
# buffers; on the identical 20M-edge north run total GC pause time fell
# 148.9 s -> 28.5 s (5.2x) and the cached footprint 4.6 GB -> 0.9 GB,
# results bit-identical (BENCH/BASELINE.md).
_CHECKPOINT_STORAGE_LEVEL = StorageLevel.MEMORY_AND_DISK


def truncate_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Break lineage without durable storage (single-run loops)."""
    return df.localCheckpoint(eager=eager, storageLevel=_CHECKPOINT_STORAGE_LEVEL)


def checkpoint_rdd_id(df: DataFrame) -> int | None:
    """Id of the checkpoint RDD backing a ``localCheckpoint``-ed
    DataFrame (its analyzed plan is a ``LogicalRDD``), else None."""
    try:
        plan = df._jdf.queryExecution().analyzed()  # noqa: SLF001
        if plan.getClass().getName().endswith(".LogicalRDD"):
            return int(plan.rdd().id())
    except Exception:
        return None
    return None


def checkpoint_blocks_present(df: DataFrame) -> bool:
    """Whether every block of a ``localCheckpoint``-ed DataFrame is still
    held: a lost executor takes its blocks, which nothing can recompute.
    Runs no Spark job."""
    rid = checkpoint_rdd_id(df)
    if rid is None:
        return False
    for info in df.sparkSession.sparkContext._jsc.sc().getRDDStorageInfo():  # noqa: SLF001
        if info.id() == rid:
            return info.numCachedPartitions() == info.numPartitions()
    # only RDDs with a cached block are listed; one without partitions has none
    return df._jdf.queryExecution().analyzed().rdd().getNumPartitions() == 0  # noqa: SLF001


# AQE (spark.sql.adaptive.enabled) and the shuffle-partition count are
# session-global; iterative operators suspend AQE for their superstep
# loops (the loops' joins are exchange-free by co-partitioning, so AQE
# only adds replanning latency) and floor the partition count for their
# hash builds.  Both save/restores are refcounted per session under one
# lock, so nested/concurrent operator runs on one session restore the
# ORIGINAL value exactly once — never each other's intermediate state.
# The conf stays changed for any query that overlaps the window; that
# is inherent to a session-global knob.
_CONF_LOCK = threading.Lock()
_AQE_STATE: dict[int, tuple[int, str]] = {}  # session hash -> (depth, saved)
# session hash -> (saved, {live override token: floor asked or None})
_PARTITION_STATE: dict[int, tuple[str, dict[object, int | None]]] = {}


@contextmanager
def shuffle_partitions_override(spark: SparkSession):
    """Yield a setter for ``spark.sql.shuffle.partitions`` whose effect
    is guaranteed to be rolled back when the block exits — the
    restore-safe way for an operator to raise the session's partition
    count mid-run (e.g. the fold engine's build-side memory floor,
    which learns |V| only after the load phase has begun).  The setter
    may be called zero or more times.  ``set_np(n)`` sets a floor: while
    overrides overlap on one session the count is the largest ``n`` any
    live one asked for, so it can exceed ``n``.  The ORIGINAL value is
    restored when the last live override exits."""
    key, token, conf = id(spark), object(), "spark.sql.shuffle.partitions"

    def apply() -> None:  # under _CONF_LOCK
        asked = [n for n in live.values() if n is not None]
        spark.conf.set(conf, str(max(asked)) if asked else saved)

    def set_np(n: int) -> None:
        with _CONF_LOCK:
            live[token] = int(n)
            apply()

    with _CONF_LOCK:
        saved, live = _PARTITION_STATE.setdefault(key, (spark.conf.get(conf, "200"), {}))
        live[token] = None
    try:
        yield set_np
    finally:
        with _CONF_LOCK:
            if live.pop(token) is not None or not live:
                apply()
            if not live:
                del _PARTITION_STATE[key]


@contextmanager
def aqe_suspended(spark: SparkSession, enabled: bool = False):
    if enabled:  # caller asked to leave AQE alone
        yield
        return
    key = id(spark)
    with _CONF_LOCK:
        depth, saved = _AQE_STATE.get(key, (0, None))
        if depth == 0:
            saved = spark.conf.get("spark.sql.adaptive.enabled", "true")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
        _AQE_STATE[key] = (depth + 1, saved)
    try:
        yield
    finally:
        with _CONF_LOCK:
            depth, saved = _AQE_STATE[key]
            if depth == 1:
                spark.conf.set("spark.sql.adaptive.enabled", saved)
                del _AQE_STATE[key]
            else:
                _AQE_STATE[key] = (depth - 1, saved)


class SuperstepCache:
    """Retires stale per-superstep checkpoint RDDs.

    ``localCheckpoint`` caches its RDD and never releases it, so an
    iterative loop accumulates one ~|V|-row cached RDD per superstep;
    past ~10 supersteps the cache churn degrades superstep time 2-3x
    (measured) and eventually forces eviction storms.  ``track(*dfs)``
    reads the checkpoint RDD id straight off each DataFrame's
    ``LogicalRDD`` plan and unpersists the previously tracked ids —
    steady-state cache footprint is O(1) supersteps, and RDDs persisted
    by concurrent jobs are never touched (no registry diffing).

    Contract: call ``track`` only after the new state has been
    materialized by an action (count/agg/save) — a locally-checkpointed
    RDD cannot be recomputed once its predecessor is unpersisted.
    """

    def __init__(self, spark: SparkSession):
        self._sc = spark.sparkContext._jsc.sc()  # noqa: SLF001
        self._live: set[int] = set()

    def track(self, *dfs: DataFrame) -> None:
        """Adopt the checkpoint RDDs of ``dfs`` (materialized!) as the
        live superstep state; unpersist the previous live set."""
        new = {rid for df in dfs if (rid := checkpoint_rdd_id(df)) is not None}
        stale = self._live - new
        if stale:
            it = self._sc.getPersistentRDDs().iterator()
            while it.hasNext():
                e = it.next()
                if e._1() in stale:
                    e._2().unpersist(False)
        self._live = new

    def release(self) -> None:
        """Unpersist everything currently tracked."""
        self.track()


class SuperstepCheckpointer:
    """Durable superstep state + metrics for one algorithm run."""

    def __init__(
        self,
        spark: SparkSession,
        checkpoint_dir: str,
        algorithm: str,
        run_id: str = "default",
        keep_last: int = 2,
    ):
        self.spark = spark
        self.root = os.path.join(checkpoint_dir, algorithm, run_id)
        self.keep_last = keep_last
        os.makedirs(self.root, exist_ok=True)
        self._metrics_path = os.path.join(self.root, "metrics.jsonl")

    # ---------------------------------------------------------------- #
    def _iter_dir(self, iteration: int) -> str:
        return os.path.join(self.root, f"iter={iteration:05d}")

    def _commit_marker(self, iteration: int) -> str:
        return os.path.join(self._iter_dir(iteration), "_COMMITTED")

    def latest_iteration(self) -> int | None:
        """Largest committed iteration, or None."""
        if not os.path.isdir(self.root):
            return None
        its = []
        for name in os.listdir(self.root):
            if name.startswith("iter=") and os.path.exists(
                os.path.join(self.root, name, "_COMMITTED")
            ):
                its.append(int(name.split("=", 1)[1]))
        return max(its) if its else None

    def save(
        self,
        iteration: int,
        state: dict[str, DataFrame],
        metrics: dict | Callable[[], dict] | None = None,
    ) -> dict[str, DataFrame]:
        """Persist state DataFrames; returns them re-read (lineage cut)
        with the schema just written, so the re-read runs no job.

        ``metrics`` is the superstep's metrics row, or a callable that
        returns it, called after the writes — e.g. to read values that
        ``DataFrame.observe`` collected while writing.

        Data is written first, the commit marker last, so a crash
        mid-write leaves an uncommitted (ignored) iteration.
        """
        d = self._iter_dir(iteration)
        t0 = time.time()
        part_stats: dict[str, dict] = {}
        schemas = {}
        for name, df in state.items():
            path = os.path.join(d, name)
            df.write.mode("overwrite").parquet(path)
            schemas[name] = df.schema
            # per-partition lineage record: one parquet part per task
            # partition — sizes expose write skew without re-reading
            sizes = sorted(
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path)
                if f.startswith("part-")
            )
            if sizes:
                part_stats[name] = {
                    "partitions": len(sizes),
                    "bytes_total": int(sum(sizes)),
                    "bytes_max": int(sizes[-1]),
                    "bytes_skew": round(
                        sizes[-1] / (sum(sizes) / len(sizes)), 3
                    ),
                }
        write_ms = int(1000 * (time.time() - t0))
        if callable(metrics):
            metrics = metrics()
        row = {
            "iteration": iteration,
            "write_ms": write_ms,
            "partition_stats": part_stats,
            **(metrics or {}),
        }
        with open(self._metrics_path, "a") as fh:
            fh.write(json.dumps(row) + "\n")
        with open(self._commit_marker(iteration), "w") as fh:
            fh.write("ok")
        self._gc(iteration)
        return {
            n: self.spark.read.schema(s).parquet(os.path.join(d, n))
            for n, s in schemas.items()
        }

    def load(self, iteration: int, names: list[str]) -> dict[str, DataFrame]:
        d = self._iter_dir(iteration)
        return {n: self.spark.read.parquet(os.path.join(d, n)) for n in names}

    def metrics(self) -> list[dict]:
        if not os.path.exists(self._metrics_path):
            return []
        with open(self._metrics_path) as fh:
            return [json.loads(line) for line in fh if line.strip()]

    def _gc(self, current: int) -> None:
        """Drop committed iterations older than ``keep_last``."""
        keep = {current - k for k in range(self.keep_last)}
        for name in os.listdir(self.root):
            if not name.startswith("iter="):
                continue
            it = int(name.split("=", 1)[1])
            if it not in keep and os.path.exists(
                os.path.join(self.root, name, "_COMMITTED")
            ):
                shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)

