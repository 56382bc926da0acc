"""Two-CLUSTER-SIZE scaling evidence on a local standalone Spark
cluster — the closest sandbox substitute for the north rule's "N and
4N executors": a master plus separate worker JVMs on this host, the
same spark-submit-style job at 1 worker × 8 cores (N) vs 4 workers ×
8 cores (4N).  Unlike local[8]/local[32] (one JVM, one heap), each
executor here has its own 10g heap and GC, its own task threads, and
shuffles over netty — the actual multi-executor execution path.
Measured on the local[32] protocol, GC was ~32% of the 4N leg's wall
(one 48g heap collected by one G1 across 32 threads); separate
executor JVMs remove exactly that artifact, which is also why a real
cluster is the regime the ≥0.8 target describes.

Protocol: master started with spark.deploy.spreadOut=false so a
cores.max=8 app consolidates onto ONE worker (true N leg) while
cores.max=32 spans all four.  Interleaved N/4N leg pairs, each leg a
separate driver process, best-of per level (the host's co-tenant
load swings same-config legs 1.2-2x; the best leg is the one least
disturbed by it).

Usage: python tools/cluster_scaling_bench.py [--edges-path P]
         [--repeat 2] [--out BENCH/CLUSTER.md] [--executor-cores 8]
         [--check-interval 4] [--json-only]

``--executor-cores k``: worker JVMs advertise k cores and the app pins
``spark.executor.cores=k`` — N = one k-core executor, 4N = four.  The
north-rule criterion run uses k=2 (executors added WITH work to absorb
them, driver floor amortized by the 80M-edge input).  ``--json-only``
prints the result without rewriting --out (history sections in
BENCH/CLUSTER.md are appended by hand from the JSON).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_home() -> str:
    import pyspark

    return os.path.dirname(os.path.abspath(pyspark.__file__))


def _spawn_daemon(cls: str, *args: str) -> subprocess.Popen:
    sp = _spark_home()
    env = dict(
        os.environ,
        SPARK_HOME=sp,
        SPARK_LOG_DIR="/tmp/spark-logs",
        SPARK_WORKER_DIR="/tmp/spark-work",
        SPARK_MASTER_OPTS="-Dspark.deploy.spreadOut=false",
    )
    os.makedirs("/tmp/spark-logs", exist_ok=True)
    return subprocess.Popen(
        [os.path.join(sp, "bin", "spark-class"), cls, *args],
        env=env,
        stdout=open(f"/tmp/spark-logs/{cls.rsplit('.', 1)[-1]}-{args[-1]}.log", "w"),
        stderr=subprocess.STDOUT,
    )


CHILD = r"""
import json, os, sys, time
sys.path.insert(0, os.environ["REPO"])
from neo4j_graph_algorithms_spark import Graph, pagerank
from neo4j_graph_algorithms_spark.session import get_spark

cores_max = int(os.environ["CORES_MAX"])
# partitions = part_factor x cores: >1 overdecomposes so each stage
# schedules several waves per core — a straggling task then costs a
# fraction of a wave instead of a whole stage-wide barrier stall.  The
# penalty grows with task count on the WIDE leg (E[max]/E[mean] rises
# with the number of parallel tasks), so partitions == cores reads as
# lost scaling efficiency that is really scheduling granularity.
part_factor = int(os.environ.get("PART_FACTOR", "1"))
spark = get_spark(app_name=f"cluster-leg-{cores_max}",
                  shuffle_partitions=cores_max * part_factor,
                  extra_conf={
                      "spark.executor.memory": "10g",
                      "spark.executor.cores": os.environ["EXEC_CORES"],
                      "spark.cores.max": str(cores_max),
                  })
edges = spark.read.parquet(os.environ["EDGES_PATH"]).persist()
n_edges = edges.count()
g = Graph.from_edges(edges)
pagerank(g, max_iterations=8).scores.count()  # warmup (JIT per executor)
t0 = time.time()
res = pagerank(g, max_iterations=200, tolerance=1e-6,
               tolerance_check_interval=int(os.environ["CHECK_INTERVAL"]))
res.scores.count()
dt = time.time() - t0
print(json.dumps({
    "cores_max": cores_max, "edges": n_edges,
    "supersteps": res.iterations_ran, "seconds": round(dt, 3),
    "edges_per_sec": round(n_edges * res.iterations_ran / dt, 1),
}))
spark.stop()
"""


def _run_leg(cores_max: int, edges_path: str, executor_cores: int,
             check_interval: int, part_factor: int = 1) -> dict:
    env = dict(
        os.environ,
        REPO=REPO,
        CORES_MAX=str(cores_max),
        EDGES_PATH=edges_path,
        EXEC_CORES=str(executor_cores),
        CHECK_INTERVAL=str(check_interval),
        PART_FACTOR=str(part_factor),
        SPARK_GRAFT_MASTER="spark://127.0.0.1:7077",
        SPARK_GRAFT_DRIVER_MEM="8g",
    )
    out = subprocess.run(
        [sys.executable, "-c", CHILD], env=env, capture_output=True, text=True,
        check=True,
    )
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--edges-path", default="/tmp/scaling_edges_20m.parquet")
    ap.add_argument("--repeat", type=int, default=2)
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH", "CLUSTER.md"))
    ap.add_argument("--executor-cores", type=int, default=8)
    ap.add_argument("--check-interval", type=int, default=4)
    ap.add_argument("--part-factor", type=int, default=1,
                    help="shuffle partitions = factor x cores.max "
                         "(overdecomposition smooths stragglers on the "
                         "wide leg; applied to BOTH legs)")
    ap.add_argument("--json-only", action="store_true")
    args = ap.parse_args()

    daemons = [_spawn_daemon(
        "org.apache.spark.deploy.master.Master",
        "-h", "127.0.0.1", "-p", "7077", "--webui-port", "8091",
    )]
    time.sleep(8)
    for i in range(4):
        daemons.append(_spawn_daemon(
            "org.apache.spark.deploy.worker.Worker", "spark://127.0.0.1:7077",
            "-c", str(args.executor_cores), "-m", "12g",
            "--webui-port", str(8092 + i),
        ))
    time.sleep(10)

    try:
        lo_runs, hi_runs = [], []
        k = args.executor_cores
        for _ in range(args.repeat):
            lo_runs.append(_run_leg(
                k, args.edges_path, k, args.check_interval, args.part_factor
            ))
            hi_runs.append(_run_leg(
                4 * k, args.edges_path, k, args.check_interval, args.part_factor
            ))
        lo = max(lo_runs, key=lambda r: r["edges_per_sec"])
        hi = max(hi_runs, key=lambda r: r["edges_per_sec"])
        eff = (hi["edges_per_sec"] / lo["edges_per_sec"]) / 4.0
        # cite the host's measured pure-CPU ceiling only for the
        # topology it was measured on (8 -> 32 worker threads)
        ceiling_note = (
            "The four workers still share this one host's silicon: the\n"
            "measured pure-CPU ceiling for 8→32 threads here is ~0.88, and\n"
            "memory bandwidth is shared — both disappear on a real 4-node\n"
            "cluster.\n"
            if k == 8
            else
            f"The four workers still share this one host's silicon (memory\n"
            f"bandwidth and SMT), though at {k}→{4 * k} total cores both\n"
            f"cluster sizes sit well below the box's 32-thread saturation\n"
            f"point — the regime where the engine ratio, not the host\n"
            f"ceiling, is what the measurement reads.\n"
        )
        md = f"""# BENCH/CLUSTER — standalone multi-executor scaling evidence

Local standalone Spark cluster (one master, four {k}-core / 12g worker
JVMs on this host, spark.deploy.spreadOut=false), identical PageRank
job (supersteps to 1e-6 convergence,
tolerance_check_interval={args.check_interval}) at two cluster sizes:

| level | executors | total cores | edges | supersteps | seconds | edges/sec |
|---|---|---|---|---|---|---|
| N  | 1 × {k} cores | {k}  | {lo['edges']} | {lo['supersteps']} | {lo['seconds']} | {lo['edges_per_sec']} |
| 4N | 4 × {k} cores | {4 * k} | {hi['edges']} | {hi['supersteps']} | {hi['seconds']} | {hi['edges_per_sec']} |

scaling_efficiency = (edges_per_sec_4N / edges_per_sec_N) / 4 = **{eff:.3f}**

All samples (seconds, interleaved run order):
- N : {[r['seconds'] for r in lo_runs]}
- 4N: {[r['seconds'] for r in hi_runs]}

Each executor is a separate JVM with its own 10g heap and GC and its
own shuffle server — the actual multi-executor execution path the
north rule's N/4N criterion describes, unlike local[k] (one JVM whose
single 48g heap made GC ~32% of the 32-thread leg's wall).
{ceiling_note}"""
        if not args.json_only:
            os.makedirs(os.path.dirname(args.out), exist_ok=True)
            with open(args.out, "w") as fh:
                fh.write(md)
        print(json.dumps({
            "N": lo, "4N": hi, "scaling_efficiency": round(eff, 3),
            "part_factor": args.part_factor,
            "executor_cores": k, "check_interval": args.check_interval,
            "N_samples": [r["seconds"] for r in lo_runs],
            "4N_samples": [r["seconds"] for r in hi_runs],
        }))
    finally:
        for d in daemons:
            d.terminate()


if __name__ == "__main__":
    main()
