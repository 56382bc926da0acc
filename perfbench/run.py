"""Closed-loop link-graph benchmark: one workload per run.

    python3 perfbench/run.py --workload components_skewed --seed 1 --seconds 20 --trace 0

One client (this process) issues the workload's operations in a fixed
order, each waiting for the previous one, against a local session of
``nproc`` cores.  Each run times exactly one cold pass over the sequence
in a fresh JVM.  The workloads are sized so that this pass takes about
``--seconds`` (20 s) on a 4-core host; the value does not change what is
timed.  Inputs are generated from ``--seed`` and cached under
``.perfbench_work/inputs``; every run's outputs (graph store,
checkpoints, write-back, warehouse, event log, Spark scratch, temp
files) live in ``.perfbench_work/run-<pid>`` and are deleted when the
run ends.

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` first runs the same workload and seed with ``--trace 0``
in a child process, then its own pass in a fresh JVM with Spark's
event log on and one job group per layer call.  It reports the
per-layer metrics (see eventlog.py) of the traced pass and the
tracing overhead against the child's ``run_s``.  Every operation's
output is checked against an independent reference (oracle.py) outside
the timed region; the process exits 1 if any check fails.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``
with exactly the ``end_to_end`` (trace 0) or ``per_layer`` (trace 1)
metrics named in BENCHMARK.json.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import eventlog  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

PACKAGE = "neo4j_graph_algorithms_spark"
SETUPS = 3  # set-up repetitions per run; setup_s reports their median
DEADLINE_S = 160  # cancel running Spark jobs past this; they count as failed

END_TO_END = {"setup_s": "s", "run_s": "s"}
# Per-operation and per-run results.  They are not end-to-end metrics
# because each exists on one workload only (an end-to-end metric must
# exist on every workload), because it is 0 on a correct run
# (failed_frac), or because it does not repeat within its bound
# (jvm_peak_rss_gb varied 1.13-1.61 GB across runs).  Every run prints
# them; --trace 1 reports them.
OP_METRICS = {
    "pagerank_s": "s", "pagerank_eps": "edge-steps/s", "wcc_s": "s", "labelprop_s": "s",
    "triangle_count_s": "s", "transitivity_s": "s", "ingest_s": "s", "resume_s": "s",
    "failed_frac": "ratio", "jvm_peak_rss_gb": "GB",
}
LAYER_COUNTS = {
    "session.start_s": "s",
    "sources.extract.edges": "count",
    "sources.extract.files_per_s": "1/s",
    "sources.graph_store.output_mb": "MB",
    "sources.writeback.output_mb": "MB",
    "operators.pagerank.supersteps": "count",
    "operators.pagerank.durable.supersteps": "count",
    "operators.wcc.supersteps": "count",
    "operators.labelprop.supersteps": "count",
    "operators.pagerank.load_s": "s",
    "operators.wcc.load_s": "s",
    "operators.labelprop.load_s": "s",
    "operators.triangles.triangles": "count",
    "operators.triangles.wedges": "count",
    "plans.checkpoint.saves": "count",
    "plans.checkpoint.save_s": "s",
    "plans.checkpoint.load_s": "s",
    "plans.checkpoint.output_mb": "MB",
    "trace.overhead_frac": "ratio",
}
TAGS = [t for w in WORKLOADS.values() for t in w.tags]
PER_LAYER = {
    **{f"{t}.{m}": u for t in TAGS for m, u in eventlog.CALL_METRICS},
    **LAYER_COUNTS,
    **OP_METRICS,
}


def declared_metrics() -> tuple[dict, dict]:
    """The metric names and units BENCHMARK.json declares; they must be
    exactly the ones this file produces."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    if e2e != END_TO_END or layer != PER_LAYER:
        raise SystemExit("BENCHMARK.json metric list does not match perfbench/run.py")
    return e2e, layer


def start_session(run_dir: str, traced: bool):
    from neo4j_graph_algorithms_spark import get_spark

    n = len(os.sched_getaffinity(0))
    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update(eventlog.event_log_conf(os.path.join(run_dir, "eventlog")))
    return get_spark(app_name="perfbench", cores=n, shuffle_partitions=n, extra_conf=conf)


def jvm_peak_rss_gb(spark) -> float:
    pid = spark._jvm.ProcessHandle.current().pid()  # noqa: SLF001
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / float(1 << 20)
    raise RuntimeError("VmHWM missing from /proc status")


def _children(pid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(name))
            except (OSError, IndexError, ValueError):
                pass
    return out


def _wait_gone(pids: list[int], timeout: float) -> list[int]:
    end = time.monotonic() + timeout
    while pids and time.monotonic() < end:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    return pids


def shutdown_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in and the Python workers the
    JVM forked, and wait until all of them have exited."""
    from pyspark import SparkContext

    gw = spark.sparkContext._gateway  # noqa: SLF001
    proc = gw.proc
    workers = _children(proc.pid)
    spark.stop()
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 — any failure to exit: kill and reap
        proc.kill()
        proc.wait()
    for p in _wait_gone(workers, 10):
        try:
            os.kill(p, 9)
        except OSError:
            pass
    _wait_gone(workers, 5)
    SparkContext._gateway = SparkContext._jvm = None  # noqa: SLF001


class Runner:
    def __init__(self, wl, inputs: str, run_dir: str):
        self.wl, self.inputs, self.run_dir = wl, inputs, run_dir
        self.attempted = 0
        self.failed = 0
        self.walls: dict[str, float] = {}  # tag -> wall time of the timed pass
        self.out: dict | None = None  # the timed pass's outputs; None if it raised

    def phase(self, spark, tracer, setups: int) -> list[float]:
        """Set up ``setups`` times, then time exactly one pass.  Returns
        the set-up times.

        There is no warm-up pass and no second pass: a pass in a fresh JVM
        is what one ``spark-submit`` job pays, and a warm pass is about
        half as long, so mixing the two would make the figure depend on
        how many passes fit in a run."""
        load_s = []
        for k in range(setups):
            if k:
                self.wl.release()
            t0 = time.perf_counter()
            self.wl.setup(spark, self.inputs)
            load_s.append(time.perf_counter() - t0)
        self.attempted += len(self.wl.tags)
        try:
            self.out = self.wl.run_pass(spark, tracer, os.path.join(self.run_dir, "out"))
            self.walls = {tag: t1 - t0 for tag, _, t0, t1 in tracer.calls}
        except Exception:  # noqa: BLE001 — an operation failure is a measured outcome
            traceback.print_exc()
            self.failed += len(self.wl.tags)
        self.wl.release()
        return load_s

    def verify(self) -> None:
        if self.out is None:
            return
        for tag, errs in self.wl.check(self.out).items():
            if errs:
                self.failed += 1
                for e in errs:
                    print(f"MISMATCH {tag}: {e}", file=sys.stderr)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: package {PACKAGE!r} not found next to perfbench/", file=sys.stderr)
        return 2
    e2e_units, layer_units = declared_metrics()
    sys.path.insert(0, ROOT)

    wl = WORKLOADS[args.workload]()
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp  # pyspark's gateway handshake files
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")  # wins over spark.local.dir
    # every JVM spark-submit starts, the launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    try:
        t0 = time.monotonic()
        inputs = gen.cached_inputs(work, wl.name, args.seed, wl.params(),
                                   lambda d: wl.build(d, args.seed))
        os.environ.update(wl.env(inputs))
        gen_s = time.monotonic() - t0
        return measure(args, wl, inputs, run_dir, gen_s, e2e_units, layer_units)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def untraced_run(args) -> dict:
    """The same workload and seed with tracing off, in a child process
    (a fresh interpreter and JVM), as the reference for the overhead."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    budget = max(1.0, DEADLINE_S - (time.monotonic() - T_START)) / 2
    try:
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=budget)
    except subprocess.TimeoutExpired:
        return {}
    sys.stderr.write(p.stderr)
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {}


def measure(args, wl, inputs, run_dir, gen_s, e2e_units, layer_units) -> int:
    runner = Runner(wl, inputs, run_dir)
    child_s = 0.0
    if args.trace == 1:
        t0 = time.monotonic()
        plain = untraced_run(args)
        child_s = time.monotonic() - t0
        runner.attempted += plain.get("attempted", len(wl.tags))
        runner.failed += plain.get("failed", len(wl.tags))
    tracer = eventlog.Tracer()
    spark = start_session(run_dir, traced=args.trace == 1)
    # process start -> session up, excluding input generation and the
    # untraced child run
    session_start_s = time.monotonic() - T_START - gen_s - child_s
    if args.trace == 1:
        tracer = eventlog.Tracer(spark)
    cancelled = threading.Event()

    def watchdog():
        cancelled.set()
        spark.sparkContext.cancelAllJobs()

    timer = threading.Timer(max(1.0, DEADLINE_S - (time.monotonic() - T_START)), watchdog)
    timer.daemon = True
    timer.start()
    try:
        load_s = runner.phase(spark, tracer, SETUPS)
        rss = jvm_peak_rss_gb(spark)
        shutdown_jvm(spark)
    finally:
        timer.cancel()
    t_verify = time.monotonic()
    wl.reference(inputs)
    runner.verify()
    verify_s = time.monotonic() - t_verify

    ok = runner.out is not None
    op = wl.op_metrics(runner.walls, runner.out) if ok else {}
    pass_s = sum(runner.walls.values()) if ok else float("nan")
    if args.trace == 0:
        values = {"setup_s": session_start_s + statistics.median(load_s), "run_s": pass_s}
        units = e2e_units
    else:
        values = {name: 0.0 for name in layer_units}
        for tag, ms in eventlog.layer_metrics(os.path.join(run_dir, "eventlog"), tracer.calls).items():
            values.update({f"{tag}.{m}": v for m, v in ms.items()})
        if ok:
            values.update(wl.layer_counts(runner.out))
        values.update({k: v for k, v in op.items() if k in layer_units})
        values["session.start_s"] = session_start_s
        plain_run_s = plain.get("metrics", {}).get("run_s", {}).get("value")
        values["trace.overhead_frac"] = pass_s / plain_run_s - 1.0 if plain_run_s else 0.0
        units = layer_units
    values["failed_frac"] = runner.failed / runner.attempted
    values["jvm_peak_rss_gb"] = rss
    correct = runner.failed == 0 and not cancelled.is_set() and ok

    print(f"# workload={wl.name} seed={args.seed} trace={args.trace} "
          f"input_generation_s={gen_s:.3f} verify_s={verify_s:.3f}")
    for name, v in {**op, **values}.items():
        print(f"{name} = {v:.6g} {units.get(name) or PER_LAYER.get(name, '')}")
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": correct, "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
