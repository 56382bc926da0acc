"""Same-code A/A check of the benchmark's own stability.

    python3 perfbench/aa.py --seed 1 --runs 10 --out perfbench/BASELINE.json

Runs two interleaved sets ("A" and "B") of every workload with tracing off, run ``i`` of each set using seed ``seed + i``,
alternating which set goes first.  For every workload and end-to-end
metric it prints each set's median and quartiles, the quartile spread as
a share of the median, and how far set B's median drifts from set A's;
both are compared with the metric's bound in BENCHMARK.json.  With
``--out`` the summary, including every run's values, is written as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    return json.loads(lines[-1])


def spread(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    labels = "AB"
    values = {w: {s: {m: [] for m in bounds} for s in labels} for w in names}
    failed = {w: 0 for w in names}
    for i in range(args.runs):
        order = labels if i % 2 == 0 else labels[::-1]
        for s in order:
            for w in names:
                r = one_run(w, args.seed + i, spec["run_seconds"])
                failed[w] += r["failed"]
                for m in bounds:
                    values[w][s][m].append(r["metrics"][m]["value"])
                print(f"run {i} set {s} {w}: " + ", ".join(
                    f"{m}={r['metrics'][m]['value']:.4f}" for m in bounds), flush=True)

    summary = {"seed": args.seed, "runs": args.runs, "run_seconds": spec["run_seconds"], "workloads": {}}
    ok = True
    for w in names:
        rows = {}
        for m, bound in bounds.items():
            per_set = {s: spread(values[w][s][m]) for s in labels}
            # how much worse (positive) set B's median is than set A's
            drift = (per_set["B"]["median"] - per_set["A"]["median"]) / per_set["A"]["median"]
            rows[m] = {"bound": bound, "drift": drift, "sets": per_set,
                       "values": {s: values[w][s][m] for s in labels}}
            worst = max(p["spread"] for p in per_set.values())
            verdict = "ok"
            if worst > bound or drift > bound:
                verdict, ok = "OVER BOUND", False
            elif worst > bound / 3:
                verdict = "above bound/3"
            print(f"{w:20s} {m:16s} " + "  ".join(
                f"{s}: med {p['median']:.4f} [{p['q1']:.4f}, {p['q3']:.4f}] spread {p['spread']:.3f}"
                for s, p in per_set.items()) + f"  drift {drift:+.3f}  bound {bound}  {verdict}")
        summary["workloads"][w] = {"failed": failed[w], "metrics": rows}
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(summary, fh, indent=1)
            fh.write("\n")
    return 0 if ok and not any(failed.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
