#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/spread.py --seeds 1-10 --out runs.jsonl [--workloads query_lazy ...]
    python3 perfbench/spread.py --summarize runs.jsonl [--json summary.json]

Each run's result line and wall time are appended to ``--out`` (so an
interrupted sweep keeps what it measured). The summary gives, per workload and end-to-end
metric, the median, the quartiles (``statistics.quantiles(n=4)``) and
the spread: the interquartile distance as a share of the median, the
figure each metric's bound in ``BENCHMARK.json`` is set against.
``--json`` also writes the summary with the host's facts (cores, Spark,
Python and Java versions).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from collections import defaultdict

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(path: str) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict = defaultdict(lambda: defaultdict(list))
    failed: dict = defaultdict(int)
    with open(path) as fh:
        for line in fh:
            rec = json.loads(line)
            res = rec["result"]
            failed[rec["workload"]] += res["failed"]
            for name, m in res["metrics"].items():
                values[rec["workload"]][name].append(m["value"])
    out: dict = {}
    for wl, metrics in values.items():
        out[wl] = {"failed": failed[wl]}
        for name, xs in metrics.items():
            q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
            out[wl][name] = {
                "runs": len(xs), "median": med, "q1": q1, "q3": q3,
                "spread": (q3 - q1) / med if med else 0.0, "bound": bounds.get(name),
            }
    return out


def host_facts() -> dict:
    import platform

    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True, text=True, check=False)
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "java": (java.stderr.splitlines() or ["unknown"])[0],
        "machine": platform.machine(),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--out")
    ap.add_argument("--summarize", metavar="RUNS")
    ap.add_argument("--json", metavar="PATH", help="with --summarize: also write JSON")
    args = ap.parse_args()
    if args.summarize:
        summary = summarize(args.summarize)
        if args.json:
            with open(args.json, "w") as fh:
                json.dump({"host": host_facts(), "workloads": summary}, fh, indent=1)
                fh.write("\n")
        for wl, metrics in summary.items():
            print(f"== {wl} (failed ops: {metrics['failed']})")
            for name, s in metrics.items():
                if name == "failed":
                    continue
                flag = "" if s["bound"] is None or s["spread"] < s["bound"] / 3 else "  <-- spread >= bound/3"
                print(f"  {name:<14} median {s['median']:<12.5g} q1 {s['q1']:<12.5g} "
                      f"q3 {s['q3']:<12.5g} spread {s['spread']:.3f}"
                      + (f" bound {s['bound']}" if s["bound"] is not None else "") + flag)
        return 0
    if not args.out:
        ap.error("--out or --summarize is required")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    for wl in workloads:
        for seed in seeds(args.seeds):
            cmd = [*bench["command"], "--workload", wl, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=False)
            wall_s = time.perf_counter() - t0
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{wl} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
                return 1
            with open(args.out, "a") as fh:
                fh.write(json.dumps({"workload": wl, "seed": seed, "wall_s": wall_s,
                                     "result": json.loads(lines[-1])}) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
