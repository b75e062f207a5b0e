#!/usr/bin/env python3
"""Layer-split report of traced benchmark runs.

    python3 perfbench/report.py .perfbench_cache/traces/*.json

For each trace (one workload each) it prints the untraced and traced
pass times and the tracing overhead, then each layer's self time per
traced pass and its share of the traced ``suite_s``, then the per-layer
counters. A span's self time is its duration minus the time its child
spans cover; "(op)" is what an op spends outside every layer span (the
tracer's own status-store reads among it), "(between ops)" is the pass
time outside every op (cache clearing).

Last, per workload, the tracing overhead over all the given traces.
Traced and untraced passes alternate, the traced kind first on odd
seeds, so traces of an odd and an even seed cancel the pass-order bias
that a single trace carries.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict


def self_times(spans: list[dict]) -> dict[str, float]:
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        name = "(op)" if s["name"] == "op" else s["name"]
        out[name] += s["end"] - s["start"] - child[s["id"]]
    return out


def report(trace: dict) -> str:
    passes = len(trace["traced_suite_s"])
    traced_total = sum(trace["traced_suite_s"])
    untraced = statistics.median(trace["untraced_suite_s"])
    traced = statistics.median(trace["traced_suite_s"])
    spans = [s for s in trace["spans"] if s["end"] is not None]
    layers = self_times(spans)
    ops = sum(s["end"] - s["start"] for s in spans if s["name"] == "op")
    layers["(between ops)"] = traced_total - ops
    lines = [
        f"== {trace['workload']} (seed {trace['seed']}, {trace['cores']} cores, "
        f"{passes} traced pass(es))",
        f"suite_s untraced {untraced:.3f} s, traced {traced:.3f} s, "
        f"tracing overhead {traced - untraced:+.3f} s ({(traced - untraced) / untraced:+.1%})",
        f"{'layer':<22}{'s/pass':>9}{'share':>9}",
    ]
    for name, secs in sorted(layers.items(), key=lambda kv: -kv[1]):
        lines.append(f"{name:<22}{secs / passes:>9.3f}{secs / traced_total:>9.1%}")
    lines.append("per-layer metrics (per traced pass):")
    for name, value in trace["metrics"].items():
        lines.append(f"  {name:<30}{value:>16.6g}")
    return "\n".join(lines)


def overhead(trace: dict) -> float:
    """Traced minus untraced ``suite_s``, as a share of the untraced."""
    untraced = statistics.median(trace["untraced_suite_s"])
    return (statistics.median(trace["traced_suite_s"]) - untraced) / untraced


def main(paths: list[str]) -> int:
    if not paths:
        print(__doc__, file=sys.stderr)
        return 2
    by_workload: dict[str, list[dict]] = defaultdict(list)
    for path in paths:
        with open(path) as fh:
            trace = json.load(fh)
        by_workload[trace["workload"]].append(trace)
        print(report(trace))
        print()
    print("tracing overhead (traced - untraced suite_s) over seeds:")
    for workload, traces in by_workload.items():
        shares = [overhead(t) for t in traces]
        seeds = ", ".join(f"{t['seed']}: {o:+.1%}" for t, o in zip(traces, shares))
        print(f"  {workload:<16} mean {statistics.mean(shares):+.1%} ({seeds})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
