#!/usr/bin/env python3
"""Measure every registry query and freeze the query workloads from it.

Probe: for each query and iteration, construction seconds and the Spark
jobs and SQL executions it launches while building its DataFrame, then
execution seconds into the no-op sink. Jobs are counted from the
scheduler's job id counter, so jobs of every thread count. One JSON
line per query and iteration goes to ``--out``.

    python3 perfbench/select_queries.py --out probe.jsonl

Freeze: read the last iteration of a probe and rewrite the query
workloads of ``manifests.json`` by the rules in :func:`freeze`, keeping
each chosen query's evidence beside it.

    python3 perfbench/select_queries.py --freeze probe.jsonl
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import tables  # noqa: E402


MANIFESTS = os.path.join(common.BENCH_DIR, "manifests.json")

#: The probe measures each query this many times in one session and the
#: selection reads the last, warm, iteration.
ITERATIONS = 2

#: Probed seconds of eager batch queries per query_eager pass. A run
#: starts a session and runs a cold warm-up pass (2-3x a warm one)
#: before its timed pass, and 22 runs of each workload must fit in an
#: hour. The batch queries get most of the pass, the stream the rest.
EAGER_BUDGET_S = 5.0

#: Streams drain inside ``spark_fn``, so they are construction-bound too
#: and ride in query_eager: transformWithState on RocksDB, with its
#: query-lifecycle floor, draining through foreachBatch. The other
#: mechanisms do not fit beside it (README.md): the Python data source
#: (stream_pydatasource_counts) costs ~12 s a run, cold warm-up and
#: timed pass; the cheapest applyInPandasWithState stream
#: (stream_page_hinkley) ~4 s, and it swung 1.3-3.4 s between passes.
STREAMS = ("stream_interval_union_tws",)


def _evidence(r: dict) -> dict:
    return {"name": r["query"], "build_jobs": r["build_jobs"],
            "build_s": round(r["build_s"], 3), "exec_s": round(r["exec_s"], 3)}


def freeze(probe_path: str) -> dict:
    """Query workloads from the last iteration of a probe.

    - query_lazy: for each of the evt, rel, doc and emb families, the
      zero-construction-job query of median execution time. The heavy
      execution-bound queries (doc_containment, doc_novelty_fraction,
      doc_corpus_overlap, 4-9 s each) do not fit a pass; the lightest of
      them, emb_hubness (2.4 s), swung 1.8-3.0 s between runs and
      dominated the pass's spread.
    - query_eager: batch queries with >= 8 construction jobs, most jobs
      per second first, while they fit ``EAGER_BUDGET_S``; then ``STREAMS``.
    """
    with open(probe_path) as fh:
        recs = [json.loads(line) for line in fh]
    last = max(r.get("iteration", 0) for r in recs)
    probe = {r["query"]: r for r in recs if r.get("iteration", 0) == last and "error" not in r}
    cost = lambda r: r["build_s"] + r["exec_s"]  # noqa: E731

    lazy = []
    for fam in ("evt", "rel", "doc", "emb"):
        pool = sorted(
            (r for n, r in probe.items() if n.startswith(fam + "_") and r["build_jobs"] == 0),
            key=lambda r: (r["exec_s"], r["query"]),
        )
        lazy.append(pool[len(pool) // 2])

    eager, total = [], 0.0
    for r in sorted((r for r in probe.values() if r["build_jobs"] >= 8),
                    key=lambda r: -r["build_jobs"] / cost(r)):
        if total + cost(r) <= EAGER_BUDGET_S and not r["query"].startswith("stream_"):
            eager.append(r)
            total += cost(r)

    chosen = {"query_lazy": lazy, "query_eager": eager + [probe[n] for n in STREAMS]}
    return {name: {"probe_pass_s": round(sum(cost(r) for r in rs), 2),
                   "queries": [_evidence(r) for r in rs]}
            for name, rs in chosen.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--freeze", metavar="PROBE")
    ap.add_argument("--out")
    args = ap.parse_args()
    if args.freeze:
        with open(MANIFESTS) as fh:
            manifests = json.load(fh)
        manifests["workloads"].update(
            {k: {**manifests["workloads"].get(k, {}), **v} for k, v in freeze(args.freeze).items()}
        )
        with open(MANIFESTS, "w") as fh:
            json.dump(manifests, fh, indent=1)
            fh.write("\n")
        return 0
    if not args.out:
        ap.error("--out or --freeze is required")

    tables.ensure_tables(common.SF_DIR, common.SF)
    spark, _ = common.start_session()
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans import REGISTRY

    sc = spark.sparkContext._jsc.sc()
    sql_store = spark._jsparkSession.sharedState().statusStore()
    with open(args.out, "a") as fh:
        for it in range(ITERATIONS):
            for name in REGISTRY:
                rec = {"query": name, "iteration": it}
                try:
                    j0, x0 = sc.dagScheduler().nextJobId(), sql_store.executionsCount()
                    t0 = time.perf_counter()
                    df = common.query_build(spark, name)
                    t1 = time.perf_counter()
                    sc.listenerBus().waitUntilEmpty()
                    j1, x1 = sc.dagScheduler().nextJobId(), sql_store.executionsCount()
                    t2 = time.perf_counter()
                    common.query_action(df)
                    t3 = time.perf_counter()
                    sc.listenerBus().waitUntilEmpty()
                    rec.update(build_s=t1 - t0, exec_s=t3 - t2, build_jobs=j1 - j0,
                               build_sql_execs=x1 - x0,
                               exec_jobs=sc.dagScheduler().nextJobId() - j1)
                except Exception as exc:  # record and keep probing the rest
                    rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
                finally:
                    spark.catalog.clearCache()
                fh.write(json.dumps(rec) + "\n")
                fh.flush()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
