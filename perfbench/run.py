#!/usr/bin/env python3
"""The engine's benchmark: one workload per run, closed loop, one caller.

    python3 perfbench/run.py --workload query_lazy --seed 1 --seconds 10 --trace 0

Workloads (frozen in ``manifests.json``; see README.md for why each exists):

- ``query_lazy``, ``query_eager``: registry queries at sf0.1 (query_eager
  includes ``stream_*`` queries, which drain while they are built); one op
  is ``REGISTRY[q].spark_fn(spark, sf_dir)`` into the no-op sink, then
  ``spark.catalog.clearCache()``. The seed permutes the order of each pass.
- ``monthly_journey``: seeded monthly CSVs; one op lands a month (read,
  clean, high-water mark, partition merge) and then sends one
  ``POST /automate`` over a real socket. The seed generates the CSVs.

A run starts the session on ``local[nproc]`` and runs the warm-up pass,
once or ``warmup_passes`` times (together: set-up), then a fixed number
of timed passes, ``round(seconds / seconds_per_pass)`` and at least one,
so every run and every commit takes the same samples. Outputs are checked untimed: each
query op of the last timed pass right after its timed region, the
journey's target after the timed passes. The last line of standard
output is one JSON object. With ``--trace 1`` timed passes alternate
untraced and traced, the traced kind first on odd seeds; the metrics are
the per-layer counters of the traced passes plus the tracing overhead,
and spans and counters are written under ``.perfbench_cache/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import statistics
import sys
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import common  # noqa: E402
import journey  # noqa: E402

MANIFESTS = os.path.join(common.BENCH_DIR, "manifests.json")

#: Per-layer metrics (name -> unit), reported by every traced run.
LAYER_UNITS = {
    "session.get_spark_s": "s", "session.warmup_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count", "plans.build_sql_execs": "count",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.stages_skipped": "count", "exec.tasks": "count", "exec.tasks_failed": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.slot_busy_frac": "frac", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "sources.files_read": "count", "sources.bytes_read": "bytes", "sources.scan_s": "s",
    "codegen.compiles": "count", "codegen.compile_ms": "ms",
    "python.bytes_sent": "bytes", "python.bytes_received": "bytes",
    "python.rows_received": "count",
    "streaming.queries": "count", "streaming.batches": "count",
    "streaming.input_rows": "count", "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s", "streaming.planning_s": "s",
    "streaming.wal_commit_s": "s", "streaming.state_rows": "count",
    "streaming.state_commit_s": "s", "streaming.lifecycle_s": "s",
    "ingest.read_clean_s": "s", "ingest.rows_raw": "count",
    "ingest.accept_ratio": "frac", "ingest.hwm_drop_ratio": "frac",
    "upsert.merge_s": "s", "upsert.partitions_touched": "count",
    "upsert.rows_written": "count", "upsert.write_amp": "ratio",
    "pipeline.build_s": "s", "serving.request_s": "s", "serving.persist_s": "s",
    "serving.response_bytes": "bytes",
    "journey.automate_s.p50": "s", "journey.land_rows_per_s": "1/s",
    "trace.suite_s": "s", "trace.overhead_s": "s", "peak_rss_mb": "MB",
    "op_s.p50": "s", "op_s.tail": "s",
}


def tail(samples: list[float]) -> tuple[float, float]:
    """``(value, percentile)``: the highest percentile with at least ten
    samples beyond it. With 20 samples or fewer that percentile would not
    lie above the median, so the maximum stands in."""
    xs = sorted(samples)
    if len(xs) <= 20:
        return xs[-1], 100.0
    k = len(xs) - 11
    return xs[k], 100.0 * (k + 1) / len(xs)


class Counters:
    """Per-layer totals over the traced passes of one run."""

    def __init__(self):
        self.t: dict = defaultdict(float)

    def add(self, prefix: str, window: dict) -> None:
        for k, v in window.items():
            self.t[f"{prefix}{k}"] += v


# ------------------------------------------------------------------ queries


class QueryWorkload:
    """A frozen list of registry queries; one op per query per pass.

    The pass given ``check=True`` also checks each op's output right after
    the op's timed region: the DataFrame the op built is collected again
    and compared with ``expected.json``. Checking the built frame re-runs
    only its final plan, not the construction-time jobs or stream drains,
    which keeps a run inside its time budget; the check time is left out
    of every timing."""

    def __init__(self, spark, names: list[str], seed: int):
        self.spark, self.names, self.seed = spark, names, seed
        self.expected = checks.load_expected()
        self.check_s, self.checked, self.problems = 0.0, 0, []

    def order(self, index: int) -> list[str]:
        names = list(self.names)
        random.Random(f"{self.seed}:{index}").shuffle(names)
        return names

    def run_pass(self, index: int, tracer, counters: Counters | None,
                 check: bool = False) -> list[tuple[float, bool]]:
        ops = []
        for name in self.order(index):
            t0 = time.perf_counter()
            df = None
            try:
                if tracer is None:
                    df = common.query_build(self.spark, name)
                    common.query_action(df)
                else:
                    df = self._traced_op(tracer, counters, name, f"{index}:{name}")
                ok = True
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, the loop goes on
                print(f"op {name} failed: {type(exc).__name__}: {exc}", file=sys.stderr)
                ok = False
            ops.append((time.perf_counter() - t0, ok))
            if check:
                t1 = time.perf_counter()
                self._check(name, df)
                self.check_s += time.perf_counter() - t1
            self.spark.catalog.clearCache()
            if tracer is not None:
                tracer.mark()
        return ops

    def _traced_op(self, tracer, counters: Counters, name: str, op_id: str):
        with tracer.span("op", op=op_id, query=name):
            with tracer.span("plans.build") as b:
                df = common.query_build(self.spark, name)
            b["counters"] = w = tracer.window()
            counters.add("build.", w)
            counters.t["plans.build_s"] += b["end"] - b["start"]
            if w.get("stream_queries"):
                counters.t["stream_drain_s"] += b["end"] - b["start"]
            with tracer.span("exec.action") as a:
                common.query_action(df)
            a["counters"] = w = tracer.window()
            counters.add("action.", w)
            counters.t["exec.action_s"] += a["end"] - a["start"]
        return df

    def _check(self, name: str, df) -> None:
        self.checked += 1
        try:
            why = "the op failed" if df is None else checks.mismatch(
                self.expected[name], checks.spark_result(df)
            )
        except Exception as exc:  # noqa: BLE001 - counted as a failed check
            why = f"{type(exc).__name__}: {exc}"
        if why:
            self.problems.append(f"{name}: {why}")

    def check(self) -> tuple[int, list[str]]:
        return self.checked, self.problems

    def prepare(self, index: int) -> None:
        pass

    def close(self) -> None:
        pass


# ------------------------------------------------------------------ journey


def land_month(spark, target: str, path: str, tracer=None):
    """Land one raw CSV into ``target``: read, clean, drop rows at or below
    the high-water mark, merge by natural key into the month partitions.
    Returns the cleaned and the landed (post high-water mark) frames."""
    from pyspark.sql import functions as F

    from mql5_economic_news_data_pipeline_2025_gcp__spark.functions.parsers import month_bucket
    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.cleaning import (
        clean_raw_events,
        high_water_mark_filter,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.upsert import (
        merge_upsert_to_path,
    )
    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources.csv_source import (
        read_raw_events_csv,
    )

    with _span(tracer, "ingest.read_clean"):
        clean = clean_raw_events(read_raw_events_csv(spark, path))
        existing = spark.read.parquet(target) if os.path.exists(target) else None
        incoming = (
            high_water_mark_filter(clean, existing)
            .withColumn("event_month", month_bucket("Date"))
            # delivery order: among equal timestamps the later row wins
            .withColumn("_ingest_seq", F.monotonically_increasing_id())
        )
    with _span(tracer, "upsert.merge") as s:
        touched = merge_upsert_to_path(spark, target, incoming, tie_cols=("_ingest_seq",))
        if s is not None:
            s["partitions_touched"] = len(touched)
    return clean, incoming


def target_problems(spark, target: str, months: list[list[list[str]]]) -> list[str]:
    """How ``target`` differs from the reference upsert of ``months``."""
    ref: dict = {}
    for rows in months:
        journey.reference_upsert(ref, rows)
    want = sorted(
        (r[0].strftime("%Y-%m-%d %H:%M:%S"), *map(str, r[1:])) for r in ref.values()
    )
    got = sorted(
        tuple(str(v) for v in r)
        for r in spark.read.parquet(target)
        .selectExpr("date_format(event_ts, 'yyyy-MM-dd HH:mm:ss')", *journey.TARGET_COLUMNS[1:])
        .collect()
    )
    if got == want:
        return []
    missing, extra = len(set(want) - set(got)), len(set(got) - set(want))
    return [f"target differs from the reference upsert: {len(got)} rows vs {len(want)}, "
            f"{missing} missing, {extra} unexpected"]


class JourneyWorkload:
    """Monthly landing into a month-partitioned parquet target, each month
    followed by ``POST /automate``."""

    def __init__(self, spark, months: int, rows_per_month: int, seed: int):
        from mql5_economic_news_data_pipeline_2025_gcp__spark.serving import EngineAPI, serve

        self.spark = spark
        self.dir = common.scratch("journey")
        shutil.rmtree(self.dir)
        self.rows = [journey.month_rows(seed, m, rows_per_month) for m in range(months)]
        self.csvs = []
        for m, rows in enumerate(self.rows):
            path = os.path.join(common.scratch("journey", "csv"), f"month_{m:02d}.csv")
            journey.write_month(path, rows)
            self.csvs.append(path)
        self.target = os.path.join(self.dir, "target")
        self.snapshot = os.path.join(self.dir, "after_month_0")
        self.check_s = 0.0
        # The server's default predictor. The routed pandas-UDF predictor
        # (pipeline.routed_stub_predict) fails on every series routed to
        # 'rnn': the UDF is evaluated for all rows inside F.when, so rows
        # with fewer than SEQ_LENGTH predecessors reach np.vstack ragged.
        # perfbench/tests/test_journey.py keeps that defect visible.
        self.api = EngineAPI(spark, events_provider=self._events)
        self.httpd = serve(self.api)
        host, port = self.httpd.server_address
        self.url = f"http://{host}:{port}/automate"
        #: landing rows, landing seconds and request seconds of untraced ops
        self.land_rows, self.land_s, self.automate_s = 0, 0.0, []

    def _events(self):
        from pyspark.sql import functions as F

        from mql5_economic_news_data_pipeline_2025_gcp__spark.functions.parsers import (
            impact_ordinal,
            parse_numeric,
        )

        return (
            self.spark.read.parquet(self.target)
            .select(
                "event_ts", "Currency", "Event",
                parse_numeric("Actual").alias("value"),
                impact_ordinal("Impact").alias("ImpactOrdinal"),
            )
            .filter(F.col("value").isNotNull())
        )

    def automate(self, tracer) -> bool:
        req = urllib.request.Request(
            self.url, data=b"{}", headers={"Content-Type": "application/json"}, method="POST"
        )
        with _span(tracer, "serving.request") as s:
            t0 = time.perf_counter()
            with urllib.request.urlopen(req, timeout=170) as resp:
                status, body = resp.status, resp.read()
            self.automate_s.append(time.perf_counter() - t0)
            if s is not None:
                s["response_bytes"] = len(body)
        payload = json.loads(body)
        return status == 200 and all(
            "summary" in payload.get(stage, {}) for stage in ("train", "validate", "test")
        )

    def prepare(self, index: int) -> None:
        """Before timed pass ``index``: restore the target as month 0 left it."""
        shutil.rmtree(self.target)
        shutil.copytree(self.snapshot, self.target)

    def run_pass(self, index: int, tracer, counters: Counters | None,
                 check: bool = False) -> list[tuple[float, bool]]:
        """Pass 0 (warm-up) lands month 0 into an empty target; every timed
        pass lands the remaining months onto the restored target. The
        target is checked after the timed passes (:meth:`check`)."""
        months = [0] if index == 0 else list(range(1, len(self.csvs)))
        self.api.sink_dir = os.path.join(self.dir, f"sinks_{index}")
        ops = []
        with _instrumented(tracer):
            for m in months:
                t0 = time.perf_counter()
                try:
                    if tracer is None:
                        land_month(self.spark, self.target, self.csvs[m])
                        self.land_s += time.perf_counter() - t0
                        self.land_rows += len(self.rows[m])
                        ok = self.automate(None)
                    else:
                        ok = self._traced_op(tracer, counters, m, f"{index}:month_{m:02d}")
                        self.automate_s.pop()  # traced: not an end-to-end sample
                except Exception as exc:  # noqa: BLE001 - a failed op is counted, the loop goes on
                    print(f"month {m} failed: {type(exc).__name__}: {exc}", file=sys.stderr)
                    ok = False
                ops.append((time.perf_counter() - t0, ok))
        if index == 0:
            shutil.copytree(self.target, self.snapshot)
        return ops

    def _traced_op(self, tracer, counters: Counters, m: int, op_id: str) -> bool:
        t = counters.t
        with tracer.span("op", op=op_id, month=m) as op:
            with tracer.span("landing") as land:
                clean, incoming = land_month(self.spark, self.target, self.csvs[m], tracer)
            land["counters"] = w = tracer.window()
            counters.add("action.", w)
            t["upsert.rows_written"] += w.get("rows_written", 0)
            ok = self.automate(tracer)
            op_window = tracer.window()
            counters.add("action.", op_window)
        t["exec.action_s"] += op["end"] - op["start"]
        # counts for the ingest ratios, outside every op window and, like
        # the output checks, left out of the pass time
        t0 = time.perf_counter()
        rows_raw = len(self.rows[m])
        accepted, landed = clean.count(), incoming.count()
        tracer.mark()
        self.check_s += time.perf_counter() - t0
        t["ingest.rows_raw"] += rows_raw
        t["ingest.accepted"] += accepted
        t["ingest.landed"] += landed
        return ok

    def check(self) -> tuple[int, list[str]]:
        return 1, target_problems(self.spark, self.target, self.rows)

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()


@contextmanager
def _span(tracer, name: str):
    if tracer is None:
        yield None
    else:
        with tracer.span(name) as s:
            yield s


@contextmanager
def _instrumented(tracer):
    """During traced passes, wrap the pipeline stages and the sink writes
    the server calls, so their spans nest under the request."""
    if tracer is None:
        yield
        return
    from mql5_economic_news_data_pipeline_2025_gcp__spark import pipeline
    from mql5_economic_news_data_pipeline_2025_gcp__spark.sources import sinks

    saved = []

    def wrap(module, attr: str, span_name: str) -> None:
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            with tracer.span(span_name, fn=attr):
                return fn(*args, **kwargs)

        saved.append((module, attr, fn))
        setattr(module, attr, traced)

    for stage in ("run_train", "run_validate", "run_test"):
        wrap(pipeline, stage, "pipeline.build")
    wrap(sinks, "save_conditional", "serving.persist")
    try:
        yield
    finally:
        for module, attr, fn in saved:
            setattr(module, attr, fn)


# ------------------------------------------------------------------ metrics


def peak_rss_mb(spark) -> float:
    """JVM ``VmHWM`` plus this process's max RSS, in MiB."""
    jvm_kb = 0
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def layer_metrics(tracer, counters: Counters, n_passes: int, session_s: float,
                  warmup_s: float, suites: dict, samples: list[float], wl) -> dict:
    t = counters.t
    per = 1.0 / n_passes

    def both(k: str) -> float:
        return t.get(f"build.{k}", 0.0) + t.get(f"action.{k}", 0.0)

    def action(k: str) -> float:
        return t.get(f"action.{k}", 0.0)

    spans = [s for s in tracer.spans if s["end"] is not None]

    def span_s(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    trig = both("stream_trigger_s")
    accepted = t.get("ingest.accepted", 0.0)
    landed = t.get("ingest.landed", 0.0)
    requests = [s["end"] - s["start"] for s in spans if s["name"] == "serving.request"]
    m = {
        "session.get_spark_s": session_s,
        "session.warmup_s": warmup_s,
        "plans.build_s": t.get("plans.build_s", 0.0) * per,
        "plans.build_jobs": t.get("build.jobs", 0.0) * per,
        "plans.build_sql_execs": t.get("build.sql_execs", 0.0) * per,
        "exec.action_s": t.get("exec.action_s", 0.0) * per,
        "exec.jobs": action("jobs") * per,
        "exec.stages": action("stages") * per,
        "exec.stages_skipped": action("stages_skipped") * per,
        "exec.tasks": action("tasks") * per,
        "exec.tasks_failed": action("tasks_failed") * per,
        "exec.task_run_s": action("task_run_s") * per,
        "exec.task_cpu_s": action("task_cpu_s") * per,
        "exec.gc_s": action("gc_s") * per,
        "exec.slot_busy_frac": action("task_run_s") / max(tracer.cores * t.get("exec.action_s", 0.0), 1e-9),
        "exec.shuffle_read_bytes": action("shuffle_read_bytes") * per,
        "exec.shuffle_write_bytes": action("shuffle_write_bytes") * per,
        "exec.spill_bytes": action("spill_bytes") * per,
        "sources.files_read": both("files_read") * per,
        "sources.bytes_read": both("bytes_read") * per,
        "sources.scan_s": both("scan_s") * per,
        "codegen.compiles": both("compiles") * per,
        "codegen.compile_ms": both("compile_ms") * per,
        "python.bytes_sent": both("py_bytes_sent") * per,
        "python.bytes_received": both("py_bytes_received") * per,
        "python.rows_received": both("py_rows_received") * per,
        "streaming.queries": both("stream_queries") * per,
        "streaming.batches": both("stream_batches") * per,
        "streaming.input_rows": both("stream_input_rows") * per,
        "streaming.trigger_s": trig * per,
        "streaming.add_batch_s": both("stream_add_batch_s") * per,
        "streaming.planning_s": both("stream_planning_s") * per,
        "streaming.wal_commit_s": both("stream_wal_commit_s") * per,
        "streaming.state_rows": both("stream_state_rows") * per,
        "streaming.state_commit_s": both("stream_state_commit_s") * per,
        "streaming.lifecycle_s": max(t.get("stream_drain_s", 0.0) - trig, 0.0) * per,
        "ingest.read_clean_s": span_s("ingest.read_clean") * per,
        "ingest.rows_raw": t.get("ingest.rows_raw", 0.0) * per,
        "ingest.accept_ratio": accepted / t["ingest.rows_raw"] if t.get("ingest.rows_raw") else 0.0,
        "ingest.hwm_drop_ratio": (accepted - landed) / accepted if accepted else 0.0,
        "upsert.merge_s": span_s("upsert.merge") * per,
        "upsert.partitions_touched": sum(s.get("partitions_touched", 0) for s in spans) * per,
        "upsert.rows_written": t.get("upsert.rows_written", 0.0) * per,
        "upsert.write_amp": t.get("upsert.rows_written", 0.0) / landed if landed else 0.0,
        "pipeline.build_s": span_s("pipeline.build") * per,
        "serving.request_s": sum(requests) * per,
        "serving.persist_s": span_s("serving.persist") * per,
        "serving.response_bytes": sum(s.get("response_bytes", 0) for s in spans) * per,
        "journey.automate_s.p50": statistics.median(requests) if requests else 0.0,
        "journey.land_rows_per_s": (
            t["ingest.rows_raw"] / span_s("landing") if t.get("ingest.rows_raw") else 0.0
        ),
        "trace.suite_s": statistics.median(suites[True]),
        "trace.overhead_s": statistics.median(suites[True]) - statistics.median(suites[False]),
        "peak_rss_mb": peak_rss_mb(wl.spark),
        "op_s.p50": statistics.median(samples),
        "op_s.tail": tail(samples)[0],
    }
    return m


# --------------------------------------------------------------------- main


def make_workload(spark, name: str, seed: int):
    with open(MANIFESTS) as fh:
        spec = json.load(fh)["workloads"][name]
    if name == "monthly_journey":
        return JourneyWorkload(spark, spec["months"], spec["rows_per_month"], seed), spec
    return QueryWorkload(spark, [q["name"] for q in spec["queries"]], seed), spec


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.environ["TZ"] = "UTC"
    time.tzset()
    with open(MANIFESTS) as fh:
        manifests = json.load(fh)
    if args.workload not in manifests["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    try:
        common.import_engine()
    except ImportError as exc:
        print(f"the engine package is not importable from {common.ROOT}: {exc}", file=sys.stderr)
        return 2

    import tables

    tables.ensure_tables(common.SF_DIR, common.SF)
    t_run = time.perf_counter()
    spark, session_s = common.start_session()
    try:
        wl, spec = make_workload(spark, args.workload, args.seed)
        try:
            return measure(spark, wl, spec, args, session_s, t_run)
        finally:
            wl.close()
    finally:
        common.stop_session(spark)


def measure(spark, wl, spec: dict, args, session_s: float, t_run: float) -> int:
    t0 = time.perf_counter()
    # Pass 0 is the warm-up. A workload whose passes still ran slower
    # for a while after it repeats it (``warmup_passes`` in the manifest).
    warm = []
    for _ in range(spec.get("warmup_passes", 1)):
        warm += wl.run_pass(0, None, None)
    warmup_s = time.perf_counter() - t0
    setup_s = t0 - t_run + warmup_s
    if isinstance(wl, JourneyWorkload):  # the end-to-end journey figures leave out warm-up
        wl.land_rows, wl.land_s, wl.automate_s = 0, 0.0, []

    # a fixed pass count keeps the sample count, and so the tail
    # percentile, the same on every run and every commit
    n_passes = max(1, round(args.seconds / spec["seconds_per_pass"]))
    tracer = counters = None
    if args.trace:
        import tracing

        tracer, counters = tracing.Tracer(spark), Counters()
        n_passes = max(2, n_passes + n_passes % 2)
    suites: dict = {False: [], True: []}
    samples, failed, attempted = [], sum(not ok for _, ok in warm), len(warm)
    for i in range(1, n_passes + 1):
        # which kind of pass comes first alternates with the seed, so
        # pass order does not bias the tracing overhead one way
        traced = bool(args.trace) and (i + args.seed) % 2 == 0
        wl.prepare(i)
        if traced:
            tracer.mark()
        wl.check_s = 0.0
        t0 = time.perf_counter()
        ops = wl.run_pass(i, tracer if traced else None, counters if traced else None,
                          check=i == n_passes)
        suites[traced].append(time.perf_counter() - t0 - wl.check_s)
        failed += sum(not ok for _, ok in ops)
        attempted += len(ops)
        if not traced:
            samples += [dt for dt, _ in ops]
    checked, problems = wl.check()
    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)
    attempted += checked
    failed += len(problems)

    tail_s, tail_pct = tail(samples)
    e2e = {
        "setup_s": (setup_s, "s"),
        "suite_s": (statistics.median(suites[False]), "s"),
        "ok_frac": (1.0 - failed / attempted, "frac"),
    }
    print(f"# workload={args.workload} seed={args.seed} cores={common.cpus()} "
          f"passes={n_passes} op samples={len(samples)} "
          f"op_s.tail=p{tail_pct:.1f} failed={failed}/{attempted}")
    for k, (v, unit) in e2e.items():
        print(f"# {k} = {v:.6g} {unit}")
    # Op latencies (a run has 1-12 samples; the tail is their maximum) and
    # memory (JVM heap growth) vary too much run to run to bound; they are
    # printed here and reported as per-layer metrics by traced runs.
    print(f"# op_s.p50 = {statistics.median(samples):.6g} s")
    print(f"# op_s.tail = {tail_s:.6g} s")
    print(f"# peak_rss_mb = {peak_rss_mb(spark):.6g} MB")
    if isinstance(wl, JourneyWorkload) and wl.automate_s:
        print(f"# automate_s.p50 = {statistics.median(wl.automate_s):.6g} s")
        print(f"# land_rows_per_s = {wl.land_rows / wl.land_s:.6g} 1/s")

    if args.trace:
        layers = layer_metrics(tracer, counters, n_passes // 2, session_s, warmup_s, suites,
                               samples, wl)
        tracer.close()
        out_dir = common.scratch("traces")
        path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "cores": common.cpus(),
                       "untraced_suite_s": suites[False], "traced_suite_s": suites[True],
                       "metrics": layers, "counters": dict(counters.t),
                       "spans": tracer.spans}, fh)
        print(f"# trace written to {os.path.relpath(path, common.ROOT)}")
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
