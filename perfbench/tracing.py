"""Tracing from outside the engine: spans around calls into each layer,
and counters read from Spark's own status stores at op boundaries.

- Spans (name, start, end, parent, op id) are kept in memory and written
  out when the run ends.
- Jobs, stages and SQL executions are attributed to an op by time
  window: everything the scheduler started between two boundaries of a
  sequential closed loop. Job groups would miss stream micro-batches
  (they run under the stream's own group) and work started on server
  handler threads (they do not inherit the caller's group).
- The status stores are read at every boundary, after the listener bus
  has drained and before their retention limits can evict anything.
- Streaming counters come from a ``streaming.monitor.ProgressRecorder``
  attached to the session, the engine's own progress listener.

Nothing here runs in an untraced run.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager

from mql5_economic_news_data_pipeline_2025_gcp__spark.streaming.monitor import ProgressRecorder

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """A formatted SQL metric as a number (bytes, seconds or a count).

    Per-task metrics read ``total (min, med, max ...)\\n<total> (...)``;
    the total is the first number of the last line."""
    m = _NUM.match(text.strip().splitlines()[-1])
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


class StreamProgress(ProgressRecorder):
    """The engine's progress recorder, also keeping each trigger's phase
    durations and state-store commit time."""

    def __init__(self):
        super().__init__(capacity=1_000_000)
        self.phases: list[dict] = []

    def onQueryProgress(self, event):
        super().onQueryProgress(event)
        p = event.progress
        ops = p.stateOperators or []
        self.phases.append({
            "id": str(p.id),
            "input_rows": p.numInputRows or 0,
            **(p.durationMs or {}),
            "state_rows": sum(s.numRowsTotal or 0 for s in ops),
            "state_commit_ms": sum(s.commitTimeMs or 0 for s in ops),
        })


class Tracer:
    """Spans plus per-window Spark counters for one traced run."""

    def __init__(self, spark):
        self.spark = spark
        self.cores = spark.sparkContext.defaultParallelism
        jvm = spark.sparkContext._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala.__getattr__("MODULE$"))
        metrics = getattr(jvm.org.apache.spark.metrics.source, "CodegenMetrics$")
        self._compiles = metrics.__getattr__("MODULE$").METRIC_COMPILATION_TIME()
        self._codegen = getattr(
            jvm.org.apache.spark.sql.catalyst.expressions.codegen, "CodeGenerator$"
        ).__getattr__("MODULE$")
        self.streams = StreamProgress()
        spark.streams.addListener(self.streams)
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.mark()

    def close(self) -> None:
        self.spark.streams.removeListener(self.streams)

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "op": op if op is not None else (self.spans[parent]["op"] if parent is not None else None),
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    # ---------------------------------------------------------- windows
    def mark(self) -> dict:
        """Close the current window: drain the listener bus and note the
        scheduler's next job and stage ids, the newest SQL execution and
        the codegen and streaming counters."""
        self._sc.listenerBus().waitUntilEmpty()
        dag = self._sc.dagScheduler()
        n = self._sql.executionsCount()
        self._mark = {
            "job": dag.nextJobId(), "stage": dag.nextStageId(),
            "exec": self._sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1,
            "compiles": self._compiles.getCount(),
            "compile_ns": self._codegen.compileTime(),
            "stream_batches": len(self.streams.phases),
            "stream_starts": len(self.streams.starts),
        }
        return self._mark

    def window(self) -> dict:
        """Counters of everything since the previous :meth:`mark`; marks."""
        a = self._mark
        b = self.mark()
        c: dict = defaultdict(float)
        c["jobs"] = b["job"] - a["job"]
        c["compiles"] = b["compiles"] - a["compiles"]
        c["compile_ms"] = (b["compile_ns"] - a["compile_ns"]) / 1e6
        for sid in range(a["stage"], b["stage"]):
            self._add_stage(c, sid)
        for eid in self._executions(a["exec"], b["exec"]):
            self._add_sql(c, eid)
        self._add_streams(c, a["stream_batches"], a["stream_starts"])
        return dict(c)

    def _json(self, obj) -> dict:
        return json.loads(self._mapper.writeValueAsString(obj))

    def _add_stage(self, c: dict, sid: int) -> None:
        try:
            s = self._json(self._store.lastStageAttempt(sid))
        except Exception:  # noqa: BLE001 - a stage id the store never saw
            return
        if s["status"] == "SKIPPED":
            c["stages_skipped"] += 1
            return
        c["stages"] += 1
        c["tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
        c["tasks_failed"] += s["numFailedTasks"]
        c["task_run_s"] += s["executorRunTime"] / 1e3
        c["task_cpu_s"] += s["executorCpuTime"] / 1e9
        c["gc_s"] += s["jvmGcTime"] / 1e3
        c["shuffle_read_bytes"] += s["shuffleReadBytes"]
        c["shuffle_write_bytes"] += s["shuffleWriteBytes"]
        c["spill_bytes"] += s["diskBytesSpilled"]

    def _executions(self, lo: int, hi: int) -> list[int]:
        """Ids of the retained SQL executions in ``(lo, hi]``."""
        if hi <= lo:
            return []
        n, k = self._sql.executionsCount(), 32
        while True:
            batch = self._sql.executionsList(max(0, n - k), min(n, k))
            ids = [batch.apply(i).executionId() for i in range(batch.size())]
            if ids[0] <= lo or k >= n:
                return [i for i in ids if lo < i <= hi]
            k *= 2

    def _add_sql(self, c: dict, eid: int) -> None:
        c["sql_execs"] += 1
        values = self._json(self._sql.executionMetrics(eid))
        # allNodes lists the members of a codegen cluster on their own
        for n in self._json(self._sql.planGraph(eid).allNodes()):
            m = {x["name"]: metric_value(values.get(str(x["accumulatorId"]), "0"))
                 for x in n.get("metrics", [])}
            name = n["name"]
            if name.startswith("Scan "):
                c["files_read"] += m.get("number of files read", 0)
                c["bytes_read"] += m.get("size of files read", 0)
                c["scan_s"] += m.get("scan time", 0)
            if "data sent to Python workers" in m:
                c["py_bytes_sent"] += m["data sent to Python workers"]
                c["py_bytes_received"] += m.get("data returned from Python workers", 0)
                c["py_rows_received"] += m.get("number of output rows", 0)
            if name.startswith("Execute InsertIntoHadoopFsRelationCommand"):
                c["rows_written"] += m.get("number of output rows", 0)
                c["partitions_written"] += m.get("number of dynamic part", 0)

    def _add_streams(self, c: dict, batch0: int, start0: int) -> None:
        phases = self.streams.phases[batch0:]
        c["stream_queries"] = len(self.streams.starts) - start0
        c["stream_batches"] = len(phases)
        last_state: dict = {}
        for p in phases:
            c["stream_trigger_s"] += p.get("triggerExecution", 0) / 1e3
            c["stream_add_batch_s"] += p.get("addBatch", 0) / 1e3
            c["stream_planning_s"] += p.get("queryPlanning", 0) / 1e3
            c["stream_wal_commit_s"] += (p.get("walCommit", 0) + p.get("commitOffsets", 0)) / 1e3
            c["stream_state_commit_s"] += p["state_commit_ms"] / 1e3
            last_state[p["id"]] = p["state_rows"]
        c["stream_input_rows"] = sum(p["input_rows"] for p in phases)
        c["stream_state_rows"] = sum(last_state.values())
