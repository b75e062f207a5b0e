"""Shared plumbing for the benchmark: paths, session start, one query op.

Everything the benchmark writes (generated tables, Spark scratch, stream
checkpoints, journey targets) stays under ``.perfbench_cache/`` at the
root of the checkout.
"""

from __future__ import annotations

import os
import signal
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
CACHE = os.path.join(ROOT, ".perfbench_cache")
#: Scale factor of the generated tables the query workloads read.
SF = 0.1
SF_DIR = os.path.join(CACHE, "sf0.1")
#: Driver heap. The package default (16g) is sized for a dedicated host;
#: the benchmark shares its machine, and sf0.1 fits comfortably in 3g.
DRIVER_MEM = "3g"


def cpus() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def scratch(*parts: str) -> str:
    path = os.path.join(CACHE, *parts)
    os.makedirs(path, exist_ok=True)
    return path


def import_engine() -> None:
    """Import the engine package from the checkout root; raises
    ImportError when the benchmark directory stands alone."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import mql5_economic_news_data_pipeline_2025_gcp__spark  # noqa: F401


def start_session():
    """Start the engine's session on ``local[nproc]`` with every scratch
    path inside the checkout. Returns ``(spark, seconds)``."""
    tmp = scratch("tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = scratch("spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    if "-Djava.io.tmpdir" not in opts:
        os.environ["SPARK_SUBMIT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp}".strip()
    tempfile.tempdir = None  # re-read TMPDIR
    import_engine()
    from mql5_economic_news_data_pipeline_2025_gcp__spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus())
    return spark, time.perf_counter() - t0


def query_build(spark, name: str):
    """Driver-side construction: the registry program returns a frame."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans import REGISTRY

    return REGISTRY[name].spark_fn(spark, SF_DIR)


def query_action(df) -> None:
    """Execution: run the whole plan into the no-op sink."""
    df.write.format("noop").mode("overwrite").save()


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for it and for the Python workers
    it started: the gateway JVM exits when its stdin closes, and its
    workers exit when their pipe to the JVM closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    workers = _descendants(gateway.proc.pid)
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    for pid in workers:
        while True:
            try:
                os.kill(pid, 0 if time.monotonic() < deadline else signal.SIGKILL)
            except ProcessLookupError:
                break
            time.sleep(0.05)
