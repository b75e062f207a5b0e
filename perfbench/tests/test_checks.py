"""Digest, metric parsing and tail percentile helpers."""

from __future__ import annotations

import datetime as dt
import decimal

import checks
import run
import tracing


def test_digest_ignores_row_and_column_order():
    a = checks.digest(["x", "y"], [(1, "a"), (2, "b")])
    assert a == checks.digest(["y", "x"], [("b", 2), ("a", 1)])
    assert a != checks.digest(["x", "y"], [(1, "a"), (2, "c")])
    assert a != checks.digest(["x", "y"], [(1, "a")])


def test_canon_treats_engines_alike():
    # DuckDB hands back Decimal and numpy-like lists where Spark gives floats and lists
    assert checks.canon(decimal.Decimal("2.50")) == checks.canon(2.5)
    assert checks.canon(-0.0) == checks.canon(0.0)
    assert checks.canon(0.1 + 0.2) == checks.canon(0.3)
    assert checks.canon([1, None]) == "[1,null]"
    assert checks.canon({"b": 1, "a": 2}) == "{a:2,b:1}"
    assert checks.canon(dt.datetime(2024, 1, 2, 3, 4, 5)) == "2024-01-02T03:04:05"


def test_mismatch_skips_digest_for_unstable_queries():
    exp = {"rows": 2, "schema": "struct<x:int>", "digest": "d", "source": "unstable"}
    assert checks.mismatch(exp, {"rows": 2, "schema": "struct<x:int>", "digest": "e"}) is None
    exp["source"] = "oracle"
    assert checks.mismatch(exp, {"rows": 2, "schema": "struct<x:int>", "digest": "e"})
    assert "rows" in checks.mismatch(exp, {"rows": 3, "schema": "struct<x:int>", "digest": "d"})


def test_metric_value_parses_spark_formats():
    assert tracing.metric_value("1,000,000") == 1_000_000
    assert tracing.metric_value("16.2 MiB") == 16.2 * 2**20
    assert tracing.metric_value("12 ms") == 0.012
    per_task = "total (min, med, max (stageId: taskId))\n1.2 s (304 ms, 306 ms, 307 ms (stage 0.0: task 1))"
    assert tracing.metric_value(per_task) == 1.2


def test_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    value, pct = run.tail(xs)
    assert sum(x > value for x in xs) == 10 and pct == 90.0
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    assert run.tail([float(i) for i in range(20)]) == (19.0, 100.0)
