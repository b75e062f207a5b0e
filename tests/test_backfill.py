"""Fingerprint-driven partition backfill: repairs exactly the divergent
partitions, touches nothing else, converges to a clean diff."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from mql5_economic_news_data_pipeline_2025_gcp__spark.sources.backfill import (
    backfill_partitions,
    partition_fingerprints,
)
from mql5_economic_news_data_pipeline_2025_gcp__spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _source(spark):
    return load_table(spark, SF, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("value_c"),
        F.date_format("ts", "yyyy-MM-dd").alias("event_month"),
    )


def _part_files(target, part):
    d = os.path.join(target, f"event_month={part}")
    return sorted(os.listdir(d)) if os.path.isdir(d) else []


def test_fingerprints_are_layout_independent(spark):
    src = _source(spark)
    a = {
        r["part"]: (r["n_rows"], r["digest"])
        for r in partition_fingerprints(src, "event_month").collect()
    }
    b = {
        r["part"]: (r["n_rows"], r["digest"])
        for r in partition_fingerprints(
            src.repartition(13), "event_month"
        ).collect()
    }
    assert a == b and len(a) > 1


def test_backfill_repairs_only_divergent_partitions(spark, tmp_path):
    src = _source(spark)
    target = str(tmp_path / "t")
    src.write.partitionBy("event_month").parquet(target)

    months = sorted(
        r["event_month"] for r in src.select("event_month").distinct().collect()
    )
    victim, healthy = months[0], months[1]
    healthy_before = _part_files(target, healthy)

    # diverge one partition: drop it entirely
    shutil.rmtree(os.path.join(target, f"event_month={victim}"))

    report = backfill_partitions(spark, src, target, "event_month")
    assert report["repaired_parts"] == [victim]
    assert report["checked"] == len(months)
    assert report["orphan_parts"] == []
    # healthy partition's files untouched
    assert _part_files(target, healthy) == healthy_before
    # table content equals source again
    got = spark.read.parquet(target)
    assert got.count() == src.count()
    assert (
        got.exceptAll(src.select(*got.columns)).count() == 0
        and src.select(*got.columns).exceptAll(got).count() == 0
    )
    # idempotent: a second run finds nothing to repair
    again = backfill_partitions(spark, src, target, "event_month")
    assert again["repaired"] == 0


def test_backfill_detects_duplicated_batch(spark, tmp_path):
    """A replayed append (duplicate rows) changes the fingerprint even
    though the partition 'exists' — mtime-based repair would miss it."""
    src = _source(spark)
    target = str(tmp_path / "t2")
    src.write.partitionBy("event_month").parquet(target)
    months = sorted(
        r["event_month"] for r in src.select("event_month").distinct().collect()
    )
    victim = months[-1]
    dup = src.filter(F.col("event_month") == victim).limit(50)
    dup.write.mode("append").partitionBy("event_month").parquet(target)

    report = backfill_partitions(spark, src, target, "event_month")
    assert report["repaired_parts"] == [victim]
    got = spark.read.parquet(target)
    assert got.count() == src.count()


def test_backfill_reports_orphans_without_deleting(spark, tmp_path):
    src = _source(spark)
    target = str(tmp_path / "t3")
    src.write.partitionBy("event_month").parquet(target)
    months = sorted(
        r["event_month"] for r in src.select("event_month").distinct().collect()
    )
    keep_src = src.filter(F.col("event_month") != months[0])
    report = backfill_partitions(spark, keep_src, target, "event_month")
    assert report["orphan_parts"] == [months[0]]
    # the orphan partition is still on disk (policy, not repair)
    assert _part_files(target, months[0])


def test_rollup_refresh_only_recomputes_changed_partitions(spark, tmp_path):
    """Materialized-rollup refresh: first run builds everything; after
    one partition's source rows change, exactly that rollup partition
    refreshes (others' files untouched) and the rollup equals a full
    recompute."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.operators.incremental import (
        refresh_rollup_changed_partitions,
    )

    src_full = _source(spark)
    rollup = str(tmp_path / "rollup")
    state = str(tmp_path / "state")

    r1 = refresh_rollup_changed_partitions(
        src_full, rollup, "event_month", keys=["event_type"],
        sums=["value_c"], state_dir=state,
    )
    assert r1["refreshed"] == r1["checked"] > 1  # first run = full build

    days = sorted(p for p in r1["parts"])
    victim, healthy = days[0], days[1]
    healthy_files = _part_files(rollup, healthy)

    # no source change → no-op
    r2 = refresh_rollup_changed_partitions(
        src_full, rollup, "event_month", keys=["event_type"],
        sums=["value_c"], state_dir=state,
    )
    assert r2["refreshed"] == 0

    # change ONE partition's source rows (drop half of them)
    src_changed = src_full.filter(
        ~((F.col("event_month") == victim) & (F.col("event_id") % 2 == 0))
    )
    r3 = refresh_rollup_changed_partitions(
        src_changed, rollup, "event_month", keys=["event_type"],
        sums=["value_c"], state_dir=state,
    )
    assert r3["parts"] == [victim]
    assert _part_files(rollup, healthy) == healthy_files

    got = (
        spark.read.parquet(rollup)
        .select("event_month", "event_type", "n", "sum_value_c")
    )
    want = src_changed.groupBy("event_month", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value_c").alias("sum_value_c"),
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
