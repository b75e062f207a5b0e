"""Shared builders for the query registry."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table


def cents(col: Column | str) -> Column:
    """Exact integer cents of a 2-decimal double (determinism contract)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("bigint")


def keyed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic ``events`` table in the reference's series shape:
    (user_id, event_type) ≈ (Currency, Event), plus exact value cents
    (FIXTURES.md §A mapping)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        cents("value").alias("value_c"),
        "props",
    )


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def fan_out(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Repartition a small-file scan to full parallelism before CPU-heavy
    map work (md5/shingling/Python UDFs) — but ONLY when the scan
    actually arrives under-parallel. A single small parquet file arrives
    as ONE partition; without the repartition every narrow transform
    runs on one core. At 100 TB inputs span thousands of splits
    naturally, and an unconditional repartition would re-shuffle raw
    text/payload rows for nothing — so the decision is gated on the
    scan's actual partition count and genuinely becomes a no-op at
    scale (asserted by ``test_fan_out_noop_when_parallel``)."""
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
