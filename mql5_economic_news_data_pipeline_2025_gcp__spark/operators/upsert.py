"""Natural-key upsert (reference S9: ``INSERT ... ON DUPLICATE KEY
UPDATE`` on UNIQUE(Date,Time,Currency,Event) — `SQL:20`, `PUSH:175-188`).

Spark-first design: Parquet has no in-place update, so upsert =
``unionByName(existing, incoming)`` → keep one row per natural key.
:func:`upsert` is the one merge rule every S9 path shares (the in-memory
merge, the partition-pruned merge below, the parquet write-side merge
and the txn-table ``MERGE``): incoming beats existing, then the newest
recency value wins, then ``tie_cols`` (descending) — or, when none are
given, the delivery order of the incoming rows, so "latest delivered
wins" exactly like MySQL's ON DUPLICATE KEY UPDATE. The ranking is the
package's one keep-newest window, :func:`features.latest_per_group`.

Scale notes (100 TB): the dedup is one hash shuffle on the natural key —
the same cost profile as any wide agg. On a real deployment this is the
classic Delta/Iceberg ``MERGE INTO``; without those jars we keep the
union+window formulation, which AQE handles well under key skew. For
incremental loads the table is partitioned (e.g. by month) and only the
partitions that received keys are read back and rewritten, each write
asking for dynamic partition overwrite through its own writer option
(``partitionOverwriteMode``), never through the shared session conf.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .features import latest_per_group

#: Natural dedup identity of the events table (reference SQL:20).
NATURAL_KEY = ["Date", "Time", "Currency", "Event"]


def upsert(
    existing: DataFrame | None,
    incoming: DataFrame,
    key: Sequence[str] = tuple(NATURAL_KEY),
    recency_col: str = "event_ts",
    tie_cols: Sequence[str] = (),
) -> DataFrame:
    """Union + keep-newest-per-key. ``incoming`` beats ``existing``, then
    the newest ``recency_col`` wins, then ``tie_cols`` (descending). With
    no ``tie_cols`` the LAST-delivered incoming row wins — the sequential
    ``executemany`` upsert applies updates in delivery order, so a batch
    containing the same key twice ends with the later row's values. The
    delivery order is captured as ``monotonically_increasing_id()`` over
    the incoming scan (increasing in file/row order per split)."""
    new, old = {"_upsert_pri": F.lit(1)}, {"_upsert_pri": F.lit(0)}
    if not tie_cols:
        new["_upsert_seq"] = F.monotonically_increasing_id()
        old["_upsert_seq"] = F.lit(None).cast("long")
    unioned = incoming.withColumns(new)
    if existing is not None:
        unioned = existing.withColumns(old).unionByName(unioned)
    ties = list(tie_cols) or ["_upsert_seq"]
    return latest_per_group(
        unioned, key, order_col="_upsert_pri", tie_breaker=[recency_col, *ties]
    ).drop(*new)


# ------------------------------------------------------- partitioned merge
# S9 at 100 TB (`PUSH:175-188` semantics at scale): the monthly ingest
# batch touches a handful of partitions; rewriting the whole table (the
# plain union+window upsert above) re-shuffles and re-writes 100 TB to
# apply a few GB. The merge below prunes BOTH sides to the partitions
# actually present in the batch — the read-back scans only touched
# partitions (partition pruning), and dynamic partition overwrite
# replaces only those directories, leaving every untouched partition's
# files byte-identical (asserted by test_merge_upsert_partition_pruned).
#
# Precondition: the natural key must functionally determine the
# partition column (the reference's key contains Date; partition =
# month(Date)), so a key's versions can never span partitions and
# per-partition dedup IS the global dedup.

#: Hard cap on distinct partition values collected from a batch — a
#: monthly/daily ingest touches O(1..100) partitions; hitting this means
#: the caller passed a corpus, not a batch.
MAX_BATCH_PARTITIONS = 10_000


def _touched_partitions(incoming: DataFrame, partition_col: str) -> list:
    cap = MAX_BATCH_PARTITIONS
    vals = [
        r[0]
        for r in incoming.select(partition_col)
        .distinct()
        .limit(cap + 1)
        .collect()
    ]
    if len(vals) > cap:
        raise ValueError(
            f"incoming batch touches >{cap} distinct {partition_col!r} "
            "partitions — this is a table, not an incremental batch; "
            "use save_partitioned/save_replace instead"
        )
    return vals


def _partition_filter(partition_col: str, vals: list):
    cond = F.col(partition_col).isin([v for v in vals if v is not None])
    if any(v is None for v in vals):
        cond = cond | F.col(partition_col).isNull()
    return cond


def merge_upsert_partitioned(
    existing: DataFrame,
    incoming: DataFrame,
    key: Sequence[str] = tuple(NATURAL_KEY),
    recency_col: str = "event_ts",
    tie_cols: Sequence[str] = (),
    partition_col: str = "event_month",
) -> tuple[DataFrame, list]:
    """Relational core of the partition-pruned merge: rows of
    ``existing`` in untouched partitions pass through UNREAD by the
    dedup (no shuffle, no rewrite), while touched partitions get the
    :func:`upsert` merge. Returns ``(result, touched_values)``.

    Scale shape: one bounded ``distinct().collect()`` on the partition
    column (capped at MAX_BATCH_PARTITIONS), then one hash shuffle on
    the natural key over touched-partition rows ONLY — cost is
    proportional to the batch's partitions, not the table.
    """
    vals = _touched_partitions(incoming, partition_col)
    cond = _partition_filter(partition_col, vals)
    merged = upsert(existing.filter(cond), incoming, key, recency_col, tie_cols)
    untouched = existing.filter(~F.coalesce(cond, F.lit(False)))
    return untouched.unionByName(merged), vals


def merge_upsert_to_path(
    spark: SparkSession,
    path: str,
    incoming: DataFrame,
    key: Sequence[str] = tuple(NATURAL_KEY),
    recency_col: str = "event_ts",
    tie_cols: Sequence[str] = (),
    partition_col: str = "event_month",
) -> list:
    """Write-side S9 merge: apply an incremental batch to a
    hive-partitioned parquet table, rewriting ONLY the partitions the
    batch touches. Returns the touched partition values.

    Mechanics: read back the table pruned to touched partitions, merge
    with :func:`upsert` (on first write, the batch alone), then write
    with the ``partitionOverwriteMode=dynamic`` writer option so only
    touched partition directories are replaced. A read-back merge is
    ``localCheckpoint``-ed first — it is batch-sized (touched partitions
    only), and materializing it breaks the plan's lineage on ``path`` so
    the overwrite of a just-read location is legal and cannot corrupt
    its own input. On a deployment with a transactional table format
    (Delta/Iceberg) this whole function is ``MERGE INTO``; the parquet
    formulation keeps identical semantics with per-partition atomicity.
    """
    vals = _touched_partitions(incoming, partition_col)
    if os.path.exists(path):
        existing = spark.read.parquet(path).filter(
            _partition_filter(partition_col, vals)
        )
        merged = upsert(
            existing, incoming, key, recency_col, tie_cols
        ).localCheckpoint()
    else:
        merged = upsert(None, incoming, key, recency_col, tie_cols)
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )
    return vals
