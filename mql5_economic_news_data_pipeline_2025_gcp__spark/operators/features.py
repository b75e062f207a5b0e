"""Per-(Currency,Event) time-series feature operators (reference
`TRAIN:415-431` ``create_features`` and friends — SURVEY §2.5).

Every operator here is a window/aggregate composition — no Python in the
hot path. All group windows partition by the series key, so at 100 TB the
cost is one hash shuffle on (Currency,Event) shared across the stacked
window functions (Catalyst reuses the exchange for same-partitioning
windows). AQE's skew handling covers hot currencies.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

#: Default series key (reference groups by ['Currency','Event']).
SERIES_KEY = ["Currency", "Event"]


def series_window(key: Sequence[str], order: Sequence[str]) -> WindowSpec:
    return Window.partitionBy(*key).orderBy(*order)


def with_lag_features(
    df: DataFrame,
    cols: Sequence[str],
    key: Sequence[str] = tuple(SERIES_KEY),
    order: Sequence[str] = ("event_ts",),
    suffix: str = "_lag1",
) -> DataFrame:
    """W1: per-group lag-1 (reference TRAIN:424-425 ``groupby(...).shift(1)``)."""
    w = series_window(key, order)
    for c in cols:
        df = df.withColumn(c + suffix, F.lag(F.col(c), 1).over(w))
    return df


def ffill(col: Column | str, w: WindowSpec) -> Column:
    """Forward-fill: last non-null up to current row."""
    c = F.col(col) if isinstance(col, str) else col
    return F.last(c, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )


def bfill(col: Column | str, w: WindowSpec) -> Column:
    """Backward-fill: first non-null from current row on."""
    c = F.col(col) if isinstance(col, str) else col
    return F.first(c, ignorenulls=True).over(
        w.rowsBetween(0, Window.unboundedFollowing)
    )


def with_filled(
    df: DataFrame,
    cols: Sequence[str],
    key: Sequence[str] = tuple(SERIES_KEY),
    order: Sequence[str] = ("event_ts",),
    direction: str = "ffill_then_bfill",
) -> DataFrame:
    """W2: per-group ffill+bfill of feature columns.

    The reference swaps the order between train (ffill→bfill,
    TRAIN:428-429) and validate/test (bfill→ffill, VAL:235-236); both are
    supported via ``direction``. The two differ only when interior-null
    runs touch group edges (SURVEY §7 risk 4).
    """
    w = series_window(key, order)
    for c in cols:
        f, b = ffill(c, w), bfill(c, w)
        first_fill = f if direction == "ffill_then_bfill" else b
        second = b if direction == "ffill_then_bfill" else f
        df = df.withColumn(c, F.coalesce(F.col(c), first_fill, second))
    return df


def with_high_impact_count(
    df: DataFrame,
    impact_col: str = "ImpactOrdinal",
    currency_col: str = "Currency",
    date_col: str = "EventDate",
    out_col: str = "HighImpactCount",
    high_value: int = 3,
) -> DataFrame:
    """J1/A4 as a window: count of Impact==3 rows per (Currency, calendar
    day), attached to every row (reference TRAIN:419-421 does a groupby +
    left merge; the windowed conditional count computes the same value
    with ONE shuffle and no join)."""
    w = Window.partitionBy(currency_col, date_col)
    return df.withColumn(
        out_col,
        F.sum(F.when(F.col(impact_col) == high_value, 1).otherwise(0)).over(w),
    )


def drop_allnull_groups(
    df: DataFrame,
    cols: Sequence[str],
    key: Sequence[str] = tuple(SERIES_KEY),
) -> DataFrame:
    """A5/P6: drop groups where every value of every ``cols`` is null
    (reference TRAIN:361-369). count() ignores nulls natively, so a group
    is dropped iff the summed non-null counts are zero; implemented as a
    window predicate (no join, one shuffle)."""
    w = Window.partitionBy(*key)
    nonnull = sum((F.count(F.col(c)).over(w) for c in cols), F.lit(0))
    return df.withColumn("_nn", nonnull).filter(F.col("_nn") > 0).drop("_nn")


def with_min_max_normalized(
    df: DataFrame,
    cols: Sequence[str],
    key: Sequence[str] = tuple(SERIES_KEY),
    suffix: str = "_norm",
    params: DataFrame | None = None,
) -> DataFrame:
    """W6/A6: per-group min-max normalization.

    ``(x - mn) / rng`` with ``rng = 1.0`` when mx == mn (reference
    TRAIN:122-129). When ``params`` is given (training-time min/max per
    key, columns ``{c}_mn``/``{c}_mx``), those are broadcast-joined and
    used with fallback to self-computed stats (reference VAL:258-287).
    """
    w = Window.partitionBy(*key)
    if params is not None:
        df = df.join(F.broadcast(params), on=list(key), how="left")
    for c in cols:
        self_mn, self_mx = F.min(F.col(c)).over(w), F.max(F.col(c)).over(w)
        if params is not None:
            mn = F.coalesce(F.col(f"{c}_mn"), self_mn)
            mx = F.coalesce(F.col(f"{c}_mx"), self_mx)
        else:
            mn, mx = self_mn, self_mx
        rng = F.when(mx == mn, F.lit(1.0)).otherwise(mx - mn)
        df = df.withColumn(c + suffix, (F.col(c) - mn) / rng)
    return df


def normalization_params(
    df: DataFrame,
    cols: Sequence[str],
    key: Sequence[str] = tuple(SERIES_KEY),
) -> DataFrame:
    """A6: the per-group (min, max) parameter table persisted at train
    time and reused at validate/test (reference TRAIN:467-472)."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"{c}_mn"), F.max(c).alias(f"{c}_mx")]
    return df.groupBy(*key).agg(*aggs)


def denormalize(col: Column, mn: Column, mx: Column) -> Column:
    """W6 inverse: ``x * rng + mn`` (reference TRAIN:243-248)."""
    rng = F.when(mx == mn, F.lit(1.0)).otherwise(mx - mn)
    return col * rng + mn


def latest_per_group(
    df: DataFrame,
    key: Sequence[str] = tuple(SERIES_KEY),
    order_col: str = "event_ts",
    tie_breaker: str | Sequence[str] = (),
) -> DataFrame:
    """W5: latest row per group — the 'live forecast' row (reference
    TEST:95-103). row_number over a desc window; deterministic
    tie-breaker column(s), compared in order and descending, keep
    results stable under equal ``order_col`` values. This is the one
    keep-newest window of the package (the S9 upsert ranks through it)."""
    ties = [tie_breaker] if isinstance(tie_breaker, str) else list(tie_breaker)
    order = [F.col(c).desc() for c in (order_col, *ties)]
    w = Window.partitionBy(*key).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
