"""Core query registry: relational operators (scans, joins, aggregates,
windows, set ops) + the reference pipeline's dataflow operators mapped
onto the synthetic tables (FIXTURES.md §A mapping: (user_id, event_type)
≈ (Currency, Event), ts ≈ DateTime, value ≈ Actual_numeric).

Every oracle follows the determinism contract in ``registry`` —
integer-exact aggregation, identical division trees, deterministic
tie-breaks. SURVEY §2 operator IDs cited per query.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.features import (
    bfill,
    ffill,
    latest_per_group,
    with_high_impact_count,
)
from ..operators.metrics import group_metrics_exact
from ..operators.routing import model_routing
from ..functions.parsers import (
    clean_text,
    format_event_date,
    month_bucket,
    parse_date_multi,
    parse_numeric,
    parse_time_to_seconds,
)
from .common import cents, keyed_events, t
from .registry import REGISTRY, register

# =====================================================================
# Relational coverage (S2-S5, P1-P8, J*, A*, W5-W7 on TPC-H-ish tables)
# =====================================================================


@register(
    "rel_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT)      AS sum_qty_c,
           CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_c,
           CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                    * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS sum_disc_c4,
           CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                    * (100 - CAST(round(l_discount*100) AS BIGINT))
                    * (100 + CAST(round(l_tax*100) AS BIGINT))) AS BIGINT)      AS sum_charge_c6,
           CAST(count(*) AS BIGINT) AS count_order,
           (CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) / count(*)) / 100.0 AS avg_qty,
           (CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) / count(*)) / 100.0 AS avg_price,
           (CAST(sum(CAST(round(l_discount*100) AS BIGINT)) AS BIGINT) / count(*)) / 100.0 AS avg_disc
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    description="TPC-H Q1 pricing summary: filtered scan + 8-agg hash aggregate (A3/A7-shape)",
    tags=("relational", "aggregate"),
)
def rel_pricing_summary(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    qc, pc = cents("l_quantity"), cents("l_extendedprice")
    dc, tc = cents("l_discount"), cents("l_tax")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qc).alias("sum_qty_c"),
        F.sum(pc).alias("sum_base_c"),
        F.sum(pc * (100 - dc)).alias("sum_disc_c4"),
        F.sum(pc * (100 - dc) * (100 + tc)).alias("sum_charge_c6"),
        F.count(F.lit(1)).alias("count_order"),
        ((F.sum(qc) / F.count(F.lit(1))) / F.lit(100.0)).alias("avg_qty"),
        ((F.sum(pc) / F.count(F.lit(1))) / F.lit(100.0)).alias("avg_price"),
        ((F.sum(dc) / F.count(F.lit(1))) / F.lit(100.0)).alias("avg_disc"),
    )


@register(
    "rel_revenue_by_nation",
    oracle="""
    SELECT n.n_name, r.r_name,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o.o_totalprice*100) AS BIGINT)) AS BIGINT) AS revenue_c
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
    description="3-way equi-join star query; dims broadcast (J1/J2 shape at scale)",
    tags=("relational", "join"),
)
def rel_revenue_by_nation(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents("o_totalprice")).alias("revenue_c"),
        )
    )


@register(
    "rel_topk_orders_per_segment",
    oracle="""
    WITH j AS (
      SELECT c.c_mktsegment, o.o_orderkey,
             CAST(round(o.o_totalprice*100) AS BIGINT) AS price_c
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    r AS (
      SELECT c_mktsegment, o_orderkey, price_c,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY price_c DESC, o_orderkey ASC) AS rnk
      FROM j)
    SELECT c_mktsegment, CAST(rnk AS BIGINT) AS rnk, o_orderkey, price_c
    FROM r WHERE rnk <= 3
    """,
    description="top-k per group via ranked window (W5 generalization)",
    tags=("relational", "window"),
)
def rel_topk_orders_per_segment(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_mktsegment", "o_orderkey", cents("o_totalprice").alias("price_c")
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("price_c").desc(), F.col("o_orderkey").asc()
    )
    return (
        j.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("c_mktsegment", "rnk", "o_orderkey", "price_c")
    )


@register(
    "rel_semi_anti_parts",
    oracle="""
    SELECT 'ordered' AS status,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(p_partkey) AS BIGINT) AS key_checksum
    FROM part WHERE p_partkey IN (SELECT l_partkey FROM lineitem)
    UNION ALL
    SELECT 'never_ordered',
           CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(p_partkey), 0) AS BIGINT)
    FROM part WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem)
    """,
    description="left-semi + left-anti joins (P6 shape) with union (§2.7)",
    tags=("relational", "join", "setop"),
)
def rel_semi_anti_parts(spark, sf_dir):
    p = t(spark, sf_dir, "part")
    li = t(spark, sf_dir, "lineitem").select("l_partkey")
    semi = p.join(li, p.p_partkey == li.l_partkey, "left_semi").agg(
        F.lit("ordered").alias("status"),
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("p_partkey").alias("key_checksum"),
    )
    anti = p.join(li, p.p_partkey == li.l_partkey, "left_anti").agg(
        F.lit("never_ordered").alias("status"),
        F.count(F.lit(1)).alias("n_parts"),
        F.coalesce(F.sum("p_partkey"), F.lit(0)).alias("key_checksum"),
    )
    return semi.select("status", "n_parts", "key_checksum").unionByName(
        anti.select("status", "n_parts", "key_checksum")
    )


@register(
    "rel_order_priority_agg",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS revenue_c,
           (CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) / count(*)) / 100.0 AS avg_price
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    """,
    description="two-key hash aggregate with exact average (A3/A8)",
    tags=("relational", "aggregate"),
)
def rel_order_priority_agg(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    pc = cents("o_totalprice")
    return o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(pc).alias("revenue_c"),
        ((F.sum(pc) / F.count(F.lit(1))) / F.lit(100.0)).alias("avg_price"),
    )


@register(
    "rel_distinct_counts",
    oracle="""
    SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem
    """,
    description="distinct aggregates (A9)",
    tags=("relational", "aggregate"),
)
def rel_distinct_counts(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "rel_orders_monthly",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS revenue_c
    FROM orders
    GROUP BY 1
    """,
    description="month-bucket rollup (F8 on relational data)",
    tags=("relational", "aggregate", "date"),
)
def rel_orders_monthly(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return o.groupBy(month_bucket(F.col("o_orderdate")).alias("month")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(cents("o_totalprice")).alias("revenue_c"),
    )


@register(
    "rel_set_ops_customers",
    oracle="""
    WITH y95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1995),
         y96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1996)
    SELECT 'both' AS cohort, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT * FROM y95 INTERSECT SELECT * FROM y96)
    UNION ALL
    SELECT 'only_1995', CAST(count(*) AS BIGINT)
      FROM (SELECT * FROM y95 EXCEPT SELECT * FROM y96)
    UNION ALL
    SELECT 'either', CAST(count(*) AS BIGINT)
      FROM (SELECT * FROM y95 UNION SELECT * FROM y96)
    """,
    description="INTERSECT / EXCEPT / UNION-distinct cohort analysis (§2.7)",
    tags=("relational", "setop"),
)
def rel_set_ops_customers(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    y95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey").distinct()
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    rows = [
        ("both", y95.intersect(y96)),
        ("only_1995", y95.exceptAll(y96).distinct()),
        ("either", y95.union(y96).distinct()),
    ]
    out = None
    for label, df in rows:
        one = df.agg(F.lit(label).alias("cohort"), F.count(F.lit(1)).alias("n"))
        out = one if out is None else out.unionByName(one)
    return out.select("cohort", "n")


@register(
    "rel_pivot_status",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_o,
           CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_f
    FROM lineitem GROUP BY l_returnflag
    """,
    description="pivot (conditional aggregation) over linestatus",
    tags=("relational", "pivot"),
)
def rel_pivot_status(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .count()
        .select(
            "l_returnflag",
            F.coalesce(F.col("O"), F.lit(0)).alias("cnt_o"),
            F.coalesce(F.col("F"), F.lit(0)).alias("cnt_f"),
        )
    )


# =====================================================================
# Reference pipeline dataflow on the synthetic events table
# =====================================================================


@register(
    "evt_typed_scan",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(round(value*100) AS BIGINT) AS value_c,
           CAST(ts AS DATE) AS event_date
    FROM events
    """,
    description="typed projection scan of the events stream (S4/P1)",
    tags=("events", "scan"),
)
def evt_typed_scan(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.col("value_c"),
        F.to_date("ts").alias("event_date"),
    )


@register(
    "evt_hwm_filter",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(round(value*100) AS BIGINT) AS value_c
    FROM events
    WHERE ts > (SELECT max(ts) - INTERVAL 7 DAY FROM events)
    """,
    description="high-water-mark incremental filter (P4/A1): scalar max → pushed-down predicate",
    tags=("events", "filter"),
)
def evt_hwm_filter(spark, sf_dir):
    import datetime

    ev = keyed_events(spark, sf_dir)
    hwm = ev.agg(F.max("ts")).first()[0] - datetime.timedelta(days=7)
    return ev.filter(F.col("ts") > F.lit(hwm)).select(
        "event_id", "user_id", "event_type", "value_c"
    )


@register(
    "evt_upsert_dedup",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, CAST(ts AS DATE) AS event_date,
             event_id, CAST(round(value*100) AS BIGINT) AS value_c,
             row_number() OVER (PARTITION BY user_id, event_type, CAST(ts AS DATE)
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    SELECT user_id, event_type, event_date, event_id, value_c
    FROM ranked WHERE rn = 1
    """,
    description="natural-key upsert dedup, newest wins (S9, SQL:20 semantics)",
    tags=("events", "dedup", "window"),
)
def evt_upsert_dedup(spark, sf_dir):
    ev = keyed_events(spark, sf_dir).withColumn("event_date", F.to_date("ts"))
    return latest_per_group(
        ev,
        key=("user_id", "event_type", "event_date"),
        order_col="ts",
        tie_breaker="event_id",
    ).select("user_id", "event_type", "event_date", "event_id", "value_c")


@register(
    "evt_lag_features",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(round(value*100) AS BIGINT) AS value_c,
           lag(CAST(round(value*100) AS BIGINT), 1) OVER (
             PARTITION BY user_id, event_type ORDER BY ts, event_id) AS value_c_lag1
    FROM events
    """,
    description="per-series lag-1 feature (W1, TRAIN:424-425)",
    tags=("events", "window"),
)
def evt_lag_features(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value_c",
        F.lag("value_c", 1).over(w).alias("value_c_lag1"),
    )


@register(
    "evt_ffill_bfill",
    oracle="""
    WITH base AS (
      SELECT event_id, user_id, event_type, ts,
             CASE WHEN event_id % 7 = 0 THEN NULL
                  ELSE CAST(round(value*100) AS BIGINT) END AS v
      FROM events),
    filled AS (
      SELECT event_id, user_id, event_type, v,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff,
             first_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS bf
      FROM base)
    SELECT event_id, user_id, event_type,
           coalesce(v, ff, bf) AS filled_fb,
           coalesce(v, bf, ff) AS filled_bf
    FROM filled
    """,
    description="per-series ffill→bfill and bfill→ffill (W2; train vs val order, TRAIN:428-429 / VAL:235-236)",
    tags=("events", "window", "fill"),
)
def evt_ffill_bfill(spark, sf_dir):
    ev = keyed_events(spark, sf_dir).withColumn(
        "v", F.when(F.col("event_id") % 7 == 0, None).otherwise(F.col("value_c"))
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    ff, bf = ffill("v", w), bfill("v", w)
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.coalesce(F.col("v"), ff, bf).alias("filled_fb"),
        F.coalesce(F.col("v"), bf, ff).alias("filled_bf"),
    )


@register(
    "evt_high_impact_count",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(sum(CASE WHEN event_id % 4 = 3 THEN 1 ELSE 0 END) OVER (
             PARTITION BY event_type, CAST(ts AS DATE)) AS BIGINT) AS high_impact_count
    FROM events
    """,
    description="windowed conditional count replacing the reference's agg+join (J1→window, TRAIN:419-421)",
    tags=("events", "window"),
)
def evt_high_impact_count(spark, sf_dir):
    ev = keyed_events(spark, sf_dir).withColumn(
        "impact", (F.col("event_id") % 4).cast("int")
    ).withColumn("event_date", F.to_date("ts"))
    out = with_high_impact_count(
        ev,
        impact_col="impact",
        currency_col="event_type",
        date_col="event_date",
        out_col="high_impact_count",
        high_value=3,
    )
    return out.select("event_id", "user_id", "event_type", "high_impact_count")


@register(
    "evt_chrono_split",
    oracle="""
    WITH ordered AS (
      SELECT event_id,
             row_number() OVER (ORDER BY ts, event_id) AS rn,
             count(*) OVER () AS n
      FROM events),
    labeled AS (
      SELECT event_id,
             CASE WHEN rn <= CAST(floor(n * 0.7) AS BIGINT) THEN 'train'
                  WHEN rn <= CAST(floor(n * 0.7) AS BIGINT)
                           + CAST(floor(n * 0.15) AS BIGINT) THEN 'val'
                  ELSE 'test' END AS split
      FROM ordered)
    SELECT split, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(event_id) AS BIGINT) AS id_checksum
    FROM labeled GROUP BY split
    """,
    description="chronological 70/15/15 split, reference floor arithmetic (W3, TRAIN:131-153)",
    tags=("events", "split"),
)
def evt_chrono_split(spark, sf_dir):
    from ..operators.split import split_labels

    ev = keyed_events(spark, sf_dir)
    labeled = split_labels(ev, order=("ts", "event_id"), exact=True)
    return labeled.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event_id").alias("id_checksum"),
    )


@register(
    "evt_minmax_normalize",
    oracle="""
    WITH stats AS (
      SELECT event_id, user_id, event_type,
             CAST(round(value*100) AS BIGINT) AS c,
             min(CAST(round(value*100) AS BIGINT)) OVER (PARTITION BY user_id, event_type) AS mn,
             max(CAST(round(value*100) AS BIGINT)) OVER (PARTITION BY user_id, event_type) AS mx
      FROM events)
    SELECT event_id, user_id, event_type,
           (c - mn) / (CASE WHEN mx = mn THEN 1 ELSE mx - mn END) AS value_norm
    FROM stats
    """,
    description="per-series min-max normalization, rng==0→1.0 guard (W6/A6, TRAIN:122-129)",
    tags=("events", "window", "normalize"),
)
def evt_minmax_normalize(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type")
    mn, mx = F.min("value_c").over(w), F.max("value_c").over(w)
    rng = F.when(mx == mn, F.lit(1)).otherwise(mx - mn)
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        ((F.col("value_c") - mn) / rng).alias("value_norm"),
    )


@register(
    "evt_group_mean_impute",
    oracle="""
    WITH base AS (
      SELECT event_id, user_id, event_type,
             CASE WHEN event_id % 5 = 0 THEN NULL
                  ELSE CAST(round(value*100) AS BIGINT) END AS v
      FROM events),
    stats AS (
      SELECT event_id, user_id, event_type, v,
             sum(v)   OVER (PARTITION BY user_id, event_type) AS s,
             count(v) OVER (PARTITION BY user_id, event_type) AS cnt
      FROM base)
    SELECT event_id, user_id, event_type,
           coalesce(CAST(v AS DOUBLE),
                    CASE WHEN cnt = 0 THEN NULL ELSE CAST(s AS BIGINT) / cnt END,
                    0.0) AS imputed
    FROM stats
    """,
    description="group-mean imputation with 0.0 fallback (F10/A3, TRAIN:347-357)",
    tags=("events", "impute"),
)
def evt_group_mean_impute(spark, sf_dir):
    ev = keyed_events(spark, sf_dir).withColumn(
        "v", F.when(F.col("event_id") % 5 == 0, None).otherwise(F.col("value_c"))
    )
    w = Window.partitionBy("user_id", "event_type")
    s, cnt = F.sum("v").over(w), F.count("v").over(w)
    mean = F.when(cnt == 0, None).otherwise(s / cnt)
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.coalesce(F.col("v").cast("double"), mean, F.lit(0.0)).alias("imputed"),
    )


@register(
    "evt_model_routing",
    oracle="""
    SELECT user_id, event_type,
           CAST(count(*) AS BIGINT) AS total_samples,
           CASE WHEN count(*) >= 10 THEN 'rnn' ELSE 'xgb' END AS model_type
    FROM events GROUP BY user_id, event_type
    """,
    description="per-series model routing by sample count (A4, TRAIN:377-389; threshold 10 to exercise both branches at test SF, reference default 50)",
    tags=("events", "routing"),
)
def evt_model_routing(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    return model_routing(ev, key=("user_id", "event_type"), threshold=10).select(
        "user_id", "event_type", "total_samples", "model_type"
    )


@register(
    "evt_drop_allnull_groups",
    oracle="""
    WITH base AS (
      SELECT event_id, user_id, event_type,
             CASE WHEN event_type = 'signup' OR event_id % 3 = 0 THEN NULL
                  ELSE CAST(round(value*100) AS BIGINT) END AS v
      FROM events),
    flagged AS (
      SELECT event_id, user_id, event_type, v,
             count(v) OVER (PARTITION BY user_id, event_type) AS nn
      FROM base)
    SELECT event_id, user_id, event_type, v
    FROM flagged WHERE nn > 0
    """,
    description="drop all-null series groups (A5/P6, TRAIN:361-369) — the 'signup' series vanish",
    tags=("events", "filter"),
)
def evt_drop_allnull_groups(spark, sf_dir):
    from ..operators.features import drop_allnull_groups

    ev = keyed_events(spark, sf_dir).withColumn(
        "v",
        F.when(
            (F.col("event_type") == "signup") | (F.col("event_id") % 3 == 0), None
        ).otherwise(F.col("value_c")),
    )
    out = drop_allnull_groups(ev, ["v"], key=("user_id", "event_type"))
    return out.select("event_id", "user_id", "event_type", "v")


@register(
    "evt_latest_per_group",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, event_id,
             CAST(round(value*100) AS BIGINT) AS value_c,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    SELECT user_id, event_type, event_id, value_c AS live_value_c
    FROM ranked WHERE rn = 1
    """,
    description="latest row per series = live forecast row (W5, TEST:95-103)",
    tags=("events", "window"),
)
def evt_latest_per_group(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    out = latest_per_group(
        ev, key=("user_id", "event_type"), order_col="ts", tie_breaker="event_id"
    )
    return out.select(
        "user_id", "event_type", "event_id", F.col("value_c").alias("live_value_c")
    )


@register(
    "evt_metrics_r2_mse",
    oracle="""
    WITH lagged AS (
      SELECT user_id, event_type,
             CAST(round(value*100) AS BIGINT) AS a,
             lag(CAST(round(value*100) AS BIGINT), 1) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id) AS p
      FROM events),
    scored AS (SELECT * FROM lagged WHERE a IS NOT NULL AND p IS NOT NULL),
    agg AS (
      SELECT user_id, event_type,
             CAST(count(*) AS BIGINT) AS "Samples",
             CAST(sum((a - p) * (a - p)) AS BIGINT) AS ss_res,
             CAST(sum(a) AS BIGINT) AS sum_a,
             CAST(sum(a * a) AS BIGINT) AS sum_a2
      FROM scored GROUP BY user_id, event_type)
    SELECT user_id, event_type,
           CASE WHEN "Samples" * sum_a2 - sum_a * sum_a = 0 THEN -1.0
                ELSE 1.0 - ("Samples" * ss_res) / ("Samples" * sum_a2 - sum_a * sum_a)
           END AS "R2",
           (ss_res / "Samples") / 10000.0 AS "MSE",
           "Samples"
    FROM agg WHERE "Samples" >= 2
    """,
    description="FLAGSHIP: per-series R²/MSE/Samples with lag-1 stub predictor; ss_tot==0→-1.0 and n>=2 guards (A7, TRAIN:169-269)",
    tags=("events", "metrics", "flagship"),
)
def evt_metrics_r2_mse(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    lagged = ev.select(
        "user_id",
        "event_type",
        F.col("value_c").alias("a"),
        F.lag("value_c", 1).over(w).alias("p"),
    )
    return group_metrics_exact(
        lagged, actual_cents="a", pred_cents="p", key=("user_id", "event_type")
    )


@register(
    "evt_monthly_rollup",
    oracle="""
    SELECT CAST(date_trunc('month', ts) AS DATE) AS month, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS total_c,
           CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) / count(*) / 100.0 AS mean_value
    FROM events GROUP BY 1, 2
    """,
    description="month-bucket rollup per event type (F8/A3, TRAIN:417)",
    tags=("events", "aggregate", "date"),
)
def evt_monthly_rollup(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    return ev.groupBy(
        month_bucket(F.col("ts")).alias("month"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value_c").alias("total_c"),
        (F.sum("value_c") / F.count(F.lit(1)) / F.lit(100.0)).alias("mean_value"),
    )


@register(
    "evt_formatted_dates",
    oracle="""
    SELECT strftime(CAST(ts AS DATE), '%-d %B %Y') AS formatted_date,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(event_id) AS BIGINT) AS id_checksum
    FROM events GROUP BY 1
    """,
    description="events_formatted view: 'd MMMM yyyy' display dates (F7, SQL:24-35)",
    tags=("events", "date"),
)
def evt_formatted_dates(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    return ev.groupBy(
        format_event_date(F.to_date("ts")).alias("formatted_date")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("event_id").alias("id_checksum"),
    )


@register(
    "evt_impact_ordinal_counts",
    oracle="""
    SELECT CASE WHEN event_type = 'click' THEN 1
                WHEN event_type = 'view' THEN 2
                WHEN event_type = 'error' THEN 3
                ELSE 0 END AS impact_ordinal,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1
    """,
    description="ordinal encoding + value_counts (F5/A9, TRAIN:333-343): event_type plays Impact",
    tags=("events", "encode"),
)
def evt_impact_ordinal_counts(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    ordinal = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "view", 2)
        .when(F.col("event_type") == "error", 3)
        .otherwise(0)
        .cast("int")
    )
    return ev.groupBy(ordinal.alias("impact_ordinal")).agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "evt_props_json",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
    FROM events GROUP BY 1
    """,
    description="JSON payload extraction + bucket aggregate (semi-structured props column)",
    tags=("events", "json"),
)
def evt_props_json(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy((k % 10).alias("k_bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("k_sum"),
    )


@register(
    "evt_sequence_build",
    oracle="""
    WITH seqs AS (
      SELECT event_id, user_id, event_type,
             list(CAST(round(value*100) AS BIGINT)) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
               ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS seq
      FROM events)
    SELECT event_id, user_id, event_type,
           array_to_string(seq, ',') AS seq_str
    FROM seqs WHERE len(seq) = 3
    """,
    description="sliding-window sequence construction for RNN input, SEQ_LENGTH=3 (W4, TRAIN:484-488)",
    tags=("events", "window", "sequence"),
)
def evt_sequence_build(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, -1)
    )
    seq = F.collect_list("value_c").over(w)
    return (
        ev.withColumn("seq", seq)
        .filter(F.size("seq") == 3)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.concat_ws(",", F.col("seq").cast("array<string>")).alias("seq_str"),
        )
    )


@register(
    "evt_sessionize",
    oracle="""
    WITH gaps AS (
      SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events),
    flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM gaps),
    sessions AS (
      SELECT user_id, event_id,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged),
    per_session AS (
      SELECT user_id, session_id, count(*) AS session_len
      FROM sessions GROUP BY user_id, session_id)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(max(session_len) AS BIGINT) AS max_session_len,
           CAST(sum(session_len) AS BIGINT) AS n_events
    FROM per_session GROUP BY user_id
    """,
    description="sessionization via lag-gap + running sum (30-min gap); batch analogue of session_window streaming",
    tags=("events", "window", "session"),
)
def evt_sessionize(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(wo)
    new_s = F.when(
        prev.isNull()
        | ((F.unix_micros(F.col("ts")) - F.unix_micros(prev)) > 1_800_000_000),
        1,
    ).otherwise(0)
    sess = ev.withColumn("new_session", new_s).withColumn(
        "session_id",
        F.sum("new_session").over(
            wo.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("session_len")
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("session_len").alias("max_session_len"),
        F.sum("session_len").alias("n_events"),
    )


# =====================================================================
# Scalar function round-trips (F1-F4) — Spark builds strings, parses
# them with the library; the oracle computes ground truth directly.
# =====================================================================


@register(
    "fn_parse_date_roundtrip",
    oracle="""
    WITH d AS (
      SELECT event_id, CAST(ts AS DATE) AS dt, event_id % 9 AS fmt FROM events)
    SELECT event_id,
           CASE WHEN fmt IN (3, 6) AND day(dt) <= 12
                THEN make_date(year(dt), day(dt), month(dt))
                ELSE dt END AS parsed_date
    FROM d
    """,
    description="F1 9-format date parse round-trip; ambiguous d/M strings resolve US-first (PUSH:129-130 order)",
    tags=("functions", "date"),
)
def fn_parse_date_roundtrip(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    dt = F.to_date("ts")
    fmt = F.col("event_id") % 9
    spark_fmts = [
        "yyyy-MM-dd",
        "d MMMM yyyy",
        "M/d/yyyy",
        "d/M/yyyy",
        "yyyy/M/d",
        "M-d-yyyy",
        "d-M-yyyy",
        "MMM d, yyyy",
        "MMMM d, yyyy",
    ]
    s = None
    for i, f_ in enumerate(spark_fmts):
        branch = F.date_format(dt, f_)
        s = F.when(fmt == i, branch) if s is None else s.when(fmt == i, branch)
    return ev.select("event_id", parse_date_multi(s).alias("parsed_date"))


@register(
    "fn_parse_time_roundtrip",
    oracle="""
    SELECT event_id,
           CASE WHEN event_id % 3 = 2
                THEN hour(ts) * 3600 + minute(ts) * 60 + CAST(second(ts) AS INT)
                ELSE hour(ts) * 3600 + minute(ts) * 60 END AS secs
    FROM events
    """,
    description="F2 time parse round-trip over H:mm / h:mm a / '0 days HH:mm:ss' timedelta artifact (PUSH:137-146, TRAIN:89-112)",
    tags=("functions", "time"),
)
def fn_parse_time_roundtrip(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    m = F.col("event_id") % 3
    s = (
        F.when(m == 0, F.date_format("ts", "H:mm"))
        .when(m == 1, F.date_format("ts", "h:mm a"))
        .otherwise(F.concat(F.lit("0 days "), F.date_format("ts", "HH:mm:ss")))
    )
    return ev.select(
        "event_id", parse_time_to_seconds(s).alias("secs")
    )


@register(
    "fn_parse_numeric_suffixes",
    oracle="""
    WITH b AS (
      SELECT event_id, CAST(round(value*100) AS BIGINT) AS c, event_id % 6 AS m
      FROM events)
    SELECT event_id,
           CASE WHEN m = 0 THEN CAST(c AS DOUBLE)
                WHEN m = 1 THEN CAST(c AS DOUBLE) * 1000.0
                WHEN m = 2 THEN CAST(c AS DOUBLE) * 1000000.0
                WHEN m = 3 THEN NULL
                WHEN m = 4 THEN NULL
                -- parse the STRING like the engine does: '-0' must give
                -- IEEE -0.0, not integer-negation +0.0 (hash-visible)
                ELSE CAST('-' || CAST(c AS VARCHAR) AS DOUBLE) END AS parsed
    FROM b
    """,
    description="F4 numeric parse: %, K/M suffixes, negatives, N/A and garbage → NULL (TRAIN:37-59)",
    tags=("functions", "numeric"),
)
def fn_parse_numeric_suffixes(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    c = F.col("value_c").cast("string")
    m = F.col("event_id") % 6
    s = (
        F.when(m == 0, F.concat(c, F.lit("%")))
        .when(m == 1, F.concat(c, F.lit("K")))
        .when(m == 2, F.concat(c, F.lit("M")))
        .when(m == 3, F.lit("N/A"))
        .when(m == 4, F.lit("abc"))
        .otherwise(F.concat(F.lit("-"), c))
    )
    return ev.select("event_id", parse_numeric(s).alias("parsed"))


@register(
    "fn_clean_text_sentinel",
    oracle="""
    SELECT event_id,
           CASE WHEN event_id % 6 = 5 THEN 'ok' ELSE 'N/A' END AS cleaned
    FROM events
    """,
    description="F3 null-ish text → 'N/A' sentinel (PUSH:148-151)",
    tags=("functions", "text"),
)
def fn_clean_text_sentinel(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    m = F.col("event_id") % 6
    s = (
        F.when(m == 0, F.lit(""))
        .when(m == 1, F.lit("  "))
        .when(m == 2, F.lit("nan"))
        .when(m == 3, F.lit("None"))
        .when(m == 4, F.lit(None).cast("string"))
        .otherwise(F.lit("  ok "))
    )
    return ev.select("event_id", clean_text(s).alias("cleaned"))


# =====================================================================
# §2.10 inference islands (M5): routed pandas_udf prediction
# =====================================================================


@register(
    "evt_routed_inference",
    oracle="""
    WITH routing AS (
      SELECT user_id, event_type,
             CASE WHEN count(*) >= 10 THEN 'rnn' ELSE 'xgb' END AS model_type
      FROM events GROUP BY 1, 2),
    base AS (
      SELECT e.event_id, e.user_id, e.event_type, r.model_type, e.ts,
             CAST(CAST(round(e.value*100) AS BIGINT) AS DOUBLE) AS v
      FROM events e JOIN routing r USING (user_id, event_type)),
    rnn AS (
      SELECT event_id, user_id, event_type, model_type,
             list(v) OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id
                           ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS seq
      FROM base WHERE model_type = 'rnn'),
    rnn_pred AS (
      SELECT event_id, user_id, event_type, model_type,
             0.25*seq[1] + 0.25*seq[2] + 0.5*seq[3] AS prediction
      FROM rnn WHERE len(seq) = 3),
    xgb AS (
      SELECT event_id, user_id, event_type, model_type,
             lag(v) OVER (PARTITION BY user_id, event_type
                          ORDER BY ts, event_id) AS lag1
      FROM base WHERE model_type = 'xgb'),
    xgb_pred AS (
      SELECT event_id, user_id, event_type, model_type,
             CASE WHEN lag1 < 0
                  THEN CASE WHEN event_id % 5 < 2 THEN lag1*0.5
                            ELSE lag1*0.25 END
                  ELSE CASE WHEN event_id % 5 < 2 THEN lag1*0.5 + 100.0
                            ELSE lag1*0.75 END
             END AS prediction
      FROM xgb WHERE lag1 IS NOT NULL)
    SELECT event_id, user_id, event_type, model_type,
           CAST(prediction AS DOUBLE) AS prediction
    FROM rnn_pred
    UNION ALL
    SELECT event_id, user_id, event_type, model_type,
           CAST(prediction AS DOUBLE) AS prediction
    FROM xgb_pred
    """,
    description=(
        "routed pandas_udf inference: rnn series -> sequence windows -> "
        "LSTM-stub UDF, rest -> lag features -> XGB-stub UDF, unioned "
        "(SURVEY 2.10, TRAIN:184-231; deterministic stubs keep it "
        "value-checkable)"
    ),
    tags=("events", "inference", "pandas-udf"),
)
def evt_routed_inference(spark, sf_dir):
    from ..operators.inference import route_and_predict

    ev = keyed_events(spark, sf_dir).withColumn(
        "value_c", F.col("value_c").cast("double")
    )
    routing = model_routing(ev, key=("user_id", "event_type"), threshold=10)
    return route_and_predict(ev, routing)


@register(
    "evt_normalize_train_params",
    oracle="""
    WITH base AS (
      SELECT event_id, user_id, event_type,
             CAST(CAST(round(value*100) AS BIGINT) AS DOUBLE) AS v
      FROM events),
    params AS (
      SELECT user_id, event_type, min(v) AS pmn, max(v) AS pmx
      FROM base WHERE v > 0 GROUP BY 1, 2),
    selfp AS (
      SELECT user_id, event_type, min(v) AS smn, max(v) AS smx
      FROM base GROUP BY 1, 2),
    joined AS (
      SELECT b.event_id, b.user_id, b.event_type, b.v,
             coalesce(p.pmn, s.smn) AS mn, coalesce(p.pmx, s.smx) AS mx
      FROM base b
      JOIN selfp s USING (user_id, event_type)
      LEFT JOIN params p USING (user_id, event_type))
    SELECT event_id, user_id, event_type, v,
           (v - mn) / (CASE WHEN mx = mn THEN 1.0 ELSE mx - mn END) AS v_norm
    FROM joined
    """,
    description=(
        "min-max normalize with TRAINING params via broadcast join + "
        "coalesce fallback to self-computed stats (J2/W6 variant, "
        "VAL:258-287; 'train' sample = positive-valued rows)"
    ),
    tags=("events", "normalize", "join"),
)
def evt_normalize_train_params(spark, sf_dir):
    from ..operators.features import normalization_params, with_min_max_normalized

    ev = keyed_events(spark, sf_dir).select(
        "event_id", "user_id", "event_type",
        F.col("value_c").cast("double").alias("v"),
    )
    params = normalization_params(
        ev.filter(F.col("v") > 0), ["v"], key=("user_id", "event_type")
    )
    out = with_min_max_normalized(
        ev, ["v"], key=("user_id", "event_type"), params=params
    )
    return out.select("event_id", "user_id", "event_type", "v", "v_norm")


#: A8: the MLflow-style scalar summary over the flagship metric table
#: (VAL:317-319 / TEST:209-211). Averages of per-group doubles are
#: rounded to 4 decimals on both sides (summation order is the one
#: engine-unspecified step; 1e-13 absolute error vs 1e-4 grid).
_FLAGSHIP_ORACLE = REGISTRY["evt_metrics_r2_mse"].oracle


@register(
    "evt_metrics_summary",
    oracle=f"""
    WITH m AS ({_FLAGSHIP_ORACLE})
    SELECT CAST(count(*) AS BIGINT) AS n_series,
           round(avg("R2"), 4) AS mean_r2,
           round(avg("MSE"), 4) AS mean_mse,
           CAST(sum("Samples") AS BIGINT) AS total_samples
    FROM m
    """,
    description="metric-table scalar summary: series count, mean R2/MSE, total samples (A8, VAL:317-319)",
    tags=("events", "metrics", "summary"),
)
def evt_metrics_summary(spark, sf_dir):
    m = evt_metrics_r2_mse(spark, sf_dir)
    return m.agg(
        F.count(F.lit(1)).alias("n_series"),
        F.round(F.avg("R2"), 4).alias("mean_r2"),
        F.round(F.avg("MSE"), 4).alias("mean_mse"),
        F.sum("Samples").alias("total_samples"),
    )


@register(
    "evt_salted_heavy_hitters",
    oracle="""
    SELECT event_type,
           CAST(count(value) AS BIGINT) AS n,
           CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS total_c,
           CAST(min(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS min_c,
           CAST(max(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS max_c,
           CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)
             / CAST(count(value) AS BIGINT) AS mean_c
    FROM events GROUP BY event_type
    """,
    description=(
        "salted two-phase aggregation over a hot low-cardinality key "
        "(5 event types x 10k+ rows): (key,salt) partial agg spreads each "
        "hot key over 16 reducers, tiny merge finishes; avg decomposed as "
        "exact sum/count (skew mitigation, SURVEY §4)"
    ),
    tags=("events", "aggregate", "skew"),
)
def evt_salted_heavy_hitters(spark, sf_dir):
    from ..operators.skew import salted_agg

    ev = keyed_events(spark, sf_dir)
    out = salted_agg(
        ev,
        key=("event_type",),
        aggs={
            "n": ("count", "value_c"),
            "total_c": ("sum", "value_c"),
            "min_c": ("min", "value_c"),
            "max_c": ("max", "value_c"),
            "mean_c": ("avg", "value_c"),
        },
        n_salt=16,
    )
    return out.select(
        "event_type",
        "n",
        "total_c",
        "min_c",
        "max_c",
        F.col("mean_c").cast("double").alias("mean_c"),
    )


#: S3: the SQL entry path — one ANSI text, two engines. Runs through
#: spark.sql over catalog-registered views (sources.tables.register_views)
#: and verbatim through DuckDB as its own oracle.
_SQL_TOP_CUSTOMERS = """
    WITH tot AS (
      SELECT c.c_mktsegment AS segment, c.c_custkey,
             CAST(sum(CAST(round(o.o_totalprice*100) AS BIGINT)) AS BIGINT)
               AS total_c
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2),
    ranked AS (
      SELECT segment, c_custkey, total_c,
             row_number() OVER (PARTITION BY segment
                                ORDER BY total_c DESC, c_custkey ASC) AS rnk
      FROM tot)
    SELECT segment, c_custkey, total_c, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 3
"""


@register(
    "sql_top_customers_per_segment",
    oracle=_SQL_TOP_CUSTOMERS,
    description=(
        "S3 SQL entry path: identical ANSI text through spark.sql over "
        "catalog views and through the oracle — join + grouped sum + "
        "ranked window, exact cents"
    ),
    tags=("relational", "sql-api"),
)
def sql_top_customers_per_segment(spark, sf_dir):
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_TOP_CUSTOMERS)


@register(
    "evt_asof_join",
    oracle="""
    WITH l AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
             CAST(round(value*100) AS BIGINT) AS v
      FROM events WHERE event_type = 'click'),
    r AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             max(CAST(round(value*100) AS BIGINT)) AS rv
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
    SELECT l.event_id, l.user_id, l.ts, l.v, r.rv AS rv_asof
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    description=(
        "as-of join (time-series primitive Spark lacks): latest purchase "
        "value at-or-before each click, per user — union + ordered-window "
        "form (O(n+m)/key, one shuffle), vs DuckDB's native ASOF JOIN"
    ),
    tags=("events", "window", "asof"),
)
def evt_asof_join(spark, sf_dir):
    from ..operators.asof import asof_join

    ev = keyed_events(spark, sf_dir)
    left = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.col("value_c").alias("v")
    )
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value_c").alias("rv"))
    )
    out = asof_join(
        left, right, key=("user_id",), ts_col="ts", value_cols=("rv",)
    )
    return out.select("event_id", "user_id", "ts", "v", F.col("rv_asof"))


@register(
    "rel_rollup_revenue",
    oracle="""
    SELECT coalesce(r.r_name, 'ALL') AS region,
           coalesce(n.n_name, 'ALL') AS nation,
           CAST(grouping(r.r_name) * 2 + grouping(n.n_name) AS BIGINT)
             AS grp_id,
           CAST(sum(CAST(round(o.o_totalprice*100) AS BIGINT)) AS BIGINT)
             AS revenue_c
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP(r.r_name, n.n_name)
    """,
    description=(
        "ROLLUP grouping sets over the star join: per-nation, per-region "
        "and grand-total revenue in one pass (partial aggregation + "
        "grouping-id expansion; dims broadcast)"
    ),
    tags=("relational", "aggregate", "rollup"),
)
def rel_rollup_revenue(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    out = joined.rollup("r_name", "n_name").agg(
        F.sum(cents("o_totalprice")).alias("revenue_c"),
        (F.grouping("r_name") * 2 + F.grouping("n_name"))
        .cast("bigint")
        .alias("grp_id"),
    )
    return out.select(
        F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region"),
        F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
        "grp_id",
        "revenue_c",
    )


@register(
    "evt_value_percentiles",
    oracle="""
    SELECT event_type,
           quantile_cont(CAST(round(value*100) AS BIGINT), 0.5) AS p50,
           quantile_cont(CAST(round(value*100) AS BIGINT), 0.9) AS p90,
           CAST(quantile_disc(CAST(round(value*100) AS BIGINT), 0.99)
                AS BIGINT) AS p99_disc
    FROM events GROUP BY event_type
    """,
    description=(
        "exact interpolated percentiles per type (sort-based aggregate; "
        "at scale swap for approx_percentile's one-pass sketch when "
        "exactness is not contractual) — bitwise-matched vs quantile_cont"
    ),
    tags=("events", "aggregate", "percentile"),
)
def evt_value_percentiles(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value_c, 0.5)").alias("p50"),
        F.expr("percentile(value_c, 0.9)").alias("p90"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY value_c)")
        .cast("bigint")
        .alias("p99_disc"),
    )


@register(
    "evt_interval_join",
    oracle="""
    SELECT c.event_id AS click_id, e.event_id AS error_id
    FROM events c JOIN events e
      ON c.user_id = e.user_id
     AND c.event_type = 'click' AND e.event_type = 'error'
     AND CAST(c.ts AS TIMESTAMP) >= CAST(e.ts AS TIMESTAMP)
     AND CAST(c.ts AS TIMESTAMP) < CAST(e.ts AS TIMESTAMP) + INTERVAL 1 HOUR
    """,
    description=(
        "interval (range) join via time-bucketed equi-join: clicks "
        "within 1h after an error by the same user — O(equi-join) "
        "instead of the per-key cross product a theta join costs"
    ),
    tags=("events", "join", "range"),
)
def evt_interval_join(spark, sf_dir):
    from ..operators.rangejoin import interval_join

    ev = keyed_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end"),
    )
    out = interval_join(
        clicks, errors, key=("user_id",), ts_col="ts",
        start_col="start", end_col="end", bucket_width_s=3600,
    )
    return out.select("click_id", "error_id")


@register(
    "cat_table_census",
    oracle="""
    SELECT 'region' AS table_name, CAST(count(*) AS BIGINT) AS n_rows FROM region
    UNION ALL SELECT 'nation', count(*) FROM nation
    UNION ALL SELECT 'customer', count(*) FROM customer
    UNION ALL SELECT 'supplier', count(*) FROM supplier
    UNION ALL SELECT 'part', count(*) FROM part
    UNION ALL SELECT 'orders', count(*) FROM orders
    UNION ALL SELECT 'lineitem', count(*) FROM lineitem
    UNION ALL SELECT 'events', count(*) FROM events
    UNION ALL SELECT 'documents', count(*) FROM documents
    UNION ALL SELECT 'embeddings', count(*) FROM embeddings
    """,
    description=(
        "catalog walk: per-table row census as ONE lazy union plan "
        "(S5/S6/A10, DB:223-231's SHOW TABLES + COUNT loop without the "
        "driver-side iteration)"
    ),
    tags=("catalog", "aggregate"),
)
def cat_table_census(spark, sf_dir):
    from functools import reduce

    from ..schemas import SYNTHETIC_TABLES

    parts = [
        t(spark, sf_dir, name).agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        for name in SYNTHETIC_TABLES
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


@register(
    "evt_live_forecast_denorm",
    oracle="""
    WITH base AS (
      SELECT event_id, user_id, event_type, ts,
             CAST(CAST(round(value*100) AS BIGINT) AS DOUBLE) AS v
      FROM events),
    feat AS (
      SELECT *,
             lag(v) OVER (PARTITION BY user_id, event_type
                          ORDER BY ts, event_id) AS lag1,
             min(v) OVER (PARTITION BY user_id, event_type) AS mn,
             max(v) OVER (PARTITION BY user_id, event_type) AS mx,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM base)
    SELECT user_id, event_type,
           ((lag1 - mn) / (CASE WHEN mx = mn THEN 1.0 ELSE mx - mn END))
             * (CASE WHEN mx = mn THEN 1.0 ELSE mx - mn END) + mn
             AS "ForecastValue"
    FROM feat WHERE rn = 1 AND lag1 IS NOT NULL
    """,
    description=(
        "live forecast: latest-per-series normalized stub prediction "
        "denormalized back to value space (W5 + W6 inverse, TEST:95-120; "
        "normalize/denormalize round-trip through identical float trees)"
    ),
    tags=("events", "window", "forecast"),
)
def evt_live_forecast_denorm(spark, sf_dir):
    from ..operators.features import denormalize, latest_per_group

    ev = keyed_events(spark, sf_dir).withColumn(
        "v", F.col("value_c").cast("double")
    )
    key = ("user_id", "event_type")
    w = Window.partitionBy(*key).orderBy("ts", "event_id")
    wk = Window.partitionBy(*key)
    feat = (
        ev.withColumn("lag1", F.lag("v", 1).over(w))
        .withColumn("mn", F.min("v").over(wk))
        .withColumn("mx", F.max("v").over(wk))
    )
    rng = F.when(F.col("mx") == F.col("mn"), F.lit(1.0)).otherwise(
        F.col("mx") - F.col("mn")
    )
    feat = feat.withColumn("pred_norm", (F.col("lag1") - F.col("mn")) / rng)
    latest = latest_per_group(
        feat.filter(F.col("lag1").isNotNull()),
        key=key,
        order_col="ts",
        tie_breaker="event_id",
    )
    return latest.select(
        *key,
        denormalize(F.col("pred_norm"), F.col("mn"), F.col("mx")).alias(
            "ForecastValue"
        ),
    )


@register(
    "evt_series_trend",
    oracle="""
    WITH idx AS (
      SELECT user_id, event_type,
             CAST(round(value*100) AS BIGINT) AS y,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) - 1 AS x
      FROM events),
    s AS (
      SELECT user_id, event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sx2
      FROM idx GROUP BY 1, 2),
    fit AS (
      SELECT user_id, event_type, n,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sx2 - sx * sx AS DOUBLE) AS slope,
             sy, sx
      FROM s WHERE n >= 2)
    SELECT user_id, event_type, slope,
           (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) AS intercept,
           n
    FROM fit
    """,
    description=(
        "per-series OLS trend via applyInPandas grouped-map (whole-group "
        "custom logic, SURVEY 2.10 grouped processing): int64-exact sums "
        "inside the UDF, single float division - bit-matched vs the "
        "closed-form SQL"
    ),
    tags=("events", "pandas-udf", "grouped"),
)
def evt_series_trend(spark, sf_dir):
    from ..operators.grouped import series_trend_fast

    ev = keyed_events(spark, sf_dir)
    return series_trend_fast(
        ev, key=("user_id", "event_type"), value_col="value_c",
        order=("ts", "event_id"),
    )


@register(
    "rel_shipping_priority",
    oracle="""
    WITH rev AS (
      SELECT l.l_orderkey,
             CAST(o.o_orderdate AS DATE) AS o_orderdate,
             o.o_orderpriority,
             CAST(sum(CAST(round(l.l_extendedprice*100) AS BIGINT)
                      * (100 - CAST(round(l.l_discount*100) AS BIGINT)))
                  AS BIGINT) AS revenue_cc
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE c.c_mktsegment = 'BUILDING'
        AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY 1, 2, 3),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY revenue_cc DESC, l_orderkey ASC)
               AS rnk
      FROM rev)
    SELECT l_orderkey, o_orderdate, o_orderpriority, revenue_cc,
           CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 10
    """,
    description=(
        "TPC-H Q3 shape (shipping priority): selective 3-way join with "
        "date pushdown on both scans, exact-cents revenue agg, "
        "deterministic top-10 (rank with key tie-break, not bare LIMIT)"
    ),
    tags=("relational", "join", "topk"),
)
def rel_shipping_priority(spark, sf_dir):
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    cutoff = "1998-01-01"
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    rev_line = cents("l_extendedprice") * (100 - cents("l_discount"))
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(F.sum(rev_line).alias("revenue_cc"))
    )
    # TakeOrderedAndProject (O(k) heap per partition + driver merge), NOT
    # a global row_number window; the (revenue, orderkey) order is total,
    # so the limit is deterministic. rnk is attached post-limit (10 rows).
    top = rev.orderBy(
        F.col("revenue_cc").desc(), F.col("l_orderkey").asc()
    ).limit(10)
    w = Window.orderBy(F.col("revenue_cc").desc(), F.col("l_orderkey").asc())
    return top.withColumn("rnk", F.row_number().over(w).cast("bigint")).select(
        "l_orderkey", "o_orderdate", "o_orderpriority", "revenue_cc", "rnk"
    )


# =====================================================================
# TPC-H hard shapes: correlated subqueries (decorrelated Spark-first),
# outer-join histograms, group-having joins, conditional shares,
# EXISTS/anti composites.
# =====================================================================


@register(
    "rel_small_qty_revenue",
    oracle="""
    WITH w AS (
      SELECT CAST(round(l_extendedprice*100) AS BIGINT) AS pc,
             CAST(round(l_quantity*100) AS BIGINT) AS qc,
             sum(CAST(round(l_quantity*100) AS BIGINT))
               OVER (PARTITION BY l_partkey) AS sum_qc,
             count(*) OVER (PARTITION BY l_partkey) AS n
      FROM lineitem)
    SELECT CAST(count(*) AS BIGINT) AS n_small,
           CAST(coalesce(sum(pc), 0) AS BIGINT) AS revenue_c
    FROM w WHERE qc * 5 * n < sum_qc
    """,
    description=(
        "TPC-H Q17 shape: rows below 20% of their group's average "
        "quantity. The classic correlated scalar subquery is expressed "
        "directly as ONE window over l_partkey (single shuffle, no "
        "self-join), and the avg comparison qty < 0.2*avg is cleared of "
        "division: qc*5*n < sum_qc — exact integer arithmetic"
    ),
    tags=("relational", "window", "subquery"),
)
def rel_small_qty_revenue(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey")
    enriched = li.select(
        cents("l_extendedprice").alias("pc"),
        cents("l_quantity").alias("qc"),
        F.sum(cents("l_quantity")).over(w).alias("sum_qc"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    small = enriched.filter(F.col("qc") * 5 * F.col("n") < F.col("sum_qc"))
    return small.agg(
        F.count(F.lit(1)).alias("n_small"),
        F.coalesce(F.sum("pc"), F.lit(0)).cast("bigint").alias("revenue_c"),
    )


@register(
    "rel_cust_order_histogram",
    oracle="""
    WITH per_cust AS (
      SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey)
    SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers
    FROM per_cust GROUP BY n_orders
    """,
    description=(
        "TPC-H Q13 shape: orders-per-customer distribution. LEFT OUTER "
        "join keeps zero-order customers (count(col) skips the nulls the "
        "outer join manufactures), then a second, much smaller aggregate "
        "buckets customers by their count — two shuffles, the second over "
        "|customers| rows only"
    ),
    tags=("relational", "join", "aggregate"),
)
def rel_cust_order_histogram(spark, sf_dir):
    c = t(spark, sf_dir, "customer").select("c_custkey")
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@register(
    "rel_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey,
             CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(round(l_quantity*100) AS BIGINT)) > 25000)
    SELECT o.o_orderkey, c.c_name,
           CAST(round(o.o_totalprice*100) AS BIGINT) AS price_c,
           b.sum_qty_c
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    description=(
        "TPC-H Q18 shape: large-volume orders. Aggregate lineitem first "
        "(HAVING prunes ~99% of orders BEFORE any join), then join the "
        "tiny survivor set to orders/customer — AQE sees the post-filter "
        "size at runtime and downgrades both joins to broadcasts"
    ),
    tags=("relational", "join", "aggregate", "having"),
)
def rel_large_orders(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(cents("l_quantity")).alias("sum_qty_c"))
        .filter(F.col("sum_qty_c") > 25000)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "o_orderkey",
            "c_name",
            cents("o_totalprice").alias("price_c"),
            "sum_qty_c",
        )
    )


@register(
    "rel_promo_revenue_share",
    oracle="""
    SELECT
      CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN l.disc_c ELSE 0 END) AS BIGINT) AS promo_c4,
      CAST(sum(l.disc_c) AS BIGINT) AS total_c4,
      (100.0 * sum(CASE WHEN p.p_type = 'PROMO' THEN l.disc_c ELSE 0 END))
        / sum(l.disc_c) AS promo_share_pct
    FROM (SELECT l_partkey,
                 CAST(round(l_extendedprice*100) AS BIGINT)
                   * (100 - CAST(round(l_discount*100) AS BIGINT)) AS disc_c
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
            AND l_shipdate <  TIMESTAMP '1997-03-01 00:00:00') l
    JOIN part p ON l.l_partkey = p.p_partkey
    """,
    description=(
        "TPC-H Q14 shape: promo revenue share for a ship window. "
        "Conditional aggregation over a fact-dim join; the date filter is "
        "pushed to the parquet scan (row-group pruning on l_shipdate "
        "min/max), and the final ratio divides two exact integer sums "
        "with the identical expression tree in both engines"
    ),
    tags=("relational", "join", "aggregate"),
)
def rel_promo_revenue_share(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-03-01 00:00:00").cast("timestamp"))
    )
    p = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc_c = (cents("l_extendedprice") * (100 - cents("l_discount"))).alias(
        "disc_c"
    )
    j = li.select("l_partkey", disc_c).join(
        p, F.col("l_partkey") == F.col("p_partkey")
    )
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", F.col("disc_c")).otherwise(F.lit(0))
    )
    total = F.sum("disc_c")
    return j.agg(
        promo.cast("bigint").alias("promo_c4"),
        total.cast("bigint").alias("total_c4"),
        ((F.lit(100.0) * promo) / total).alias("promo_share_pct"),
    )


@register(
    "rel_idle_rich_customers",
    oracle="""
    WITH stats AS (
      SELECT sum(CAST(round(c_acctbal*100) AS BIGINT)) AS sum_c,
             count(*) AS n
      FROM customer WHERE c_acctbal > 0.0)
    SELECT c.c_nationkey, CAST(count(*) AS BIGINT) AS n_custs,
           CAST(sum(CAST(round(c.c_acctbal*100) AS BIGINT)) AS BIGINT) AS totbal_c
    FROM customer c, stats s
    WHERE CAST(round(c.c_acctbal*100) AS BIGINT) * s.n > s.sum_c
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_nationkey
    """,
    description=(
        "TPC-H Q22 shape: above-average-balance customers who never "
        "ordered. The scalar avg subquery is a 1-row broadcast cross "
        "join (bal*n > sum clears the division exactly); NOT EXISTS is a "
        "left-anti join on o_custkey"
    ),
    tags=("relational", "join", "subquery", "anti"),
)
def rel_idle_rich_customers(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").select("o_custkey")
    stats = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            F.sum(cents("c_acctbal")).alias("sum_c"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    rich = c.crossJoin(F.broadcast(stats)).filter(
        cents("c_acctbal") * F.col("n") > F.col("sum_c")
    )
    idle = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return idle.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_custs"),
        F.sum(cents("c_acctbal")).alias("totbal_c"),
    )


@register(
    "evt_series_similarity_topk",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             list(CAST(round(value*100) AS BIGINT) ORDER BY ts, event_id) AS vals
      FROM events GROUP BY user_id, event_type HAVING count(*) >= 8),
    tails AS (SELECT user_id, event_type, vals[-8:] AS tail FROM s),
    q AS (SELECT tail AS qtail FROM tails
          WHERE user_id = 0 AND event_type = 'purchase'),
    d AS (
      SELECT t.user_id, t.event_type,
             list_sum(list_transform(range(1, 9),
               i -> (t.tail[i] - q.qtail[i]) * (t.tail[i] - q.qtail[i]))) AS ssd
      FROM tails t, q
      WHERE NOT (t.user_id = 0 AND t.event_type = 'purchase')),
    r AS (
      SELECT user_id, event_type, CAST(ssd AS BIGINT) AS ssd,
             row_number() OVER (ORDER BY ssd ASC, user_id ASC, event_type ASC) AS rnk
      FROM d)
    SELECT user_id, event_type, ssd, CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 10
    """,
    description=(
        "time-series similarity search (EDBT'19/REPOSE shape): each "
        "series' last-8 tail as an exact integer-cents vector, "
        "sum-of-squared-differences to a broadcast query tail, top-10. "
        "One shuffle builds all tails (sort_array(collect_list) — "
        "partial_sort per group, never a global sort); distance is "
        "zip_with/aggregate JVM arithmetic on bigints, map-only; top-k "
        "is a TakeOrdered heap, and ranks attach post-limit so no "
        "global window touches the full series set"
    ),
    tags=("events", "similarity", "timeseries", "topk"),
)
def evt_series_similarity_topk(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    tails = (
        ev.groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.slice(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("ts", "event_id", "value_c"))
                    ),
                    lambda x: x.value_c,
                ),
                -8,
                8,
            ).alias("tail"),
        )
        .filter(F.col("n") >= 8)
        .drop("n")
    )
    q = tails.filter(
        (F.col("user_id") == 0) & (F.col("event_type") == "purchase")
    ).select(F.col("tail").alias("qtail"))
    ssd = F.aggregate(
        F.zip_with(F.col("tail"), F.col("qtail"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    d = (
        tails.crossJoin(F.broadcast(q))
        .filter(~((F.col("user_id") == 0) & (F.col("event_type") == "purchase")))
        .select("user_id", "event_type", ssd.alias("ssd"))
    )
    top = d.orderBy(
        F.col("ssd").asc(), F.col("user_id").asc(), F.col("event_type").asc()
    ).limit(10)
    w = Window.orderBy(
        F.col("ssd").asc(), F.col("user_id").asc(), F.col("event_type").asc()
    )
    return top.withColumn("rnk", F.row_number().over(w).cast("bigint"))


# =====================================================================
# TPC-H hard shapes, batch 2: Q7/Q8/Q9/Q10/Q12/Q15/Q19/Q21 analogues
# adapted to the driver schema (no partsupp / shipmode / receiptdate:
# cost uses p_retailprice, lateness uses l_shipdate - o_orderdate).
# =====================================================================


@register(
    "rel_nation_trade_volume",
    oracle="""
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(round(l.l_extendedprice*100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount*100) AS BIGINT)))
                AS BIGINT) AS volume_c4
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey  = c.c_custkey
    JOIN supplier s ON l.l_suppkey  = s.s_suppkey
    JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
    JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
    WHERE ns.n_name IN ('NATION_1', 'NATION_2')
      AND nc.n_name IN ('NATION_1', 'NATION_2')
      AND ns.n_name <> nc.n_name
    GROUP BY ns.n_name, nc.n_name, year(l.l_shipdate)
    """,
    description=(
        "TPC-H Q7 shape: bilateral trade volume between two nations per "
        "ship-year. Nation filter is applied to supplier and customer "
        "BEFORE the fact joins (broadcast the 2-row nation slice into "
        "both dims), so the only big-big shuffle is lineitem<->orders on "
        "l_orderkey; everything else broadcasts"
    ),
    tags=("relational", "join"),
)
def rel_nation_trade_volume(spark, sf_dir):
    n = t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    s = t(spark, sf_dir, "supplier").join(
        F.broadcast(
            n.select(
                F.col("n_nationkey").alias("s_nationkey"),
                F.col("n_name").alias("supp_nation"),
            )
        ),
        "s_nationkey",
    )
    c = t(spark, sf_dir, "customer").join(
        F.broadcast(
            n.select(
                F.col("n_nationkey").alias("c_nationkey"),
                F.col("n_name").alias("cust_nation"),
            )
        ),
        "c_nationkey",
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    oc = o.join(
        c.select("c_custkey", "cust_nation"), o.o_custkey == F.col("c_custkey")
    ).select("o_orderkey", "cust_nation")
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.year("l_shipdate").cast("bigint").alias("l_year"),
        (cents("l_extendedprice") * (100 - cents("l_discount"))).alias("vol_c4"),
    )
    ls = li.join(
        F.broadcast(s.select("s_suppkey", "supp_nation")),
        li.l_suppkey == F.col("s_suppkey"),
    )
    return (
        ls.join(oc, ls.l_orderkey == oc.o_orderkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("vol_c4").alias("volume_c4"),
        )
    )


@register(
    "rel_market_share",
    oracle="""
    SELECT CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           CAST(sum(CASE WHEN ns.n_name = 'NATION_3'
                    THEN CAST(round(l.l_extendedprice*100) AS BIGINT)
                         * (100 - CAST(round(l.l_discount*100) AS BIGINT))
                    ELSE 0 END) AS BIGINT) AS nation_vol_c4,
           CAST(sum(CAST(round(l.l_extendedprice*100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount*100) AS BIGINT)))
                AS BIGINT) AS region_vol_c4
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey  = c.c_custkey
    JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
    JOIN region r   ON nc.n_regionkey = r.r_regionkey
    JOIN supplier s ON l.l_suppkey  = s.s_suppkey
    JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
    WHERE r.r_name = 'ASIA'
    GROUP BY year(l.l_shipdate)
    """,
    description=(
        "TPC-H Q8 shape: one nation's market share of ASIA-customer "
        "revenue per year. The share division is left to the reader — "
        "numerator and denominator are emitted as exact integers so the "
        "check is bit-stable. Conditional agg replaces the classic "
        "CASE-in-sum-over-subquery; dims broadcast, one big-big shuffle"
    ),
    tags=("relational", "join", "aggregate"),
)
def rel_market_share(spark, sf_dir):
    nc = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_nations = nc.join(
        F.broadcast(r), nc.n_regionkey == r.r_regionkey
    ).select(F.col("n_nationkey").alias("c_nationkey"))
    c = t(spark, sf_dir, "customer").join(F.broadcast(asia_nations), "c_nationkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    oc = o.join(c.select("c_custkey"), o.o_custkey == F.col("c_custkey")).select(
        "o_orderkey"
    )
    supp_nation = t(spark, sf_dir, "supplier").join(
        F.broadcast(
            t(spark, sf_dir, "nation").select(
                F.col("n_nationkey").alias("s_nationkey"),
                F.col("n_name").alias("supp_nation"),
            )
        ),
        "s_nationkey",
    )
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.year("l_shipdate").cast("bigint").alias("l_year"),
        (cents("l_extendedprice") * (100 - cents("l_discount"))).alias("vol_c4"),
    )
    ls = li.join(
        F.broadcast(supp_nation.select("s_suppkey", "supp_nation")),
        li.l_suppkey == F.col("s_suppkey"),
    )
    return (
        ls.join(oc, ls.l_orderkey == oc.o_orderkey)
        .groupBy("l_year")
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", F.col("vol_c4")).otherwise(
                    F.lit(0)
                )
            ).alias("nation_vol_c4"),
            F.sum("vol_c4").alias("region_vol_c4"),
        )
    )


@register(
    "rel_profit_by_nation_year",
    oracle="""
    SELECT ns.n_name AS supp_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           CAST(sum(CAST(round(l.l_extendedprice*100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount*100) AS BIGINT))
                  - CAST(round(p.p_retailprice*100) AS BIGINT)
                    * CAST(round(l.l_quantity*100) AS BIGINT))
                AS BIGINT) AS profit_c4
    FROM lineitem l
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
    GROUP BY ns.n_name, year(l.l_shipdate)
    """,
    description=(
        "TPC-H Q9 shape (partsupp-less: unit cost := p_retailprice). "
        "profit_c4 = price_c*(100-disc_c) - retail_c*qty_c; both terms "
        "are value*10^4 so the subtraction is scale-consistent and "
        "integer-exact. part+supplier+nation broadcast into the lineitem "
        "scan -> single map-side join chain, one aggregation shuffle "
        "over (nation, year) = tiny key space -> partial aggs do "
        "nearly all the work map-side"
    ),
    tags=("relational", "join", "aggregate"),
)
def rel_profit_by_nation_year(spark, sf_dir):
    p = t(spark, sf_dir, "part").select(
        "p_partkey", cents("p_retailprice").alias("retail_c")
    )
    sn = t(spark, sf_dir, "supplier").join(
        F.broadcast(
            t(spark, sf_dir, "nation").select(
                F.col("n_nationkey").alias("s_nationkey"),
                F.col("n_name").alias("supp_nation"),
            )
        ),
        "s_nationkey",
    )
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.year("l_shipdate").cast("bigint").alias("l_year"),
        (cents("l_extendedprice") * (100 - cents("l_discount"))).alias("rev_c4"),
        cents("l_quantity").alias("qty_c"),
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(
            F.broadcast(sn.select("s_suppkey", "supp_nation")),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy("supp_nation", "l_year")
        .agg(
            F.sum(
                F.col("rev_c4") - F.col("retail_c") * F.col("qty_c")
            ).alias("profit_c4")
        )
    )


@register(
    "rel_returned_revenue_topk",
    oracle="""
    WITH rev AS (
      SELECT c.c_custkey, c.c_name, n.n_name,
             CAST(sum(CAST(round(l.l_extendedprice*100) AS BIGINT)
                      * (100 - CAST(round(l.l_discount*100) AS BIGINT)))
                  AS BIGINT) AS revenue_c4
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey  = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      WHERE l.l_returnflag = 'R'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate <  TIMESTAMP '1996-07-01'
      GROUP BY c.c_custkey, c.c_name, n.n_name)
    SELECT c_custkey, c_name, n_name, revenue_c4, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, row_number() OVER (ORDER BY revenue_c4 DESC, c_custkey ASC)
                    AS rnk FROM rev)
    WHERE rnk <= 20
    """,
    description=(
        "TPC-H Q10 shape: top-20 customers by returned-item revenue in a "
        "half-year window. Date + returnflag predicates push into the "
        "scans; agg shrinks to |customers| rows BEFORE the global top-k, "
        "so the final rank window sorts only the aggregated set (take "
        "via TakeOrderedAndProject, not a full sort, at scale)"
    ),
    tags=("relational", "join", "topk"),
)
def rel_returned_revenue_topk(spark, sf_dir):
    o = (
        t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select(
            "l_orderkey",
            (cents("l_extendedprice") * (100 - cents("l_discount"))).alias("rev_c4"),
        )
    )
    cn = t(spark, sf_dir, "customer").join(
        F.broadcast(
            t(spark, sf_dir, "nation").select(
                F.col("n_nationkey").alias("c_nationkey"), "n_name"
            )
        ),
        "c_nationkey",
    )
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cn, F.col("o_custkey") == cn.c_custkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum("rev_c4").alias("revenue_c4"))
    )
    top = rev.orderBy(F.col("revenue_c4").desc(), F.col("c_custkey").asc()).limit(20)
    w = Window.orderBy(F.col("revenue_c4").desc(), F.col("c_custkey").asc())
    return top.withColumn("rnk", F.row_number().over(w).cast("bigint"))


@register(
    "rel_ship_speed_priority",
    oracle="""
    SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 30
                THEN 'fast'
                WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 365
                THEN 'medium' ELSE 'slow' END AS ship_speed,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
    description=(
        "TPC-H Q12 shape (shipmode-less: buckets on ship lag days). "
        "Conditional two-way counts per bucket; the join is the only "
        "shuffle (AQE can pick SMJ or shuffled hash), the 3-row agg is "
        "all map-side partials"
    ),
    tags=("relational", "join", "aggregate"),
)
def rel_ship_speed_priority(spark, sf_dir):
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lag = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.when(lag <= 30, "fast")
            .when(lag <= 365, "medium")
            .otherwise("slow")
            .alias("ship_speed"),
            high.alias("high"),
        )
        .groupBy("ship_speed")
        .agg(
            F.sum(F.when(F.col("high"), 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(F.col("high"), 0).otherwise(1)).alias("low_line_count"),
        )
    )


@register(
    "rel_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                      * (100 - CAST(round(l_discount*100) AS BIGINT)))
                  AS BIGINT) AS total_rev_c4
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_rev_c4
    FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
    WHERE r.total_rev_c4 = (SELECT max(total_rev_c4) FROM rev)
    """,
    description=(
        "TPC-H Q15 shape: supplier(s) achieving max quarterly revenue. "
        "The correlated max-subquery becomes a global-max window over "
        "the aggregated per-supplier set (|suppliers| rows, so the "
        "single-partition window is bounded and safe); supplier dim "
        "broadcasts back for the name"
    ),
    tags=("relational", "join", "subquery"),
)
def rel_top_supplier(spark, sf_dir):
    li = (
        t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .select(
            "l_suppkey",
            (cents("l_extendedprice") * (100 - cents("l_discount"))).alias("rev_c4"),
        )
    )
    rev = li.groupBy("l_suppkey").agg(F.sum("rev_c4").alias("total_rev_c4"))
    mx = rev.withColumn(
        "mx", F.max("total_rev_c4").over(Window.partitionBy(F.lit(1)))
    ).filter(F.col("total_rev_c4") == F.col("mx"))
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return mx.join(
        F.broadcast(s), mx.l_suppkey == s.s_suppkey
    ).select("s_suppkey", "s_name", "total_rev_c4")


@register(
    "rel_brand_disjunctive_revenue",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(coalesce(sum(CAST(round(l.l_extendedprice*100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount*100) AS BIGINT))), 0)
                AS BIGINT) AS revenue_c4
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity >= 1 AND l.l_quantity <= 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity >= 20 AND l.l_quantity <= 30)
    """,
    description=(
        "TPC-H Q19 shape: disjunction of three brand/size/quantity "
        "conjunctions across the join. part-side conjuncts (brand IN, "
        "size <= 25) are factored out so they push into the part scan; "
        "the filtered part slice broadcasts and the residual OR runs "
        "post-join inside codegen"
    ),
    tags=("relational", "join", "predicate"),
)
def rel_brand_disjunctive_revenue(spark, sf_dir):
    p = (
        t(spark, sf_dir, "part")
        .filter(
            F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
            & (F.col("p_size") >= 1)
            & (F.col("p_size") <= 25)
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_quantity",
        (cents("l_extendedprice") * (100 - cents("l_discount"))).alias("rev_c4"),
    )
    q = F.col("l_quantity")
    disj = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10)
         & (q >= 1) & (q <= 11))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 15)
           & (q >= 10) & (q <= 20))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 25)
           & (q >= 20) & (q <= 30))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(disj)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.coalesce(F.sum("rev_c4"), F.lit(0)).cast("bigint").alias("revenue_c4"),
        )
    )


@register(
    "rel_late_sole_supplier",
    oracle="""
    WITH ls AS (
      SELECT l.l_orderkey, l.l_suppkey,
             max(CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 700
                 THEN 1 ELSE 0 END) AS is_late
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY l.l_orderkey, l.l_suppkey),
    agg AS (
      SELECT l_orderkey,
             count(*) AS n_supp,
             sum(is_late) AS n_late
      FROM ls GROUP BY l_orderkey),
    blamed AS (
      SELECT ls.l_suppkey
      FROM ls JOIN agg ON ls.l_orderkey = agg.l_orderkey
      WHERE agg.n_supp >= 2 AND agg.n_late = 1 AND ls.is_late = 1),
    cnt AS (
      SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_orders
      FROM blamed GROUP BY l_suppkey)
    SELECT s.s_name, c.l_suppkey AS s_suppkey, c.n_orders,
           CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, row_number() OVER (ORDER BY n_orders DESC, l_suppkey ASC)
                    AS rnk FROM cnt) c
    JOIN supplier s ON c.l_suppkey = s.s_suppkey
    WHERE rnk <= 10
    """,
    description=(
        "TPC-H Q21 shape (receiptdate-less: late := shipped >700 days "
        "after order date). The classic EXISTS / NOT EXISTS pair over "
        "lineitem self-joins is re-expressed as ONE aggregation to "
        "(orderkey, suppkey) plus ONE window over orderkey computing "
        "(n_supp, n_late) — multi-supplier orders where exactly the one "
        "late supplier is to blame — no self-join, two shuffles total, "
        "then a bounded top-10"
    ),
    tags=("relational", "window", "subquery"),
)
def rel_late_sole_supplier(spark, sf_dir):
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = F.when(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 700, 1
    ).otherwise(0)
    ls = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("l_orderkey", "l_suppkey", late.alias("late"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("late").alias("is_late"))
    )
    w = Window.partitionBy("l_orderkey")
    blamed = (
        ls.withColumn("n_supp", F.count(F.lit(1)).over(w))
        .withColumn("n_late", F.sum("is_late").over(w))
        .filter(
            (F.col("n_supp") >= 2)
            & (F.col("n_late") == 1)
            & (F.col("is_late") == 1)
        )
    )
    cnt = blamed.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("n_orders"))
    top = cnt.orderBy(F.col("n_orders").desc(), F.col("l_suppkey").asc()).limit(10)
    wr = Window.orderBy(F.col("n_orders").desc(), F.col("l_suppkey").asc())
    ranked = top.withColumn("rnk", F.row_number().over(wr).cast("bigint"))
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return ranked.join(
        F.broadcast(s), ranked.l_suppkey == s.s_suppkey
    ).select("s_name", "s_suppkey", "n_orders", "rnk")


@register(
    "evt_rolling_window_stats",
    oracle="""
    SELECT event_id,
           CAST(sum(CAST(round(value*100) AS BIGINT)) OVER w AS BIGINT)
             AS roll_sum_c,
           CAST(count(*) OVER w AS BIGINT) AS roll_n
    FROM events
    WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
    description=(
        "time-range rolling frame (W1 family, RANGE not ROWS): per "
        "series, sum/count of events in the trailing 1-hour window of "
        "each row. Spark's rangeBetween needs a numeric ordering key -> "
        "epoch MICROseconds (unix_timestamp would truncate to whole "
        "seconds, silently widening the frame at the 1-second boundary "
        "band and making same-second rows frame peers — the oracle's "
        "RANGE INTERVAL is microsecond-exact); the [-3.6e9 us, 0] frame "
        "is closed on both ends, matching SQL RANGE INTERVAL semantics. "
        "One shuffle on the series key; frame evaluation is a sliding "
        "two-pointer pass per partition, no self-join"
    ),
    tags=("events", "window"),
)
def evt_rolling_window_stats(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id", "event_type")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        F.sum("value_c").over(w).alias("roll_sum_c"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("roll_n"),
    )


@register(
    "evt_value_deciles",
    oracle="""
    WITH r AS (
      SELECT event_type,
             CAST(round(value*100) AS BIGINT) AS value_c,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY CAST(round(value*100) AS BIGINT) ASC,
                                         event_id ASC) AS rn,
             count(*) OVER (PARTITION BY event_type) AS np
      FROM events),
    d AS (
      SELECT event_type, value_c,
             (10 * (rn - 1)) // np + 1 AS decile
      FROM r)
    SELECT event_type, CAST(decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(value_c) AS BIGINT) AS lo_c,
           CAST(max(value_c) AS BIGINT) AS hi_c,
           CAST(sum(value_c) AS BIGINT) AS sum_c
    FROM d GROUP BY event_type, decile
    """,
    description=(
        "decile profile per event type: integer-cent values with "
        "event_id tie-break and explicit (10*(rn-1))//n+1 bucket "
        "arithmetic (ntile remainder placement is an engine "
        "convention — scripts/parity_lint.py) make bucket boundaries "
        "deterministic in both "
        "engines. Per-type window shuffle then a 10-row-per-type agg; "
        "at scale prefer the approxQuantile cutoff form (split.py scale "
        "path) — this exact form exists for parity and profiling"
    ),
    tags=("events", "window"),
)
def evt_value_deciles(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy(
        F.col("value_c").asc(), F.col("event_id").asc()
    )
    wp = Window.partitionBy("event_type")
    d = ev.select(
        "event_type",
        "value_c",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("np"),
    ).select(
        "event_type",
        "value_c",
        F.expr("(10 * (rn - 1)) DIV np + 1").cast("bigint").alias("decile"),
    )
    return d.groupBy("event_type", "decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value_c").alias("lo_c"),
        F.max("value_c").alias("hi_c"),
        F.sum("value_c").alias("sum_c"),
    )


@register(
    "evt_funnel",
    oracle="""
    WITH m AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id)
    SELECT
      CAST(count(CASE WHEN t_view IS NOT NULL THEN 1 END) AS BIGINT)
        AS n_view,
      CAST(count(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                 THEN 1 END) AS BIGINT) AS n_click_after,
      CAST(count(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                      AND t_purchase > t_click
                 THEN 1 END) AS BIGINT) AS n_purchase_after
    FROM m
    """,
    description=(
        "ordered funnel (view -> click -> purchase): per-user first-"
        "touch times via ONE conditional-min aggregation (no per-stage "
        "self-joins — the classic funnel anti-pattern is k joins over "
        "the event log), then a global 3-counter fold. One shuffle on "
        "user_id; NULL-propagating comparisons encode 'reached stage "
        "k only if after stage k-1'"
    ),
    tags=("events", "aggregate", "funnel"),
)
def evt_funnel(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    m = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    reached1 = F.col("t_view").isNotNull()
    reached2 = reached1 & (F.col("t_click") > F.col("t_view"))
    reached3 = reached2 & (F.col("t_purchase") > F.col("t_click"))
    return m.agg(
        F.count(F.when(reached1, 1)).alias("n_view"),
        F.count(F.when(reached2, 1)).alias("n_click_after"),
        F.count(F.when(reached3, 1)).alias("n_purchase_after"),
    )


@register(
    "evt_hash_sample",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_c
    FROM events
    WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 2) < '40'
    GROUP BY event_type
    """,
    description=(
        "deterministic ~25% sample: keep rows whose md5(event_id) hex "
        "prefix < '40'. Unlike rand()-based sample(), this is "
        "reproducible across engines, runs, and retries — the property "
        "a training pipeline needs for stable held-out sets — and is a "
        "pure map-side filter (no state, no seed plumbing, prunes "
        "before the shuffle)"
    ),
    tags=("events", "sampling"),
)
def evt_hash_sample(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    keep = F.md5(F.col("event_id").cast("string")).substr(1, 2) < "40"
    return (
        ev.filter(keep)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("value_c").alias("sum_c"),
        )
    )


@register(
    "emb_class_downsample",
    oracle="""
    WITH r AS (
      SELECT label, vec_id,
             row_number() OVER (
               PARTITION BY label
               ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC) AS rn
      FROM embeddings)
    SELECT label, CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(vec_id) AS BIGINT) AS sum_vec_id
    FROM r WHERE rn <= 40 GROUP BY label
    """,
    description=(
        "class balancing: cap every label at 40 examples, chosen by "
        "deterministic md5(vec_id) order (a reproducible shuffle — no "
        "rand()). Per-label rank window shuffles once on label; at "
        "scale with a hot label, pre-filter with an approximate "
        "per-label md5-prefix threshold so the window only ranks "
        "~cap-sized groups (same trick as split.py's quantile path). "
        "sum_vec_id pins the EXACT surviving set, not just its size"
    ),
    tags=("embeddings", "sampling"),
)
def emb_class_downsample(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings").select("label", "vec_id")
    w = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")).asc(), F.col("vec_id").asc()
    )
    return (
        emb.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 40)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("vec_id").alias("sum_vec_id"),
        )
    )


@register(
    "rel_cube_revenue",
    oracle="""
    SELECT n.n_name, o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o.o_totalprice*100) AS BIGINT)) AS BIGINT)
             AS revenue_c
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY CUBE (n.n_name, o.o_orderpriority)
    """,
    description=(
        "CUBE grouping sets (all four (nation, priority) marginals in "
        "one pass): Spark expands the cube into grouping sets inside a "
        "single Expand+hash-agg — one shuffle for all 4 granularities, "
        "vs 4 separate scans+aggs if written naively. Complements "
        "rel_rollup_revenue (hierarchical subset)"
    ),
    tags=("relational", "aggregate", "grouping-sets"),
)
def rel_cube_revenue(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .cube("n_name", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents("o_totalprice")).alias("revenue_c"),
        )
    )


@register(
    "rel_unpivot_returnflag_measures",
    oracle="""
    WITH wide AS (
      SELECT l_returnflag,
             CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT)
               AS qty_c,
             CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
               AS price_c,
             CAST(sum(CAST(round(l_discount*100) AS BIGINT)) AS BIGINT)
               AS disc_c
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, 'qty_c' AS measure, qty_c AS value_c FROM wide
    UNION ALL
    SELECT l_returnflag, 'price_c', price_c FROM wide
    UNION ALL
    SELECT l_returnflag, 'disc_c', disc_c FROM wide
    """,
    description=(
        "unpivot / melt (wide->long, inverse of rel_pivot_status): "
        "aggregate once, then DataFrame.unpivot emits one row per "
        "(key, measure) — an Expand node over the tiny aggregated "
        "frame, not a re-scan per measure column"
    ),
    tags=("relational", "reshape"),
)
def rel_unpivot_returnflag_measures(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(cents("l_quantity")).alias("qty_c"),
        F.sum(cents("l_extendedprice")).alias("price_c"),
        F.sum(cents("l_discount")).alias("disc_c"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["qty_c", "price_c", "disc_c"],
        variableColumnName="measure",
        valueColumnName="value_c",
    )


@register(
    "rel_scd2_priority_dim",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority
      FROM orders),
    flagged AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
             CASE WHEN lag(o_orderpriority) OVER w IS DISTINCT FROM
                       o_orderpriority
                  THEN 1 ELSE 0 END AS brk
      FROM o
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey)),
    runs AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
             sum(brk) OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey
                            ROWS UNBOUNDED PRECEDING) AS version
      FROM flagged),
    dim AS (
      SELECT o_custkey, CAST(version AS BIGINT) AS version,
             o_orderpriority AS priority,
             min(o_orderdate) AS effective_from,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM runs GROUP BY o_custkey, version, o_orderpriority)
    SELECT o_custkey, version, priority, effective_from,
           lead(effective_from) OVER (PARTITION BY o_custkey
                                      ORDER BY version) AS effective_to,
           n_orders
    FROM dim
    """,
    description=(
        "SCD type-2 dimension build: per customer, consecutive orders "
        "with the same priority collapse into one versioned row with "
        "[effective_from, effective_to) validity (NULL to = current). "
        "Run-length encoding via lag-change flag + running sum, then "
        "lead() stitches validity ranges. ONE shuffle on custkey "
        "services every window and the group-by (same partitioning); "
        "this is the standard CDC/warehouse versioning shape"
    ),
    tags=("relational", "window", "scd2"),
)
def rel_scd2_priority_dim(spark, sf_dir):
    o = t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    wo = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    flagged = o.withColumn(
        "brk",
        F.when(
            ~F.lag("o_orderpriority").over(wo).eqNullSafe(
                F.col("o_orderpriority")
            ),
            1,
        ).otherwise(0),
    )
    runs = flagged.withColumn(
        "version",
        F.sum("brk").over(wo.rowsBetween(Window.unboundedPreceding, 0)),
    )
    dim = runs.groupBy(
        "o_custkey",
        F.col("version").cast("bigint").alias("version"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(
        F.min("o_orderdate").alias("effective_from"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    wv = Window.partitionBy("o_custkey").orderBy("version")
    return dim.select(
        "o_custkey",
        "version",
        "priority",
        "effective_from",
        F.lead("effective_from").over(wv).alias("effective_to"),
        "n_orders",
    )


@register(
    "evt_incremental_monthly_agg",
    oracle="""
    SELECT date_trunc('month', CAST(ts AS TIMESTAMP)) AS month,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_c_sum,
           CAST(min(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_c_min,
           CAST(max(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_c_max
    FROM events
    GROUP BY 1, 2
    """,
    description=(
        "incremental materialized-rollup maintenance: the engine path "
        "splits events at a cutoff into 'stored history' and 'new "
        "batch', computes per-(month,type) PARTIALS for each side, and "
        "MERGES them (count/sum/min/max fold; never avg-of-avgs) — the "
        "oracle is the full recompute, so the differential proves the "
        "partial forms are associative bit-for-bit. At 100 TB the "
        "history partials are |groups| rows and the fact table is "
        "never rescanned; only key-receiving month partitions rewrite"
    ),
    tags=("events", "aggregate", "incremental"),
)
def evt_incremental_monthly_agg(spark, sf_dir):
    from ..operators.incremental import merge_partials, partial_agg

    ev = keyed_events(spark, sf_dir).select(
        F.date_trunc("month", "ts").alias("month"), "event_type", "value_c", "ts"
    )
    # cutoff mid-fixture: everything before is "stored state", the rest
    # is the arriving batch (any constant works — the merge must equal
    # the full recompute regardless of where history was cut)
    cutoff = F.lit("2024-03-15").cast("timestamp")
    keys = ["month", "event_type"]
    old = partial_agg(
        ev.filter(F.col("ts") < cutoff),
        keys,
        sums=["value_c"],
        mins=["value_c"],
        maxs=["value_c"],
    )
    new = partial_agg(
        ev.filter(F.col("ts") >= cutoff),
        keys,
        sums=["value_c"],
        mins=["value_c"],
        maxs=["value_c"],
    )
    merged = merge_partials(old, new, keys)
    return merged.select(
        "month",
        "event_type",
        "n",
        F.col("sum_value_c").alias("value_c_sum"),
        F.col("min_value_c").alias("value_c_min"),
        F.col("max_value_c").alias("value_c_max"),
    )


@register(
    "evt_anomaly_zscore",
    oracle="""
    WITH k AS (
      SELECT event_id, user_id, event_type,
             CAST(round(value*100) AS BIGINT) AS value_c
      FROM events),
    stats AS (
      SELECT user_id, event_type,
             CAST(count(*) AS BIGINT) AS n,
             sum(value_c) AS s,
             sum(value_c * value_c) AS ss
      FROM k GROUP BY user_id, event_type),
    scored AS (
      SELECT k.event_id, k.user_id, k.event_type, k.value_c,
             round(
               (k.value_c - CAST(s AS DOUBLE) / n)
               / sqrt(CAST(ss AS DOUBLE) / n
                      - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)),
               6) AS z
      FROM k JOIN stats USING (user_id, event_type)
      WHERE n >= 2 AND ss * n > s * s)
    SELECT event_id, user_id, event_type, value_c, z,
           abs(z) > 3.0 AS is_anomaly
    FROM scored
    """,
    description=(
        "per-series z-score anomaly flags: population mean/std from "
        "exact integer sums (sum, sum-of-squares — single agg pass, "
        "never two-pass), joined back to rows; |z|>3 flags outliers. "
        "Degenerate series (n<2 or zero variance, integer-compare "
        "ss*n>s*s) excluded in both engines. The stats join is "
        "agg-to-fact on the series key: one shuffle each side, "
        "identical division/sqrt trees, round-6 determinism"
    ),
    tags=("events", "aggregate", "quality"),
)
def evt_anomaly_zscore(spark, sf_dir):
    ev = keyed_events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value_c"
    )
    stats = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value_c").alias("s"),
        F.sum(F.col("value_c") * F.col("value_c")).alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = F.col("ss").cast("double") / F.col("n") - mean * mean
    scored = (
        ev.join(stats, ["user_id", "event_type"])
        .filter((F.col("n") >= 2) & (F.col("ss") * F.col("n") > F.col("s") * F.col("s")))
        .withColumn("z", F.round((F.col("value_c") - mean) / F.sqrt(var), 6))
    )
    return scored.select(
        "event_id",
        "user_id",
        "event_type",
        "value_c",
        "z",
        (F.abs(F.col("z")) > 3.0).alias("is_anomaly"),
    )


@register(
    "rel_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey,
             min(date_trunc('month', o_orderdate)) AS cohort_month
      FROM orders GROUP BY o_custkey),
    activity AS (
      SELECT DISTINCT o.o_custkey, f.cohort_month,
             datediff('month', f.cohort_month,
                      date_trunc('month', o.o_orderdate)) AS month_offset
      FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey)
    SELECT CAST(cohort_month AS DATE) AS cohort_month,
           CAST(month_offset AS INT) AS month_offset,
           CAST(count(*) AS BIGINT) AS n_active
    FROM activity
    WHERE month_offset <= 6
    GROUP BY cohort_month, month_offset
    """,
    description=(
        "cohort retention matrix: customers grouped by first-order "
        "month, counted active per month offset (0..6). Two shuffles "
        "on custkey (first-order agg, then the distinct) — the "
        "agg-back-join reuses the custkey partitioning; the matrix "
        "itself is |cohorts|x7 rows. The standard growth-analytics "
        "shape, expressed without any window over the full fact table"
    ),
    tags=("relational", "aggregate", "cohort"),
)
def rel_cohort_retention(spark, sf_dir):
    o = t(spark, sf_dir, "orders").select(
        "o_custkey", F.date_trunc("month", "o_orderdate").alias("om")
    )
    firsts = o.groupBy("o_custkey").agg(F.min("om").alias("cohort_month"))
    activity = (
        o.join(firsts, "o_custkey")
        .select(
            "o_custkey",
            "cohort_month",
            (
                (F.year("om") - F.year("cohort_month")) * 12
                + (F.month("om") - F.month("cohort_month"))
            ).alias("month_offset"),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("month_offset") <= 6)
        .groupBy(
            F.col("cohort_month").cast("date").alias("cohort_month"),
            F.col("month_offset").cast("int").alias("month_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@register(
    "evt_gap_fill",
    oracle="""
    WITH k AS (
      SELECT event_id, user_id, event_type,
             CAST(ts AS TIMESTAMP) AS ts,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             CAST(round(value*100) AS BIGINT) AS value_c
      FROM events WHERE user_id < 5),
    daily AS (
      SELECT user_id, event_type, day, value_c FROM (
        SELECT user_id, event_type, day, value_c,
               row_number() OVER (PARTITION BY user_id, event_type, day
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM k) WHERE rn = 1),
    bounds AS (
      SELECT user_id, event_type, min(day) AS d0, max(day) AS d1
      FROM k GROUP BY user_id, event_type),
    grid AS (
      SELECT user_id, event_type, CAST(u.d AS DATE) AS day
      FROM bounds, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS u(d)),
    joined AS (
      SELECT g.user_id, g.event_type, g.day, d.value_c
      FROM grid g LEFT JOIN daily d
        ON g.user_id = d.user_id AND g.event_type = d.event_type
       AND g.day = d.day),
    grp AS (
      SELECT user_id, event_type, day, value_c,
             count(value_c) OVER (PARTITION BY user_id, event_type
                                  ORDER BY day
                                  ROWS UNBOUNDED PRECEDING) AS fg
      FROM joined)
    SELECT user_id, event_type, day,
           CAST(max(value_c) OVER (PARTITION BY user_id, event_type, fg)
                AS BIGINT) AS value_c_filled,
           value_c IS NULL AS is_gap
    FROM grp
    """,
    description=(
        "calendar densification + forward fill (pandas resample().ffill "
        "parity): per series, a daily grid from first to last "
        "observation, last-observation-per-day joined on, gaps carried "
        "forward via the fill-group trick (running non-null count -> "
        "max per group) — identical window trees in both engines, no "
        "IGNORE NULLS dialect dependence. Grid generation is "
        "sequence()+explode per series (map-side; output volume is the "
        "cost); every window shares the series-key shuffle. Restricted "
        "to user_id<5 to keep the differential fixture-sized"
    ),
    tags=("events", "window", "resample"),
)
def evt_gap_fill(spark, sf_dir):
    ev = keyed_events(spark, sf_dir).filter(F.col("user_id") < 5).select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.to_date("ts").alias("day"),
        "value_c",
    )
    wd = Window.partitionBy("user_id", "event_type", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    daily = (
        ev.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "day", "value_c")
    )
    bounds = ev.groupBy("user_id", "event_type").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = bounds.select(
        "user_id",
        "event_type",
        F.explode(
            F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    joined = grid.join(daily, ["user_id", "event_type", "day"], "left")
    ws = Window.partitionBy("user_id", "event_type").orderBy("day")
    grp = joined.withColumn(
        "fg",
        F.count("value_c").over(ws.rowsBetween(Window.unboundedPreceding, 0)),
    )
    wg = Window.partitionBy("user_id", "event_type", "fg")
    return grp.select(
        "user_id",
        "event_type",
        "day",
        F.max("value_c").over(wg).cast("bigint").alias("value_c_filled"),
        F.col("value_c").isNull().alias("is_gap"),
    )


@register(
    "evt_spearman_view_purchase",
    oracle="""
    WITH k AS (
      SELECT user_id, event_type,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             CAST(round(value*100) AS BIGINT) AS value_c
      FROM events WHERE event_type IN ('view', 'purchase')),
    daily AS (
      SELECT user_id, event_type, day, sum(value_c) AS v
      FROM k GROUP BY user_id, event_type, day),
    paired AS (
      SELECT a.user_id, a.day, a.v AS v_view, b.v AS v_purch
      FROM daily a JOIN daily b
        ON a.user_id = b.user_id AND a.day = b.day
       AND a.event_type = 'view' AND b.event_type = 'purchase'),
    ranked AS (
      SELECT user_id, day,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY v_view ASC, day ASC) AS rv,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY v_purch ASC, day ASC) AS rp
      FROM paired),
    agg AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum((rv - rp) * (rv - rp)) AS BIGINT) AS sum_d2
      FROM ranked GROUP BY user_id)
    SELECT user_id, n, sum_d2,
           round(1.0 - 6.0 * sum_d2 / (n * (CAST(n AS DOUBLE) * n - 1)), 6)
             AS spearman
    FROM agg WHERE n >= 3
    """,
    description=(
        "cross-series rank correlation: per user, Spearman rho between "
        "daily view value and daily purchase value on days having "
        "both. Ranks are row_number with a day tie-break (a true "
        "permutation, engine-identical), so sum(d^2) is EXACT integer "
        "arithmetic and rho = 1 - 6*sum_d2/(n(n^2-1)) is one rounded "
        "division — no float-sum-order sensitivity, unlike a naive "
        "corr() aggregate. Shape: daily rollup + self-join on the "
        "user/day key + two rank windows sharing the user partition"
    ),
    tags=("events", "window", "statistics"),
)
def evt_spearman_view_purchase(spark, sf_dir):
    k = keyed_events(spark, sf_dir).filter(
        F.col("event_type").isin("view", "purchase")
    ).select("user_id", "event_type", F.to_date("ts").alias("day"), "value_c")
    daily = k.groupBy("user_id", "event_type", "day").agg(
        F.sum("value_c").alias("v")
    )
    a = daily.filter(F.col("event_type") == "view").select(
        "user_id", "day", F.col("v").alias("v_view")
    )
    b = daily.filter(F.col("event_type") == "purchase").select(
        "user_id", "day", F.col("v").alias("v_purch")
    )
    paired = a.join(b, ["user_id", "day"])
    wv = Window.partitionBy("user_id").orderBy(F.col("v_view").asc(), F.col("day").asc())
    wp = Window.partitionBy("user_id").orderBy(F.col("v_purch").asc(), F.col("day").asc())
    ranked = paired.select(
        "user_id",
        F.row_number().over(wv).alias("rv"),
        F.row_number().over(wp).alias("rp"),
    )
    agg = ranked.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("rv") - F.col("rp")) * (F.col("rv") - F.col("rp")))
        .cast("bigint")
        .alias("sum_d2"),
    )
    return agg.filter(F.col("n") >= 3).select(
        "user_id",
        "n",
        "sum_d2",
        F.round(
            1.0
            - 6.0
            * F.col("sum_d2")
            / (F.col("n") * (F.col("n").cast("double") * F.col("n") - 1)),
            6,
        ).alias("spearman"),
    )


@register(
    "evt_data_quality_audit",
    oracle="""
    WITH k AS (
      SELECT event_id, user_id, event_type,
             CAST(ts AS TIMESTAMP) AS ts,
             CAST(round(value*100) AS BIGINT) AS value_c,
             props
      FROM events),
    dup AS (
      SELECT CAST(count(*) AS BIGINT) AS n_dup_ids FROM (
        SELECT event_id FROM k GROUP BY event_id HAVING count(*) > 1))
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null_type,
           CAST(sum(CASE WHEN value_c IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null_value,
           CAST(sum(CASE WHEN value_c < 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_negative_value,
           CAST(sum(CASE WHEN ts < TIMESTAMP '2020-01-01'
                           OR ts > TIMESTAMP '2030-01-01'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_ts_out_of_range,
           CAST(sum(CASE WHEN props IS NULL
                           OR json_valid(props) = false
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_json,
           (SELECT n_dup_ids FROM dup) AS n_dup_ids
    FROM k
    """,
    description=(
        "declarative data-quality audit (expectations-style): one pass "
        "computes every expectation counter — null rates, range "
        "violations, malformed JSON, out-of-window timestamps — as "
        "conditional sums in a single hash aggregate (no per-check "
        "scans), plus a duplicate-natural-key count from one groupBy. "
        "The shape a 100 TB nightly audit needs: two jobs total, "
        "both with map-side partial aggregation"
    ),
    tags=("events", "aggregate", "quality"),
)
def evt_data_quality_audit(spark, sf_dir):
    ev = keyed_events(spark, sf_dir)
    dup = (
        ev.groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count(F.lit(1)).alias("n_dup_ids"))
    )
    audit = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("event_type").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_null_type"),
        F.sum(F.when(F.col("value_c").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_null_value"),
        F.sum(F.when(F.col("value_c") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_negative_value"),
        F.sum(
            F.when(
                (F.col("ts") < F.lit("2020-01-01").cast("timestamp"))
                | (F.col("ts") > F.lit("2030-01-01").cast("timestamp")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_ts_out_of_range"),
        F.sum(
            F.when(
                F.col("props").isNull()
                | F.try_parse_json(F.col("props")).isNull(),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_bad_json"),
    )
    return audit.crossJoin(F.broadcast(dup))


def _tree_oracle_sql() -> str:
    from ..operators.treecompile import STUB_TREES, ensemble_to_sql

    score_expr = ensemble_to_sql(STUB_TREES, learning_rate=0.5, base_score=100.0)
    return f"""
    WITH k AS (
      SELECT event_id, user_id, event_type,
             CAST(ts AS TIMESTAMP) AS ts,
             CAST(round(value*100) AS BIGINT) AS value_c
      FROM events),
    feat AS (
      SELECT event_id,
             lag(value_c) OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS lag1_c,
             CASE event_type WHEN 'view' THEN 0 WHEN 'signup' THEN 1
                             WHEN 'purchase' THEN 2 ELSE 3 END AS impact_ord
      FROM k)
    SELECT event_id, CAST(lag1_c AS BIGINT) AS lag1_c,
           CAST(impact_ord AS INT) AS impact_ord,
           CAST(round({score_expr}, 6) AS DOUBLE) AS score
    FROM feat
    """


@register(
    "evt_tree_scoring_sql",
    oracle=_tree_oracle_sql(),
    description=(
        "tree-ensemble scoring COMPILED to column expressions "
        "(operators/treecompile.py): the fitted model is data, so a "
        "small GBT lowers into nested CASE WHEN — whole-stage-codegen, "
        "zero Python workers, and the identical CASE text runs as the "
        "oracle (model-to-SQL portability). NULL lag features follow "
        "the default-right convention in both engines. At 100 TB "
        "scoring fuses into the scan as a free map stage — the "
        "counterpart strategy to the pandas_udf inference islands"
    ),
    tags=("events", "inference", "codegen"),
)
def evt_tree_scoring_sql(spark, sf_dir):
    from ..operators.treecompile import STUB_TREES, compile_ensemble

    ev = keyed_events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    feat = ev.select(
        "event_id",
        F.lag("value_c").over(w).alias("lag1_c"),
        F.when(F.col("event_type") == "view", 0)
        .when(F.col("event_type") == "signup", 1)
        .when(F.col("event_type") == "purchase", 2)
        .otherwise(3)
        .cast("int")
        .alias("impact_ord"),
    )
    return feat.select(
        "event_id",
        "lag1_c",
        "impact_ord",
        F.round(
            compile_ensemble(STUB_TREES, learning_rate=0.5, base_score=100.0), 6
        ).alias("score"),
    )


#: SQL-surface parity (S3): the engine accepts arbitrary ANSI SQL over
#: registered views — this text runs VERBATIM in Spark and (module the
#: cents cast) in the DuckDB oracle, proving the SQL entry point is a
#: first-class query surface, not a demo.
_SQL_MONTHLY_SHARE = """
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             o_orderpriority AS priority,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2),
    tot AS (
      SELECT month, sum(n) AS mn FROM m GROUP BY month)
    SELECT m.month, m.priority, m.n,
           round(m.n / CAST(t.mn AS DOUBLE), 6) AS share,
           CAST(sum(m.n) OVER (PARTITION BY m.priority ORDER BY m.month
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS running_n
    FROM m JOIN tot t ON m.month = t.month
"""


@register(
    "sql_monthly_priority_share",
    oracle=_SQL_MONTHLY_SHARE,
    description=(
        "SQL entry-point parity, part 2: a CTE + join + window query "
        "submitted as RAW SQL text via spark.sql over registered views "
        "— the exact same text is the DuckDB oracle, so the surface "
        "contract (ANSI SQL in, DataFrame out) is proven verbatim, "
        "CTEs/windows included. Catalyst plans it identically to the "
        "DataFrame form: agg -> broadcast agg-join -> priority window"
    ),
    tags=("relational", "sql-entry", "window"),
)
def sql_monthly_priority_share(spark, sf_dir):
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_MONTHLY_SHARE)
