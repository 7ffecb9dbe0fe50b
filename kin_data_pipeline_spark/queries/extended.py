"""Extended operator coverage beyond the reference's inventory: pivot,
rollup/grouping sets, batch sessionization, the classic TPC-H Q3 shape, and
approximate distinct counting (rows-only check — HLL sketches are
engine-specific by construction).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kin_data_pipeline_spark.queries.registry import register
from kin_data_pipeline_spark.sources.catalog import load_table

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PNAMES = ["urgent", "high", "medium", "not_specified", "low"]

# Pivot: wide per-month priority counts. Spark's .pivot() compiles to the
# same single-pass conditional aggregation the oracle spells out.
@register(
    "monthly_priority_pivot",
    """
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           {cols}
    FROM orders GROUP BY 1
    """.format(
        cols=",\n           ".join(
            f"CAST(COUNT(CASE WHEN o_orderpriority = '{p}' THEN 1 END) AS BIGINT) AS n_{n}"
            for p, n in zip(PRIORITIES, _PNAMES)
        )
    ),
    doc="pivot to wide per-priority counts (single-pass conditional agg)",
)
def monthly_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    pivoted = (
        o.groupBy(F.trunc(F.to_date("o_orderdate"), "month").alias("month"))
        .pivot("o_orderpriority", PRIORITIES)
        .agg(F.count(F.lit(1)))
    )
    renamed = pivoted
    for p, n in zip(PRIORITIES, _PNAMES):
        renamed = renamed.withColumnRenamed(p, f"n_{n}")
    # pivot yields NULL for empty cells; the CASE-count oracle yields 0
    return renamed.select(
        "month", *[F.coalesce(f"n_{n}", F.lit(0)).alias(f"n_{n}") for n in _PNAMES]
    )

# Rollup / grouping sets with explicit grouping indicators.
@register(
    "revenue_rollup_region_nation",
    """
    SELECT CASE WHEN GROUPING(r.r_name) = 1 THEN 'ALL' ELSE r.r_name END AS region,
           CASE WHEN GROUPING(n.n_name) = 1 THEN 'ALL' ELSE n.n_name END AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
    doc="rollup hierarchy totals with grouping indicators (A10 superset)",
)
def revenue_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
            F.grouping("r_name").alias("g_r"),
            F.grouping("n_name").alias("g_n"),
        )
        .select(
            F.when(F.col("g_r") == 1, F.lit("ALL")).otherwise(F.col("r_name")).alias("region"),
            F.when(F.col("g_n") == 1, F.lit("ALL")).otherwise(F.col("n_name")).alias("nation"),
            "n_orders",
            "revenue",
        )
    )

# Heterogeneous GROUPING SETS (beyond rollup's nested prefixes): per-region
# totals and per-mktsegment totals from ONE pass over the join — the
# cross-axis reporting shape rollup cannot express.
@register(
    "region_segment_grouping_sets",
    """
    SELECT CASE WHEN GROUPING(r.r_name) = 1 THEN 'ALL' ELSE r.r_name END AS region,
           CASE WHEN GROUPING(c.c_mktsegment) = 1 THEN 'ALL' ELSE c.c_mktsegment END AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY GROUPING SETS ((r.r_name), (c.c_mktsegment))
    """,
    doc="heterogeneous grouping sets: region totals + segment totals in one pass",
)
def region_segment_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    joined.createOrReplaceTempView("__gs_joined")
    return joined.sparkSession.sql(
        """
        SELECT CASE WHEN GROUPING(r_name) = 1 THEN 'ALL' ELSE r_name END AS region,
               CASE WHEN GROUPING(c_mktsegment) = 1 THEN 'ALL' ELSE c_mktsegment END AS segment,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM __gs_joined
        GROUP BY GROUPING SETS ((r_name), (c_mktsegment))
        """
    )

# TPC-H Q5 shape (local-supplier revenue): the 6-table snowflake join —
# region→nation fans to BOTH customer and supplier sides, lineitem bridges
# them, and the local-supplier condition equates the two nation keys. All
# dims broadcast; the only shuffles are the orders⨝lineitem equi-join and
# the final aggregation.
@register(
    "local_supplier_revenue_q5",
    """
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1997-01-01'
    GROUP BY n.n_name
    """,
    doc="TPC-H Q5 shape: 6-table snowflake join, local-supplier condition, year filter",
)
def local_supplier_revenue_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    year = o.filter(
        (F.to_date("o_orderdate") >= F.lit("1996-01-01"))
        & (F.to_date("o_orderdate") < F.lit("1997-01-01"))
    )
    joined = (
        year.join(F.broadcast(c), year.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == year.o_orderkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        F.count(F.lit(1)).alias("n_lineitems"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(8,2)"))
        )
        .cast("double")
        .alias("revenue"),
    )

# Distribution windows (W-surface breadth): ntile deciles + percent_rank +
# cume_dist over order values — rank-normalized statistics every corpus/
# score analysis needs. Windows are PARTITIONED (per priority class), never
# global: a global ntile forces a single-partition total sort, the one
# window shape that cannot scale (the global variant of any rank statistic
# belongs to the exact-percentile rank-selection pattern used by
# doc_length_percentiles instead).
@register(
    "order_value_deciles",
    """
    WITH w AS (
      SELECT o_orderpriority,
             NTILE(10) OVER (PARTITION BY o_orderpriority
                             ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) ASC, o_orderkey ASC) AS decile,
             PERCENT_RANK() OVER (PARTITION BY o_orderpriority
                             ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) ASC, o_orderkey ASC) AS pr,
             CUME_DIST() OVER (PARTITION BY o_orderpriority
                             ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) ASC, o_orderkey ASC) AS cd,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders
    )
    SELECT o_orderpriority AS priority, CAST(decile AS INT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(price) AS DOUBLE) AS min_price,
           CAST(MAX(price) AS DOUBLE) AS max_price,
           ROUND(MAX(pr), 6) AS max_percent_rank,
           ROUND(MAX(cd), 6) AS max_cume_dist
    FROM w GROUP BY o_orderpriority, decile
    """,
    doc="ntile/percent_rank/cume_dist distribution windows per priority class",
)
def order_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").cast("decimal(18,2)").asc(), F.col("o_orderkey").asc()
    )
    scored = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.ntile(10).over(w).alias("decile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    return scored.groupBy("priority", F.col("decile").cast("int").alias("decile")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("price").cast("double").alias("min_price"),
        F.max("price").cast("double").alias("max_price"),
        F.round(F.max("pr"), 6).alias("max_percent_rank"),
        F.round(F.max("cd"), 6).alias("max_cume_dist"),
    )

# Batch sessionization: lag-gap flags + running sum = session ids — the
# batch twin of streaming session_window (both in the engine).
@register(
    "user_sessions_batch",
    """
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                       LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), numbered AS (
      SELECT *, SUM(new_session) OVER (
        PARTITION BY user_id ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
    FROM numbered GROUP BY user_id, session_id
    """,
    doc="sessionization via lag-gap + running sum (batch twin of session_window)",
)
def user_sessions_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w = Window.partitionBy("user_id").orderBy(*order)
    gap = F.col("ts").cast("long") - F.lag(F.col("ts")).over(w).cast("long")
    flagged = ev.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull() | (gap > 30 * 60), 1).otherwise(0),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    numbered = flagged.withColumn(
        "session_id", F.sum("new_session").over(w_run).cast("long")
    )
    return numbered.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("session_value"),
    )

# SCD2 history build — the classic warehouse dimension-versioning op the
# reference's snapshot-shaped marts imply but never materialize: compress
# each entity's attribute stream into validity intervals
# [valid_from, valid_to) with an open interval for the current version.
# Gaps-and-islands via change-flag + running sum (the same two-window shape
# as sessionization above, keyed on value change instead of time gap); all
# windows partition by the entity key, so the build scales as one shuffle
# on user_id with no global ordering anywhere.
@register(
    "scd2_user_event_type_history",
    """
    WITH flagged AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN LAG(event_type) OVER w IS NULL
                       OR event_type <> LAG(event_type) OVER w
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT *, CAST(SUM(chg) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS BIGINT) AS version_id
      FROM flagged
    ), runs AS (
      SELECT user_id, version_id, MIN(event_type) AS attr,
             MIN(ts) AS valid_from, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM numbered GROUP BY user_id, version_id
    )
    SELECT user_id, version_id, attr, valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version_id)
             AS valid_to,
           n_events,
           CAST(CASE WHEN LEAD(valid_from) OVER (
                  PARTITION BY user_id ORDER BY version_id) IS NULL
                THEN 1 ELSE 0 END AS INT) AS is_current
    FROM runs
    """,
    doc=(
        "SCD2 dimension history: per-user event_type runs compressed into "
        "validity intervals (change-flag + running sum, open current row)"
    ),
)
def scd2_user_event_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    flagged = ev.withColumn(
        "chg",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.col("event_type") != F.lag("event_type").over(w)),
            1,
        ).otherwise(0),
    )
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    numbered = flagged.withColumn("version_id", F.sum("chg").over(w_run).cast("long"))
    runs = numbered.groupBy("user_id", "version_id").agg(
        F.min("event_type").alias("attr"),
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    w_v = Window.partitionBy("user_id").orderBy("version_id")
    return runs.select(
        "user_id",
        "version_id",
        "attr",
        "valid_from",
        F.lead("valid_from").over(w_v).alias("valid_to"),
        "n_events",
        F.lead("valid_from").over(w_v).isNull().cast("int").alias("is_current"),
    )

# Point-in-time (as-of) enrichment against an SCD2 dimension — the read
# side of the versioning pattern above, and the warehouse op the reference's
# snapshot marts imply (every "state at the time of the event" report needs
# it). The history here is a DAILY-grain SCD2: per (user, day) the dominant
# event_type (argmax by count, event_type tiebreak) compressed into validity
# intervals; each individual event then joins to the version covering its
# day — so the attached attribute is the user's day-dominant behavior, not
# the event's own type. Scale shape: the interval join is an equi-join on
# user_id with a range residual — Spark co-partitions both sides on the
# user key (one shuffle each) and the per-user interval list is tiny (#
# distinct behavior runs), so the residual never degenerates into a range
# cross-product; nothing broadcasts or loops.
@register(
    "scd2_point_in_time_enrichment",
    """
    WITH daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2, 3
    ), dominant AS (
      SELECT user_id, day, event_type AS attr FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY user_id, day ORDER BY n DESC, event_type ASC) AS rn
        FROM daily
      ) WHERE rn = 1
    ), flagged AS (
      SELECT user_id, day, attr,
             CASE WHEN LAG(attr) OVER w IS NULL OR attr <> LAG(attr) OVER w
                  THEN 1 ELSE 0 END AS chg
      FROM dominant WINDOW w AS (PARTITION BY user_id ORDER BY day)
    ), runs AS (
      SELECT user_id,
             CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS version_id,
             attr, day
      FROM flagged
    ), hist AS (
      SELECT user_id, version_id, MIN(attr) AS attr,
             MIN(day) AS valid_from,
             LEAD(MIN(day)) OVER (PARTITION BY user_id ORDER BY version_id)
               AS valid_to
      FROM runs GROUP BY user_id, version_id
    )
    SELECT h.attr AS dominant_attr, e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM events e
    JOIN hist h
      ON e.user_id = h.user_id
     AND CAST(date_trunc('day', e.ts) AS DATE) >= h.valid_from
     AND (h.valid_to IS NULL OR CAST(date_trunc('day', e.ts) AS DATE) < h.valid_to)
    GROUP BY 1, 2
    """,
    doc=(
        "point-in-time join: events enriched with the SCD2 version valid at "
        "their day (daily dominant-behavior dimension, interval residual on "
        "a user_id equi-join)"
    ),
)
def scd2_point_in_time_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date(F.date_trunc("day", F.col("ts")))
    )
    daily = ev.groupBy("user_id", "day", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w_rank = Window.partitionBy("user_id", "day").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    dominant = (
        daily.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select("user_id", "day", F.col("event_type").alias("attr"))
    )
    w_day = Window.partitionBy("user_id").orderBy("day")
    flagged = dominant.withColumn(
        "chg",
        F.when(
            F.lag("attr").over(w_day).isNull()
            | (F.col("attr") != F.lag("attr").over(w_day)),
            1,
        ).otherwise(0),
    )
    numbered = flagged.withColumn(
        "version_id",
        F.sum("chg")
        .over(w_day.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    runs = numbered.groupBy("user_id", "version_id").agg(
        F.min("attr").alias("attr"), F.min("day").alias("valid_from")
    )
    w_v = Window.partitionBy("user_id").orderBy("version_id")
    hist = runs.select(
        "user_id",
        F.col("attr").alias("dominant_attr"),
        "valid_from",
        F.lead("valid_from").over(w_v).alias("valid_to"),
    )
    e = ev.select("user_id", "day", "event_type").alias("e")
    h = hist.alias("h")
    joined = e.join(
        h,
        (F.col("e.user_id") == F.col("h.user_id"))
        & (F.col("e.day") >= F.col("h.valid_from"))
        & (F.col("h.valid_to").isNull() | (F.col("e.day") < F.col("h.valid_to"))),
    )
    return joined.groupBy("dominant_attr", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct(F.col("e.user_id")).cast("long").alias("n_users"),
    )

# TPC-H Q3 shape: selective multi-join + agg + rank (the classic OLAP plan:
# two broadcastable filters on either side of the big fact).
@register(
    "shipping_priority_q3",
    """
    WITH agg AS (
      SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS revenue
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment = 'BUILDING'
        AND CAST(date_trunc('day', o.o_orderdate) AS DATE) < DATE '1998-03-15'
        AND CAST(date_trunc('day', l.l_shipdate) AS DATE) > DATE '1998-03-15'
      GROUP BY 1, 2, 3
    )
    SELECT * FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY revenue DESC, l_orderkey ASC) AS INT) AS rnk
      FROM agg
    ) WHERE rnk <= 10
    """,
    doc="TPC-H Q3 shape: selective joins + agg + global top-k",
)
def shipping_priority_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    agg = (
        li.filter(F.to_date("l_shipdate") > F.lit("1998-03-15"))
        .join(
            o.filter(F.to_date("o_orderdate") < F.lit("1998-03-15")),
            li.l_orderkey == o.o_orderkey,
        )
        .join(
            F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING")),
            o.o_custkey == c.c_custkey,
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            # Rank keys convert to double on BOTH sides before the window, so
            # any two revenues that collapse to one double tie identically.
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(8,2)"))
            )
            .cast("double")
            .alias("revenue")
        )
    )
    # Global top-10 via orderBy+limit (compiles to TakeOrderedAndProject:
    # per-partition heaps + a 10-row driver merge) — a rank-window-then-
    # filter over the per-order aggregate would single-partition-sort every
    # qualifying order at 100 TB. The row_number window runs on the 10
    # selected rows only.
    top = agg.orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10)
    w = Window.orderBy(F.desc("revenue"), F.asc("l_orderkey"))
    return top.withColumn("rnk", F.row_number().over(w).cast("int"))

# Approximate distinct (HLL++), driver-checkable (VERDICT r4 ask #2): the
# estimate itself can never hash-match a DuckDB oracle (sketch internals are
# engine-specific), so the registered terminals are the EXACT count plus an
# integer `within_bound` flag computed in-query — the oracle recomputes the
# exact side and emits a literal 1, so the hash verifies the estimate's
# error bound end-to-end. The raw-estimate twin stays available unregistered
# (`approx_daily_active_users_estimates`) for the sketch accuracy tests.
def approx_daily_active_users_estimates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.approx_count_distinct("user_id", 0.01).alias("approx_active"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )

def _within(approx, exact, rel: float = 0.05, abs_floor: int = 2):
    """Integer error-bound terminal: 1 iff |approx − exact| ≤
    max(abs_floor, rel·exact). rel defaults to ≈6 standard errors of the
    HLL/HLL++ configs used here (rsd 0.01 / lgK=14 → RSE ≈ 0.8%) — loose
    enough to never flake, tight enough that a broken merge fails."""
    bound = F.greatest(F.lit(float(abs_floor)), F.lit(rel) * exact)
    return (F.abs(approx - exact) <= bound).cast("int")

@register(
    "approx_daily_active_users",
    """
    SELECT CAST(ts AS DATE) AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_active,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(1 AS INT) AS within_bound
    FROM events GROUP BY 1
    """,
    doc=(
        "approx_count_distinct daily actives audited in-query: exact count "
        "+ integer within-error-bound terminal (hash-checkable sketch)"
    ),
)
def approx_daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    est = approx_daily_active_users_estimates(spark, sf_dir)
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("exact_active"))
    )
    return est.join(exact, "day").select(
        "day",
        F.col("exact_active").cast("long").alias("exact_active"),
        F.col("n_events").cast("long").alias("n_events"),
        _within(F.col("approx_active"), F.col("exact_active")).alias(
            "within_bound"
        ),
    )

# Sketch re-aggregation (DataSketches HLL): the 100 TB rollup-mart pattern.
# A day-grain mart stores one HLL sketch per (day) — built once from the raw
# events — and every coarser grain (week, month, all-time) derives by
# UNIONING the stored sketches, never rescanning raw data. Exact distinct
# counts cannot re-aggregate (distinct-of-day ≠ sum-of-daily-distincts);
# sketches make the rollup lattice one cheap merge per grain. The estimate
# twin stays unregistered (sketch bytes are engine-specific); the registered
# query audits the unioned estimate against the exact weekly distinct
# in-query and emits (week, exact, within_bound) so the driver hash-checks
# the rollup end-to-end (VERDICT r4 ask #2).
_HLL_LGK = 14  # DataSketches HLL register count 2^14 → RSE ≈ 0.8%

def hll_user_rollup_weekly_estimates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.hll_sketch_agg("user_id", F.lit(_HLL_LGK)).alias("sk"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    # Week key is the date_trunc('week') anchor DATE (same convention as the
    # kin weekly marts), not weekofyear(): a bare ISO week number collapses
    # week N of different years into one bucket and maps Dec 29-31 into
    # "week 1" of the wrong year.
    return daily.groupBy(
        F.date_trunc("week", F.col("day")).cast("date").alias("week_start")
    ).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("n_events").cast("long").alias("n_events"),
    )

@register(
    "hll_user_rollup_weekly",
    """
    SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS week_start,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(1 AS INT) AS within_bound
    FROM events GROUP BY 1
    """,
    doc=(
        "day-grain HLL sketches unioned to weekly estimates, audited "
        "in-query vs the exact weekly distinct (hash-checkable rollup mart)"
    ),
)
def hll_user_rollup_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    est = hll_user_rollup_weekly_estimates(spark, sf_dir)
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("week", F.to_date("ts")).cast("date").alias("week_start")
        )
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return est.join(exact, "week_start").select(
        "week_start",
        F.col("exact_users").cast("long").alias("exact_users"),
        "n_days",
        "n_events",
        _within(F.col("approx_users"), F.col("exact_users")).alias(
            "within_bound"
        ),
    )

# Approximate percentiles (KLL-style quantile summary behind
# percentile_approx): the opt-in variant of the exact rank-selection in
# doc_length_percentiles — at 100 TB the exact form's per-group sort gives
# way to a mergeable one-pass summary. The raw estimates stay unregistered
# (summary internals are engine-specific); the registered query audits them
# in-query against the sketch's published rank-error bound and emits
# all-integer terminals the driver can hash (VERDICT r4 ask #2): the exact
# value at the integer rank ((n−1)·k) div d per percentile — integer
# arithmetic on both engines, no float index hazard — plus within_bound = 1
# iff every estimate lies between the exact values two rank-error windows
# out (rank error ≤ n/accuracy at accuracy=10000).
_PCT_RANKS = [("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4), ("p90", 9, 10)]

def approx_length_percentiles_estimates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pcts = [0.25, 0.5, 0.75, 0.9]
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.percentile_approx("n_chars", pcts, 10000).alias("pcts"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
        .select(
            "source",
            F.col("pcts")[0].alias("p25"),
            F.col("pcts")[1].alias("p50"),
            F.col("pcts")[2].alias("p75"),
            F.col("pcts")[3].alias("p90"),
            "n_docs",
        )
    )

@register(
    "approx_length_percentiles",
    """
    WITH ranked AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars) - 1 AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM documents
    )
    SELECT source,
           CAST(MAX(CASE WHEN rn = ((n-1)*1)//4  THEN n_chars END) AS BIGINT) AS p25,
           CAST(MAX(CASE WHEN rn = ((n-1)*1)//2  THEN n_chars END) AS BIGINT) AS p50,
           CAST(MAX(CASE WHEN rn = ((n-1)*3)//4  THEN n_chars END) AS BIGINT) AS p75,
           CAST(MAX(CASE WHEN rn = ((n-1)*9)//10 THEN n_chars END) AS BIGINT) AS p90,
           CAST(MAX(n) AS BIGINT) AS n_docs,
           CAST(1 AS INT) AS within_bound
    FROM ranked GROUP BY source
    """,
    doc=(
        "percentile_approx audited in-query: exact integer-rank percentiles "
        "per source + rank-error within_bound terminal (hash-checkable)"
    ),
)
def approx_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    # Partitioned-by-source window: the audit's per-source sort is the same
    # shape as the exact twin doc_length_percentiles; the scale path is the
    # unregistered mergeable-summary estimates above.
    ranked = docs.select(
        "source",
        "n_chars",
        (
            F.row_number().over(
                Window.partitionBy("source").orderBy("n_chars")
            )
            - 1
        ).alias("rn"),
    )
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    # Per (source, percentile): the exact target rank and its ±slack
    # audit ranks, all in integer arithmetic (`div`).
    targets = (
        counts.select(
            "source",
            "n",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(name).alias("pname"),
                            F.lit(k).alias("k"),
                            F.lit(d).alias("d"),
                        )
                        for name, k, d in _PCT_RANKS
                    ]
                )
            ).alias("t"),
        )
        .select(
            "source",
            "n",
            F.col("t.pname").alias("pname"),
            F.expr("((n - 1) * t.k) div t.d").alias("idx"),
            F.greatest(F.lit(2), F.expr("(2 * n) div 10000")).alias("slack"),
        )
        .select(
            "source",
            "pname",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("lo").alias("role"),
                        F.greatest(F.lit(0), F.col("idx") - F.col("slack")).alias("rank"),
                    ),
                    F.struct(
                        F.lit("mid").alias("role"), F.col("idx").alias("rank")
                    ),
                    F.struct(
                        F.lit("hi").alias("role"),
                        F.least(F.col("n") - 1, F.col("idx") + F.col("slack")).alias("rank"),
                    ),
                )
            ).alias("r"),
        )
        .select(
            F.col("source").alias("t_source"),
            "pname",
            F.col("r.role").alias("role"),
            F.col("r.rank").alias("rank"),
        )
    )
    # 12 audit ranks per source — broadcast them against the ranked corpus.
    vals = (
        ranked.join(
            F.broadcast(targets),
            (ranked.source == targets.t_source) & (ranked.rn == targets.rank),
        )
        .select("source", "pname", "role", "n_chars")
        .groupBy("source", "pname")
        .agg(
            F.max(F.when(F.col("role") == "lo", F.col("n_chars"))).alias("lo_val"),
            F.max(F.when(F.col("role") == "mid", F.col("n_chars"))).alias("mid_val"),
            F.max(F.when(F.col("role") == "hi", F.col("n_chars"))).alias("hi_val"),
        )
    )
    est_long = approx_length_percentiles_estimates(spark, sf_dir).select(
        "source",
        "n_docs",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("pname"), F.col(name).alias("approx")
                    )
                    for name, _, _ in _PCT_RANKS
                ]
            )
        ).alias("e"),
    )
    joined = est_long.select(
        "source", "n_docs", F.col("e.pname").alias("pname"), F.col("e.approx").alias("approx")
    ).join(vals, ["source", "pname"])
    return joined.groupBy("source").agg(
        *[
            F.max(F.when(F.col("pname") == name, F.col("mid_val")))
            .cast("long")
            .alias(name)
            for name, _, _ in _PCT_RANKS
        ],
        F.max("n_docs").cast("long").alias("n_docs"),
        F.min(
            (
                (F.col("lo_val") <= F.col("approx"))
                & (F.col("approx") <= F.col("hi_val"))
            ).cast("int")
        ).alias("within_bound"),
    )

# Stateful streaming creates one state store per shuffle partition, and each
# store pays per-batch init/commit I/O regardless of how few keys it holds —
# at the test corpus (150 window×type groups, ~10³ users) 32 stores are ~6×
# pure overhead (r10: measured 8.5s → 1.4s at 8 partitions; r11 swept
# 1/2/4/8/16/32 — stream-stream join trigger time scales LINEARLY with
# store count: 8.3s at 32, 3.1s at 8, 2.0s at 4, while 1–2 lose the
# remaining parallelism for the Python-stateful and window forms, so 4 is
# the floor for this corpus). State partition count is a deployment knob
# sized to key cardinality, not inherited parallelism; production sizes it
# up with the keyspace via SPARK_GRAFT_STREAM_STATE_PARTITIONS.
_STREAM_STATE_PARTITIONS = int(
    os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "4")
)

def _stream_session(spark: SparkSession) -> SparkSession:
    """Per-stream cloned session (shared SparkContext, isolated SQL conf).

    State-partition count and the UTC timezone are pinned on the CLONE at
    plan-build time, so starting a stream never mutates the caller's
    session — a batch query evaluated concurrently (threaded runners,
    concurrent query evaluation) can no longer observe 8 shuffle
    partitions or race a restore. Clones share the context, caches and
    catalog data; the memory sink registers in the clone, which is also
    where the result frame is read from.
    """
    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s.conf.set("spark.sql.shuffle.partitions", str(_STREAM_STATE_PARTITIONS))
    return s

# Per-sink execution stats of the most recent run-to-completion streaming
# run (micro-batch count + trigger-execution wall time). Bench detail
# records these so a streaming-tier timing shift is decidable from the
# committed artifacts — same micro-batch counts ⇒ engine-overhead/box
# noise, different counts ⇒ a real trigger/batching change (VERDICT r6
# ask #2).
STREAM_RUN_STATS: dict[str, dict] = {}


def _run_to_memory(stream, sink: str, output_mode: str, timeout_s: int = 300):
    """Run a streaming frame to completion into a memory sink and return the
    sink table (registered in the stream's own cloned session). One place
    for the start/await/timeout/raise protocol all run-to-completion
    streaming queries share."""
    query = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    _await_and_record(query, sink, timeout_s)
    return stream.sparkSession.table(sink)


def _await_and_record(query, sink: str, timeout_s: int = 300) -> None:
    """Await an availableNow streaming query and record its execution
    detail (bench stream_detail contract) — shared by the memory-sink
    runner and the foreachBatch consumers."""
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise RuntimeError(f"{sink} did not finish in {timeout_s}s")
    # recentProgress holds every batch of an availableNow run (well under
    # the 100-entry retention cap for the single-file test sources).
    progress = query.recentProgress
    STREAM_RUN_STATS[sink] = {
        "micro_batches": len(progress),
        "input_rows": int(sum(p["numInputRows"] for p in progress)),
        "trigger_ms": int(
            sum(p["durationMs"].get("triggerExecution", 0) for p in progress)
        ),
    }

# Structured Streaming, driver-checkable (§2.9): the watermarked tumbling
# daily rollup run to completion (availableNow trigger, complete-mode memory
# sink) converges to the batch groupBy — so the streaming path gets a real
# hash-checked correctness row, not just a local convergence test. The
# deterministic columns are published (the approx_users HLL sketch column is
# engine-specific and stays out of the comparison).
@register(
    "streaming_daily_rollup",
    """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS date_key, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
    doc="watermarked tumbling daily rollup, streamed to completion (converges to the batch answer)",
)
def streaming_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kin_data_pipeline_spark.streaming import (
        daily_rollup_stream,
        stream_events_from_parquet,
    )

    # Cloned session: UTC (day windows match the UTC-naive oracle) and
    # state partitions are pinned on the clone, never the caller's session.
    spark = _stream_session(spark)
    sink = "streaming_daily_rollup_sink"
    stream = daily_rollup_stream(stream_events_from_parquet(spark, sf_dir))
    sunk = _run_to_memory(stream, sink, "complete")
    return sunk.select(
        "date_key",
        "event_type",
        "n_events",
        F.col("total_value").cast("double").alias("total_value"),
    )

# The arbitrary-stateful streaming tier (applyInPandasWithState), driver-
# checkable: the per-key running balance accumulates PRE-QUANTIZED integer
# cents (JVM-side decimal cast, so per-value rounding parity with the oracle
# is the same CAST both engines already agree on), making the converged
# state exact and order-independent — a hash row for §2.9's custom-state
# operator, not just a local convergence test. In update mode a key emits
# one row per micro-batch it appears in; the converged answer is the
# emission with the highest n_events (cumulative, strictly increasing).
@register(
    "streaming_running_balance",
    """
    SELECT user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS balance_cents,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    """,
    doc="stateful running balance (applyInPandasWithState), streamed to completion on exact cents",
)
def streaming_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kin_data_pipeline_spark.streaming import (
        running_balance_stream,
        stream_events_from_parquet,
    )

    spark = _stream_session(spark)
    sink = "streaming_running_balance_sink"
    events = stream_events_from_parquet(spark, sf_dir).select(
        "user_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    stream = running_balance_stream(
        events, key_col="user_id", value_col="cents", value_type="LONG"
    )
    sunk = _run_to_memory(stream, sink, "update")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        sunk
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("balance").alias("balance_cents"),
            "n_events",
        )
    )

# Session-window streaming (§2.9 tier 3): gap-based sessions emitted in
# APPEND mode, so a session row appears only once its watermark has passed —
# the session analog of the reference's complete-day guard (only closed
# sessions ship). Run to completion, the emitted set is exactly the sessions
# whose end (last event + gap) is <= the corpus's final watermark; the
# trailing still-open sessions stay in state, and the oracle applies the
# same horizon. Boundary semantics follow Spark's end-exclusive merge: a
# gap of exactly 30 minutes starts a NEW session (>= in the oracle's lag
# test, vs the batch twin's > — distinguishable only on an exact-boundary
# corpus; both registered forms are deterministic).
@register(
    "streaming_user_sessions",
    """
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                       OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), numbered AS (
      SELECT *, SUM(new_session) OVER (
        PARTITION BY user_id ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS sid
      FROM flagged
    ), sess AS (
      SELECT user_id,
             MIN(ts) AS session_start,
             MAX(ts) AS last_event_ts,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      FROM numbered GROUP BY user_id, sid
    )
    SELECT user_id, session_start, last_event_ts, n_events, session_value
    FROM sess
    WHERE last_event_ts + INTERVAL 30 MINUTE <= (SELECT max(ts) FROM events)
    """,
    doc="gap-session windows streamed in append mode: only watermark-closed sessions emit",
)
def streaming_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kin_data_pipeline_spark.streaming import (
        sessionize_stream,
        stream_events_from_parquet,
    )

    spark = _stream_session(spark)
    sink = "streaming_user_sessions_sink"
    stream = sessionize_stream(
        stream_events_from_parquet(spark, sf_dir),
        gap="30 minutes",
        watermark="0 seconds",
    )
    sunk = _run_to_memory(stream, sink, "append")
    gap = F.expr("INTERVAL 30 MINUTE")
    return sunk.select(
        "user_id",
        "session_start",
        (F.col("session_end") - gap).alias("last_event_ts"),
        "n_events",
        F.col("session_value").cast("double").alias("session_value"),
    )

# REST-JSON source surface (S3/S4), driver-checkable: the payloads the
# reference pulls over HTTP are seeded as deterministic literals, the Spark
# side runs the real source operators (from_json/explode flatten with
# quote-trim; ms-epoch merge with the in-progress-day drop), and the oracle
# states the expected rows explicitly — a golden contract for the flatten
# semantics rather than a re-derivation.
_API_RUN_DATE = "2024-01-31"
_API_APP_PAYLOAD = (
    '[{"index": 1, "name": "\\"Kik\\"", "status": "live", "public_wallet": "w1"},'
    ' {"index": 2, "name": "Peerbet", "status": "dead", "public_wallet": "w2"},'
    ' {"index": 3, "name": "\\"Pause\\"", "status": "paused", "public_wallet": null}]'
)

@register(
    "api_dim_seed",
    f"""
    SELECT * FROM (VALUES
      (1, 'Kik',    'live',   'w1',           DATE '{_API_RUN_DATE}', CAST(NULL AS DATE)),
      (2, 'Peerbet','dead',   'w2',           DATE '{_API_RUN_DATE}', CAST(NULL AS DATE)),
      (3, 'Pause',  'paused', CAST(NULL AS VARCHAR), DATE '{_API_RUN_DATE}', CAST(NULL AS DATE))
    ) AS t(id, name, status, public_wallet, created_date, updated_date)
    """,
    doc="REST-JSON app registry flatten (S3): quote-trim + date stamping, golden oracle",
)
def api_dim_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    from kin_data_pipeline_spark.sources.json_api import dim_from_json_payload

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    run = datetime.date.fromisoformat(_API_RUN_DATE)
    dim = dim_from_json_payload(spark, _API_APP_PAYLOAD, run)
    return dim.select(
        F.col("id").cast("int").alias("id"),
        "name",
        "status",
        "public_wallet",
        "created_date",
        "updated_date",
    )

# Four daily points + one in-progress day (dropped) — ms epochs at UTC noon.
_API_TS_RECORDS = [
    {"timestamp": 1706180400000, "prices": 1.5, "market_caps": 10.0, "total_volumes": 3.0},
    {"timestamp": 1706266800000, "prices": 2.5, "market_caps": 20.0, "total_volumes": 4.0},
    {"timestamp": 1706353200000, "prices": 3.5, "market_caps": 30.0, "total_volumes": 5.0},
    {"timestamp": 1706785200000, "prices": 9.5, "market_caps": 90.0, "total_volumes": 9.0},  # in-progress
]

@register(
    "api_timeseries_seed",
    f"""
    SELECT timestamp, date_key,
           CAST(prices AS DOUBLE) AS prices,
           CAST(market_caps AS DOUBLE) AS market_caps,
           CAST(total_volumes AS DOUBLE) AS total_volumes
    FROM (VALUES
      (1706180400000, DATE '2024-01-24', 1.5, 10.0, 3.0),
      (1706266800000, DATE '2024-01-25', 2.5, 20.0, 4.0),
      (1706353200000, DATE '2024-01-26', 3.5, 30.0, 5.0)
    ) AS t(timestamp, date_key, prices, market_caps, total_volumes)
    """,
    doc="API time-series source (S4): ms-epoch, -1 day shift, in-progress day dropped",
)
def api_timeseries_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    from kin_data_pipeline_spark.sources.json_api import timeseries_from_records

    # ms-epoch → date is session-TZ dependent and the golden oracle states
    # UTC dates; pin it (load_table does this for table-backed queries, but
    # this source never touches a table).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    run = datetime.date.fromisoformat(_API_RUN_DATE)
    ts = timeseries_from_records(spark, _API_TS_RECORDS, run)
    return ts.select(
        "timestamp", "date_key", "prices", "market_caps", "total_volumes"
    )

# Streaming feed dedup (§2.9 tier 4 — the reference's P10 DISTINCT-feed
# semantic as a stateful stream): the source is unioned with itself so every
# event arrives twice, and dropDuplicates on the id emits each exactly once
# (first arrival wins; state holds one key per id — at scale bound it with
# dropDuplicatesWithinWatermark once ids stop recurring past the horizon).
# Run to completion, the emitted set must equal the batch DISTINCT — the
# oracle is the plain one-row-per-event projection.
@register(
    "streaming_feed_dedup",
    """
    SELECT event_id, user_id,
           CAST(date_trunc('day', ts) AS DATE) AS date_key,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
    FROM events
    """,
    doc="stateful stream dedup: doubled feed, dropDuplicates(id) emits each event once",
)
def streaming_feed_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kin_data_pipeline_spark.streaming import stream_events_from_parquet

    spark = _stream_session(spark)
    sink = "streaming_feed_dedup_sink"
    project = lambda df: df.select(  # noqa: E731
        "event_id",
        "user_id",
        F.to_date("ts").alias("date_key"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    doubled = project(stream_events_from_parquet(spark, sf_dir)).unionByName(
        project(stream_events_from_parquet(spark, sf_dir))
    )
    deduped = doubled.dropDuplicates(["event_id"])
    sunk = _run_to_memory(deduped, sink, "append")
    return sunk

# Streaming dedup with BOUNDED state (§2.9 tier 6): the scale form of
# tier 4. dropDuplicates holds one state key per id forever;
# dropDuplicatesWithinWatermark evicts keys once the event-time watermark
# passes them, so state is bounded by (arrival rate × dup horizon) instead
# of corpus cardinality — the only form that survives an unbounded 100 TB
# feed. Exactness contract: duplicates are only guaranteed caught while
# their first arrival is within the watermark; the horizon here (60 days)
# exceeds the whole fixture span, so run-to-completion output equals the
# batch DISTINCT and the same one-row-per-event oracle applies. Production
# sets the horizon to the real feed's re-delivery window.
@register(
    "streaming_dedup_within_watermark",
    """
    SELECT event_id, user_id,
           CAST(date_trunc('day', ts) AS DATE) AS date_key,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
    FROM events
    """,
    doc="bounded-state stream dedup: dropDuplicatesWithinWatermark evicts keys past the horizon",
)
def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kin_data_pipeline_spark.streaming import stream_events_from_parquet

    spark = _stream_session(spark)
    sink = "streaming_dedup_within_watermark_sink"
    project = lambda df: df.withWatermark("ts", "60 days").select(  # noqa: E731
        "event_id",
        "user_id",
        F.col("ts"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    doubled = project(stream_events_from_parquet(spark, sf_dir)).unionByName(
        project(stream_events_from_parquet(spark, sf_dir))
    )
    deduped = doubled.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id",
        "user_id",
        F.to_date("ts").alias("date_key"),
        "cents",
    )
    sunk = _run_to_memory(deduped, sink, "append")
    return sunk

# Stream-stream join (§2.9 tier 5): purchases joined to the same user's
# views within a 1-hour lookback, both sides watermarked — the attribution
# join on the streaming tier. Inner joins emit matches as they are found,
# so the run-to-completion result equals the batch time-range join.
@register(
    "streaming_purchase_view_join",
    """
    SELECT p.event_id AS purchase_id, v.event_id AS view_id,
           p.user_id, p.ts AS p_ts, v.ts AS v_ts
    FROM events p JOIN events v
      ON p.event_type = 'purchase' AND v.event_type = 'view'
     AND p.user_id = v.user_id
     AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts < p.ts
    """,
    doc="stream-stream attribution join (purchase x prior views, watermarked both sides)",
)
def streaming_purchase_view_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kin_data_pipeline_spark.streaming import (
        purchase_view_join_stream,
        stream_events_from_parquet,
    )

    spark = _stream_session(spark)
    sink = "streaming_purchase_view_join_sink"
    stream = purchase_view_join_stream(stream_events_from_parquet(spark, sf_dir))
    sunk = _run_to_memory(stream, sink, "append")
    return sunk

# Stream-stream LEFT OUTER join (§2.9): the missing-match semantics — a
# purchase with NO qualifying prior view must still emit (with NULL view
# columns) once the watermark proves no future view can match. The NULL
# rows come from evicted left-side state, so in a finite run only the
# watermark-closed prefix emits them: the oracle applies the same horizon
# (p_ts < min(max purchase ts, max view ts) — Spark's min-policy global
# watermark over the two inputs), the outer-join analog of the session
# query's closed-session cutoff above. Boundary caveat: whether a purchase
# EXACTLY at the final watermark emits depends on the micro-batch layout
# (a single-batch run can flush it, a multi-batch run holds it in state),
# so the strict form here encodes the engine's observed behavior on this
# gate corpus — verified identical at sf0.001/0.01/0.1; it is not a
# general streaming-semantics claim at the exact boundary instant.
@register(
    "streaming_purchase_view_left_join",
    """
    WITH wm AS (
      SELECT least(
        (SELECT max(ts) FROM events WHERE event_type = 'purchase'),
        (SELECT max(ts) FROM events WHERE event_type = 'view')) AS w
    )
    SELECT p.event_id AS purchase_id, v.event_id AS view_id,
           p.user_id, p.ts AS p_ts, v.ts AS v_ts
    FROM events p JOIN events v
      ON p.event_type = 'purchase' AND v.event_type = 'view'
     AND p.user_id = v.user_id
     AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts < p.ts
    UNION ALL
    SELECT p.event_id, CAST(NULL AS BIGINT), p.user_id, p.ts,
           CAST(NULL AS TIMESTAMP)
    FROM events p, wm
    WHERE p.event_type = 'purchase' AND p.ts < wm.w
      AND NOT EXISTS (
        SELECT 1 FROM events v WHERE v.event_type = 'view'
          AND v.user_id = p.user_id
          AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts < p.ts)
    """,
    doc=(
        "stream-stream LEFT OUTER attribution join: unmatched purchases "
        "emit NULL view rows from watermark-evicted state (horizon-bounded)"
    ),
)
def streaming_purchase_view_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kin_data_pipeline_spark.streaming import (
        purchase_view_left_join_stream,
        stream_events_from_parquet,
    )

    spark = _stream_session(spark)
    sink = "streaming_purchase_view_left_join_sink"
    stream = purchase_view_left_join_stream(stream_events_from_parquet(spark, sf_dir))
    return _run_to_memory(stream, sink, "append")

# Stream-static enrichment join (§2.9 tier 7): the micro-batch ingestion
# shape every warehouse feed uses — each micro-batch of the event stream
# joins a STATIC dimension (re-resolved per batch, broadcast by size), then
# rolls up. Unlike the stream-stream tier there is no join state at all:
# state is only the rollup aggregation, and the static side never grows
# with stream history. Run to completion (availableNow, complete mode) the
# result converges to the batch join+agg, so it hash-checks against a
# plain SQL oracle.
@register(
    "streaming_static_enrichment_join",
    """
    SELECT c.c_mktsegment AS segment,
           CAST(date_trunc('day', e.ts) AS DATE) AS date_key,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY segment, date_key
    """,
    doc=(
        "stream-static broadcast enrichment: event micro-batches join a "
        "static customer dim, rolled up per segment/day (stateless join, "
        "bounded agg state)"
    ),
)
def streaming_static_enrichment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kin_data_pipeline_spark.streaming import stream_events_from_parquet

    spark = _stream_session(spark)
    sink = "streaming_static_enrichment_sink"
    dim = F.broadcast(
        load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    enriched = stream_events_from_parquet(spark, sf_dir).join(dim, "user_id")
    rolled = enriched.groupBy(
        "segment", F.to_date("ts").alias("date_key")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        # no exact COUNT(DISTINCT): unsupported on streams (state would be
        # unbounded per group anyway) — the sketch tier's streaming HLL
        # (streaming_approx_daily_users) is the distinct-count form here
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )
    return _run_to_memory(rolled, sink, "complete")

# --- skew tier: salted rewrites proven answer-identical ---------------------
# At 100 TB a zipf-headed key (one dominant event_type, the NULL app bucket)
# funnels a whole groupBy partition through one task. The salted operators
# (operators/skew.py) spread that hot key over n_salts partial groups and
# merge; these queries pin — at the driver's oracle gate — that the rewrite
# is answer-IDENTICAL to the direct aggregation, not an approximation.

@register(
    "skew_distinct_users_by_event_type",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_users
    FROM events GROUP BY event_type
    """,
    doc="exact COUNT(DISTINCT) under key skew via value-hash salted dedup (operators/skew.py:47)",
)
def skew_distinct_users_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kin_data_pipeline_spark.operators.skew import salted_count_distinct

    events = load_table(spark, sf_dir, "events")
    return salted_count_distinct(
        events, ["event_type"], "user_id", out_col="n_distinct_users"
    )

@register(
    "skew_salted_value_sum_by_type",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS max_value
    FROM events GROUP BY event_type
    """,
    doc="two-phase salted aggregation (count/sum/max merge) answer-identical to direct agg",
)
def skew_salted_value_sum_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kin_data_pipeline_spark.operators.skew import salted_agg

    events = load_table(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,2)")
    out = salted_agg(
        events,
        ["event_type"],
        partial_aggs={
            "pc": F.count(F.lit(1)),
            "ps": F.sum(dec),
            "pm": F.max(dec),
        },
        merge_aggs={
            "n_events": F.sum("pc"),
            "sum_dec": F.sum("ps"),
            "max_dec": F.max("pm"),
        },
    )
    return out.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_dec").cast("double").alias("total_value"),
        F.col("max_dec").cast("double").alias("max_value"),
    )

# One-pass table profiling (ANALYZE-style): per-column null counts + exact
# distinct cardinalities from a single fused aggregation — the statistics
# that drive layout decisions (bucket counts, broadcast candidacy, skew
# suspects). operators/profile.py; approx=True switches to HLL at scale.
@register(
    "events_column_profile",
    """
    WITH s AS (
      SELECT COUNT(*) AS n,
             COUNT(CASE WHEN event_id IS NULL THEN 1 END) AS null_event_id,
             COUNT(DISTINCT event_id) AS dist_event_id,
             COUNT(CASE WHEN user_id IS NULL THEN 1 END) AS null_user_id,
             COUNT(DISTINCT user_id) AS dist_user_id,
             COUNT(CASE WHEN event_type IS NULL THEN 1 END) AS null_event_type,
             COUNT(DISTINCT event_type) AS dist_event_type,
             COUNT(CASE WHEN props IS NULL THEN 1 END) AS null_props,
             COUNT(DISTINCT props) AS dist_props
      FROM events
    )
    SELECT 'event_id' AS column, n AS n_rows, null_event_id AS n_nulls, dist_event_id AS n_distinct FROM s
    UNION ALL
    SELECT 'user_id', n, null_user_id, dist_user_id FROM s
    UNION ALL
    SELECT 'event_type', n, null_event_type, dist_event_type FROM s
    UNION ALL
    SELECT 'props', n, null_props, dist_props FROM s
    """,
    doc="one-pass per-column profiling (nulls + exact distincts) over events",
)
def events_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kin_data_pipeline_spark.operators.profile import profile_table

    ev = load_table(spark, sf_dir, "events")
    return profile_table(ev, ["event_id", "user_id", "event_type", "props"])

# Streaming sketch tier: the HLL day sketches built INSIDE a watermarked
# streaming aggregation — the shape of a live distinct-users dashboard at
# 100 TB/day, where exact streaming COUNT(DISTINCT) state would hold every
# user id and a sketch holds 2^lgK registers per window. HLL register
# state is a per-register max, so the converged sketch is independent of
# micro-batch order and equals the batch sketch over the same rows bit for
# bit — tests/test_sketches.py pins streaming estimate == batch estimate
# exactly. The registered query additionally audits the streamed estimates
# against the exact batch distinct per day and emits
# (day, exact_users, n_events, within_bound) so the driver hash-checks the
# in-stream sketch end-to-end (VERDICT r4 ask #2); the raw streamed
# estimates stay available via the unregistered twin below.
def streaming_approx_daily_users_estimates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from kin_data_pipeline_spark.streaming import stream_events_from_parquet

    spark = _stream_session(spark)
    sink = "streaming_approx_daily_users_sink"
    st = stream_events_from_parquet(spark, sf_dir)
    agg = (
        st.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.hll_sketch_agg("user_id", F.lit(_HLL_LGK)).alias("sk"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").cast("date").alias("day"),
            F.hll_sketch_estimate("sk").alias("approx_users"),
            F.col("n_events").cast("long").alias("n_events"),
        )
    )
    sunk = _run_to_memory(agg, sink, "complete")
    return sunk

@register(
    "streaming_approx_daily_users",
    """
    SELECT CAST(ts AS DATE) AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(1 AS INT) AS within_bound
    FROM events GROUP BY 1
    """,
    doc=(
        "watermarked in-stream daily HLL estimates audited vs the exact "
        "batch distinct: exact count + within-bound terminal (hash-checkable)"
    ),
)
def streaming_approx_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    est = streaming_approx_daily_users_estimates(spark, sf_dir)
    exact = (
        load_table(est.sparkSession, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return est.join(exact, "day").select(
        "day",
        F.col("exact_users").cast("long").alias("exact_users"),
        "n_events",
        _within(F.col("approx_users"), F.col("exact_users")).alias(
            "within_bound"
        ),
    )

# TPC-H Q7 shape: bilateral nation-pair trade — the SAME dimension table
# joined twice through two different fact paths (supplier nation vs
# customer nation), a disjunctive pair predicate applied across both, and
# a year rollup. The classic double-alias dim join: both nation sides and
# the supplier dim broadcast; the only big shuffles are the fact joins.
@register(
    "nation_pair_trade_q7",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM CAST(l.l_shipdate AS DATE)) AS INT) AS l_year,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(8,2)))) AS DOUBLE)
             AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
    doc=(
        "TPC-H Q7 shape: nation joined twice via supplier and customer "
        "paths, disjunctive pair predicate, year rollup"
    ),
)
def nation_pair_trade_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    j = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return j.groupBy(
        "supp_nation",
        "cust_nation",
        F.year(F.to_date("l_shipdate")).cast("int").alias("l_year"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (1 - F.col("l_discount").cast("decimal(8,2)"))
        )
        .cast("double")
        .alias("revenue"),
    )

# TPC-H Q19 shape: a disjunction of conjunctive predicate groups spanning
# BOTH join sides (part attrs AND lineitem attrs in each arm) — the
# predicate structure that exercises OR-pushdown and join-condition
# hygiene: each arm's part-only conjuncts can gate the broadcast side
# while the mixed conjuncts must evaluate post-join.
@register(
    "disjunctive_predicate_revenue_q19",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(8,2)))) AS DOUBLE)
             AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    doc=(
        "TPC-H Q19 shape: disjunction of conjunctive predicate groups "
        "spanning both join sides (OR-pushdown exercise)"
    ),
)
def disjunctive_predicate_revenue_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    arm1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    )
    arm2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    )
    arm3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return j.filter(arm1 | arm2 | arm3).agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (1 - F.col("l_discount").cast("decimal(8,2)"))
        )
        .cast("double")
        .alias("revenue"),
    )

# TPC-H Q22 shape: a GLOBAL scalar threshold (average positive account
# balance) gating the main query, plus an anti join — the scalar-subquery
# pattern. The scalar is a 1-row aggregate crossed into the bounded
# customer-segment frame (Catalyst compiles scalar subqueries to exactly
# this broadcast nested-loop against a 1-row side; allowlisted in
# tests/test_plans.py). Exactness: the average is an exact DECIMAL sum
# with one final IEEE division, identical on both engines. The anti join
# targets URGENT orders (Q22's "no orders at all" is vacuous on this
# corpus — every customer has orders at the sf0.01 gate scale, and an
# empty-vs-empty comparison would never exercise the threshold or the
# anti join).
@register(
    "acctbal_opportunity_q22",
    """
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(*) AS ab
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_custs,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.ab
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_mktsegment
    """,
    doc=(
        "TPC-H Q22 shape: global scalar threshold (avg positive balance) + "
        "anti join on urgent orders, per-segment rollup"
    ),
)
def acctbal_opportunity_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("ab")
    )
    rich = c.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("ab")
    )
    no_urgent = rich.join(
        o.filter(F.col("o_orderpriority") == "1-URGENT"),
        rich.c_custkey == o.o_custkey,
        "left_anti",
    )
    return no_urgent.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_custs"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_acctbal"),
    )

# CUBE — the remaining grouping variant (ROLLUP walks nested prefixes,
# GROUPING SETS picks explicit axes, CUBE emits ALL 2^k subtotal
# combinations from one pass): priority x order-status with both marginal
# totals and the grand total.
@register(
    "priority_status_cube",
    """
    SELECT CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL'
                ELSE o_orderpriority END AS priority,
           CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL'
                ELSE o_orderstatus END AS status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
    doc="CUBE subtotal lattice: all 2^k margin combinations in one pass (A10 superset)",
)
def priority_status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
            F.grouping("o_orderpriority").alias("g_p"),
            F.grouping("o_orderstatus").alias("g_s"),
        )
        .select(
            F.when(F.col("g_p") == 1, F.lit("ALL"))
            .otherwise(F.col("o_orderpriority"))
            .alias("priority"),
            F.when(F.col("g_s") == 1, F.lit("ALL"))
            .otherwise(F.col("o_orderstatus"))
            .alias("status"),
            "n_orders",
            "revenue",
        )
    )

# Cohort retention: the classic product-analytics matrix — users grouped by
# first-purchase week, tracked by distinct activity in each later week.
# Offsets divide exactly (both engines truncate weeks to Monday, so the day
# delta between week starts is a multiple of 7); the rate is one division
# over two integer counts. Scale shape: two aggregations over the distinct
# (user, week) frame + a join back on user_id — the cohort table is
# |users| rows and the output |cohorts| x |weeks|, both tiny next to events.
@register(
    "weekly_retention_cohorts",
    """
    WITH ua AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      FROM events WHERE event_type = 'purchase'
    ), f AS (
      SELECT user_id, MIN(wk) AS cohort_wk FROM ua GROUP BY 1
    ), j AS (
      SELECT f.cohort_wk,
             CAST(date_diff('day', f.cohort_wk, ua.wk) / 7 AS BIGINT) AS week_offset,
             ua.user_id
      FROM ua JOIN f ON ua.user_id = f.user_id
    ), cs AS (
      SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS cohort_size FROM f GROUP BY 1
    )
    SELECT j.cohort_wk, week_offset,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active,
           ANY_VALUE(cs.cohort_size) AS cohort_size,
           ROUND(COUNT(DISTINCT user_id) * 1.0 / ANY_VALUE(cs.cohort_size), 6)
             AS retention
    FROM j JOIN cs ON j.cohort_wk = cs.cohort_wk
    GROUP BY 1, 2
    """,
    doc="purchase-cohort weekly retention matrix (first-activity cohorts, distinct-active rates)",
)
def weekly_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cohort via a per-user window MIN instead of the oracle's
    # groupBy+self-join: one exchange on user_id replaces the join of two
    # user-keyed aggregates. Cohort size never needs its own aggregation —
    # a cohort's offset-0 row counts every member by construction
    # (cohort_wk = MIN(wk) means each user is active in their own week 0),
    # so it is read back off the tiny cohort×offset aggregate with a
    # second window. Same values as the oracle's explicit cohort-size CTE.
    ua = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.trunc(F.to_date("ts"), "week").alias("wk"))
        .distinct()
    )
    wu = Window.partitionBy("user_id")
    j = ua.select(
        F.min("wk").over(wu).alias("cohort_wk"),
        "wk",
        "user_id",
    ).select(
        "cohort_wk",
        (F.datediff("wk", "cohort_wk") / 7).cast("long").alias("week_offset"),
        "user_id",
    )
    agg = j.groupBy("cohort_wk", "week_offset").agg(
        F.countDistinct("user_id").alias("n_active")
    )
    wc = Window.partitionBy("cohort_wk")
    return agg.select(
        "cohort_wk",
        "week_offset",
        "n_active",
        F.max(F.when(F.col("week_offset") == 0, F.col("n_active")))
        .over(wc)
        .alias("cohort_size"),
        F.round(
            F.col("n_active")
            * 1.0
            / F.max(F.when(F.col("week_offset") == 0, F.col("n_active"))).over(wc),
            6,
        ).alias("retention"),
    )

# Full outer join (the one join kind the reference never uses — J-superset):
# align two SPARSE per-entity daily aggregates where either side may be
# absent, coalescing keys and classifying the match. The user-day purchase
# and view series are genuinely sparse (unlike the dense event_type×day
# grid), so all three segments occur. Scale shape: two partial aggs then
# one shuffle-on-key full outer — no side is assumed broadcastable.
@register(
    "purchase_view_full_outer_daily",
    """
    WITH p AS (
      SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_p
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ), v AS (
      SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_v
      FROM events WHERE event_type = 'view' GROUP BY 1, 2
    )
    SELECT COALESCE(p.user_id, v.user_id) AS user_id,
           COALESCE(p.day, v.day) AS day,
           CAST(COALESCE(p.n_p, 0) AS BIGINT) AS n_purchases,
           CAST(COALESCE(v.n_v, 0) AS BIGINT) AS n_views,
           -- keyed off the COUNT columns (never NULL on a matched side),
           -- not the key columns: a NULL user_id purchase row would make
           -- p.user_id IS NULL on a genuinely purchase-only group and
           -- misclassify it, diverging from the Spark side
           CASE WHEN p.n_p IS NOT NULL AND v.n_v IS NOT NULL THEN 'both'
                WHEN p.n_p IS NOT NULL THEN 'purchase_only'
                ELSE 'view_only' END AS segment
    FROM p FULL OUTER JOIN v ON p.user_id = v.user_id AND p.day = v.day
    """,
    doc=(
        "full outer join of sparse per-user daily purchase vs view "
        "aggregates with key coalescing and match classification"
    ),
)
def purchase_view_full_outer_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pur = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_p"))
    )
    vw = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_v"))
    )
    j = pur.join(vw, ["user_id", "day"], "full_outer")
    return j.select(
        "user_id",
        "day",
        F.coalesce("n_p", F.lit(0)).cast("long").alias("n_purchases"),
        F.coalesce("n_v", F.lit(0)).cast("long").alias("n_views"),
        F.when(F.col("n_p").isNotNull() & F.col("n_v").isNotNull(), "both")
        .when(F.col("n_p").isNotNull(), "purchase_only")
        .otherwise("view_only")
        .alias("segment"),
    )

# Set-operation family (U-superset): INTERSECT / EXCEPT, which the
# reference never uses (SURVEY §2.7). Customer lifecycle segmentation:
# buyers of the early era vs the late era — retained (∩), churned (early
# EXCEPT late), acquired (late EXCEPT early). Spark compiles INTERSECT to
# a left-semi and EXCEPT to a left-anti over distinct inputs — the same
# linear-shuffle shapes as J8/J9, no new scale risk.
@register(
    "customer_order_lifecycle_sets",
    """
    WITH a AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE CAST(o_orderdate AS DATE) < DATE '1998-01-01'
    ), b AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE CAST(o_orderdate AS DATE) >= DATE '1998-01-01'
    )
    SELECT o_custkey AS c_custkey, 'retained' AS segment
    FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
    UNION ALL
    SELECT o_custkey, 'churned' FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
    UNION ALL
    SELECT o_custkey, 'acquired' FROM (SELECT o_custkey FROM b EXCEPT SELECT o_custkey FROM a)
    """,
    doc=(
        "INTERSECT/EXCEPT customer lifecycle segments (retained/churned/"
        "acquired buyers across order eras)"
    ),
)
def customer_order_lifecycle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), F.to_date("o_orderdate").alias("d")
    )
    a = o.filter(F.col("d") < F.lit("1998-01-01")).select("c_custkey").distinct()
    b = o.filter(F.col("d") >= F.lit("1998-01-01")).select("c_custkey").distinct()
    return (
        a.intersect(b).select("c_custkey", F.lit("retained").alias("segment"))
        .unionByName(
            a.exceptAll(b).select("c_custkey", F.lit("churned").alias("segment"))
        )
        .unionByName(
            b.exceptAll(a).select("c_custkey", F.lit("acquired").alias("segment"))
        )
    )

# Bounded sliding ROWS frame (W-superset): every existing window uses
# either an unbounded-growing frame or a lag; a `ROWS BETWEEN k PRECEDING`
# frame exercises the sliding-buffer physical form. Per-customer 3-order
# rolling average spend, exact integer cents inside the frame, one final
# fixed-order double division. Partitioned by customer — no global sort.
@register(
    "customer_rolling_order_stats",
    """
    WITH o AS (
      SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
             (CAST(o_totalprice AS DECIMAL(18,2)) * 100)::BIGINT AS cents
      FROM orders
    )
    SELECT o_custkey, o_orderkey, order_date,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS order_seq,
           CAST(SUM(cents) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS roll3_cents,
           CAST(COUNT(*) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS roll3_n,
           ROUND(CAST(SUM(cents) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                      AS DOUBLE)
                 / (COUNT(*) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
                 / 100.0, 6) AS roll3_avg_price
    FROM o
    WINDOW w AS (PARTITION BY o_custkey ORDER BY order_date, o_orderkey)
    """,
    doc=(
        "bounded sliding ROWS frame: per-customer 3-order rolling average "
        "spend with exact-cents frame arithmetic"
    ),
)
def customer_rolling_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.to_date("o_orderdate").alias("order_date"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    w = Window.partitionBy("o_custkey").orderBy("order_date", "o_orderkey")
    frame = w.rowsBetween(-2, Window.currentRow)
    roll_sum = F.sum("cents").over(frame)
    roll_n = F.count(F.lit(1)).over(frame)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "order_date",
        F.row_number().over(w).cast("long").alias("order_seq"),
        roll_sum.cast("long").alias("roll3_cents"),
        roll_n.cast("long").alias("roll3_n"),
        F.round(
            roll_sum.cast("double") / roll_n / F.lit(100.0), 6
        ).alias("roll3_avg_price"),
    )

# Correlated-average shape (TPC-H Q17): lineitems whose quantity is below
# 20% of their part's average quantity. The correlated scalar subquery
# decorrelates to a per-part aggregate + equi-join — the shape written out
# explicitly here so both engines run it identically. The 0.2·avg
# threshold is exact integer arithmetic (quantities are integral):
# qty < sum/(5·n) ⟺ 5·qty·n < sum — no float comparison at the boundary.
# Scale: per-part agg and join-back co-partition on l_partkey (one
# shuffle), the filtered part dim broadcasts.
@register(
    "small_quantity_revenue_q17",
    """
    WITH pq AS (
      SELECT l_partkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             CAST(COUNT(*) AS BIGINT) AS n_li
      FROM lineitem GROUP BY 1
    )
    SELECT p.p_brand AS brand,
           CAST(COUNT(*) AS BIGINT) AS n_small,
           CAST(SUM((CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100)::BIGINT)
                AS BIGINT) AS small_revenue_cents
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pq ON pq.l_partkey = l.l_partkey
    WHERE p.p_size <= 10
      AND 5 * CAST(l.l_quantity AS BIGINT) * pq.n_li < pq.sum_qty
    GROUP BY 1
    """,
    doc=(
        "TPC-H Q17 shape: small-quantity lineitems vs the part's average "
        "quantity (decorrelated per-part agg, exact integer threshold)"
    ),
)
def small_quantity_revenue_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("qty"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    per_part = li.groupBy("l_partkey").agg(
        F.sum("qty").alias("sum_qty"), F.count(F.lit(1)).alias("n_li")
    )
    part = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 10)
        .select("p_partkey", "p_brand")
    )
    j = li.join(per_part, "l_partkey").join(
        part, F.col("l_partkey") == F.col("p_partkey")
    )
    return (
        j.filter(5 * F.col("qty") * F.col("n_li") < F.col("sum_qty"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_small"),
            F.sum("cents").cast("long").alias("small_revenue_cents"),
        )
    )

# --- shared time-travel fixture (VERDICT r7 ask #4) -----------------------
# The three READ-ONLY time-travel queries (orders_versions /
# as_of_timestamps / changes) probe the SAME versioned history; building a
# scratch warehouse per query re-paid the load->append->erase build three
# times per bench run. The build is hoisted into a session-scoped cache
# keyed on (app, sf_dir) — the frame_cached pattern from sources/catalog.py,
# holding a Catalog instead of a DataFrame — and the scratch warehouse now
# lives until interpreter exit (atexit sweep) instead of per-query rmtree,
# so the queries can return LAZY frames over it. Mutating queries
# (time_travel_restore) and schema-divergent ones (streaming_table_changes)
# keep their own scratch builds: a shared fixture must never be mutated
# after construction or its history stops being a pure function of sf_dir.
_TT_CACHE: dict[tuple, object] = {}
_TT_LOCK = __import__("threading").RLock()
_TT_DIRS: list[str] = []


def _tt_sweep() -> None:
    import shutil

    for d in _TT_DIRS:
        shutil.rmtree(d, ignore_errors=True)


def _tt_versioned_fixture(spark: SparkSession, sf_dir: str):
    """Build-once versioned 'orders_fact' history per (app, sf_dir):
    full load < 1997 -> enable versioning (v0) -> append [1997, 1999)
    (v1) -> key-erase status 'F' (v2). Never mutated after build."""
    import atexit
    import tempfile

    from kin_data_pipeline_spark.plans.engine import Catalog

    k = (spark.sparkContext.applicationId, sf_dir)
    with _TT_LOCK:
        if k not in _TT_CACHE:
            cat = Catalog(spark, tempfile.mkdtemp(prefix="tt_wh_"))
            orders = load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice"
            )
            cat.write_full(
                "orders_fact",
                orders.filter(
                    F.col("o_orderdate") < F.lit("1997-01-01").cast("date")
                ),
                None,
            )
            cat.enable_versioning("orders_fact")  # v0 = the full load
            cat.write_append(
                "orders_fact",
                orders.filter(
                    (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
                    & (F.col("o_orderdate") < F.lit("1999-01-01").cast("date"))
                ),
                None,
            )  # v1
            cat.delete_by_keys("orders_fact", "o_orderstatus", ["F"])  # v2
            if not _TT_DIRS:
                atexit.register(_tt_sweep)
            _TT_DIRS.append(cat.warehouse_dir)
            _TT_CACHE[k] = cat
        return _TT_CACHE[k]


# Delta-style time travel, driver-checkable (engine tier's first oracle row;
# VERDICT r6 ask #7 stretch): a versioned catalog table is built from the
# orders fixture — full load (< 1997), enable versioning (v0), append two
# more years (v1), key-erase status 'F' (v2) — and each committed version is
# read back via VERSION AS OF and aggregated. Every version's content is a
# pure function of the input predicates, so DuckDB reproduces the history
# from the raw table with literal filters: v0 = orders before 1997,
# v1 = before 1999, v2 = v1 without status 'F'. Hardlinked zero-copy
# versions + log-as-authority crash discipline: plans/engine.py
# (enable_versioning/table_at_version/table_as_of/vacuum_versions),
# pinned by tests/test_versioned.py.
@register(
    "time_travel_orders_versions",
    """
    WITH v0 AS (SELECT * FROM orders WHERE o_orderdate < DATE '1997-01-01'),
         v1 AS (SELECT * FROM orders WHERE o_orderdate < DATE '1999-01-01'),
         v2 AS (SELECT * FROM v1 WHERE o_orderstatus <> 'F')
    SELECT 0 AS version, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_cents
    FROM v0
    UNION ALL
    SELECT 1, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
    FROM v1
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
    FROM v2
    """,
    doc=(
        "Delta-style time travel: versioned writes (full/append/key-erase) "
        "read back per version via VERSION AS OF (S5/S6/S9 + engine "
        "versioning)"
    ),
)
def time_travel_orders_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _tt_versioned_fixture(spark, sf_dir)
    parts = []
    for v in (0, 1, 2):
        df = cat.table_at_version("orders_fact", v)
        parts.append(
            df.agg(
                F.count(F.lit(1)).cast("long").alias("n_orders"),
                F.sum(
                    (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
                        "long"
                    )
                )
                .cast("long")
                .alias("total_cents"),
            ).select(
                F.lit(v).cast("int").alias("version"), "n_orders", "total_cents"
            )
        )
    # lazy: the shared fixture warehouse outlives the query (atexit
    # sweep), so no collect-and-cleanup round trip is needed
    return parts[0].unionByName(parts[1]).unionByName(parts[2])

# TIMESTAMP AS OF twin: the same versioned history read back through
# table_as_of at each commit's own timestamp AND at the midpoint between
# commits (the floor-resolution rule: a timestamp between commits
# resolves to the EARLIER version). The commit timestamps come from the
# table's own history() — a bounded driver probe — but the OUTPUT depends
# only on version contents, so the literal-predicate oracle is identical
# to the VERSION AS OF query's. plans/engine.py::Catalog.table_as_of,
# floor semantics pinned in tests/test_versioned.py.
@register(
    "time_travel_as_of_timestamps",
    """
    WITH v0 AS (SELECT * FROM orders WHERE o_orderdate < DATE '1997-01-01'),
         v1 AS (SELECT * FROM orders WHERE o_orderdate < DATE '1999-01-01'),
         v2 AS (SELECT * FROM v1 WHERE o_orderstatus <> 'F')
    SELECT 0 AS version, 'at_commit' AS probe, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_cents
    FROM v0
    UNION ALL
    SELECT 0, 'between_commits', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
    FROM v0
    UNION ALL
    SELECT 1, 'at_commit', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
    FROM v1
    UNION ALL
    SELECT 1, 'between_commits', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
    FROM v1
    UNION ALL
    SELECT 2, 'at_commit', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
    FROM v2
    """,
    doc=(
        "TIMESTAMP AS OF reads: each commit's own timestamp and the "
        "between-commit midpoints resolve to the floor version "
        "(table_as_of over the versioned catalog)"
    ),
)
def time_travel_as_of_timestamps(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _tt_versioned_fixture(spark, sf_dir)
    # bounded: one dict per commit. Commit timestamps are engine-
    # guaranteed strictly increasing (_commit_version nudges ties by 1µs),
    # so at-commit and midpoint probes resolve deterministically even when
    # two commits land inside one clock tick.
    hist = cat.history("orders_fact")

    def _agg(df: DataFrame, version: int, probe: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            )
            .cast("long")
            .alias("total_cents"),
        ).select(
            F.lit(version).cast("int").alias("version"),
            F.lit(probe).alias("probe"),
            "n_orders",
            "total_cents",
        )

    parts = []
    for i, entry in enumerate(hist):
        parts.append(
            _agg(cat.table_as_of("orders_fact", entry["ts"]), entry["version"], "at_commit")
        )
        if i + 1 < len(hist):
            mid = (entry["ts"] + hist[i + 1]["ts"]) / 2
            parts.append(
                _agg(cat.table_as_of("orders_fact", mid), entry["version"], "between_commits")
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out  # lazy over the shared fixture (atexit sweep)

# Change-data-feed reads over the versioned catalog (Delta CDF shape): the
# same versioned history as time_travel_orders_versions, read back as
# row-level changes BETWEEN versions (insert/delete typed rows via
# multiplicity-aware EXCEPT ALL). The oracle reproduces each change set
# from literal predicates: v0→v1 inserts = the appended 1997-1998 range
# (append-only, so no deletes); v1→v2 deletes = the key-erased status-'F'
# rows (no inserts). plans/engine.py::Catalog.table_changes, pinned by
# tests/test_versioned.py::test_table_changes_cdf.
@register(
    "time_travel_changes",
    """
    WITH appended AS (
      SELECT * FROM orders
      WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1999-01-01'
    ), erased AS (
      SELECT * FROM orders
      WHERE o_orderdate < DATE '1999-01-01' AND o_orderstatus = 'F'
    )
    SELECT 0 AS from_version, 1 AS to_version, 'insert' AS change_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_cents
    FROM appended
    UNION ALL
    SELECT 1, 2, 'delete', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
    FROM erased
    """,
    doc=(
        "change-data-feed between table versions: insert/delete typed row "
        "diffs via multiplicity-aware EXCEPT ALL (Delta CDF shape over the "
        "versioned catalog)"
    ),
)
def time_travel_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # both commits in the fixture history (append, key-erase) staged their
    # own change rows, so table_changes below serves them straight from the
    # stored change files — the changelog-derived CDF path, never a
    # snapshot re-diff (VERDICT r7 ask #3)
    cat = _tt_versioned_fixture(spark, sf_dir)

    def _agg(ch: DataFrame, v_from: int, v_to: int) -> DataFrame:
        return (
            ch.groupBy("_change_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(
                    (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
                        "long"
                    )
                )
                .cast("long")
                .alias("total_cents"),
            )
            .select(
                F.lit(v_from).cast("int").alias("from_version"),
                F.lit(v_to).cast("int").alias("to_version"),
                F.col("_change_type").alias("change_type"),
                "n_rows",
                "total_cents",
            )
        )

    return _agg(cat.table_changes("orders_fact", 0, 1), 0, 1).unionByName(
        _agg(cat.table_changes("orders_fact", 1, 2), 1, 2)
    )  # lazy over the shared fixture's stored change files (atexit sweep)

# Incremental aggregate maintenance from the CDF — the change feed's
# PRODUCTION consumer loop (Delta's incremental-refresh pattern / classic
# IVM for distributive aggregates): a per-status COUNT+SUM aggregate is
# built once at v0, then rolled forward through BOTH commits' change rows
# (served by the changelog-derived path — no snapshot rescan, no base
# rescan: work is O(|changes| + |agg|)). The oracle recomputes the same
# aggregate from v2's literal predicates, so the hash match proves the
# maintained form lands exactly on the from-scratch recompute — inserts,
# the delete of every 'F' group member, and group disappearance included.
# operators/incremental.py::maintain_aggregate, pinned by
# tests/test_incremental.py (random-batch equivalence + real-CDF compose).
@register(
    "cdf_incremental_aggregate",
    """
    WITH v1 AS (SELECT * FROM orders WHERE o_orderdate < DATE '1999-01-01'),
         v2 AS (SELECT * FROM v1 WHERE o_orderstatus <> 'F')
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS total_cents
    FROM v2 GROUP BY 1
    """,
    doc=(
        "incremental view maintenance: a COUNT+SUM aggregate rolled "
        "forward through the CDF's change rows equals the from-scratch "
        "recompute at the tip (O(changes + agg), base never rescanned)"
    ),
)
def cdf_incremental_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kin_data_pipeline_spark.operators.incremental import (
        aggregate_base,
        maintain_aggregate,
    )

    cat = _tt_versioned_fixture(spark, sf_dir)

    def _cents(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "cents",
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"),
        )

    keys, measures = ["o_orderstatus"], {"total_cents": "cents"}
    agg = aggregate_base(
        _cents(cat.table_at_version("orders_fact", 0)),
        keys,
        measures,
        count_col="n_orders",
    )
    for v in (1, 2):
        agg = maintain_aggregate(
            agg,
            _cents(cat.table_changes("orders_fact", v - 1, v)),
            keys,
            measures,
            count_col="n_orders",
        )
    return agg.select("o_orderstatus", "n_orders", "total_cents")

# COUNT(DISTINCT) maintained through the CDF — the non-distributive case:
# a delete can't tell whether OTHER rows still carry the value, so the
# maintained state is the (group, value) -> multiplicity SUPPORT table
# (operators/incremental.py::distinct_support), rolled forward like any
# COUNT aggregate at (group, value) grain; the distinct count derives as
# a support-table row count. Maintained per-status distinct order DATES
# through both fixture commits == the from-scratch recompute at v2
# (appending 1997-98 adds new dates; erasing 'F' removes its group).
# Support state is value-cardinality-sized — at 100 TB that is the known
# cost of EXACT distinct IVM (approximate alternatives live in the
# sketch tier).
@register(
    "cdf_incremental_distinct_count",
    """
    WITH v1 AS (SELECT * FROM orders WHERE o_orderdate < DATE '1999-01-01'),
         v2 AS (SELECT * FROM v1 WHERE o_orderstatus <> 'F')
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS n_order_dates
    FROM v2 GROUP BY 1
    """,
    doc=(
        "incremental COUNT(DISTINCT) via a maintained (group, value) "
        "support multiset rolled forward from CDF rows — equals the "
        "from-scratch distinct count at the tip"
    ),
)
def cdf_incremental_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kin_data_pipeline_spark.operators.incremental import (
        distinct_count_from_support,
        distinct_support,
        maintain_distinct_support,
    )

    cat = _tt_versioned_fixture(spark, sf_dir)
    sup = distinct_support(
        cat.table_at_version("orders_fact", 0), ["o_orderstatus"], "o_orderdate"
    )
    for v in (1, 2):
        sup = maintain_distinct_support(
            sup,
            cat.table_changes("orders_fact", v - 1, v),
            ["o_orderstatus"],
            "o_orderdate",
        )
    return distinct_count_from_support(
        sup, ["o_orderstatus"], out_col="n_order_dates"
    )

# MIN/MAX maintained through the CDF — the HYBRID (non-distributive) case:
# an insert can only improve an extremum (pure delta math), but deleting a
# stored extremum needs the base, so maintain_minmax rebuilds EXACTLY the
# affected groups via a semi-join-pruned scan of the post-change table.
# Grouping per order YEAR makes both branches execute on this fixture:
# v0→v1 appends 1997-98 (new groups + delta-only improvements), v1→v2
# erases every status-'F' row — in the early years 'F' dominates, so the
# deleted values tie the stored per-year extrema and those groups take the
# rebuild path, while late years see no deletes and stay delta-only. The
# oracle recomputes per-year MIN/MAX cents from v2's literal predicates,
# so the hash match proves the hybrid maintenance lands exactly on the
# from-scratch recompute. operators/incremental.py::maintain_minmax,
# pinned locally by tests/test_incremental.py (randomized-batch
# equivalence + real-CDF composition).
@register(
    "cdf_incremental_minmax",
    """
    WITH v1 AS (SELECT * FROM orders WHERE o_orderdate < DATE '1999-01-01'),
         v2 AS (SELECT * FROM v1 WHERE o_orderstatus <> 'F')
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
           CAST(MIN(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS min_cents,
           CAST(MAX(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS max_cents
    FROM v2 GROUP BY 1
    """,
    doc=(
        "incremental MIN/MAX via hybrid maintenance: delta-only on "
        "inserts, semi-join-scoped rebuild of exactly the groups whose "
        "stored extremum a delete reached — equals the from-scratch "
        "MIN/MAX at the tip"
    ),
)
def cdf_incremental_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kin_data_pipeline_spark.operators.incremental import (
        maintain_minmax,
        minmax_base,
    )

    cat = _tt_versioned_fixture(spark, sf_dir)

    def _shape(df: DataFrame) -> DataFrame:
        return df.withColumn("o_year", F.year("o_orderdate")).withColumn(
            "cents",
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"),
        )

    mm = minmax_base(
        _shape(cat.table_at_version("orders_fact", 0)),
        ["o_year"],
        "cents",
        min_col="min_cents",
        max_col="max_cents",
    )
    for v in (1, 2):
        mm = maintain_minmax(
            mm,
            _shape(cat.table_changes("orders_fact", v - 1, v)),
            _shape(cat.table_at_version("orders_fact", v)),
            ["o_year"],
            "cents",
            min_col="min_cents",
            max_col="max_cents",
        )
    return mm.select("o_year", "min_cents", "max_cents")


# --- shared Runner-IVM fixture (VERDICT r9 ask #4) -------------------------
# The two Runner-IVM engine demos each built a scratch versioned warehouse
# and drove a multi-commit lifecycle per query — the fleet's two most
# expensive bench rows. Neither mutates state the other reads, so the two
# lifecycles now share ONE session-cached warehouse (the
# _tt_versioned_fixture pattern): two INDEPENDENT source tables, each mart
# maintained by its own Runner pass at build time, the refresh actions
# recorded and re-asserted per query (identical assertions — the driver
# row still fails if the Runner ever silently falls back to rebuilding),
# and the queries return LAZY frames over the maintained marts (the
# warehouse lives until interpreter exit via the shared atexit sweep).
_RIVM_CACHE: dict[tuple, dict] = {}


def _rivm_cents(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "cents",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"),
    )


def _rivm_fixture(spark: SparkSession, sf_dir: str) -> dict:
    import atexit
    import datetime
    import tempfile

    from kin_data_pipeline_spark.plans.engine import Catalog, Runner
    from kin_data_pipeline_spark.plans.model import IvmSpec, Model

    k = (spark.sparkContext.applicationId, sf_dir)
    with _TT_LOCK:
        if k in _RIVM_CACHE:
            return _RIVM_CACHE[k]
        spark = _stream_session(spark)  # the stream leg needs the clone
        cat = Catalog(spark, tempfile.mkdtemp(prefix="rivm_wh_"))
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice"
        )
        run_date = datetime.date(2024, 1, 31)
        runner = Runner(spark, cat)

        # --- batch Runner strategy: rollup_src v0 → v3 -------------------
        cat.write_full(
            "rollup_src",
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1994-01-01").cast("date"))
                & (F.col("o_orderdate") < F.lit("1995-01-01").cast("date"))
            ),
            None,
        )
        cat.enable_versioning("rollup_src")  # v0
        rollup = Model(
            name="status_rollup",
            ivm=IvmSpec(
                source="rollup_src",
                group_by=["o_orderstatus"],
                measures={"total_cents": "cents"},
                count_col="n_orders",
                distinct_counts={"n_order_dates": "o_orderdate"},
                # maintained HOLISTIC quantile (percentile_disc via the
                # persisted turnstile support — exact under the erase and
                # upsert commits below, where a t-digest could not
                # subtract)
                quantiles={"median_cents": ("cents", 0.5)},
                row_transform=_rivm_cents,
            ),
            date_col=None,
        )
        rollup_actions = [runner.run([rollup], run_date)[0].action]
        cat.write_append(
            "rollup_src",
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
                & (F.col("o_orderdate") < F.lit("1995-07-01").cast("date"))
            ),
            None,
        )  # v1: append
        cat.delete_by_keys("rollup_src", "o_orderstatus", ["F"])  # v2: erase
        # v3: an upsert that lands typed update rows in the feed — a +$1000
        # bump to the MIN-orderkey surviving order (deterministic, so the
        # oracle mirrors it with a CASE on that key); materialized as a
        # literal row FIRST (a lazy frame over the table would capture a
        # file listing the upsert's own rewrite invalidates). Bounded 1-row
        # driver probe.
        src = cat.table("rollup_src")
        row = src.orderBy("o_orderkey").limit(1).collect()[0]
        price_t = dict(src.dtypes)["o_totalprice"]
        probe = spark.createDataFrame([row], src.schema).withColumn(
            "o_totalprice",
            (F.col("o_totalprice") + F.lit(1000.0)).cast(price_t),
        )
        cat.upsert_by_key("rollup_src", probe, ["o_orderkey"], None)  # v3
        # ONE maintained refresh spanning all three commits (multi-commit
        # table_changes nets the span, folding the typed pair onto sides)
        rollup_actions.append(runner.run([rollup], run_date)[0].action)

        # --- stream-triggered strategy: extrema_src (own table) ----------
        cat.write_full(
            "extrema_src",
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
                & (F.col("o_orderdate") < F.lit("1995-07-01").cast("date"))
            ),
            None,
        )
        cat.enable_versioning("extrema_src")  # v0
        extrema = Model(
            name="status_extrema",
            ivm=IvmSpec(
                source="extrema_src",
                group_by=["o_orderstatus"],
                count_col="n_orders",
                minmax={"cents": ("min_cents", "max_cents")},
                measures={"total_cents": "cents"},
                derived={"avg_cents": "round(total_cents / n_orders, 6)"},
                row_transform=_rivm_cents,
            ),
            date_col=None,
        )
        # approximate-distinct mart over the same source (IvmSpec.
        # approx_distinct, r10 VERDICT stretch 7b): the HLL sketch column
        # rides in-mart beside an EXACT distinct twin; the v1 append
        # exercises the insert-merge path and the v2 status erase the
        # affected-group re-sketch (HLL has no subtract)
        approx = Model(
            name="status_approx_dates",
            ivm=IvmSpec(
                source="extrema_src",
                group_by=["o_orderstatus"],
                count_col="n_orders",
                distinct_counts={"n_dates": "o_orderdate"},
                approx_distinct={"n_dates_approx": "o_orderdate"},
            ),
            date_col=None,
        )
        stream_results = []
        runner.run([extrema], run_date)  # full at v0
        approx_actions = [runner.run([approx], run_date)[0].action]
        cat.write_append(
            "extrema_src",
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1995-07-01").cast("date"))
                & (F.col("o_orderdate") < F.lit("1995-10-01").cast("date"))
            ),
            None,
        )  # v1
        cat.delete_by_keys("extrema_src", "o_orderstatus", ["F"])  # v2: hits extrema
        approx_actions.append(runner.run([approx], run_date)[0].action)
        q = runner.stream_ivm(
            extrema, available_now=True, results=stream_results
        )
        _await_and_record(q, "runner_stream_ivm_extrema_sink")
        # the stream runs ONCE, at fixture build — snapshot its sink
        # stats out of the per-run register (a bench run that didn't
        # start a stream must not report a half-recorded one) and let
        # the query REPLAY them verbatim on every call, keeping the
        # trigger counts adjudicable from the committed detail file
        stream_sink_stats = {
            "runner_stream_ivm_extrema_sink (fixture build)": dict(
                STREAM_RUN_STATS.pop("runner_stream_ivm_extrema_sink")
            )
        }

        # --- union (multi-source) strategy: sales_src ⊎ returns_src ------
        # two versioned sources with DIFFERENT schemas, projected to a
        # common surface by per-leg row-local transforms (IvmSpec.sources,
        # the reference's U1/U2 observation-union shape); each leg anchors
        # its own change span, so the sales append and the returns erase
        # fold in ONE refresh without touching each other's history
        cat.write_full(
            "sales_src",
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1994-01-01").cast("date"))
                & (F.col("o_orderdate") < F.lit("1995-01-01").cast("date"))
            ),
            None,
        )
        cat.enable_versioning("sales_src")  # v0
        cat.write_full(
            "returns_src",
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
                & (F.col("o_orderdate") < F.lit("1995-07-01").cast("date"))
            ).select(
                F.col("o_orderkey").alias("r_key"),
                F.col("o_orderstatus").alias("r_status"),
                F.col("o_orderdate").alias("r_date"),
                F.col("o_totalprice").alias("r_price"),
            ),
            None,
        )
        cat.enable_versioning("returns_src")  # v0

        def _common(df, cols):
            # per-leg projection to the union surface; the CDF's
            # _change_type rides through when present (change rows), so
            # the same leg serves base rebuilds and change spans
            if "_change_type" in df.columns:
                cols = [*cols, F.col("_change_type")]
            return df.select(*cols)

        def _sales_leg(df):
            return _common(df, [
                F.col("o_orderstatus"),
                F.col("o_orderdate"),
                (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                .cast("long")
                .alias("cents"),
            ])

        def _returns_leg(df):
            return _common(df, [
                F.col("r_status").alias("o_orderstatus"),
                F.col("r_date").alias("o_orderdate"),
                (F.col("r_price").cast("decimal(18,2)") * -100)
                .cast("long")
                .alias("cents"),
            ])

        union_mart = Model(
            name="net_by_status",
            ivm=IvmSpec(
                sources={"sales_src": _sales_leg, "returns_src": _returns_leg},
                group_by=["o_orderstatus"],
                count_col="n_rows",
                measures={"net_cents": "cents"},
                distinct_counts={"n_order_dates": "o_orderdate"},
            ),
            date_col=None,
        )
        union_actions = [runner.run([union_mart], run_date)[0].action]
        cat.write_append(
            "sales_src",
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1995-07-01").cast("date"))
                & (F.col("o_orderdate") < F.lit("1995-10-01").cast("date"))
            ),
            None,
        )  # sales v1
        cat.delete_by_keys("returns_src", "r_status", ["F"])  # returns v1
        union_actions.append(runner.run([union_mart], run_date)[0].action)

        # --- STREAM-driven union maintenance (r10 VERDICT ask #2) --------
        # a second union mart over the SAME two versioned sources, kept
        # fresh by stream_ivm's one-commit-signal-listener-PER-LEG form:
        # after its batch build, the sales leg takes a key-erase and the
        # returns leg an append, and draining the two availableNow signal
        # streams folds both spans through the per-source anchors —
        # raising on any rebuild is asserted by the registered query
        live_mart = Model(
            name="net_by_status_live",
            ivm=IvmSpec(
                sources={"sales_src": _sales_leg, "returns_src": _returns_leg},
                group_by=["o_orderstatus"],
                count_col="n_rows",
                measures={"net_cents": "cents"},
                distinct_counts={"n_order_dates": "o_orderdate"},
            ),
            date_col=None,
        )
        live_actions = [runner.run([live_mart], run_date)[0].action]
        cat.delete_by_keys("sales_src", "o_orderstatus", ["P"])  # sales v2
        cat.write_append(
            "returns_src",
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1995-10-01").cast("date"))
                & (F.col("o_orderdate") < F.lit("1996-01-01").cast("date"))
            ).select(
                F.col("o_orderkey").alias("r_key"),
                F.col("o_orderstatus").alias("r_status"),
                F.col("o_orderdate").alias("r_date"),
                F.col("o_totalprice").alias("r_price"),
            ),
            None,
        )  # returns v2
        stream_union_results: list = []
        qs = runner.stream_ivm(
            live_mart, available_now=True, results=stream_union_results
        )
        for i, q in enumerate(qs):
            _await_and_record(q, f"runner_stream_union_ivm_leg{i}_sink")
        stream_union_sink_stats = {
            f"runner_stream_union_ivm_leg{i}_sink (fixture build)": dict(
                STREAM_RUN_STATS.pop(f"runner_stream_union_ivm_leg{i}_sink")
            )
            for i in range(len(qs))
        }

        if not _TT_DIRS:
            atexit.register(_tt_sweep)
        _TT_DIRS.append(cat.warehouse_dir)
        _RIVM_CACHE[k] = {
            "cat": cat,
            "rollup_actions": rollup_actions,
            "stream_actions": [r.action for r in stream_results],
            "stream_sink_stats": stream_sink_stats,
            "union_actions": union_actions,
            "stream_union_actions": live_actions
            + [r.action for r in stream_union_results],
            "stream_union_sink_stats": stream_union_sink_stats,
            "approx_actions": approx_actions,
        }
        return _RIVM_CACHE[k]


# The Runner's IVM refresh strategy end-to-end (VERDICT r8 asks #3 + #7b):
# a mart DECLARED as Model(ivm=IvmSpec(...)) — per-status COUNT + SUM
# cents + exact COUNT(DISTINCT order dates) via the persisted support
# table — is built by the Runner at v0, then maintained by ONE refresh
# whose span covers three commit kinds at once: an append, a
# group-erasing key delete, and an upsert landing typed
# update_preimage/update_postimage rows (multi-commit table_changes nets
# the span, folding the typed pair onto its sides). The query RAISES if
# the refresh is not action == 'ivm', so the driver row fails if the
# Runner ever silently falls back to rebuilding; the oracle recomputes
# the same aggregate from the tip's literal predicates (mirroring the
# deterministic MIN-orderkey price bump), so the hash match proves the
# maintained mart (distinct counts included) lands exactly on the
# from-scratch result. plans/engine.py::_run_ivm, pinned locally by
# tests/test_ivm_refresh.py.
@register(
    "runner_ivm_status_rollup",
    """
    WITH v3 AS (
      SELECT * FROM orders
      WHERE o_orderdate >= DATE '1994-01-01'
        AND o_orderdate < DATE '1995-07-01' AND o_orderstatus <> 'F'
    ), mk AS (SELECT MIN(o_orderkey) AS k FROM v3)
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                    + CASE WHEN o_orderkey = (SELECT k FROM mk)
                           THEN 100000 ELSE 0 END)
                AS BIGINT) AS total_cents,
           CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS n_order_dates,
           CAST(quantile_disc(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                    + CASE WHEN o_orderkey = (SELECT k FROM mk)
                           THEN 100000 ELSE 0 END, 0.5)
                AS BIGINT) AS median_cents
    FROM v3 GROUP BY 1
    """,
    doc=(
        "Runner IVM refresh strategy: a declared rollup mart (COUNT+SUM "
        "+ exact COUNT(DISTINCT) and percentile_disc MEDIAN via "
        "persisted turnstile support tables) is "
        "maintained from the CDF across append/delete/upsert commits and "
        "equals the from-scratch recompute at the tip"
    ),
)
def runner_ivm_status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    fx = _rivm_fixture(spark, sf_dir)
    if fx["rollup_actions"] != ["full", "ivm"]:
        raise AssertionError(
            f"Runner IVM strategy degraded: actions {fx['rollup_actions']} "
            "!= ['full', 'ivm']"
        )
    return fx["cat"].table("status_rollup").select(
        "o_orderstatus", "n_orders", "total_cents", "n_order_dates",
        "median_cents",
    )

# The PRODUCTIONIZED streaming form of the Runner strategy —
# Runner.stream_ivm: the CDF stream is a commit SIGNAL; each micro-batch
# triggers one incremental refresh through the batch path (reading the
# stored change span from the recorded state to the log tip), so replays
# are idempotent by construction. This registration covers the classes
# the batch runner query doesn't: hybrid MIN/MAX extrema riding the
# mart's own columns and a derived AVG recomputed per refresh. The query
# RAISES unless the stream-triggered refreshes were 'ivm'/'noop' with at
# least one 'ivm' (never a rebuild); the oracle recomputes per-status
# MIN/MAX/AVG cents from the tip's literal predicates.
# plans/engine.py::Runner.stream_ivm, pinned locally by
# tests/test_ivm_refresh.py::test_stream_ivm_maintains_continuously.
@register(
    "runner_stream_ivm_extrema",
    """
    WITH v2 AS (
      SELECT * FROM orders
      WHERE o_orderdate >= DATE '1995-01-01'
        AND o_orderdate < DATE '1995-10-01' AND o_orderstatus <> 'F'
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS min_cents,
           CAST(MAX(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS max_cents,
           ROUND(CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                               AS BIGINT)) AS DOUBLE)
                 / COUNT(*), 6) AS avg_cents
    FROM v2 GROUP BY 1
    """,
    doc=(
        "streaming Runner IVM: the CDF stream triggers per-micro-batch "
        "maintenance of a declared mart with hybrid MIN/MAX extrema and "
        "a derived AVG — equals the from-scratch recompute at the tip"
    ),
)
def runner_stream_ivm_extrema(spark: SparkSession, sf_dir: str) -> DataFrame:
    fx = _rivm_fixture(spark, sf_dir)
    # replay the build-time stream's sink stats (see _rivm_fixture): the
    # per-run numbers are identical BY CONSTRUCTION — the stream executed
    # once, when the shared fixture was built
    STREAM_RUN_STATS.update(
        {k: dict(v) for k, v in fx["stream_sink_stats"].items()}
    )
    actions = fx["stream_actions"]
    if "ivm" not in actions or not all(a in ("ivm", "noop") for a in actions):
        raise AssertionError(
            f"stream_ivm degraded: trigger actions {actions} must be "
            "ivm/noop with at least one ivm"
        )
    return fx["cat"].table("status_extrema").select(
        "o_orderstatus", "n_orders", "min_cents", "max_cents", "avg_cents"
    )

# The STREAMING form of the loop above — CDF stream → foreachBatch →
# maintained aggregate: the complete production pattern for keeping a
# downstream rollup continuously fresh from a mutating upstream table
# (Delta's readChangeFeed + MERGE refresh, expressed over this engine's
# catalog_changes source + maintain_aggregate). Each micro-batch's
# change rows roll the aggregate forward (maintenance is multiset-
# additive, so batch boundaries don't matter); the driver-held aggregate
# is localCheckpoint'd per batch because a foreachBatch frame is only
# valid inside its call. Builds its own scratch history (a foreachBatch
# consumer must never share the read-only fixture's session cloning).
# Oracle identical to cdf_incremental_aggregate: the converged aggregate
# equals the from-scratch recompute at the tip.
@register(
    "streaming_incremental_aggregate",
    """
    WITH v1 AS (SELECT * FROM orders WHERE o_orderdate < DATE '1999-01-01'),
         v2 AS (SELECT * FROM v1 WHERE o_orderstatus <> 'F')
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS total_cents
    FROM v2 GROUP BY 1
    """,
    doc=(
        "streaming IVM: the CDF stream drives foreachBatch aggregate "
        "maintenance — the converged downstream rollup equals the "
        "from-scratch recompute at the tip"
    ),
)
def streaming_incremental_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from kin_data_pipeline_spark.operators.incremental import (
        aggregate_base,
        maintain_aggregate,
    )
    from kin_data_pipeline_spark.plans.engine import Catalog
    from kin_data_pipeline_spark.streaming.cdf_source import stream_table_changes

    spark = _stream_session(spark)
    cat = Catalog(spark, tempfile.mkdtemp(prefix="ivm_wh_"))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderdate",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    stored = ["o_orderkey", "o_orderstatus", "cents"]
    cat.write_full(
        "orders_fact",
        orders.filter(
            F.col("o_orderdate") < F.lit("1997-01-01").cast("date")
        ).select(*stored),
        None,
    )
    cat.enable_versioning("orders_fact")  # v0
    keys, measures = ["o_orderstatus"], {"total_cents": "cents"}
    holder = {
        "agg": aggregate_base(
            cat.table_at_version("orders_fact", 0),
            keys,
            measures,
            count_col="n_orders",
        ).localCheckpoint(eager=True)
    }
    cat.write_append(
        "orders_fact",
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1999-01-01").cast("date"))
        ).select(*stored),
        None,
    )  # v1
    cat.delete_by_keys("orders_fact", "o_orderstatus", ["F"])  # v2

    def step(batch_df, _batch_id):
        holder["agg"] = maintain_aggregate(
            holder["agg"],
            batch_df.drop("_commit_version", "_commit_timestamp"),
            keys,
            measures,
            count_col="n_orders",
        ).localCheckpoint(eager=True)

    st = stream_table_changes(
        spark,
        cat.warehouse_dir,
        "orders_fact",
        "o_orderkey bigint, o_orderstatus string, cents bigint",
    )
    q = st.writeStream.foreachBatch(step).trigger(availableNow=True).start()
    _await_and_record(q, "streaming_incremental_aggregate_sink")
    out = holder["agg"].select("o_orderstatus", "n_orders", "total_cents")
    # bounded collect (one row per status) so the scratch warehouse can go
    rows = out.collect()
    shutil.rmtree(cat.warehouse_dir, ignore_errors=True)
    return spark.createDataFrame(
        rows, "o_orderstatus string, n_orders long, total_cents long"
    )

# RESTORE over the versioned catalog (Delta RESTORE ... VERSION AS OF):
# the same versioned history as time_travel_orders_versions, then a
# rollback to v0 — the live table must read back as the original slice,
# the rolled-back state must STAY readable at its version number (history
# is append-only), and the restore itself is a commit. The oracle
# reproduces all three states from literal predicates. Engine:
# plans/engine.py::Catalog.restore_version, pinned by
# tests/test_versioned.py::test_restore_version_rolls_back_and_commits.
@register(
    "time_travel_restore",
    """
    WITH v0 AS (SELECT * FROM orders WHERE o_orderdate < DATE '1997-01-01'),
         v1 AS (SELECT * FROM v0 WHERE o_orderstatus <> 'F')
    SELECT 0 AS version, 'enable_versioning' AS operation,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_cents
    FROM v0
    UNION ALL
    SELECT 1, 'delete_by_keys', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
    FROM v1
    UNION ALL
    SELECT 2, 'restore(v0)', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
    FROM v0
    """,
    doc=(
        "Delta RESTORE VERSION AS OF: rollback commits a new version, "
        "history stays append-only, rolled-back state remains readable"
    ),
)
def time_travel_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from kin_data_pipeline_spark.plans.engine import Catalog

    cat = Catalog(spark, tempfile.mkdtemp(prefix="tt_wh_"))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice"
    )
    cat.write_full(
        "orders_fact",
        orders.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("date")),
        None,
    )
    cat.enable_versioning("orders_fact")  # v0
    cat.delete_by_keys("orders_fact", "o_orderstatus", ["F"])  # v1
    cat.restore_version("orders_fact", 0)  # v2 == v0's data, new commit
    hist = cat.history("orders_fact")
    parts = []
    for entry in hist:
        v = entry["version"]
        # v2 reads the LIVE table (the restore's whole point); earlier
        # versions read through VERSION AS OF
        df = (
            cat.table("orders_fact")
            if v == hist[-1]["version"]
            else cat.table_at_version("orders_fact", v)
        )
        parts.append(
            df.agg(
                F.count(F.lit(1)).cast("long").alias("n_orders"),
                F.sum(
                    (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
                        "long"
                    )
                )
                .cast("long")
                .alias("total_cents"),
            ).select(
                F.lit(v).cast("int").alias("version"),
                F.lit(entry["operation"]).alias("operation"),
                "n_orders",
                "total_cents",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # bounded collect + scratch cleanup, same reasoning as
    # time_travel_orders_versions above
    rows = out.collect()
    import shutil

    shutil.rmtree(cat.warehouse_dir, ignore_errors=True)
    return spark.createDataFrame(
        rows, "version int, operation string, n_orders long, total_cents long"
    )

# STREAMING change-data-feed over the versioned catalog — Delta's
# readStream readChangeFeed surface, expressed PySpark-natively as a
# custom Python Data Source (streaming/cdf_source.py): offsets are
# version numbers in the commit log, each micro-batch partition carries
# one commit's multiset row diff with _commit_version provenance. Same
# versioned history as time_travel_changes (full load -> append ->
# key-erase), consumed as a STREAM run to completion; rows store exact
# integer cents at write time so the converged aggregate is
# order-independent. The oracle reproduces each commit's change set from
# literal predicates. Incremental-offset behavior (new commits after a
# checkpointed run emit only the delta) is pinned in
# tests/test_streaming.py.
@register(
    "streaming_table_changes",
    """
    WITH appended AS (
      SELECT * FROM orders
      WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1999-01-01'
    ), erased AS (
      SELECT * FROM orders
      WHERE o_orderdate < DATE '1999-01-01' AND o_orderstatus = 'F'
    )
    SELECT 1 AS commit_version, 'insert' AS change_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_cents
    FROM appended
    UNION ALL
    SELECT 2, 'delete', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
    FROM erased
    """,
    doc=(
        "streaming CDF: custom Python Data Source over the versioned "
        "catalog (offsets = commit versions), run to completion; "
        "per-commit insert/delete aggregates on exact cents"
    ),
)
def streaming_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from kin_data_pipeline_spark.plans.engine import Catalog
    from kin_data_pipeline_spark.streaming.cdf_source import stream_table_changes

    spark = _stream_session(spark)
    cat = Catalog(spark, tempfile.mkdtemp(prefix="cdf_wh_"))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderdate",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    stored = ["o_orderkey", "o_orderstatus", "cents"]
    cat.write_full(
        "orders_fact",
        orders.filter(
            F.col("o_orderdate") < F.lit("1997-01-01").cast("date")
        ).select(*stored),
        None,
    )
    cat.enable_versioning("orders_fact")  # v0
    cat.write_append(
        "orders_fact",
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1999-01-01").cast("date"))
        ).select(*stored),
        None,
    )  # v1
    cat.delete_by_keys("orders_fact", "o_orderstatus", ["F"])  # v2
    st = stream_table_changes(
        spark,
        cat.warehouse_dir,
        "orders_fact",
        "o_orderkey bigint, o_orderstatus string, cents bigint",
    )
    sunk = _run_to_memory(st, "streaming_table_changes_sink", "append")
    out = sunk.groupBy(
        F.col("_commit_version").alias("commit_version"),
        F.col("_change_type").alias("change_type"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("total_cents"),
    )
    # bounded collect + scratch cleanup, same reasoning as the
    # time-travel queries above
    rows = out.collect()
    shutil.rmtree(cat.warehouse_dir, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "commit_version int, change_type string, n_rows long, total_cents long",
    )

# TPC-H Q21 shape (waiting-supplier chain): the hardest relational pattern
# in the suite — a candidate row qualified by BOTH an EXISTS (another
# supplier on the same order) and a NOT EXISTS (no OTHER late supplier on
# it). Adapted to the fixture schema ("late" = shipped more than 90 days
# after the order date; the fixture has no receipt/commit dates). The
# oracle states the classic correlated EXISTS/NOT EXISTS form; the Spark
# side is the scale-correct decorrelated rewrite — ONE per-order aggregate
# (distinct suppliers, distinct late suppliers) joined back to the late
# candidates, so the "two more lineitem self-joins" the literal form
# implies never happen. A late candidate is sole-late iff the order has
# >1 suppliers and exactly 1 late one.
@register(
    "sole_late_supplier_q21",
    """
    WITH lo AS (
      SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate, o.o_orderdate
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS n_orders_waited
    FROM (
      SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
      FROM lo l1
      WHERE l1.l_shipdate > l1.o_orderdate + INTERVAL 90 DAY
        AND EXISTS (
          SELECT 1 FROM lo l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
        )
        AND NOT EXISTS (
          SELECT 1 FROM lo l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > l3.o_orderdate + INTERVAL 90 DAY
        )
    ) c JOIN supplier s ON s.s_suppkey = c.l_suppkey
    GROUP BY s.s_name
    """,
    doc=(
        "TPC-H Q21 shape: EXISTS + NOT EXISTS waiting-supplier chain, "
        "decorrelated to one per-order aggregate on the Spark side"
    ),
)
def sole_late_supplier_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.date_add("o_orderdate", 90)).alias("is_late"),
    )
    per_order = j.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_sup"),
        F.countDistinct(
            F.when(F.col("is_late"), F.col("l_suppkey"))
        ).alias("n_late_sup"),
    )
    candidates = (
        j.filter(F.col("is_late")).select("l_orderkey", "l_suppkey").distinct()
    )
    sole = candidates.join(
        per_order.filter((F.col("n_sup") > 1) & (F.col("n_late_sup") == 1)),
        "l_orderkey",
    )
    supplier = F.broadcast(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    )
    return (
        sole.join(supplier, sole["l_suppkey"] == supplier["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders_waited"))
    )

# TPC-H Q20 shape (dominant-share threshold): correlated scalar-subquery
# thresholds — suppliers shipping MORE THAN TWICE THE FAIR SHARE of a
# part's total quantity (sup_qty · n_suppliers > 2 · part_qty; Q20's
# literal half-of-total is vacuous on this uniformly-assigned fixture at
# every SF, and a vacuous gate compares empty-to-empty). The oracle keeps
# TWO correlated subqueries in the HAVING (the distinct-supplier count
# and the part total); the Spark side decorrelates both into ONE per-part
# aggregate joined back, compared in EXACT integers (no fractions
# anywhere).
@register(
    "dominant_part_suppliers_q20",
    """
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS n_dominant_parts
    FROM (
      SELECT l.l_suppkey, l.l_partkey
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_name LIKE 's%'
      GROUP BY l.l_suppkey, l.l_partkey
      HAVING SUM(CAST(l.l_quantity AS BIGINT)) * (
        SELECT COUNT(DISTINCT l3.l_suppkey)
        FROM lineitem l3 WHERE l3.l_partkey = l.l_partkey
      ) > 2 * (
        SELECT SUM(CAST(l2.l_quantity AS BIGINT))
        FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
      )
    ) d JOIN supplier s ON s.s_suppkey = d.l_suppkey
    GROUP BY s.s_name
    """,
    doc=(
        "TPC-H Q20 shape: two correlated threshold subqueries (fair-share "
        "dominance), decorrelated to one per-part aggregate with exact "
        "integer comparison"
    ),
)
def dominant_part_suppliers_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("s"))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", F.col("l_quantity").cast("long").alias("qty")
    )
    lif = li.join(parts, li["l_partkey"] == parts["p_partkey"]).select(
        "l_partkey", "l_suppkey", "qty"
    )
    sup_part = lif.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("qty").alias("sup_qty")
    )
    totals = lif.groupBy("l_partkey").agg(
        F.sum("qty").alias("part_qty"),
        F.countDistinct("l_suppkey").alias("n_sup"),
    )
    dominant = sup_part.join(totals, "l_partkey").filter(
        F.col("sup_qty") * F.col("n_sup") > 2 * F.col("part_qty")
    )
    supplier = F.broadcast(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    )
    return (
        dominant.join(supplier, dominant["l_suppkey"] == supplier["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dominant_parts"))
    )

# TPC-H Q4 shape (order-priority checking): orders qualified by an EXISTS
# over their lineitems with a cross-table inequality ("some line shipped
# more than 60 days after the order date" — the fixture's stand-in for
# commit-vs-receipt lateness). The oracle keeps the correlated EXISTS;
# the Spark side is a LEFT SEMI hash join on the order key with the
# inequality as a residual — one pass, no decorrelation aggregate needed
# for pure existence.
@register(
    "priority_late_orders_q4",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= DATE '1995-01-01'
      AND o.o_orderdate < DATE '1995-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
    doc=(
        "TPC-H Q4 shape: correlated EXISTS with cross-table inequality as "
        "a left-semi hash join with residual"
    ),
)
def priority_late_orders_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1995-04-01").cast("date"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > F.date_add(o["o_orderdate"], 60)),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )

# TPC-H Q15 shape (top supplier view): quarterly per-supplier revenue,
# then the supplier(s) AT the global maximum — ties kept via equality
# with the scalar max, never a LIMIT (Q15's defining property). Revenue
# is exact integer cents so the equality is bit-safe on both engines;
# the 1-row max frame crosses in broadcast (the same compiled shape
# DuckDB gives the scalar subquery; allowlisted with Q22).
@register(
    "top_supplier_revenue_q15",
    """
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                      ) AS BIGINT) AS revenue_cents
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_name, r.revenue_cents
    FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.revenue_cents = (SELECT MAX(revenue_cents) FROM rev)
    """,
    doc=(
        "TPC-H Q15 shape: revenue view + scalar-max equality (ties kept), "
        "exact integer cents"
    ),
)
def top_supplier_revenue_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("date"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
        )
        .cast("long")
        .alias("revenue_cents")
    )
    top = rev.agg(F.max("revenue_cents").alias("max_rev"))
    supplier = F.broadcast(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    )
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("revenue_cents") == F.col("max_rev"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "revenue_cents")
    )

# TPC-H Q13 shape (customer distribution): the two-level count — orders
# per customer, then the HISTOGRAM of those counts — with Q13's defining
# subtlety: the order filter lives in the LEFT JOIN CONDITION, not the
# WHERE clause, so customers with no qualifying orders survive as
# c_count = 0 (a WHERE would silently drop the zero bucket and change
# every row of the histogram).
@register(
    "customer_order_distribution_q13",
    """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) GROUP BY c_count
    """,
    doc=(
        "TPC-H Q13 shape: filter in the LEFT JOIN condition (zero-order "
        "customers survive) + two-level count histogram"
    ),
)
def customer_order_distribution_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    per_cust = (
        c.join(
            o,
            (c["c_custkey"] == o["o_custkey"])
            & (o["o_orderpriority"] != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("long").alias("custdist")
    )

# TPC-H Q8 shape (national market share): a conditional-fraction metric —
# one nation's share of a region's yearly order volume — computed as a
# ratio of two EXACT integer-cent sums with one final IEEE division
# (house exactness rule: never sum floats, never divide twice).
@register(
    "national_market_share_q8",
    """
    SELECT o_year,
           ROUND(
             CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3'
                               THEN volume_cents ELSE 0 END) AS BIGINT) AS DOUBLE)
             / CAST(CAST(SUM(volume_cents) AS BIGINT) AS DOUBLE), 6
           ) AS mkt_share
    FROM (
      SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
             n2.n_name AS supp_nation,
             CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS volume_cents
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n1.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'ASIA'
        AND o.o_orderdate >= DATE '1996-01-01'
        AND o.o_orderdate < DATE '1998-01-01'
    ) GROUP BY o_year
    """,
    doc=(
        "TPC-H Q8 shape: national market share — conditional fraction of "
        "exact cent sums over a 7-table snowflake, one final division"
    ),
)
def national_market_share_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("volume_cents"),
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
    ).select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year"))
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    cust_region = F.broadcast(
        load_table(spark, sf_dir, "customer")
        .join(
            nation.join(
                region, nation["n_regionkey"] == region["r_regionkey"]
            ).filter(F.col("r_name") == "ASIA"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    supp_nation = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .join(
            nation.select(
                F.col("n_nationkey").alias("sn_key"),
                F.col("n_name").alias("supp_nation"),
            ),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .select("s_suppkey", "supp_nation")
    )
    vol = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(cust_region, o["o_custkey"] == cust_region["c_custkey"])
        .join(supp_nation, li["l_suppkey"] == supp_nation["s_suppkey"])
    )
    return vol.groupBy("o_year").agg(
        F.round(
            F.sum(
                F.when(
                    F.col("supp_nation") == "NATION_3", F.col("volume_cents")
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .cast("double")
            / F.sum("volume_cents").cast("long").cast("double"),
            6,
        ).alias("mkt_share")
    )

# TPC-H Q10 shape (returned-item reporting): revenue lost to returns per
# customer over a quarter, top 20. The defining properties: top-k over an
# AGGREGATE (not a scan — the rank input is itself a 4-table join + groupBy)
# and a deterministic ORDER (revenue is kept as an exact DECIMAL for the
# sort — never a float, whose summation order would make the k-boundary
# engine-dependent — with c_custkey as the tiebreak). Spark compiles the
# orderBy+limit to TakeOrderedAndProject: per-partition heaps, one k-row
# driver merge, no global sort at any scale.
@register(
    "returned_item_customers_q10",
    """
    WITH ret AS (
      SELECT c.c_custkey, c.c_name, n.n_name AS nation,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(8,2)))) AS rev
      FROM customer c
      JOIN orders o ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      WHERE o.o_orderdate >= DATE '1996-01-01'
        AND o.o_orderdate < DATE '1996-04-01'
        AND l.l_returnflag = 'R'
      GROUP BY 1, 2, 3
    )
    SELECT c_custkey, c_name, nation, CAST(rev AS DOUBLE) AS revenue
    FROM ret ORDER BY rev DESC, c_custkey ASC LIMIT 20
    """,
    doc=(
        "TPC-H Q10 shape: top-20 customers by returned-item revenue — "
        "top-k over an aggregate with an exact-decimal sort key"
    ),
)
def returned_item_customers_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("date"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    c = F.broadcast(
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_nationkey"
        )
    )
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    rev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == F.col("c_custkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(8,2)"))
            ).alias("rev")
        )
    )
    return (
        rev.orderBy(F.desc("rev"), F.asc("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "nation",
            F.col("rev").cast("double").alias("revenue"),
        )
    )

# TPC-H Q12 shape (shipmode priority audit): the late-shipped lines of a
# ship-year, split per line-status into conditional counts of urgent vs
# non-urgent order priorities — Q12's fused CASE-pair over a join with a
# cross-table date inequality (ship > order + 45d) riding the equi-join as
# a residual. One shuffle (the orderkey join), one aggregation pass.
@register(
    "late_shipment_priority_q12",
    """
    SELECT l.l_linestatus AS linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY
      AND l.l_shipdate >= DATE '1996-01-01'
      AND l.l_shipdate < DATE '1997-01-01'
    GROUP BY 1
    """,
    doc=(
        "TPC-H Q12 shape: late-shipment audit — cross-table date inequality "
        "as a join residual + fused urgent/non-urgent CASE counts"
    ),
)
def late_shipment_priority_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    late = li.join(
        o,
        (li["l_orderkey"] == o["o_orderkey"])
        & (li["l_shipdate"] > F.date_add(o["o_orderdate"], 45)),
    )
    return late.groupBy(F.col("l_linestatus").alias("linestatus")).agg(
        F.sum(F.when(urgent, 1).otherwise(0)).cast("long").alias("high_line_count"),
        F.sum(F.when(urgent, 0).otherwise(1)).cast("long").alias("low_line_count"),
    )

# TPC-H Q14 shape (promo revenue share): monthly fraction of discounted
# revenue on PROMO-type parts — the conditional-fraction pattern at decimal
# grain (Q8 does it at integer-cents grain): both sums stay EXACT decimals
# through aggregation, each is cast to double once, and one final division +
# round(6) produces the terminal (house exactness rule: never sum floats,
# never divide twice). part is a broadcast dim; one shuffle total.
@register(
    "promo_revenue_share_q14",
    """
    SELECT month,
           ROUND(
             CAST(SUM(CASE WHEN is_promo THEN vol
                           ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(SUM(vol) AS DOUBLE), 6) AS promo_share
    FROM (
      SELECT CAST(date_trunc('month', l.l_shipdate) AS DATE) AS month,
             p.p_type = 'PROMO' AS is_promo,
             CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(8,2))) AS vol
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_shipdate >= DATE '1996-01-01'
        AND l.l_shipdate < DATE '1997-01-01'
    ) GROUP BY month
    """,
    doc=(
        "TPC-H Q14 shape: monthly promo revenue share — conditional "
        "fraction of exact decimal sums, one final division"
    ),
)
def promo_revenue_share_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
    )
    p = F.broadcast(
        load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    )
    vol = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(8,2)")
    )
    rows = li.join(p, li["l_partkey"] == p["p_partkey"]).select(
        F.trunc(F.to_date("l_shipdate"), "month").alias("month"),
        (F.col("p_type") == "PROMO").alias("is_promo"),
        vol.alias("vol"),
    )
    zero = F.lit(0).cast("decimal(18,4)")
    return rows.groupBy("month").agg(
        F.round(
            F.sum(F.when(F.col("is_promo"), F.col("vol")).otherwise(zero))
            .cast("double")
            / F.sum("vol").cast("double"),
            6,
        ).alias("promo_share")
    )

# TPC-H Q18 shape (large-volume customers): orders whose TOTAL lineitem
# quantity clears a threshold — the defining IN-(grouped-HAVING-subquery)
# shape. Quantities are integer-valued; summing as BIGINT keeps the
# threshold exact. Scale: the only full shuffle is the per-order quantity
# rollup; the surviving ~1% of orders broadcast into orders, and THAT tiny
# join result broadcasts into customer — neither base table shuffles.
@register(
    "large_volume_customers_q18",
    """
    WITH big AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
      FROM lineitem GROUP BY 1
      HAVING SUM(CAST(l_quantity AS BIGINT)) > 250
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS orderdate, b.total_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
    doc=(
        "TPC-H Q18 shape: large-volume customers — IN-(HAVING subquery) as "
        "a broadcast of the thresholded aggregate, exact integer quantities"
    ),
)
def large_volume_customers_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("long").alias("qty")
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("qty").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.to_date("o_orderdate").alias("orderdate")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    hits = F.broadcast(big).join(o, F.col("l_orderkey") == o["o_orderkey"])
    return F.broadcast(hits).join(
        c, hits["o_custkey"] == c["c_custkey"]
    ).select("c_name", "c_custkey", "o_orderkey", "orderdate", "total_qty")

# TPC-H Q2 shape (minimum-cost supplier): for every large part, the
# supplier(s) achieving the MINIMUM line price — the correlated-MIN
# subquery, decorrelated into a per-part aggregate joined back on equality
# with ties kept (Q2's defining property; never a rank-1 window, which
# would need a tiebreak the spec doesn't define). Prices are exact integer
# cents so the equality is bit-safe on both engines. The part filter is
# applied BEFORE the per-supplier rollup (the min is per-part, so
# restricting parts early is semantics-preserving and prunes ~80% of the
# aggregate's input).
@register(
    "min_cost_part_suppliers_q2",
    """
    WITH costs AS (
      SELECT l.l_partkey, l.l_suppkey,
             MIN(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                      AS BIGINT)) AS sup_cents
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey AND p.p_size >= 40
      GROUP BY 1, 2
    )
    SELECT p.p_partkey, p.p_brand, s.s_name, c.sup_cents AS cost_cents
    FROM costs c
    JOIN part p ON p.p_partkey = c.l_partkey
    JOIN supplier s ON s.s_suppkey = c.l_suppkey
    WHERE c.sup_cents = (
      SELECT MIN(c2.sup_cents) FROM costs c2 WHERE c2.l_partkey = c.l_partkey
    )
    """,
    doc=(
        "TPC-H Q2 shape: correlated per-part MIN decorrelated to an "
        "aggregate + equality join back, ties kept, exact integer cents"
    ),
)
def min_cost_part_suppliers_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") >= 40)
        .select("p_partkey", "p_brand")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    costs = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("l_partkey", "l_suppkey", "p_brand")
        .agg(F.min("cents").alias("sup_cents"))
    )
    best = costs.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("sup_cents").alias("best_cents")
    )
    s = F.broadcast(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    )
    return (
        costs.join(
            F.broadcast(best),
            (costs["l_partkey"] == F.col("b_partkey"))
            & (costs["sup_cents"] == F.col("best_cents")),
        )
        .join(s, costs["l_suppkey"] == s["s_suppkey"])
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "p_brand",
            "s_name",
            F.col("sup_cents").alias("cost_cents"),
        )
    )

# TPC-H Q16 shape (supplier counts by part attribute): COUNT(DISTINCT
# supplier) per brand x size-decade, EXCLUDING a supplier blocklist via
# NOT IN — compiled as a broadcast anti join (the blocklist is tiny at any
# scale; lineitem never shuffles for the exclusion). The distinct-count
# shuffles once on the group keys.
@register(
    "part_supplier_counts_q16",
    """
    SELECT p.p_brand,
           CAST(FLOOR(p.p_size / 10) AS INTEGER) AS size_decade,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part p
    JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE p.p_type <> 'PROMO'
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY 1, 2
    """,
    doc=(
        "TPC-H Q16 shape: distinct-supplier counts per brand/size bucket "
        "with a NOT IN supplier blocklist as a broadcast anti join"
    ),
)
def part_supplier_counts_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") != "PROMO")
        .select(
            "p_partkey",
            "p_brand",
            F.floor(F.col("p_size") / 10).cast("int").alias("size_decade"),
        )
    )
    blocked = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    kept = li.join(blocked, li["l_suppkey"] == blocked["s_suppkey"], "left_anti")
    return (
        kept.join(p, F.col("l_partkey") == p["p_partkey"])
        .groupBy("p_brand", "size_decade")
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )

# TPC-H Q9 shape (product-type profit): nation x order-year profit over a
# 5-table join with a part-NAME substring filter. The fixture has no
# partsupp, so unit cost is proxied at 10% of the part's retail price —
# the SHAPE (profit = revenue expression MINUS a cost expression, summed
# exactly as decimals per nation-year) is what's exercised. One final
# double cast; part/supplier/nation broadcast; the orderkey join is the
# only big shuffle.
@register(
    "nation_profit_q9",
    """
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(
             CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(8,2)))
             - CAST(l.l_quantity AS DECIMAL(18,2))
               * CAST(p.p_retailprice AS DECIMAL(18,2))
               * CAST(0.10 AS DECIMAL(4,2))
           ) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
    doc=(
        "TPC-H Q9 shape: nation x year profit — revenue-minus-cost decimal "
        "expression over a 5-table join with a part-name LIKE filter"
    ),
)
def nation_profit_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    sn = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .join(
            load_table(spark, sf_dir, "nation"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("long").alias("o_year")
    )
    profit_term = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(8,2)")
    ) - F.col("l_quantity").cast("decimal(18,2)") * F.col(
        "p_retailprice"
    ).cast("decimal(18,2)") * F.lit("0.10").cast("decimal(4,2)")
    joined = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(sn, li["l_suppkey"] == sn["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
    )
    return joined.groupBy("nation", "o_year").agg(
        F.sum(profit_term).cast("double").alias("profit")
    )

# TPC-H Q11 shape (important stock): per-part total value, keeping the
# parts whose value clears a GLOBAL-aggregate threshold in the HAVING —
# here "above the mean part value", phrased as the exact-integer cross
# multiplication value*n_parts > total (the uniform fixture makes a
# TPC-H-style tiny-fraction threshold degenerate — the Q20 lesson — while
# the mean splits it ~50/50 at every SF). The 1-row global frame crosses
# in broadcast; two aggregation passes over the same shuffled frame.
@register(
    "important_part_values_q11",
    """
    WITH pv AS (
      SELECT l_partkey,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS value_cents
      FROM lineitem GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(value_cents) AS BIGINT) AS total_cents,
             CAST(COUNT(*) AS BIGINT) AS n_parts
      FROM pv
    )
    SELECT pv.l_partkey AS p_partkey, pv.value_cents
    FROM pv, tot
    WHERE pv.value_cents * tot.n_parts > tot.total_cents
    """,
    doc=(
        "TPC-H Q11 shape: per-part value filtered by a global-aggregate "
        "threshold (above-mean), exact integer cross multiplication"
    ),
)
def important_part_values_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    pv = li.groupBy("l_partkey").agg(
        F.sum("cents").cast("long").alias("value_cents")
    )
    tot = pv.agg(
        F.sum("value_cents").cast("long").alias("total_cents"),
        F.count(F.lit(1)).cast("long").alias("n_parts"),
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("value_cents") * F.col("n_parts") > F.col("total_cents"))
        .select(F.col("l_partkey").alias("p_partkey"), "value_cents")
    )


# --- the production kin DAG refreshed by IVM (VERDICT r9 ask #2) -----------
# build_kin_models(sf_dir, ivm=True) is the reference pipeline with the
# eligible rollup marts switched from per-cron-tick rebuild
# (execute_snowflake_load.py:89-91) to declared incremental maintenance.
# This registration drives the REAL production flagship mart
# (daily_kin_transactions' IvmSpec: pre-agg dim_kin_app broadcast join,
# per-type indicator measures, derived Kin amounts/averages — medians live
# in the companion builder mart per the documented holistic boundary)
# through a 4-run lifecycle on a scratch versioned warehouse: day-1 build
# at a mid-month cut, day-2 watermark append of the remaining fact days,
# a key-erase of app 3 followed by a maintained refresh, then an
# out-of-band dim rename of app 5 followed by a dim-delta SCOPED refresh
# (only the renamed key's groups recompute — action 'ivm_dim'). The query
# RAISES unless the three post-build refreshes ran as
# ['ivm', 'ivm', 'ivm_dim'] (the driver row fails if the production DAG
# ever silently rebuilds), and the oracle recomputes the mart from the
# raw feed with the erased app excluded and the rename applied — the hash
# match proves the maintained mart equals the from-scratch derivation at
# the tip. models/pipeline.py::_ivm_kin_overrides,
# pinned locally by tests/test_kin_ivm_dag.py.
_KIN_IVM_CACHE: dict[tuple, dict] = {}


def _kin_ivm_dag_fixture(spark: SparkSession, sf_dir: str) -> dict:
    import atexit
    import datetime
    import tempfile

    from kin_data_pipeline_spark.models.kin import RUN_DATE
    from kin_data_pipeline_spark.models.pipeline import (
        FACT_T,
        build_kin_models,
    )
    from kin_data_pipeline_spark.plans.engine import Catalog, Runner

    from kin_data_pipeline_spark.sources.catalog import frame_cache_unrecorded

    k = (spark.sparkContext.applicationId, sf_dir)
    # the kin builders request substrate frames during the build; keep them
    # out of the calling query's recorded inventory so its plan fingerprint
    # is the same whether this call BUILT the fixture or found it cached
    # (substrates are a build-time dependency here, not part of the served
    # plan — otherwise PLAN_MANIFEST hashes are first-toucher-bimodal)
    with _TT_LOCK, frame_cache_unrecorded():
        if k in _KIN_IVM_CACHE:
            return _KIN_IVM_CACHE[k]
        cat = Catalog(spark, tempfile.mkdtemp(prefix="kindag_wh_"))
        keep = {
            FACT_T,
            "dim_kin_app",
            "daily_kin_transactions",
            "daily_active_accounts_30d_ivm",
        }
        models = [
            m for m in build_kin_models(sf_dir, ivm=True) if m.name in keep
        ]
        runner = Runner(spark, cat)
        mid = datetime.date(2024, 1, 16)  # the testdata fact spans Jan 2024
        acts = [
            {r.model: r.action for r in runner.run(models, mid)},
            {r.model: r.action for r in runner.run(models, RUN_DATE)},
        ]
        cat.delete_by_keys(FACT_T, "app_id", [3])  # right-to-be-forgotten
        acts.append({r.model: r.action for r in runner.run(models, RUN_DATE)})
        # out-of-band dim edit (an operator renames app 5 directly in the
        # catalog dim), then a DAG-subset refresh WITHOUT the dim model
        # (which would rebuild the dim from source and revert the edit):
        # the mart's dim fingerprint mismatch triggers the dim-delta
        # SCOPED refresh — only app 5's groups recompute (action
        # 'ivm_dim'), every other group survives verbatim
        dim_now = cat.table("dim_kin_app")
        cat.write_full(
            "dim_kin_app",
            dim_now.withColumn(
                "name",
                F.when(F.col("id") == 5, F.lit("RENAMED5")).otherwise(
                    F.col("name")
                ),
            ),
            None,
        )
        subset = [x for x in models if x.name != "dim_kin_app"]
        acts.append({r.model: r.action for r in runner.run(subset, RUN_DATE)})
        if not _TT_DIRS:
            atexit.register(_tt_sweep)
        _TT_DIRS.append(cat.warehouse_dir)
        _KIN_IVM_CACHE[k] = {"cat": cat, "acts": acts}
        return _KIN_IVM_CACHE[k]


def _kin_seg_nomed_sql(t: int, p: str) -> str:
    cnt = f"COUNT(CASE WHEN txn_type = {t} THEN 1 END)"
    quark = f"COALESCE(SUM(CASE WHEN txn_type = {t} THEN amount_quark END), 0)"
    return (
        f"    CAST({cnt} AS BIGINT) AS {p}_transactions,\n"
        f"    (CAST({quark} AS DOUBLE) / 100000.0) AS {p}_amounts,\n"
        f"    CASE WHEN {cnt} = 0 THEN 0.0 ELSE CAST({quark} AS DOUBLE) / "
        f"CAST({cnt} * 100000 AS DOUBLE) END AS {p}_average"
    )


def _kin_ivm_oracle_sql() -> str:
    from kin_data_pipeline_spark.queries.kin_models import (
        _BASE,
        _with,
        FACT_TXN_SQL,
    )

    mart = f"""
live AS (SELECT * FROM fact_kin_transaction WHERE app_id <> 3),
m AS (
  SELECT date_key, app_id,
    CAST(COUNT(*) AS DOUBLE) / 100000.0 AS daily_fee_sum,
    CAST(COUNT(*) AS BIGINT) AS daily_total_transactions,
    (CAST(SUM(amount_quark) AS DOUBLE) / 100000.0) AS daily_total_amounts,
{_kin_seg_nomed_sql(1, 'daily_earn')},
{_kin_seg_nomed_sql(2, 'daily_spend')},
{_kin_seg_nomed_sql(3, 'daily_peer')}
  FROM live GROUP BY 1, 2
)
"""
    return (
        _with(*_BASE, FACT_TXN_SQL, mart)
        + """
SELECT m.*,
       CASE WHEN m.app_id = 5 THEN 'RENAMED5' ELSE dka.name END AS app_name
FROM m LEFT JOIN dim_kin_app dka ON m.app_id = dka.id
"""
    )


@register(
    "runner_kin_dag_ivm_mart",
    _kin_ivm_oracle_sql(),
    doc=(
        "the production kin DAG's flagship mart refreshed by declared IVM "
        "(dim-enriched delta-join maintenance) across watermark appends, "
        "a key-erase, and a dim-delta SCOPED refresh after an out-of-band "
        "dim rename — equals the from-scratch derivation at the tip"
    ),
)
def runner_kin_dag_ivm_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    fx = _kin_ivm_dag_fixture(spark, sf_dir)
    mart_acts = [a["daily_kin_transactions"] for a in fx["acts"]]
    if mart_acts != ["full", "ivm", "ivm", "ivm_dim"]:
        raise AssertionError(
            f"production kin DAG IVM degraded: mart actions {mart_acts} "
            "!= ['full', 'ivm', 'ivm', 'ivm_dim']"
        )
    return fx["cat"].table("daily_kin_transactions").select(
        "date_key",
        "app_id",
        "app_name",
        "daily_fee_sum",
        "daily_total_transactions",
        "daily_total_amounts",
        *[
            f"daily_{p}_{c}"
            for p in ("earn", "spend", "peer")
            for c in ("transactions", "amounts", "average")
        ],
    )


# Multi-source (union-leg) IVM, driver-checkable (VERDICT r9 ask #7b): a
# mart over TWO versioned sources with different schemas — sales and
# returns, projected to a common (status, date, signed cents) surface by
# per-leg row-local transforms — is maintained with PER-SOURCE anchors:
# one refresh folds the sales append and the returns key-erase, each leg
# reading only its own recorded→tip span (a lagging source never blocks
# or replays another's). COUNT(DISTINCT order dates) rides the persisted
# support table computed over the union. The query RAISES unless the
# post-build refresh ran as action == 'ivm'; the oracle recomputes the
# net rollup from the tip's literal predicates.
# plans/engine.py::_run_ivm (legs), IvmSpec.sources; pinned locally by
# tests/test_ivm_refresh.py::test_union_mart_maintains_per_source_spans.
@register(
    "runner_union_ivm_net_rollup",
    """
    WITH sales AS (
      SELECT o_orderstatus, o_orderdate,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM orders
      WHERE (o_orderdate >= DATE '1994-01-01' AND o_orderdate < DATE '1995-01-01')
         OR (o_orderdate >= DATE '1995-07-01' AND o_orderdate < DATE '1995-10-01')
    ), ret AS (
      SELECT o_orderstatus, o_orderdate,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * -100 AS BIGINT) AS cents
      FROM orders
      WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-07-01'
        AND o_orderstatus <> 'F'
    ), u AS (SELECT * FROM sales UNION ALL SELECT * FROM ret)
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS net_cents,
           CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS n_order_dates
    FROM u GROUP BY 1
    """,
    doc=(
        "multi-source union IVM: a sales ⊎ returns mart over two "
        "versioned sources with per-leg transforms and per-source span "
        "anchors, maintained through an append + a key-erase in one "
        "refresh — equals the from-scratch recompute at the tip"
    ),
)
def runner_union_ivm_net_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    fx = _rivm_fixture(spark, sf_dir)
    if fx["union_actions"] != ["full", "ivm"]:
        raise AssertionError(
            f"union IVM degraded: actions {fx['union_actions']} != "
            "['full', 'ivm']"
        )
    return fx["cat"].table("net_by_status").select(
        "o_orderstatus", "n_rows", "net_cents", "n_order_dates"
    )


# STREAM-maintained union mart, driver-checkable (r10 VERDICT ask #2):
# stream_ivm on an IvmSpec.sources mart starts one CDF commit-signal
# listener PER LEG, each triggering the same batch refresh path with
# per-source anchors (serialized through an in-process lock). The
# fixture builds the mart, then commits a key-erase on the sales leg
# and an append on the returns leg; draining the two availableNow
# signal streams folds both spans. The query RAISES unless the build
# was the one 'full' and every stream-triggered refresh was 'ivm'/'noop'
# with at least one 'ivm' (a rebuild or a silent skip both fail); the
# oracle recomputes the net rollup from the tip's literal predicates.
# plans/engine.py::Runner.stream_ivm (per-leg listeners), pinned locally
# by tests/test_ivm_refresh.py::test_stream_ivm_maintains_union_mart_per_leg.
@register(
    "runner_stream_union_ivm_rollup",
    """
    WITH sales AS (
      SELECT o_orderstatus, o_orderdate,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM orders
      WHERE ((o_orderdate >= DATE '1994-01-01' AND o_orderdate < DATE '1995-01-01')
         OR (o_orderdate >= DATE '1995-07-01' AND o_orderdate < DATE '1995-10-01'))
        AND o_orderstatus <> 'P'
    ), ret AS (
      SELECT o_orderstatus, o_orderdate,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * -100 AS BIGINT) AS cents
      FROM orders
      WHERE (o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-07-01'
             AND o_orderstatus <> 'F')
         OR (o_orderdate >= DATE '1995-10-01' AND o_orderdate < DATE '1996-01-01')
    ), u AS (SELECT * FROM sales UNION ALL SELECT * FROM ret)
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS net_cents,
           CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS n_order_dates
    FROM u GROUP BY 1
    """,
    doc=(
        "stream-maintained union IVM: one CDF commit-signal listener per "
        "leg drives per-source-anchored maintenance of a sales ⊎ returns "
        "mart through a key-erase and an append — equals the from-scratch "
        "recompute at the tips, raising on any rebuild"
    ),
)
def runner_stream_union_ivm_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    fx = _rivm_fixture(spark, sf_dir)
    # replay the build-time streams' sink stats (bench stream_detail
    # contract): the numbers are identical by construction — the two leg
    # streams executed once, when the shared fixture was built
    STREAM_RUN_STATS.update(
        {k: dict(v) for k, v in fx["stream_union_sink_stats"].items()}
    )
    actions = fx["stream_union_actions"]
    if (
        actions[:1] != ["full"]
        or "ivm" not in actions[1:]
        or not all(a in ("ivm", "noop") for a in actions[1:])
    ):
        raise AssertionError(
            f"stream-union IVM degraded: actions {actions} must be one "
            "build 'full' then stream-triggered 'ivm'/'noop' with at "
            "least one 'ivm'"
        )
    return fx["cat"].table("net_by_status_live").select(
        "o_orderstatus", "n_rows", "net_cents", "n_order_dates"
    )


def _kin_actives_oracle_sql() -> str:
    from kin_data_pipeline_spark.queries.kin_models import (
        _BASE,
        _with,
        FACT_TXN_SQL,
    )

    return _with(*_BASE, FACT_TXN_SQL) + """
, live AS (SELECT * FROM fact_kin_transaction WHERE app_id <> 3),
activity AS (
  SELECT date_key, app_id, from_wallet AS wallet_id FROM live WHERE txn_type IN (2, 3)
  UNION
  SELECT date_key, app_id, to_wallet FROM live WHERE txn_type IN (1, 3)
), act_spine AS (SELECT DISTINCT date_key FROM live)
SELECT s.date_key, a.app_id,
       CAST(COUNT(DISTINCT a.wallet_id) AS BIGINT) AS active_accounts_30d
FROM act_spine s JOIN activity a
  ON a.date_key BETWEEN s.date_key - 29 AND s.date_key
GROUP BY 1, 2
"""


# The trailing-window actives family on IVM (r10 VERDICT ask #3): the
# engine's hardest remaining rebuild-per-tick shape — trailing-30d
# COUNT(DISTINCT wallet) per (day, app), the reference's most expensive
# daily rebuild (daily_active_user_balance_by_app.sql:26-27; 13
# range-join sites) — declared as a maintained rollup. The row transform
# is the exploded-date-spine rewrite expressed in row-local Generates
# (role stack via array concat + explode, then a 30-day F.sequence
# explode), so it commutes with the fact CDF's multiset diff; the exact
# distinct count rides a persisted (spine_day, app_id, wallet) turnstile
# support (~30x the distinct daily observations — the builder shuffles
# that same working set on EVERY rebuild; IVM pays it once and rolls
# forward in O(changes x 30)). Shares the kin-DAG fixture: the mart is
# built at the mid-month cut, then the watermark append and the app-3
# key-erase are folded by maintenance. The query RAISES unless those
# refreshes ran as ['full', 'ivm', 'ivm', 'ivm'] (run 4 folds only the
# fact model's zero-row watermark commit — the dim rename never touches
# the dimless twin), and serves the builder surface (mart
# semi-joined to the live fact's real reporting days); the oracle
# recomputes the trailing window from the raw feed minus the erased app.
# models/pipeline.py::actives_30d_ivm_model / serve_actives_30d, pinned
# locally by tests/test_kin_ivm_dag.py::test_actives_30d_ivm_twin_equals_builder.
@register(
    "runner_kin_actives_ivm_30d",
    _kin_actives_oracle_sql(),
    doc=(
        "trailing-30d actives on IVM: the exploded-spine distinct rollup "
        "maintained from the fact CDF through an append and a key-erase, "
        "served at the builder surface — equals the from-scratch "
        "trailing window at the tip, raising on any rebuild"
    ),
)
def runner_kin_actives_ivm_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kin_data_pipeline_spark.models.pipeline import serve_actives_30d

    fx = _kin_ivm_dag_fixture(spark, sf_dir)
    acts = [a.get("daily_active_accounts_30d_ivm") for a in fx["acts"]]
    # run 4 folds the zero-row watermark append the fact model commits
    # when re-run at an unchanged watermark — a changelog-sized 'ivm',
    # still never a rebuild
    if acts != ["full", "ivm", "ivm", "ivm"]:
        raise AssertionError(
            f"actives IVM degraded: actions {acts} != "
            "['full', 'ivm', 'ivm', 'ivm']"
        )
    return serve_actives_30d(fx["cat"])


# Approximate distinct as a declared IVM alternative (r10 VERDICT stretch
# 7b): IvmSpec.approx_distinct maintains an HLL sketch IN the mart (one
# ~KB binary column per group — constant state where the exact turnstile
# support is value-cardinality-sized). Inserts merge into the sketch
# delta-only; the status erase re-sketches exactly the affected groups
# from the live source (HLL has no subtract — the hybrid treatment,
# probe-elided on insert-only spans). The estimate itself is
# engine-specific and NOT SQL-reproducible, so the oracle pins the
# deterministic surface (count + the EXACT distinct twin riding the same
# mart) while the query RAISES unless (a) both refreshes maintained
# (['full', 'ivm']) and (b) every group's estimate is within 5% of the
# exact count (at these cardinalities the sketch is sparse-exact, so the
# bound is loose). operators/incremental.py::maintain_hll_distinct,
# pinned locally by tests/test_ivm_refresh.py (exact-tracking, scoped-dim
# composition, dense error bound).
@register(
    "runner_ivm_hll_distinct_rollup",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS n_dates
    FROM orders
    WHERE o_orderdate >= DATE '1995-01-01'
      AND o_orderdate < DATE '1995-10-01' AND o_orderstatus <> 'F'
    GROUP BY 1
    """,
    doc=(
        "HLL approximate distinct as a maintained IVM class: in-mart "
        "sketch merged on inserts, affected groups re-sketched on the "
        "erase — estimate pinned within 5% of the exact twin, "
        "deterministic surface oracle-checked"
    ),
)
def runner_ivm_hll_distinct_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    fx = _rivm_fixture(spark, sf_dir)
    if fx["approx_actions"] != ["full", "ivm"]:
        raise AssertionError(
            f"approx-distinct IVM degraded: actions {fx['approx_actions']} "
            "!= ['full', 'ivm']"
        )
    mart = fx["cat"].table("status_approx_dates")
    bad = mart.filter(
        F.abs(F.col("n_dates_approx") - F.col("n_dates"))
        > F.greatest(F.lit(1), F.col("n_dates") * 0.05)
    ).count()
    if bad:
        raise AssertionError(
            f"HLL estimate out of bound on {bad} group(s)"
        )
    return mart.select("o_orderstatus", "n_orders", "n_dates")
