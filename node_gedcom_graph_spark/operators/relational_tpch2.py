"""Fourth relational batch — remaining classic decision-support shapes:
correlated-MIN supplier selection (TPC-H Q2), aggregate-view + global-MAX
scalar subquery (Q15), rolling-window anomaly detection over event time,
and higher-order array-function aggregation — each re-expressed on the
driver's star schema (no partsupp table, so the part↔supplier bridge is
lineitem; the operator SHAPES are the point, mirroring the reference's
filter→route→aggregate composition, cf. /root/reference/lib/csv_writer.js).

Determinism policy (same as relational.py): money/quantity sums go
through DECIMAL(18,2) where they feed comparisons; sliding-window
moments are short frames (<=20 rows) whose float error is orders of
magnitude below the oracle hash's 6-dp rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from node_gedcom_graph_spark.operators import register
from node_gedcom_graph_spark.operators.relational import _dec
from node_gedcom_graph_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Q2 shape: per-group correlated MIN, joined back with tie preservation.
# ---------------------------------------------------------------------------


@register(
    "min_cost_supplier_per_part",
    oracle="""
    WITH pl AS (
      SELECT l.l_partkey, l.l_suppkey, l.l_extendedprice
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_size = 1
    ), mins AS (
      SELECT l_partkey, MIN(l_extendedprice) AS min_price
      FROM pl GROUP BY l_partkey
    )
    SELECT DISTINCT p.p_partkey, p.p_name, m.min_price, s.s_name, n.n_name
    FROM pl
    JOIN mins m ON m.l_partkey = pl.l_partkey
                AND pl.l_extendedprice = m.min_price
    JOIN supplier s ON s.s_suppkey = pl.l_suppkey
    JOIN part p ON p.p_partkey = pl.l_partkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    """,
)
def min_cost_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each part (size-1 subset), the supplier(s)
    offering its minimum observed price — a correlated scalar-MIN
    subquery joined back with ties preserved. (This schema has no
    partsupp, so lineitem is the part↔supplier bridge.)

    Scale: the correlated MIN is decorrelated into a per-part aggregate
    joined back — both the aggregate and the join-back shuffle on
    l_partkey, so AQE reuses one exchange. The p_size filter rides a
    broadcast join with the part dimension and prunes the fact BEFORE
    its shuffle. MIN of double is order-independent; the equality
    join-back on the exact min keeps all tied suppliers (no arbitrary
    row_number pick). supplier/nation/part dims broadcast.
    """
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    lineitem = load_table(spark, sf_dir, "lineitem")
    small = part.filter(F.col("p_size") == 1).select("p_partkey", "p_name")
    pl = lineitem.join(
        F.broadcast(small.select("p_partkey")),
        lineitem.l_partkey == small.p_partkey,
    ).select("l_partkey", "l_suppkey", "l_extendedprice")
    mins = (
        pl.groupBy("l_partkey")
        .agg(F.min("l_extendedprice").alias("min_price"))
        .withColumnRenamed("l_partkey", "m_partkey")
    )
    return (
        pl.join(
            mins,
            (pl.l_partkey == mins.m_partkey)
            & (pl.l_extendedprice == mins.min_price),
        )
        .drop("m_partkey")
        .join(F.broadcast(supplier), pl.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(small), pl.l_partkey == small.p_partkey)
        .select("p_partkey", "p_name", "min_price", "s_name", "n_name")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Q15 shape: aggregate view + global-MAX scalar subquery (ties preserved).
# ---------------------------------------------------------------------------


@register(
    "top_revenue_suppliers",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(18,2))
                         - CAST(l_discount AS DECIMAL(18,2))))
                  AS DOUBLE) AS total_revenue
      FROM lineitem
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM revenue r
    JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with the maximum total revenue —
    an aggregate view probed by a global-MAX scalar subquery, preserving
    ties exactly (a LIMIT 1 or row_number pick would break them).

    Scale: revenue aggregates once on l_suppkey (map-side partials) and
    is CACHED — the view feeds two plan branches (the MAX probe and the
    join-back), and without the materialization point each branch
    re-scans and re-shuffles the whole fact (the pushed isnotnull
    filter differs between branches, so ReuseExchange cannot merge
    them; verified in the executed plan). Cached state is one row per
    supplier, not per lineitem. The MAX is then a one-row aggregate
    broadcast back as an equality join condition. The exact DECIMAL
    revenue makes the equality well-defined on both engines (double
    summation order could otherwise split ties).
    """
    supplier = load_table(spark, sf_dir, "supplier")
    lineitem = load_table(spark, sf_dir, "lineitem")
    rev = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(18,2)") - _dec("l_discount")
    )
    revenue = (
        lineitem.groupBy("l_suppkey")
        .agg(F.sum(rev).cast("double").alias("total_revenue"))
        .cache()
    )
    top = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(F.broadcast(top), revenue.total_revenue == top.max_revenue)
        .join(F.broadcast(supplier), revenue.l_suppkey == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# Rolling-frame anomaly detection (trailing z-score over event time).
# ---------------------------------------------------------------------------


@register(
    "events_anomaly_zscore",
    oracle="""
    WITH w AS (
      SELECT event_id, user_id, ts, value,
             AVG(value) OVER win AS mu,
             STDDEV_SAMP(value) OVER win AS sd,
             COUNT(*) OVER win AS n_prev
      FROM events
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id, ts, value,
           CAST((value - mu) / sd AS DOUBLE) AS zscore
    FROM w
    WHERE n_prev >= 10 AND sd > 0.000001
      AND round(abs(value - mu) - 3 * sd, 9) > 0
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing z-score anomaly detection: each event compared against
    the mean/stddev of its user's previous <=20 events (strictly before
    the current row — no self-leakage), flagging |z| > 3 once at least
    10 prior observations exist.

    Scale: one shuffle on user_id + per-partition sort on (ts,
    event_id); the frame is a bounded trailing ROWS window, so state per
    row is 20 values regardless of partition length. Row MEMBERSHIP is
    gated on a QUANTIZED boundary — round(|value-mu| - 3*sd, 9) > 0 on
    both engines — because windowed sums accumulate in different orders
    on Spark vs DuckDB: a row within ~1 ulp of the 3-sigma line would
    otherwise flip in/out of the result set (value rounding absorbs
    drift in VALUES, not in membership). Drift on <=20-row frames is
    ~1e-12, far below the 1e-9 quantum.
    """
    events = load_table(spark, sf_dir, "events")
    win = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    flagged = events.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.avg("value").over(win).alias("mu"),
        F.stddev_samp("value").over(win).alias("sd"),
        F.count(F.lit(1)).over(win).alias("n_prev"),
    )
    return (
        flagged.filter(
            (F.col("n_prev") >= 10)
            & (F.col("sd") > 0.000001)
            & (F.round(F.abs(F.col("value") - F.col("mu")) - 3 * F.col("sd"), 9) > 0)
        )
        .select(
            "event_id",
            "user_id",
            "ts",
            "value",
            ((F.col("value") - F.col("mu")) / F.col("sd"))
            .cast("double")
            .alias("zscore"),
        )
    )


# ---------------------------------------------------------------------------
# Higher-order array functions over grouped collections.
# ---------------------------------------------------------------------------


@register(
    "array_funcs_order_quantities",
    oracle="""
    WITH qarr AS (
      SELECT l_orderkey, list_sort(list(l_quantity)) AS qs
      FROM lineitem
      GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           len(qs) AS n_items,
           qs[-1] AS max_qty,
           qs[1] AS min_qty,
           CAST(qs[-1] - qs[1] AS DOUBLE) AS qty_range,
           qs[(len(qs) + 1) // 2] AS median_lo_qty,
           CAST(list_sum(list_slice(list_reverse_sort(qs), 1, 3))
                AS DOUBLE) AS top3_qty_sum
    FROM qarr
    """,
)
def array_funcs_order_quantities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order-function surface: per-order quantity vectors
    built with collect_list, canonicalized with sort_array, then probed
    with element_at / slice / reverse / aggregate (lambda fold) — the
    Spark analog of the reference's per-record children[] walks
    (/root/reference/lib/csv_writer.js:128-157), lifted onto grouped
    arrays.

    Scale: one shuffle on l_orderkey; per-order arrays are bounded by
    lines-per-order (~4-7 in this schema), so collect_list state is
    O(group size), not O(partition). sort_array canonicalizes the
    shuffle-dependent collect order, making every derived scalar
    order-independent. All lambdas run in codegen (higher-order
    expressions, not UDFs). Quantities are integral doubles, so the
    3-element fold is float-exact on both engines.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    qarr = lineitem.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_quantity")).alias("qs")
    )
    n = F.size("qs")
    top3 = F.aggregate(
        F.slice(F.reverse(F.col("qs")), 1, 3),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return qarr.select(
        "l_orderkey",
        n.alias("n_items"),
        F.element_at("qs", -1).alias("max_qty"),
        F.element_at("qs", 1).alias("min_qty"),
        (F.element_at("qs", -1) - F.element_at("qs", 1))
        .cast("double")
        .alias("qty_range"),
        F.element_at("qs", ((n + 1) / 2).cast("int")).alias("median_lo_qty"),
        top3.cast("double").alias("top3_qty_sum"),
    )


# ---------------------------------------------------------------------------
# Frame-boundary window primitives: first/last/nth value + ratio-to-report.
# ---------------------------------------------------------------------------


@register(
    "window_order_positions",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
           FIRST_VALUE(o_totalprice) OVER w AS first_price,
           LAST_VALUE(o_totalprice) OVER wfull AS last_price,
           NTH_VALUE(o_totalprice, 3) OVER wfull AS third_price,
           CAST(o_totalprice AS DOUBLE)
             / CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    OVER (PARTITION BY o_custkey) AS DOUBLE) AS price_share
    FROM orders
    WINDOW
      w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      wfull AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_order_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-boundary window primitives in one pass: each order with its
    customer's first / last / third order price (FIRST_VALUE on the
    default running frame; LAST_VALUE and NTH_VALUE on the full
    partition frame — the classic frame-spec trap the defaults get
    wrong) plus the order's share of the customer's lifetime spend
    (ratio-to-report).

    Scale: one shuffle on o_custkey serves every column; Catalyst plans
    the two frame specs as two Window execs over the same sort, no
    re-exchange. The ratio denominator is an exact DECIMAL partition
    sum, so the share is order-independent under any shuffle plan.
    (ts, key) ordering is a total order — no peer ambiguity.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    wpart = W.partitionBy("o_custkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(wfull).alias("last_price"),
        F.nth_value("o_totalprice", 3).over(wfull).alias("third_price"),
        (
            F.col("o_totalprice").cast("double")
            / F.sum(_dec("o_totalprice")).over(wpart).cast("double")
        ).alias("price_share"),
    )


# ---------------------------------------------------------------------------
# Fixed-bin histogram (distributed, one aggregation).
# ---------------------------------------------------------------------------


@register(
    "histogram_order_values",
    oracle="""
    SELECT CAST(LEAST(FLOOR(o_totalprice / 50000.0), 9) AS INT) AS bin,
           CAST(LEAST(FLOOR(o_totalprice / 50000.0), 9) AS INT) * 50000.0
             AS bin_lo,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value
    FROM orders
    GROUP BY 1, 2
    """,
)
def histogram_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin value histogram (10 bins of 50k, open-ended top bin) —
    the one-pass distributed histogram: bin assignment is a scan-local
    floor division, then a 10-group hash aggregate with map-side
    partials. No sort, no per-bin scans; floor(x / step) is the same
    IEEE operation on both engines, so bin edges cannot disagree.
    """
    orders = load_table(spark, sf_dir, "orders")
    bin_ = F.least(F.floor(F.col("o_totalprice") / 50000.0), F.lit(9)).cast(
        "int"
    )
    return (
        orders.groupBy(
            bin_.alias("bin"), (bin_ * 50000.0).alias("bin_lo")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Weekly retention cohorts (first-touch cohort x activity-week matrix).
# ---------------------------------------------------------------------------


@register(
    "events_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS active_week
      FROM events
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.active_week) // 7 AS INT)
             AS week_offset,
           COUNT(*) AS n_users
    FROM firsts f
    JOIN activity a ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention matrix: users grouped by first-touch week
    (cohort), counted in each subsequent week they were active — the
    standard cohort-retention analysis.

    Scale: both the first-touch aggregate and the distinct activity
    table shuffle on user_id — one key, so the join lands co-partitioned
    and AQE reuses the exchanges; the final aggregate groups a
    (cohort, offset) matrix whose cardinality is weeks², not users.
    COUNT(*) after the distinct reduction replaces a COUNT(DISTINCT)
    expand over the raw events. Week starts truncate to Monday on both
    engines; offsets are exact integer day differences / 7.
    """
    events = load_table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = (
        events.select(
            "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("active_week")
        )
        .distinct()
    )
    return (
        firsts.join(activity, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("active_week", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
