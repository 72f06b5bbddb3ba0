"""Third batch of relational operators — the "deep TPC-H" shapes the
first two batches didn't cover: scalar-subquery threshold filters
(Q17), HAVING-gated fact self-aggregation (Q18), multi-EXISTS /
NOT-EXISTS correlated probes (Q21), and scalar-subquery + anti-join
combination (Q22), each adapted to the driver's star schema
(no l_receiptdate/l_commitdate/c_phone columns — late-ness and customer
segments are re-expressed on the columns that exist; the operator
SHAPES are the point, mirroring how the reference's pipeline composes
filter/join/aggregate stages, cf. /root/reference/lib/csv_writer.js
parse->route->aggregate composition).

Determinism policy (same as relational.py): money/quantity sums go
through DECIMAL(18,2) so every aggregate is order-independent under any
shuffle/AQE plan and bit-equal to the DuckDB oracle; derived doubles
apply the identical IEEE expression on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from node_gedcom_graph_spark.operators import register
from node_gedcom_graph_spark.operators.relational import _dec
from node_gedcom_graph_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Q17 shape: per-group scalar-subquery threshold (avg qty per part).
# ---------------------------------------------------------------------------


@register(
    "small_quantity_part_revenue",
    oracle="""
    WITH brand_lines AS (
      SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand IN ('Brand#1', 'Brand#2')
    ), thresholds AS (
      SELECT l_partkey,
             0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                    / COUNT(*)) AS qty_cut
      FROM brand_lines GROUP BY l_partkey
    )
    SELECT CAST(CAST(SUM(CAST(b.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                / 7.0 AS DOUBLE) AS avg_yearly,
           COUNT(*) AS n_small_lines
    FROM brand_lines b
    JOIN thresholds t ON t.l_partkey = b.l_partkey
    WHERE b.l_quantity < t.qty_cut
    """,
)
def small_quantity_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue lost to small-quantity orders — each
    lineitem compared against a correlated scalar subquery (20% of that
    part's average quantity).

    Scale: the correlated subquery is DECORRELATED into a per-part
    aggregate joined back — the textbook rewrite. The brand filter goes
    through a broadcast semi-ish join with `part` (dimension-sized), so
    the fact table is pruned before its first shuffle; the per-part agg
    and the threshold join then share the l_partkey shuffle key, so AQE
    reuses one exchange. No window over the whole fact (a
    Window(partitionBy=part) would sort 100 TB; the agg+join does not).
    The avg is computed as exact decimal sum / count in one double
    division — order-independent, bit-equal to the oracle.
    """
    part = load_table(spark, sf_dir, "part")
    lineitem = load_table(spark, sf_dir, "lineitem")
    brands = part.filter(F.col("p_brand").isin("Brand#1", "Brand#2")).select(
        "p_partkey"
    )
    brand_lines = lineitem.join(
        F.broadcast(brands), lineitem.l_partkey == brands.p_partkey
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    thresholds = brand_lines.groupBy("l_partkey").agg(
        (
            F.lit(0.2)
            * (
                F.sum(_dec("l_quantity")).cast("double")
                / F.count(F.lit(1))
            )
        ).alias("qty_cut")
    )
    return (
        brand_lines.join(thresholds, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0))
            .cast("double")
            .alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q18 shape: HAVING-gated fact aggregation joined back to its dimensions.
# ---------------------------------------------------------------------------


@register(
    "large_volume_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
    )
    SELECT c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice, b.total_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold,
    with their customer. (>250 ~= the p99 of per-order quantity here, as
    Q18's 300 is at SF1.)

    Scale: the HAVING aggregate runs FIRST and shrinks the fact table to
    ~1% before any join — same eager-aggregation strategy as the
    flagship query. Its shuffle key (l_orderkey) is the orders join key,
    so the exchange is reused; the surviving rows are small enough that
    AQE converts the orders/customer joins to broadcasts at runtime.
    Quantities sum as exact integer cents for order-independence (r10,
    guide §2.3: SUM(decimal(18,2)) plans a decimal(28,2) accumulator —
    a 16-byte Int128 slot with BigDecimal adds once precision exceeds
    18 — where the same exact arithmetic fits a long: qty <= 50.00 so
    an order's cent total is <= 7 * 5000 = 35000, trivially inside
    long range. cents > 25000 <=> decimal > 250,
    and cents/100.0 is the identical correctly-rounded double the
    decimal cast produced; oracle-hash-gated on top).
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(
            F.sum((_dec("l_quantity") * 100).cast("long")).alias("qty_c")
        )
        .filter(F.col("qty_c") > 25000)
        .select(
            "l_orderkey",
            (F.col("qty_c").cast("double") / F.lit(100.0)).alias("total_qty"),
        )
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select("c_name", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
    )


# ---------------------------------------------------------------------------
# Q21 shape: EXISTS + NOT EXISTS correlated probes (semi + anti join).
# ---------------------------------------------------------------------------


@register(
    "waiting_supplier_orders",
    oracle="""
    WITH late AS (
      SELECT l.l_orderkey, l.l_suppkey
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_shipdate > o.o_orderdate + INTERVAL 365 DAY
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM late) l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
            SELECT 1 FROM late l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s.s_name
    """,
)
def waiting_supplier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY late supplier on a
    multi-supplier order. "Late" is re-expressed as shipped >365 days
    after the order date (this schema has no receipt/commit dates); the
    oracle keeps Q21's literal operator shape — correlated EXISTS (semi
    join) plus correlated NOT EXISTS (anti join) against the same fact.

    r10 rewrite (guide §2.4): both correlated probes depend only on
    per-order counts over the distinct (order, supplier) pair set —
    EXISTS another supplier on the order  <=>  n_supp >= 2, and
    NOT EXISTS another LATE supplier      <=>  n_late == 1 (the probed
    pair is itself late, so it is the one). The old plan re-shuffled
    the full fact table a second time for the semi probe and the late
    set twice more for the distinct + anti probe; now the fact crosses
    the network ONCE (the unavoidable lineitem<->orders date join),
    and every later step — the (order, supplier) late-flag collapse
    and the per-order count window — reuses that join's l_orderkey
    hash partitioning exchange-free (HashPartitioning on a subset of
    the grouping/window keys satisfies ClusteredDistribution).
    Equivalence: l1 = distinct late pairs = pairs with max(late)=true;
    the EXISTS probe admits an order iff it has a second distinct
    supplier (n_supp >= 2, counted over ALL lineitems, late or not);
    the NOT EXISTS probe rejects any order whose late-supplier set has
    another member (n_late == 1 keeps exactly the singleton case).
    The count equivalence assumes non-null l_suppkey: the oracle's
    `l_suppkey <>` probes silently IGNORE null-suppkey rows (the
    predicate evaluates to NULL), so such rows are dropped before the
    pair aggregate (a no-op on this TPC-H-shaped data, where
    l_suppkey is non-null by schema; r11, ADVICE).
    Supplier dim broadcasts; numwait counts the same surviving pairs.
    """
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    lineitem = load_table(spark, sf_dir, "lineitem")
    j = (
        lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
        .filter(F.col("l_suppkey").isNotNull())
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 365 DAY")
            ).alias("late"),
        )
    )
    pairs = j.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("late").alias("is_late")
    )
    # Per-order counts as window aggregates over the pair table — NOT a
    # pairs<->counts self-join: two consumers of `pairs` would re-run
    # the whole fact join per branch (the supplier join pushes an extra
    # isnotnull(l_suppkey) into one branch's scan, so the two subtrees
    # canonicalize differently and ReuseExchange cannot merge them —
    # measured as a doubled lineitem scan+shuffle in the join form).
    # The window needs only ClusteredDistribution(l_orderkey), which
    # the pair aggregate's output already provides, so it adds ZERO
    # exchanges; order groups are bounded (~7 suppliers), so window
    # buffering is O(group), not O(partition).
    w = Window.partitionBy("l_orderkey")
    only_late = (
        pairs.select(
            "l_orderkey",
            "l_suppkey",
            "is_late",
            F.count(F.lit(1)).over(w).alias("n_supp"),
            F.sum(F.col("is_late").cast("int")).over(w).alias("n_late"),
        )
        .filter(
            F.col("is_late") & (F.col("n_late") == 1) & (F.col("n_supp") >= 2)
        )
    )
    return (
        only_late.join(
            F.broadcast(supplier), F.col("l_suppkey") == supplier.s_suppkey
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ---------------------------------------------------------------------------
# Q22 shape: global scalar subquery + anti join.
# ---------------------------------------------------------------------------


@register(
    "idle_high_balance_customers",
    oracle="""
    WITH cutoff AS (
      SELECT MAX(o_orderdate) - INTERVAL 180 DAY AS cut FROM orders
    ), threshold AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
             AS avg_bal
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_mktsegment,
           COUNT(*) AS n_cust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer c, threshold t
    WHERE c.c_acctbal > t.avg_bal
      AND NOT EXISTS (
            SELECT 1 FROM orders o, cutoff
            WHERE o.o_custkey = c.c_custkey AND o.o_orderdate > cutoff.cut)
    GROUP BY c.c_mktsegment
    """,
)
def idle_high_balance_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average positive balance
    and no recent orders (no order in the trailing 180 days — this
    schema has no phone column, so "recently idle" replaces the
    country-code filter; the scalar-subquery + anti-join composition is
    Q22's exactly).

    Scale: both scalar subqueries (global avg balance, max order date)
    are one-row aggregates broadcast into the plan — no recompute per
    row, no driver round-trip outside the plan. The NOT EXISTS is an
    anti join against recent orders only (date filter pushed below the
    join, pruning the probe side at the scan). The threshold is an
    exact decimal sum / count in one double division, bit-equal to the
    oracle's.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    cutoff = orders.agg(
        (F.max("o_orderdate") - F.expr("INTERVAL 180 DAY")).alias("cut")
    )
    threshold = customer.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias(
            "avg_bal"
        )
    )
    recent = (
        orders.join(F.broadcast(cutoff), orders.o_orderdate > F.col("cut"))
        .select("o_custkey")
    )
    return (
        customer.join(F.broadcast(threshold), F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, customer.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("total_bal"),
        )
    )
