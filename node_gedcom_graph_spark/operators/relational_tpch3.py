"""Fifth relational batch — the remaining classic TPC-H decision-support
shapes not yet covered (Q4, Q6, Q7, Q8, Q9, Q10, Q12, Q13, Q14, Q19),
re-expressed on the driver's star schema. The reference engine's surface
is filter→route→aggregate over a record stream (cf.
/root/reference/lib/csv_writer.js); these queries exercise the same
composition at relational depth: correlated EXISTS, multi-dim join
chains, conditional-share aggregates, outer-join distributions, and
disjunctive pushdown predicates.

Schema adaptations (this star schema has no partsupp / shipmode /
commitdate / container): Q4's "commit < receipt" lateness becomes
"shipped > 60 days after order"; Q9's supplycost becomes a retailprice
proxy; Q12's shipmode classes become ship-latency buckets. The operator
SHAPES — the thing the optimizer sees — are unchanged.

Determinism policy (same as relational.py): money sums run in exact
DECIMAL(18,2+) arithmetic and cast to DOUBLE only at the end, so
aggregation order cannot perturb the oracle hash; counts and date
arithmetic are integral on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from node_gedcom_graph_spark.operators import register
from node_gedcom_graph_spark.operators.relational import _dec
from node_gedcom_graph_spark.sources.tables import load_table


def _revenue() -> Column:
    """Exact-decimal l_extendedprice * (1 - l_discount)."""
    return _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(18,2)") - _dec("l_discount")
    )


_REVENUE_SQL = (
    "CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
)


# ---------------------------------------------------------------------------
# Q4 shape: correlated EXISTS over the fact, aggregated on the dimension.
# ---------------------------------------------------------------------------


@register(
    "late_shipment_order_priority",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o.o_orderpriority
    """,
)
def late_shipment_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: per-priority count of orders with at least one
    late line — a correlated EXISTS decorrelated into a LEFT SEMI join
    (no commitdate/receiptdate in this schema, so "late" = shipped more
    than 60 days after the order date).

    Scale: the semi join shuffles both sides on orderkey once and emits
    at most one row per order regardless of line fan-out — no
    dedup-after-inner-join. The orderdate range filter prunes the
    orders side at the scan (pushed filter), and the non-equi lateness
    predicate rides the join condition, evaluated post-match without a
    second pass.
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    late = o.join(
        lineitem,
        (lineitem.l_orderkey == o.o_orderkey)
        & (lineitem.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


# ---------------------------------------------------------------------------
# Q6 shape: tight-range scan-local aggregate (the pushdown showcase).
# ---------------------------------------------------------------------------


@register(
    "forecast_revenue_change",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
             AS potential_revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: revenue that would be gained by eliminating small
    discounts — a pure filter + global aggregate with no join at all.

    Scale: every predicate (shipdate range, discount band, quantity
    cap) is scan-pushable, so the parquet reader skips row groups by
    min/max stats before a single row is materialized; the aggregate is
    a map-side partial into a one-row final. This is the query shape
    where columnar pruning does all the work — ReadSchema is 4 columns
    of 11. The discount band compares against the same IEEE literals on
    both engines (stored values are exact parses of the same strings).
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount"))
            .cast("double")
            .alias("potential_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q7 shape: bidirectional nation-pair volume by year.
# ---------------------------------------------------------------------------


@register(
    "nation_pair_shipping_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS ship_year,
           CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
)
def nation_pair_shipping_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: shipping volume between a pair of nations, both
    directions, by ship year.

    Scale: the disjunctive nation-pair predicate is split so each side
    prunes EARLY — suppliers and customers are filtered to the two
    nations BEFORE touching the facts, shrinking both join inputs by
    ~2/25 ahead of the only two big shuffles (lineitem⋈orders on
    orderkey, orders⋈customer on custkey). nation is broadcast;
    supplier/customer joins carry no broadcast hint (they are SF-linear
    — at 100 TB the filtered sides are still millions of rows, and AQE
    promotes them to broadcast exactly when they fit). The pair
    disjunction is re-checked after assembly, which is cheap (both
    columns are already local).
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    pair = nation.filter(F.col("n_name").isin("NATION_1", "NATION_2"))
    supp = supplier.join(
        F.broadcast(pair.select(F.col("n_nationkey").alias("sn_key"),
                                F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    cust = customer.join(
        F.broadcast(pair.select(F.col("n_nationkey").alias("cn_key"),
                                F.col("n_name").alias("cust_nation"))),
        F.col("c_nationkey") == F.col("cn_key"),
    ).select("c_custkey", "cust_nation")

    joined = (
        lineitem.join(supp, lineitem.l_suppkey == supp.s_suppkey)
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return joined.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").alias("ship_year"),
    ).agg(
        F.sum(_revenue()).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# Q8 shape: conditional share-of-market aggregate.
# ---------------------------------------------------------------------------


@register(
    "nation_market_share",
    oracle=f"""
    WITH base AS (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS order_year,
             {_REVENUE_SQL} AS volume,
             n1.n_name AS supp_nation
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n2.n_regionkey
      WHERE p.p_type = 'ECONOMY' AND r.r_name = 'ASIA'
    )
    SELECT order_year,
           CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3'
                              THEN volume ELSE CAST(0 AS DECIMAL(18,2)) END)
                     AS DOUBLE)
                / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share,
           COUNT(*) AS n_lines
    FROM base
    GROUP BY order_year
    """,
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_3's share of ECONOMY-part revenue sold into
    ASIA's customer market, per order year — a conditional-numerator /
    total-denominator aggregate over a six-table join chain.

    Scale: the two selective dims prune before the facts — part is
    filtered to one type (1/6) and the customer side to one region's
    nations (broadcast nation⋈region reaching customer as a broadcast
    semi-filter). Both sums run in exact decimal and divide only at the
    end, so the share is identical under any aggregation order. The
    fact-fact shuffle (lineitem⋈orders) happens once; all dim joins
    are broadcast except customer, which AQE promotes when the filtered
    side fits.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")

    econ_parts = part.filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    supp = supplier.join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("sn_key"),
                                  F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    asia_nations = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "ASIA")),
        nation.n_regionkey == F.col("r_regionkey"),
    ).select(F.col("n_nationkey").alias("cn_key"))
    cust = customer.join(
        F.broadcast(asia_nations), F.col("c_nationkey") == F.col("cn_key"), "left_semi"
    ).select("c_custkey")

    vol = _revenue()
    base = (
        lineitem.join(F.broadcast(econ_parts), lineitem.l_partkey == econ_parts.p_partkey)
        .join(supp, lineitem.l_suppkey == supp.s_suppkey)
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey, "left_semi")
        .select(
            F.year("o_orderdate").alias("order_year"),
            vol.alias("volume"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return base.groupBy("order_year").agg(
        (
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(zero)
            ).cast("double")
            / F.sum("volume").cast("double")
        )
        .cast("double")
        .alias("mkt_share"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# Q9 shape: profit by supplier nation and year (supplycost proxied).
# ---------------------------------------------------------------------------


@register(
    "product_type_profit",
    oracle="""
    SELECT n.n_name AS supp_nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS order_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(18,2))
                         - CAST(l.l_discount AS DECIMAL(18,2)))
                    - CAST(0.6 AS DECIMAL(18,2))
                      * CAST(p.p_retailprice AS DECIMAL(18,2))
                      * CAST(l.l_quantity AS DECIMAL(18,2)))
                AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%bolt%'
    GROUP BY 1, 2
    """,
)
def product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on a product family by supplier nation
    and order year. This schema has no partsupp, so unit cost is
    proxied as 60% of the part's retail price — the join/aggregate
    SHAPE (fact ⋈ 3 dims ⋈ fact, substring part filter, two-level
    group) is Q9's.

    Scale: the %bolt% contains-filter cannot use range stats but IS
    evaluated in the part dim scan (200k rows/SF, not 6M lines/SF), and
    only matching partkeys reach the fact join. Profit is computed
    per-line in exact decimal and summed decimal — subtraction before
    aggregation keeps one pass. lineitem⋈orders is the lone fact-fact
    shuffle on orderkey.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")

    bolts = part.filter(F.col("p_name").contains("bolt")).select(
        "p_partkey", "p_retailprice"
    )
    supp = supplier.join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("sn_key"),
                                  F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")

    profit = _revenue() - (
        F.lit(0.6).cast("decimal(18,2)")
        * _dec("p_retailprice")
        * _dec("l_quantity")
    )
    return (
        lineitem.join(F.broadcast(bolts), lineitem.l_partkey == bolts.p_partkey)
        .join(supp, lineitem.l_suppkey == supp.s_suppkey)
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("supp_nation"),
            F.year("o_orderdate").alias("order_year"),
        )
        .agg(F.sum(profit).cast("double").alias("profit"))
    )


# ---------------------------------------------------------------------------
# Q10 shape: returned-item revenue ranking (top-k with tiebreak).
# ---------------------------------------------------------------------------


@register(
    "returned_item_top_customers",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01'
      AND l.l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def returned_item_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: the 20 customers who returned the most revenue in a
    half-year window.

    Scale: returnflag + orderdate filters prune both facts at their
    scans before the orderkey shuffle; the aggregate shuffles on
    custkey (pre-combined map-side); the top-20 is a
    TakeOrderedAndProject — each partition keeps 20 rows and the driver
    merges, never a global sort. Exact-decimal revenue plus the custkey
    tiebreak makes the cut deterministic on both engines.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    l = lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    cust = customer.join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("cn_key"),
                                  F.col("n_name").alias("nation"))),
        customer.c_nationkey == F.col("cn_key"),
    ).select("c_custkey", "c_name", "nation")

    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(cust, o.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "nation")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q12 shape: latency-class × priority-class matrix.
# ---------------------------------------------------------------------------


@register(
    "ship_latency_priority_counts",
    oracle="""
    SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 30
                THEN 'FAST'
                WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 90
                THEN 'MEDIUM'
                ELSE 'SLOW' END AS latency_class,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY 1
    """,
)
def ship_latency_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: how many high- vs low-priority lines fall into
    each shipping-latency class (no shipmode column in this schema, so
    the classes are day-latency buckets — same conditional-count
    matrix).

    Scale: one orderkey shuffle joining the two facts, then a 3-group
    aggregate with map-side partials; the conditional counts are
    integer CASE sums (bit-identical on any engine). DuckDB's SUM over
    integers widens to HUGEINT, so the oracle casts back to BIGINT to
    match Spark (repo-wide oracle-lint rule).
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select(
            F.when(delay <= 30, "FAST")
            .when(delay <= 90, "MEDIUM")
            .otherwise("SLOW")
            .alias("latency_class"),
            F.when(is_high, 1).otherwise(0).alias("hi"),
            F.when(is_high, 0).otherwise(1).alias("lo"),
        )
        .groupBy("latency_class")
        .agg(
            F.sum("hi").cast("bigint").alias("high_line_count"),
            F.sum("lo").cast("bigint").alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q13 shape: outer-join count distribution.
# ---------------------------------------------------------------------------


@register(
    "customer_order_count_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
      FROM customer c
      LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey
       AND o.o_orderpriority <> '5-LOW'
      GROUP BY c.c_custkey
    )
    SELECT n_orders, COUNT(*) AS n_customers
    FROM per_cust
    GROUP BY n_orders
    """,
)
def customer_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: the distribution of per-customer order counts,
    keeping zero-order customers via LEFT OUTER, with a join-side
    residual filter (priority exclusion) that must NOT eliminate
    unmatched customers — the classic outer-join-with-ON-filter trap.

    Scale: the filter rides the join's ON clause (pushed to the orders
    scan, preserved for unmatched rows), the first aggregate shuffles
    on custkey, and the second on the tiny n_orders domain — the
    second shuffle moves one row per customer, pre-combined to one row
    per distinct count per partition.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        customer.join(
            orders,
            (orders.o_custkey == customer.c_custkey)
            & (orders.o_orderpriority != "5-LOW"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


# ---------------------------------------------------------------------------
# Q14 shape: promotional revenue share in a month.
# ---------------------------------------------------------------------------


@register(
    "promo_revenue_share",
    oracle=f"""
    SELECT CAST(100.0
                * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                                THEN {_REVENUE_SQL}
                                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                / CAST(SUM({_REVENUE_SQL}) AS DOUBLE)
             AS DOUBLE) AS promo_share_pct,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-02-01'
    """,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: percent of one month's revenue from PROMO-type parts.

    Scale: the one-month shipdate range prunes the fact at the scan
    (row-group stats make this near-free on date-sorted data); the part
    join brings only (p_partkey, p_type); numerator and denominator
    accumulate in the same exact-decimal pass, dividing once at the
    end.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    l = lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-02-01").cast("timestamp"))
    )
    zero = F.lit(0).cast("decimal(18,2)")
    rev = _revenue()
    return (
        l.join(
            F.broadcast(part.select("p_partkey", "p_type")),
            l.l_partkey == F.col("p_partkey"),
        )
        .agg(
            (
                F.lit(100.0)
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)
                ).cast("double")
                / F.sum(rev).cast("double")
            )
            .cast("double")
            .alias("promo_share_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q19 shape: disjunctive multi-attribute predicates.
# ---------------------------------------------------------------------------


@register(
    "disjunctive_brand_quantity_revenue",
    oracle=f"""
    SELECT CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def disjunctive_brand_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: revenue under three OR-ed brand/size/quantity
    conjunctions — the disjunctive-pushdown stress shape.

    Scale: the part-only half of each disjunct (brand + size) is
    factored out and applied to the part dim BEFORE the join — the
    union of the three brand filters shrinks the build side ~3/25 —
    while the mixed part×line conjunctions evaluate post-join. Catalyst
    additionally derives the quantity hull (1..30) as a scan-pushed
    filter on the fact side from the OR chain.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    p = part.filter(
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15))
    ).select("p_partkey", "p_brand")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("l_quantity").between(20, 30))
    )
    return (
        lineitem.join(F.broadcast(p), lineitem.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.sum(_revenue()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
