"""Classic warehouse report shapes over the raw TPC-H-ish tables
(lineitem/orders/customer/supplier) — the scan-heavy plans a
reference user would run against the bronze layer directly, before
the medallion star exists.  Complements analytics.py's star-schema
gates (q1-q12) with the canonical TPC-H plan shapes the star
queries don't exercise:

  q13_pricing_summary    TPC-H Q1 shape: full-scan multi-aggregate
                         over lineitem — the pure scan+agg throughput
                         probe (no join at all)
  q14_shipping_priority  TPC-H Q3 shape: 3-way join + grouped agg +
                         global top-k (TakeOrdered, not a full sort)
  q15_top_supplier       TPC-H Q15 shape: an aggregate joined against
                         its own global MAX — the "view + self-probe"
                         pattern the reference builds with a
                         materialized view (scripts/materialized_view.sql
                         builds report MVs; this is the query-side
                         analogue)
  q17_small_quantity_revenue  Q17 shape: correlated per-part average,
                         decorrelated into one aggregate-join
  q18_large_volume_customers  Q18 shape: HAVING keep-list joined back
                         + TakeOrdered top-N
  q19_disjunctive_revenue     Q19 shape: OR-of-conjunctions residual
                         over the partkey equi-join
  q22_dormant_high_balance    Q22 shape: scalar-average subquery +
                         anti join, per-segment rollup

Cross-engine determinism: money expressions are written with
IDENTICAL parse trees on both engines and routed through
DECIMAL(18,4) before summing (star.py SALES_DECIMAL policy — decimal
addition is exact, so summation order cannot matter), then cast to
DOUBLE once on the way out.  Quantities are integer-valued doubles
and are summed as BIGINT.  Averages divide the exact sums by exact
counts in one final double op.

Scale notes (100 TB):
  * q13 is one scan with map-side partial aggregation into a handful
    of (returnflag, linestatus) groups — the shuffle carries only
    per-partition partials (bytes, not rows).  The shipdate predicate
    reaches the parquet scan (PushedFilters, pinned in test_plans).
  * q14's lineitem|x|orders leg is the big-big join; it shuffles
    once on the order key.
    The top-10 is orderBy+limit, which Spark plans as
    TakeOrderedAndProject — per-partition heaps + a 10-row driver
    merge, never a global sort (pinned in test_plans).
  * q15 joins the supplier aggregate against a broadcast 1-row MAX —
    no second scan of lineitem, no shuffle beyond the one grouped agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..star import SALES_DECIMAL

Q13_CUTOFF = "1998-09-01"
Q14_SEGMENT = "BUILDING"
Q14_DATE = "1996-03-15"
Q14_TOP = 10
Q15_QUARTER = ("1996-01-01", "1996-04-01")


def q13_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shape pricing summary: one lineitem scan, grouped
    SUM/AVG/COUNT per (returnflag, linestatus).

    The three money sums use literally the same expression trees as
    the oracle (`x*(1-d)`, `(x*(1-d))*(1+t)`) so the doubles agree
    bitwise BEFORE the decimal cast; decimal sums are then
    order-independent.  Averages are exact-sum / exact-count."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit(f"{Q13_CUTOFF} 00:00:00").cast("timestamp")
    )
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc * (F.lit(1.0) + F.col("l_tax"))
    out = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("_sq"),
            F.sum(F.col("l_extendedprice").cast(SALES_DECIMAL)).alias("_sb"),
            F.sum(disc.cast(SALES_DECIMAL)).alias("_sd"),
            # 6-decimal scale: price(2dp)*(1-disc)(2dp)*(1+tax)(2dp)
            # has at most 6 decimal digits, so this cast is EXACT on
            # both engines.  DECIMAL(18,4) would round, and Spark
            # (HALF_UP on the shortest decimal repr) and DuckDB
            # (nearest on the binary value) break x.xxxx5 ties
            # differently — measured: 6 of 60k rows diverge.
            F.sum(charge.cast("decimal(18,6)")).alias("_sc"),
            F.sum(F.col("l_discount").cast("decimal(18,6)")).alias("_sdisc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    n = F.col("count_order").cast("double")
    return out.select(
        "l_returnflag",
        "l_linestatus",
        F.col("_sq").alias("sum_qty"),
        _dec2dbl("_sb", 4).alias("sum_base_price"),
        _dec2dbl("_sd", 4).alias("sum_disc_price"),
        _dec2dbl("_sc", 6).alias("sum_charge"),
        (F.col("_sq").cast("double") / n).alias("avg_qty"),
        (_dec2dbl("_sb", 4) / n).alias("avg_price"),
        (_dec2dbl("_sdisc", 6) / n).alias("avg_disc"),
        "count_order",
    )


def _dec2dbl(col: str, scale: int) -> F.Column:
    """DECIMAL -> DOUBLE through an exact int64 extraction.

    A direct decimal->double cast diverges between engines once the
    sum carries more significant digits than a double holds (~16):
    each engine performs ITS OWN internal conversion (DuckDB divides
    a separately-rounded hugeint->double by 10^scale), and the round-6
    sf1 parity sweep caught q13's sum_charge differing by one ulp at
    6M rows (exact decimal ~2.78e16 units of 1e-6).  Extracting the
    integral units first — decimal * 10^scale is integral and fits
    int64 for the full DECIMAL(18,s) domain (1e18 < 2^63) — makes
    BOTH engines run the identical two correctly-rounded steps:
    int64 -> double, then one double division by 10^scale."""
    return (F.col(col) * F.lit(10**scale)).cast("long").cast(
        "double"
    ) / F.lit(float(10**scale))


Q13_ORACLE = f"""
WITH g AS (
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           SUM(CAST(l_extendedprice AS {SALES_DECIMAL})) AS sb,
           SUM(CAST(l_extendedprice * (1.0 - l_discount)
                    AS {SALES_DECIMAL})) AS sd,
           SUM(CAST((l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax)
                    AS DECIMAL(18,6))) AS sc,
           SUM(CAST(l_discount AS DECIMAL(18,6))) AS sdisc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{Q13_CUTOFF} 00:00:00'
    GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus, sum_qty,
       CAST(CAST(sb * 10000 AS BIGINT) AS DOUBLE) / 10000.0
           AS sum_base_price,
       CAST(CAST(sd * 10000 AS BIGINT) AS DOUBLE) / 10000.0
           AS sum_disc_price,
       CAST(CAST(sc * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0
           AS sum_charge,
       CAST(sum_qty AS DOUBLE) / CAST(count_order AS DOUBLE) AS avg_qty,
       CAST(CAST(sb * 10000 AS BIGINT) AS DOUBLE) / 10000.0
           / CAST(count_order AS DOUBLE) AS avg_price,
       CAST(CAST(sdisc * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0
           / CAST(count_order AS DOUBLE) AS avg_disc,
       count_order
FROM g
"""


def q14_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shape: revenue of not-yet-shipped orders for one
    market segment, top 10.

    The top-k is `orderBy(...).limit(k)` — Spark plans it as
    TakeOrderedAndProject (per-partition bounded heaps, k-row driver
    merge), so the global "sort" moves k rows, not the result set.
    The tie-break on l_orderkey makes the cut deterministic; rank is
    assigned after the limit over the 10 surviving rows."""
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == Q14_SEGMENT
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit(f"{Q14_DATE} 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit(f"{Q14_DATE} 00:00:00").cast("timestamp")
    )
    rev = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ).cast(SALES_DECIMAL)
    top = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(Q14_TOP)
    )
    w = Window.orderBy(F.desc("revenue"), F.asc("l_orderkey"))
    return top.select(
        "l_orderkey",
        "revenue",
        F.col("o_orderdate").cast("date").alias("order_date"),
        "o_orderpriority",
        F.row_number().over(w).alias("rank"),
    )


Q14_ORACLE = f"""
WITH g AS (
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                         AS {SALES_DECIMAL})) AS DOUBLE) AS revenue,
           CAST(o_orderdate AS DATE) AS order_date,
           o_orderpriority
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = '{Q14_SEGMENT}'
      AND o_orderdate < TIMESTAMP '{Q14_DATE} 00:00:00'
      AND l_shipdate  > TIMESTAMP '{Q14_DATE} 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT {Q14_TOP}
)
SELECT l_orderkey, revenue, order_date, o_orderpriority,
       ROW_NUMBER() OVER (ORDER BY revenue DESC, l_orderkey ASC) AS rank
FROM g
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shape: suppliers whose quarterly revenue equals the
    global maximum — an aggregate probed against its own MAX.

    The MAX rides a window over the aggregate itself, so lineitem is
    scanned ONCE (a broadcast-join formulation re-materializes the
    aggregate's whole lineage — Catalyst does not dedupe common
    subplans — which doubles the 100 TB scan; pinned in test_plans).
    The window moves only the per-supplier aggregate rows, not the
    fact.  Equality on the DOUBLE revenue is safe because both sides
    derive it from the same exact decimal sum."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit(f"{Q15_QUARTER[0]} 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(f"{Q15_QUARTER[1]} 00:00:00").cast("timestamp"))
    )
    rev = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ).cast(SALES_DECIMAL)
    revenue = li.groupBy("l_suppkey").agg(
        F.sum(rev).cast("double").alias("total_revenue")
    )
    best = F.max("total_revenue").over(Window.partitionBy())
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        revenue.withColumn("_best", best)
        .filter(F.col("total_revenue") == F.col("_best"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("supplier_name"),
            "total_revenue",
        )
    )


Q15_ORACLE = f"""
WITH revenue0 AS (
    SELECT l_suppkey,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                         AS {SALES_DECIMAL})) AS DOUBLE) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '{Q15_QUARTER[0]} 00:00:00'
      AND l_shipdate <  TIMESTAMP '{Q15_QUARTER[1]} 00:00:00'
    GROUP BY l_suppkey
)
SELECT s_suppkey AS suppkey, s_name AS supplier_name, total_revenue
FROM revenue0 JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue0)
"""


Q17_BRAND = "Brand#1"


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: average yearly revenue lost if small orders
    (below 20% of the part's average quantity) were not filled — the
    correlated-subquery report, decorrelated the way Catalyst would:
    the per-part average becomes a grouped aggregate joined back on
    partkey, so lineitem is scanned once per side with no per-row
    subquery execution.

    Determinism: the average is exact-integer sum / exact count (one
    double division); the 0.2 multiplier and the comparison are single
    IEEE ops; revenue routes through the decimal policy and divides by
    7.0 once at the end."""
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_brand") == Q17_BRAND
    )
    li = load_table(spark, sf_dir, "lineitem")
    avg_q = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (
            F.sum(F.col("l_quantity").cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_qty")
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(avg_q, F.col("l_partkey") == F.col("a_partkey"))
        .where(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast(SALES_DECIMAL)).cast(
                    "double"
                )
                / F.lit(7.0)
            ).alias("avg_yearly")
        )
    )


Q17_ORACLE = f"""
SELECT CAST(SUM(CAST(l_extendedprice AS {SALES_DECIMAL})) AS DOUBLE) / 7.0
           AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN (
    SELECT l_partkey AS a_partkey,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS avg_qty
    FROM lineitem GROUP BY l_partkey
) a ON l_partkey = a_partkey
WHERE p_brand = '{Q17_BRAND}'
  AND l_quantity < 0.2 * avg_qty
"""


Q18_MIN_QTY = 180
Q18_TOP = 100


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a
    threshold, with their customers, top-N by order value.

    The HAVING subquery becomes a pre-aggregated keep-list joined
    back to orders — at 100 TB the keep-list is tiny relative to
    lineitem (the aggregate reduces before any join), and the top-N
    is TakeOrdered again.  Quantities sum as BIGINT (exact)."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
        .where(F.col("sum_qty") > Q18_MIN_QTY)
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    top = (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("customer_name"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderdate").cast("date").alias("order_date"),
            F.col("o_totalprice").alias("total_price"),
            "sum_qty",
        )
        .orderBy(F.desc("total_price"), F.asc("orderkey"))
        .limit(Q18_TOP)
    )
    w = Window.orderBy(F.desc("total_price"), F.asc("orderkey"))
    return top.withColumn("rank", F.row_number().over(w))


Q18_ORACLE = f"""
WITH big AS (
    SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
               AS sum_qty
    FROM lineitem GROUP BY 1
    HAVING SUM(CAST(l_quantity AS BIGINT)) > {Q18_MIN_QTY}
),
top AS (
    SELECT c_custkey AS custkey, c_name AS customer_name,
           o_orderkey AS orderkey, CAST(o_orderdate AS DATE) AS order_date,
           o_totalprice AS total_price, sum_qty
    FROM orders JOIN big ON o_orderkey = l_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY total_price DESC, orderkey ASC
    LIMIT {Q18_TOP}
)
SELECT *, ROW_NUMBER() OVER (ORDER BY total_price DESC, orderkey ASC) AS rank
FROM top
"""


Q19_CASES = (
    ("Brand#1", 1, 15, 1.0, 20.0),
    ("Brand#2", 10, 30, 10.0, 40.0),
)


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR of conjunctive
    brand/size/quantity cases — the disjunctive-predicate join.
    Catalyst keeps the equi-join on partkey and evaluates the OR as a
    residual filter; the common l_quantity bounds are NOT hoisted by
    hand — letting the optimizer fold what it can is the point of the
    declarative form."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cond = F.lit(False)
    for brand, s_lo, s_hi, q_lo, q_hi in Q19_CASES:
        cond = cond | (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(s_lo, s_hi)
            & F.col("l_quantity").between(q_lo, q_hi)
        )
    rev = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ).cast(SALES_DECIMAL)
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .where(cond)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(rev).cast("double").alias("revenue"),
        )
    )


def _q19_oracle() -> str:
    ors = " OR ".join(
        f"(p_brand = '{b}' AND p_size BETWEEN {sl} AND {sh}"
        f" AND l_quantity BETWEEN {ql!r} AND {qh!r})"
        for b, sl, sh, ql, qh in Q19_CASES
    )
    return f"""
SELECT COUNT(*) AS n_lines,
       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                     AS {SALES_DECIMAL})) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE {ors}
"""


Q22_CUTOFF = "1999-01-01"


def q22_dormant_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: high-balance customers with no recent orders
    (the prospect/dormancy report) — a scalar-average subquery plus an
    anti join, aggregated per market segment.

    The average routes through DECIMAL (AVG of raw doubles is
    summation-order-dependent and would diverge cross-engine) and
    rides back as a broadcast 1-row aggregate; the recency probe is a
    LeftAnti against date-filtered orders."""
    cust = load_table(spark, sf_dir, "customer")
    avg_bal = cust.where(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast(SALES_DECIMAL)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("_avg_bal")
    )
    recent = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate")
        >= F.lit(f"{Q22_CUTOFF} 00:00:00").cast("timestamp")
    ).select(F.col("o_custkey").alias("c_custkey")).distinct()
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(recent, "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast(SALES_DECIMAL))
            .cast("double")
            .alias("total_balance"),
        )
    )


Q22_ORACLE = f"""
WITH avg_bal AS (
    SELECT CAST(SUM(CAST(c_acctbal AS {SALES_DECIMAL})) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS a
    FROM customer WHERE c_acctbal > 0
)
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS {SALES_DECIMAL})) AS DOUBLE)
           AS total_balance
FROM customer c
WHERE c_acctbal > (SELECT a FROM avg_bal)
  AND NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= TIMESTAMP '{Q22_CUTOFF} 00:00:00'
  )
GROUP BY 1
"""


Q21_LATE_DAYS = 60


def q21_exclusive_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY late shipper on a
    multi-supplier order — the EXISTS (another supplier) + NOT EXISTS
    (another LATE supplier) double correlation, decorrelated into one
    per-order aggregate: n_supp >= 2 encodes the EXISTS, n_late = 1
    with this supplier late encodes the NOT EXISTS.  One pass computes
    both, where the textbook formulation self-joins lineitem twice.

    "Late" adapts Q21 to this schema (no commitdate column): shipped
    more than Q21_LATE_DAYS after the order date.  The
    lineitem |x| orders leg is the big-big join."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    late = F.when(
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr(f"INTERVAL {Q21_LATE_DAYS} DAYS"),
        1,
    ).otherwise(0)
    per = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("late"))
    )
    stats = per.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("late").cast("long").alias("n_late"),
    )
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        per.where(F.col("late") == 1)
        .join(stats, "l_orderkey")
        .where((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("supplier_name"),
        )
        .agg(F.count(F.lit(1)).alias("n_waiting_orders"))
    )


Q21_ORACLE = f"""
WITH per AS (
    SELECT l_orderkey, l_suppkey,
           MAX(CASE WHEN l_shipdate > o_orderdate
                         + INTERVAL {Q21_LATE_DAYS} DAY
                    THEN 1 ELSE 0 END) AS late
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2
),
stats AS (
    SELECT l_orderkey, COUNT(*) AS n_supp,
           CAST(SUM(late) AS BIGINT) AS n_late
    FROM per GROUP BY 1
)
SELECT s_suppkey AS suppkey, s_name AS supplier_name,
       COUNT(*) AS n_waiting_orders
FROM per JOIN stats USING (l_orderkey)
JOIN supplier ON l_suppkey = s_suppkey
WHERE late = 1 AND n_supp >= 2 AND n_late = 1
GROUP BY 1, 2
"""


def q23_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape: per-priority KPIs unpivoted to
    (priority, metric, value) rows — the inverse of q10's PIVOT and
    the missing half of the reshaping pair (BI tools and metric
    stores consume the long form).

    Spark's native unpivot (Expand under the hood — the same
    row-multiplying node as grouping sets, no shuffle of its own);
    all three measures are cast to DOUBLE first because unpivot
    requires a common value type, with the sums exact-decimal before
    that cast as usual."""
    from ..catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    wide = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(SALES_DECIMAL))
        .cast("double")
        .alias("total_revenue"),
        F.max("o_totalprice").alias("max_price"),
    )
    return wide.unpivot(
        ["o_orderpriority"],
        ["n_orders", "total_revenue", "max_price"],
        "metric",
        "value",
    )


Q23_ORACLE = f"""
WITH wide AS (
    SELECT o_orderpriority,
           CAST(COUNT(*) AS DOUBLE) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS {SALES_DECIMAL})) AS DOUBLE)
               AS total_revenue,
           MAX(o_totalprice) AS max_price
    FROM orders GROUP BY 1
)
SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS value FROM wide
UNION ALL
SELECT o_orderpriority, 'total_revenue', total_revenue FROM wide
UNION ALL
SELECT o_orderpriority, 'max_price', max_price FROM wide
"""


QUERIES = {
    "q13_pricing_summary": q13_pricing_summary,
    "q14_shipping_priority": q14_shipping_priority,
    "q15_top_supplier": q15_top_supplier,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q18_large_volume_customers": q18_large_volume_customers,
    "q19_disjunctive_revenue": q19_disjunctive_revenue,
    "q21_exclusive_late_supplier": q21_exclusive_late_supplier,
    "q22_dormant_high_balance": q22_dormant_high_balance,
    "q23_unpivot_metrics": q23_unpivot_metrics,
}

ORACLES = {
    "q13_pricing_summary": Q13_ORACLE,
    "q14_shipping_priority": Q14_ORACLE,
    "q15_top_supplier": Q15_ORACLE,
    "q17_small_quantity_revenue": Q17_ORACLE,
    "q18_large_volume_customers": Q18_ORACLE,
    "q19_disjunctive_revenue": _q19_oracle(),
    "q21_exclusive_late_supplier": Q21_ORACLE,
    "q22_dormant_high_balance": Q22_ORACLE,
    "q23_unpivot_metrics": Q23_ORACLE,
}
