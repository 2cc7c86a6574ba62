"""Second batch of classic TPC-H report shapes over the raw tables —
the plan families the round-3 batch (tpch.py q13-q23) does not cover:

  q24_order_priority_check  Q4 shape: EXISTS semi-join probe — orders
                            with at least one late line, counted per
                            priority.  The canonical left-semi plan.
  q25_volume_shipping       Q7 shape: bidirectional nation-pair trade
                            volume by year — the multi-hop snowflake
                            join (lineitem⋈orders⋈customer⋈nation ×
                            supplier⋈nation) with a disjunctive pair
                            predicate.
  q26_market_share          Q8 shape: one nation's share of regional
                            revenue by year — conditional-aggregate
                            ratio over a 6-table join.
  q27_returned_items        Q10 shape: revenue lost to returns per
                            customer, top 20 — grouped agg + TakeOrdered.
  q28_latency_priority      Q12 shape: CASE-bucketed counts by derived
                            ship-latency class (the schema has no
                            l_shipmode; latency bins replace it —
                            same conditional-aggregation plan shape).
  q29_promo_revenue         Q14 shape: promotion revenue ratio —
                            conditional numerator over one month.

The reference builds its reports as materialized views + ad-hoc SQL
over the gold star (scripts/materialized_view.sql, scripts/report_*);
these are the equivalent bronze-direct formulations, and they widen
the §2.3/§2.4 join+agg coverage with the semi-join (J-family) and
conditional-ratio (A-family) shapes the r3 registry lacked.

Cross-engine determinism: same policy as tpch.py — money through
DECIMAL(18,4) (exact, order-independent addition) with IDENTICAL
scalar parse trees on both engines, one final cast/division to DOUBLE;
counts exact; years as INT on both sides.

Scale notes (100 TB):
  * q24's semi-join carries the (orderkey, orderdate) pair plus a
    one-sided residual (l_shipdate > o_orderdate + 80 days); Spark
    plans equi-key + residual — no nested loop (pinned in
    test_plans).  The EXISTS never materializes duplicate matches, so
    the probe side's output is bounded by orders, not lineitem.
  * q25/q26 broadcast nation (25 rows) and supplier (the smallest
    fact-adjacent dim); the lineitem⋈orders leg is the big-big join.
  * q27's top-20 is TakeOrderedAndProject: per-partition 20-row
    heaps, never a global sort of the per-customer aggregate.
  * q28/q29 are single-scan conditional aggregates — the shuffle
    moves a handful of partial rows (map-side combine), the canonical
    "wide metric from one pass" plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..star import SALES_DECIMAL

Q24_QUARTER = ("1996-01-01", "1996-04-01")
Q24_LATE_DAYS = 80
Q25_PAIR = ("NATION_1", "NATION_2")
Q25_YEARS = (1996, 1997)
Q26_REGION = "ASIA"
Q26_NATION = "NATION_2"
Q26_PTYPE = "STANDARD"
Q27_QUARTER = ("1996-07-01", "1996-10-01")
Q27_TOP = 20
Q28_YEAR = 1997
Q28_SLOW_DAYS = 60
Q29_MONTH = ("1996-09-01", "1996-10-01")

_REV = lambda: (  # noqa: E731 — shared revenue expression, both engines
    F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
).cast(SALES_DECIMAL)


def _ts(d: str):
    return F.lit(f"{d} 00:00:00").cast("timestamp")


def q24_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: per-priority count of orders in one quarter
    having at least one late lineitem (shipped > 80 days after the
    order date).

    The EXISTS is a left-semi join: equi on orderkey plus the
    cross-side residual l_shipdate > o_orderdate + 80 days.  Semi
    output is bounded by the orders side regardless of how many lines
    match — the property that makes this safe at 100 TB where a plain
    join + distinct would shuffle every matching lineitem."""
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ts(Q24_QUARTER[0]))
        & (F.col("o_orderdate") < _ts(Q24_QUARTER[1]))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {Q24_LATE_DAYS} DAYS")
        ),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q24_ORACLE = f"""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '{Q24_QUARTER[0]} 00:00:00'
  AND o_orderdate <  TIMESTAMP '{Q24_QUARTER[1]} 00:00:00'
  AND EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL {Q24_LATE_DAYS} DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q25_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: trade volume between one nation pair, both
    directions, by ship year.

    nation broadcasts twice under different aliases (supp/cust side);
    supplier broadcasts; customer and orders join by shuffle (both
    scale with SF).  The pair predicate is the OR of the two ordered
    pairs, applied AFTER both nation joins — Catalyst pushes each
    side's IN(n1,n2) half down independently."""
    nation = load_table(spark, sf_dir, "nation")
    n1, n2 = Q25_PAIR
    supp_n = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    ).where(F.col("supp_nation").isin(n1, n2))
    cust_n = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    ).where(F.col("cust_nation").isin(n1, n2))
    # Sargable range, not year(l_shipdate) BETWEEN — a function over
    # the column would block parquet predicate pushdown (pinned in
    # test_plans); the year itself is re-derived only as a group key.
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts(f"{Q25_YEARS[0]}-01-01"))
        & (F.col("l_shipdate") < _ts(f"{Q25_YEARS[1] + 1}-01-01"))
    )
    return (
        li.join(
            F.broadcast(load_table(spark, sf_dir, "supplier")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(F.broadcast(supp_n), F.col("s_nationkey") == F.col("sn_key"))
        .join(
            load_table(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            load_table(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(cust_n), F.col("c_nationkey") == F.col("cn_key"))
        .where(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.sum(_REV()).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q25_ORACLE = f"""
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(volume) AS DOUBLE) AS revenue
FROM (
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
           CAST(l_extendedprice * (1.0 - l_discount) AS {SALES_DECIMAL})
               AS volume
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE l_shipdate >= TIMESTAMP '{Q25_YEARS[0]}-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '{Q25_YEARS[1] + 1}-01-01 00:00:00'
      AND ((sn.n_name = '{Q25_PAIR[0]}' AND cn.n_name = '{Q25_PAIR[1]}')
        OR (sn.n_name = '{Q25_PAIR[1]}' AND cn.n_name = '{Q25_PAIR[0]}'))
) t
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q26_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_2 suppliers' share of STANDARD-part
    revenue sold into ASIA-region customers, by order year.

    Share = conditional decimal sum / total decimal sum, divided once
    as doubles — both sums come out of the SAME aggregate (one pass,
    no self-join on the yearly rows)."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(
        F.col("r_name") == Q26_REGION
    )
    cust_n = nation.join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("cn_key"))
    supp_n = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    part = load_table(spark, sf_dir, "part").where(F.col("p_type") == Q26_PTYPE)
    vol = _REV()
    agg = (
        load_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(load_table(spark, sf_dir, "supplier")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(F.broadcast(supp_n), F.col("s_nationkey") == F.col("sn_key"))
        .join(
            load_table(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            load_table(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(cust_n), F.col("c_nationkey") == F.col("cn_key"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == Q26_NATION, vol).otherwise(
                    F.lit(0).cast(SALES_DECIMAL)
                )
            )
            .cast("double")
            .alias("_nation_vol"),
            F.sum(vol).cast("double").alias("_total_vol"),
        )
    )
    return agg.select(
        "o_year",
        (F.col("_nation_vol") / F.col("_total_vol")).alias("mkt_share"),
        F.col("_total_vol").alias("total_volume"),
    ).orderBy("o_year")


Q26_ORACLE = f"""
SELECT o_year,
       CAST(nation_vol AS DOUBLE) / CAST(total_vol AS DOUBLE) AS mkt_share,
       CAST(total_vol AS DOUBLE) AS total_volume
FROM (
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
           SUM(CASE WHEN sn.n_name = '{Q26_NATION}'
                    THEN CAST(l_extendedprice * (1.0 - l_discount)
                              AS {SALES_DECIMAL})
                    ELSE CAST(0 AS {SALES_DECIMAL}) END) AS nation_vol,
           SUM(CAST(l_extendedprice * (1.0 - l_discount)
                    AS {SALES_DECIMAL})) AS total_vol
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region ON cn.n_regionkey = r_regionkey
    WHERE r_name = '{Q26_REGION}' AND p_type = '{Q26_PTYPE}'
    GROUP BY 1
) t
ORDER BY o_year
"""


def q27_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned lines per customer
    for one quarter of orders, top 20 customers.

    Aggregate first (per custkey over the filtered join), THEN join
    the 20 survivors' attributes — the enrich-after-topk ordering
    keeps the wide customer columns out of the shuffle."""
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ts(Q27_QUARTER[0]))
        & (F.col("o_orderdate") < _ts(Q27_QUARTER[1]))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    top = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.sum(_REV()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_custkey"))
        .limit(Q27_TOP)
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        top.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("customer_name"),
            F.col("n_name").alias("nation_name"),
            F.col("c_acctbal").alias("acct_balance"),
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("custkey"))
    )


Q27_ORACLE = f"""
WITH top AS (
    SELECT o_custkey,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                         AS {SALES_DECIMAL})) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '{Q27_QUARTER[0]} 00:00:00'
      AND o_orderdate <  TIMESTAMP '{Q27_QUARTER[1]} 00:00:00'
    GROUP BY o_custkey
    ORDER BY revenue DESC, o_custkey ASC
    LIMIT {Q27_TOP}
)
SELECT c_custkey AS custkey, c_name AS customer_name,
       n_name AS nation_name, c_acctbal AS acct_balance, revenue
FROM top
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY revenue DESC, custkey ASC
"""


def q28_latency_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: high/low-priority line counts per derived
    ship-latency class (FAST ≤ 60 days from order to ship, else SLOW
    — the schema has no l_shipmode; the latency bin preserves the
    exact plan shape: derived group key + two CASE-sum columns from
    one join pass)."""
    # Sargable range for pushdown, as in q25.
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts(f"{Q28_YEAR}-01-01"))
        & (F.col("l_shipdate") < _ts(f"{Q28_YEAR + 1}-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders")
    lat_days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.when(lat_days <= Q28_SLOW_DAYS, "FAST")
            .otherwise("SLOW")
            .alias("latency_class")
        )
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("latency_class")
    )


Q28_ORACLE = f"""
SELECT CASE WHEN DATE_DIFF('day', o_orderdate, l_shipdate) <= {Q28_SLOW_DAYS}
            THEN 'FAST' ELSE 'SLOW' END AS latency_class,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '{Q28_YEAR}-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '{Q28_YEAR + 1}-01-01 00:00:00'
GROUP BY 1
ORDER BY 1
"""


def q29_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: PROMO parts' share of one month's revenue —
    the conditional-numerator / total-denominator ratio from a single
    aggregate pass over the part equi-join."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts(Q29_MONTH[0]))
        & (F.col("l_shipdate") < _ts(Q29_MONTH[1]))
    )
    part = load_table(spark, sf_dir, "part")
    rev = _REV()
    agg = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", rev).otherwise(
                    F.lit(0).cast(SALES_DECIMAL)
                )
            )
            .cast("double")
            .alias("_promo"),
            F.sum(rev).cast("double").alias("_total"),
        )
    )
    return agg.select(
        (F.lit(100.0) * F.col("_promo") / F.col("_total")).alias("promo_pct"),
        F.col("_promo").alias("promo_revenue"),
        F.col("_total").alias("total_revenue"),
    )


Q29_ORACLE = f"""
SELECT 100.0 * CAST(promo AS DOUBLE) / CAST(total AS DOUBLE) AS promo_pct,
       CAST(promo AS DOUBLE) AS promo_revenue,
       CAST(total AS DOUBLE) AS total_revenue
FROM (
    SELECT SUM(CASE WHEN p_type = 'PROMO'
                    THEN CAST(l_extendedprice * (1.0 - l_discount)
                              AS {SALES_DECIMAL})
                    ELSE CAST(0 AS {SALES_DECIMAL}) END) AS promo,
           SUM(CAST(l_extendedprice * (1.0 - l_discount)
                    AS {SALES_DECIMAL})) AS total
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '{Q29_MONTH[0]} 00:00:00'
      AND l_shipdate <  TIMESTAMP '{Q29_MONTH[1]} 00:00:00'
) t
"""


PRIORITY_COLS = {
    "1-URGENT": "prio_urgent",
    "2-HIGH": "prio_high",
    "3-MEDIUM": "prio_medium",
    "4-NOT SPECIFIED": "prio_notspec",
    "5-LOW": "prio_low",
}


def q30_pivot_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-to-wide PIVOT: yearly order revenue spread across one
    column per priority class — the inverse reshape of
    q23_unpivot_metrics.

    The pivot values are EXPLICIT (`pivot(col, values)`), which
    matters at scale: without the list Spark runs an eager distinct
    job over the pivot column just to discover the columns; with it
    the reshape compiles into a single aggregate pass with one
    conditional-sum expression per column (same plan as the oracle's
    CASE sums — pinned single-scan in test_plans).  Money through
    decimal as always."""
    orders = load_table(spark, sf_dir, "orders")
    prio = F.col("o_orderpriority")
    clean = F.coalesce(
        *[
            F.when(prio == raw, F.lit(name))
            for raw, name in PRIORITY_COLS.items()
        ]
    )
    # pivot() needs the clean name as a real column before groupBy
    wide = (
        orders.withColumn("_p", clean)
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .pivot("_p", list(PRIORITY_COLS.values()))
        .agg(
            F.sum(F.col("o_totalprice").cast(SALES_DECIMAL)).cast("double")
        )
        .orderBy("o_year")
    )
    return wide


_Q30_CASES = ",\n       ".join(
    f"CAST(SUM(CASE WHEN o_orderpriority = '{raw}' "
    f"THEN CAST(o_totalprice AS {SALES_DECIMAL}) END) AS DOUBLE) AS {name}"
    for raw, name in PRIORITY_COLS.items()
)
Q30_ORACLE = f"""
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
       {_Q30_CASES}
FROM orders
GROUP BY 1
ORDER BY o_year
"""


def q31_date_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated calendar dimension spanning the orders date range —
    the date-spine every warehouse builds (the reference's gold layer
    keys facts by raw dates; a date dimension is the standard star
    completion).

    Generation is `sequence(min, max, interval 1 day)` + explode off
    a broadcast 1-row MIN/MAX aggregate: one scan of orders (two
    pushed-down column stats, no shuffle of fact rows), then the
    calendar itself is |days| rows — thousands, regardless of fact
    scale.  Day-of-week is pinned to DuckDB's numbering
    (0 = Sunday) via dayofweek(d) - 1."""
    orders = load_table(spark, sf_dir, "orders")
    span = orders.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("d0"),
        F.max(F.col("o_orderdate").cast("date")).alias("d1"),
    )
    days = span.select(
        F.explode(
            F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
        ).alias("d")
    )
    return days.select(
        "d",
        F.year("d").alias("year"),
        F.quarter("d").alias("quarter"),
        F.month("d").alias("month"),
        F.dayofmonth("d").alias("day"),
        (F.dayofweek("d") - 1).alias("dow"),
        (F.last_day("d") == F.col("d")).alias("is_month_end"),
    )


Q31_ORACLE = """
WITH span AS (
    SELECT CAST(MIN(o_orderdate) AS DATE) AS d0,
           CAST(MAX(o_orderdate) AS DATE) AS d1
    FROM orders
),
days AS (
    -- scalar generate_series (list) + unnest: the table-function form
    -- cannot take lateral column arguments in DuckDB
    SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                       CAST(d1 AS TIMESTAMP),
                                       INTERVAL 1 DAY)) AS DATE) AS d
    FROM span
)
SELECT d,
       CAST(EXTRACT(YEAR FROM d) AS INTEGER) AS year,
       CAST(EXTRACT(QUARTER FROM d) AS INTEGER) AS quarter,
       CAST(EXTRACT(MONTH FROM d) AS INTEGER) AS month,
       CAST(EXTRACT(DAY FROM d) AS INTEGER) AS day,
       CAST(EXTRACT(DOW FROM d) AS INTEGER) AS dow,
       last_day(d) = d AS is_month_end
FROM days
"""


QUERIES = {
    "q24_order_priority_check": q24_order_priority_check,
    "q25_volume_shipping": q25_volume_shipping,
    "q26_market_share": q26_market_share,
    "q27_returned_items": q27_returned_items,
    "q28_latency_priority": q28_latency_priority,
    "q29_promo_revenue": q29_promo_revenue,
    "q30_pivot_priority_revenue": q30_pivot_priority_revenue,
    "q31_date_dim": q31_date_dim,
}

ORACLES = {
    "q24_order_priority_check": Q24_ORACLE,
    "q25_volume_shipping": Q25_ORACLE,
    "q26_market_share": Q26_ORACLE,
    "q27_returned_items": Q27_ORACLE,
    "q28_latency_priority": Q28_ORACLE,
    "q29_promo_revenue": Q29_ORACLE,
    "q30_pivot_priority_revenue": Q30_ORACLE,
    "q31_date_dim": Q31_ORACLE,
}
