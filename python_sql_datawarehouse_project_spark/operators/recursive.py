"""Recursive delayed-orders chain (reference materialized_view.sql:127-149,
exploratory_data_analysis.sql:148-169 — the WITH RECURSIVE query).

q9 computes the fixpoint as a driver-side loop of join + filter +
unionByName over a bounded number of levels (SURVEY.md §4.2) — the
formulation that controls what is stored and lineage depth
explicitly.  The loop is the pipeline's own
mv_delayed_orders_chain definition (plans/mv.delayed_orders_chain);
q9 feeds it order_shipments.  Spark 4 ALSO executes WITH RECURSIVE
natively; q43_recursive_sql below runs the same query as pasted SQL
and is hash-matched against the same oracle.  Semantics mirror Postgres/DuckDB UNION ALL
recursion exactly: each iteration joins the *previous level's* rows
("working table") against the full order set, so the same order can
appear at several levels via different chains.

Order-grain adaptation: the reference's fact carries shipping_date and
due_date per sales row; the TPC-H-ish test schema derives
  shipping_date = MAX(l_shipdate) per order
  due_date      = order_date + 30 days
and a chain step is "a later order of the same customer placed after
the delayed order shipped".

The recursion is level-capped (default 3).  The reference's query is
uncapped, but on data where most orders chain, the row count grows
geometrically (~fanout^level); a cap keeps both the Spark run and the
DuckDB oracle identical AND tractable, and the cap is part of the
declared semantics here (the oracle SQL carries the same cap).

Scale notes: each iteration is one shuffle join on customer_key.  The
order frame is stored once, as a lazy localCheckpoint that every level
scans, so one execution computes order_shipments (the orders x
lineitem aggregate) once; the levels themselves are not stored, so
level k's plan repeats levels 1..k-1 as joins over that checkpoint.
At the cap of 3 that is 6 scans of the stored frame per execution.
Building q9 runs only the shuffle stages adaptive execution needs to
plan the checkpoint of order_shipments (2 jobs at sf0.01; an eager
checkpoint of the union, with a persist per level, ran 11).  A deep
recursion would instead checkpoint the frontier every few levels to
bound the plan (SURVEY.md §4.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..plans.mv import delayed_orders_chain
from ..star import STAR_SQL_CTES

MAX_LEVEL = 3


def order_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders |x| lineitem rolled up to order grain — the one genuinely
    big-big join in the warehouse; the plain parquet scans shuffle once
    on the order key."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    order_date = F.col("o_orderdate").cast("date")
    return (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"], "inner")
        .groupBy(
            F.col("o_orderkey").alias("order_number"),
            F.col("o_custkey").alias("customer_key"),
            order_date.alias("order_date"),
            F.date_add(order_date, 30).alias("due_date"),
        )
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("shipping_date"))
    )


def q9_delayed_orders_chain(
    spark: SparkSession, sf_dir: str, max_level: int = MAX_LEVEL
) -> DataFrame:
    """The pipeline's mv_delayed_orders_chain loop
    (plans/mv.delayed_orders_chain) over order_shipments."""
    return delayed_orders_chain(order_shipments(spark, sf_dir), max_level)


Q9_ORACLE = (
    "WITH RECURSIVE "
    + STAR_SQL_CTES
    + f""",
order_shipments AS (
    SELECT
        o_orderkey AS order_number,
        o_custkey  AS customer_key,
        CAST(o_orderdate AS DATE) AS order_date,
        CAST(o_orderdate AS DATE) + 30 AS due_date,
        MAX(CAST(l_shipdate AS DATE)) AS shipping_date
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY 1, 2, 3, 4
),
delayed_orders AS (
    SELECT order_number, customer_key, shipping_date, due_date, 1 AS level
    FROM order_shipments
    WHERE shipping_date > due_date
    UNION ALL
    SELECT os.order_number, os.customer_key, os.shipping_date, os.due_date,
           d.level + 1 AS level
    FROM order_shipments os
    JOIN delayed_orders d
      ON os.customer_key = d.customer_key
     AND os.order_date > d.shipping_date
    WHERE d.level < {MAX_LEVEL}
)
SELECT order_number, customer_key, shipping_date, due_date, level
FROM delayed_orders
"""
)

_RECURSIVE_SQL_BODY = f"""
WITH RECURSIVE order_shipments AS (
    SELECT
        o_orderkey AS order_number,
        o_custkey  AS customer_key,
        CAST(o_orderdate AS DATE) AS order_date,
        CAST(o_orderdate AS DATE) + 30 AS due_date,
        MAX(CAST(l_shipdate AS DATE)) AS shipping_date
    FROM sg_q43_orders
    JOIN sg_q43_lineitem ON o_orderkey = l_orderkey
    GROUP BY 1, 2, 3, 4
),
delayed_orders AS (
    SELECT order_number, customer_key, shipping_date, due_date, 1 AS level
    FROM order_shipments
    WHERE shipping_date > due_date
    UNION ALL
    SELECT os.order_number, os.customer_key, os.shipping_date, os.due_date,
           d.level + 1 AS level
    FROM order_shipments os
    JOIN delayed_orders d
      ON os.customer_key = d.customer_key
     AND os.order_date > d.shipping_date
    WHERE d.level < {MAX_LEVEL}
)
SELECT order_number, customer_key, shipping_date, due_date, level
FROM delayed_orders
"""


def q43_recursive_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's WITH RECURSIVE query run NATIVELY: Spark 4
    executes recursive CTEs (UNION ALL recursion, working table =
    previous iteration — the same Postgres/DuckDB semantics the
    reference's materialized_view.sql:127-149 assumes), so the
    delayed-orders chain also runs as PASTED SQL, not only as q9's
    driver-side loop.  Hash-matched against q9's own oracle — and
    thereby against q9 itself — proving the two formulations are the
    same query.

    q9 remains the production path: the loop stores exactly one
    frame (a lazy checkpoint of order_shipments, computed once per
    execution), while the native operator manages its own
    working-table state.  MEASURED PENALTY
    (sf0.1, warm, median of 3 noop writes, shared 4-vCPU host): q43
    5.8 s wall / 9.9 CPU-s vs q9 3.3 s / 6.3 CPU-s — the native
    operator is ~1.7x slower than the driver loop on the same query
    and oracle.  Do NOT promote
    q43 into the MV/production path; it exists to pin the SQL
    SURFACE (an analyst can paste the reference's query verbatim
    modulo table names) — the strongest §2.10 parity statement
    available."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "sg_q43_orders"
    )
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "sg_q43_lineitem"
    )
    return spark.sql(_RECURSIVE_SQL_BODY)


QUERIES = {
    "q9_delayed_orders_chain": q9_delayed_orders_chain,
    "q43_recursive_sql": q43_recursive_sql,
}
ORACLES = {
    "q9_delayed_orders_chain": Q9_ORACLE,
    "q43_recursive_sql": Q9_ORACLE,
}
