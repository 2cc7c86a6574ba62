"""Gold star schema over the TPC-H-ish test tables.

The reference's gold layer is dim_customers / dim_products /
fact_sales (reference sql/gold/ddl_gold_client1.sql:1-46).  The driver
test data is a TPC-H-ish star, so the same roles are cast as:

  dim_customers  <- customer |x| nation |x| region  (country comes from
                    the nation/region hierarchy the way the reference's
                    comes from erp_loc_a101, reference
                    tools.load_dim_customers_v1.sql:77-84)
  dim_products   <- part (product_line/category/sub_category roles
                    mapped onto p_brand/p_type/p_size like the
                    reference's crm_prd_info |x| erp_px_cat_g1v2,
                    tools.load_dim_products_v1.sql:63-86)
  fact_sales     <- lineitem |x| orders at line grain (the reference's
                    fact is sales-detail grain with order/ship/due
                    dates and sales/quantity/price measures,
                    tools.load_fact_sales_v1.sql:63-81); due_date is
                    derived as order_date + 30 days since the test
                    schema carries no commit date.

Numeric determinism contract: `sales` is defined as
CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) on BOTH the
Spark side and the DuckDB oracle side.  The multiplication is a single
IEEE-754 double op (bit-identical in both engines); the decimal cast
pins one canonical value; decimal SUMs are exact and
order-independent, so aggregates hash-match regardless of partitioning
or parallelism.  Every query casts final aggregates to DOUBLE so the
compared schemas agree.

Scale note (100 TB): fact_sales is a big-big equi-join
(lineitem |x| orders on orderkey) -> sort-merge with AQE.  nation/region
are bounded (25/5 rows) and explicitly broadcast; part/customer are left
to Catalyst's broadcast threshold + AQE runtime switching since their
size scales with SF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table

# One canonical decimal type for money math on both engines.
SALES_DECIMAL = "DECIMAL(18,4)"


def dim_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        customer.join(
            F.broadcast(nation),
            customer["c_nationkey"] == nation["n_nationkey"],
            "inner",
        )
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"], "inner")
        .select(
            F.col("c_custkey").alias("customer_key"),
            F.col("c_custkey").alias("customer_id"),
            F.col("c_name").alias("customer_name"),
            F.col("c_mktsegment").alias("market_segment"),
            F.col("c_acctbal").alias("account_balance"),
            F.col("n_name").alias("country"),
            F.col("r_name").alias("region"),
        )
    )


def dim_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select(
        F.col("p_partkey").alias("product_key"),
        F.col("p_partkey").alias("product_id"),
        F.col("p_name").alias("product_name"),
        F.col("p_brand").alias("product_line"),
        F.col("p_type").alias("category"),
        F.col("p_size").cast("string").alias("sub_category"),
        F.col("p_retailprice").alias("product_cost"),
    )


def fact_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    order_date = F.col("o_orderdate").cast("date")
    return (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"], "inner")
        .select(
            F.col("l_orderkey").alias("order_number"),
            F.col("l_linenumber").alias("line_number"),
            F.col("o_custkey").alias("customer_key"),
            F.col("l_partkey").alias("product_key"),
            order_date.alias("order_date"),
            F.col("l_shipdate").cast("date").alias("shipping_date"),
            F.date_add(order_date, 30).alias("due_date"),
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            .cast(SALES_DECIMAL)
            .alias("sales"),
            F.col("l_quantity").alias("quantity"),
            F.col("l_extendedprice").alias("price"),
        )
    )


def star(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {
        "dim_customers": dim_customers(spark, sf_dir),
        "dim_products": dim_products(spark, sf_dir),
        "fact_sales": fact_sales(spark, sf_dir),
    }


# --- DuckDB oracle prelude: the SAME star definitions in ANSI SQL ----
# Every oracle query in the repo is "<PRELUDE> SELECT ...".  Keeping
# the definitions in one string guarantees the Spark DataFrames above
# and the oracle SQL can never drift apart silently.

STAR_SQL_CTES = f"""
dim_customers AS (
    SELECT
        c_custkey  AS customer_key,
        c_custkey  AS customer_id,
        c_name     AS customer_name,
        c_mktsegment AS market_segment,
        c_acctbal  AS account_balance,
        n_name     AS country,
        r_name     AS region
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
),
dim_products AS (
    SELECT
        p_partkey  AS product_key,
        p_partkey  AS product_id,
        p_name     AS product_name,
        p_brand    AS product_line,
        p_type     AS category,
        CAST(p_size AS VARCHAR) AS sub_category,
        p_retailprice AS product_cost
    FROM part
),
fact_sales AS (
    SELECT
        l_orderkey   AS order_number,
        l_linenumber AS line_number,
        o_custkey    AS customer_key,
        l_partkey    AS product_key,
        CAST(o_orderdate AS DATE) AS order_date,
        CAST(l_shipdate AS DATE)  AS shipping_date,
        CAST(o_orderdate AS DATE) + 30 AS due_date,
        CAST(l_extendedprice * (1 - l_discount) AS {SALES_DECIMAL}) AS sales,
        l_quantity      AS quantity,
        l_extendedprice AS price
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
)
"""

STAR_SQL_PRELUDE = "WITH " + STAR_SQL_CTES
