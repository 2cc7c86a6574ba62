"""Bucketed table layout for co-located big-big joins.

The star queries broadcast their dims (the right call — see
plans/gold.py), but the warehouse's genuinely BIG-big join is
orders |x| lineitem (operators/recursive.py order_shipments): at
100 TB that shuffle dominates the whole recursive-chain query.  The
Spark-native fix is bucketing: persist both tables bucketed AND
sorted by the join key, and the SortMergeJoin consumes the bucketed
layout directly — no Exchange, no Sort, on either side, on every
subsequent run.

This is a write-time layout contract, so it lives beside the
Warehouse as an opt-in materialization step (the reference has no
analogue; its Postgres tables rely on btree indexes instead —
SURVEY.md §2.1 disposition).  `bucketize` registers an EXTERNAL
parquet table (explicit path, in-memory catalog — no Hive metastore
needed); `bucketed_order_shipments` is order_shipments re-planned
over the bucketed pair, and tests/test_plans.py asserts its physical
plan contains ZERO Exchange operators while producing identical rows.

Scale notes: bucket count is the write-time parallelism contract —
production sizing is total-size/bucket ~ 128-256 MB (thousands of
buckets at 100 TB); both sides must agree on count or enable
spark.sql.bucketing.coalesceBucketsInJoin.  The same layout makes the
per-level self-join of the delayed-orders recursion co-located, since
order_shipments inherits the bucketing through the aggregate.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table

DEFAULT_BUCKETS = 8  # test-scale; production: ceil(table_size / 256MB)


def bucketed_name(sf_dir: str, table: str) -> str:
    """Catalog name of `table`'s bucketed twin for a given data root.

    The sf_dir digest is part of the name so a layout built from one
    scale factor can never serve a query over another (the in-memory
    catalog outlives any single query run)."""
    digest = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    return f"b_{table}_{digest}"


def bucketed_scan(
    spark: SparkSession, sf_dir: str, table: str
) -> DataFrame | None:
    """The bucketed twin of (sf_dir, table) if a prior `bucketize`
    registered one this session, else None.  Query operators use this
    to transparently consume the co-located layout when the warehouse
    has materialized it (opt-in write-time contract, module
    docstring)."""
    name = bucketed_name(sf_dir, table)
    if spark.catalog.tableExists(name):
        return spark.table(name)
    return None


def bucketize(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    bucket_col: str,
    out_dir: str,
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Materialize a registry table bucketed+sorted by `bucket_col` as
    an external parquet table rooted at out_dir, and return the table
    DataFrame (re-reads report the bucket spec to the planner)."""
    name = bucketed_name(sf_dir, table)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        load_table(spark, sf_dir, table)
        .write.format("parquet")
        .mode("overwrite")
        .option("path", os.path.join(out_dir, name))
        .bucketBy(buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(name)
    )
    return spark.table(name)


def order_shipments_plan(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """The order_shipments shape over caller-supplied scans, so
    bucketed and plain layouts share one definition
    (operators/recursive.order_shipments resolves the scans for q9)."""
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


def bucketize_star(
    spark: SparkSession, sf_dir: str, out_dir: str, buckets: int = DEFAULT_BUCKETS
) -> None:
    """Materialize the big-big join pair (orders, lineitem) bucketed by
    the order key — after this, any operator that resolves its scans
    through `bucketed_scan` (q9's order_shipments) plans the
    orders|x|lineitem leg with zero Exchange."""
    bucketize(spark, sf_dir, "orders", "o_orderkey", out_dir, buckets)
    bucketize(spark, sf_dir, "lineitem", "l_orderkey", out_dir, buckets)


def bucketed_order_shipments(
    spark: SparkSession, sf_dir: str, out_dir: str, buckets: int = DEFAULT_BUCKETS
) -> DataFrame:
    """order_shipments over co-located scans: bucketize both tables by
    the join key once, then the join (and the groupBy, whose keys
    include the bucket key) run with no Exchange at all."""
    orders = bucketize(spark, sf_dir, "orders", "o_orderkey", out_dir, buckets)
    lineitem = bucketize(
        spark, sf_dir, "lineitem", "l_orderkey", out_dir, buckets
    )
    return order_shipments_plan(orders, lineitem)
