"""Round-3 additions to the window family.

  w6_first_last_nth   FIRST_VALUE / LAST_VALUE / NTH_VALUE over a
                      full-partition frame — the navigation functions
                      the w1-w5 set doesn't touch (reference uses
                      ROW_NUMBER-keep-first for the same need,
                      tools.load_crm_cust_info_v1.sql:102-113; these
                      are the direct declarative forms)
  w7_range_frame      RANGE-frame running aggregate (all orders
                      within the 30 PRECEDING days, not the 30
                      preceding ROWS) — value-based frames are the
                      shape ROWS frames (q4) silently get wrong when
                      events cluster or gap

Determinism: every ORDER BY is made total with the key tiebreak
(o_orderdate, o_orderkey); LAST_VALUE/NTH_VALUE use an explicit
UNBOUNDED..UNBOUNDED frame on both engines (the SQL default frame
stops at CURRENT ROW — a classic cross-engine footgun, pinned
explicitly instead).  w7's range key is an integer day number, and
the money sum routes through DECIMAL.

Scale: both shuffle once on o_custkey, the same cost class as any
grouped aggregate; frames evaluate inside the per-partition sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table

W7_DAYS = 30


def w6_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per customer: first, latest and second order price via
    navigation functions over one full-partition frame."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        orders.select(
            F.col("o_custkey").alias("customer_id"),
            F.col("o_orderkey").alias("order_number"),
            F.first("o_totalprice").over(w).alias("first_price"),
            F.last("o_totalprice").over(w).alias("last_price"),
            F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
        )
    )


W6_ORACLE = """
SELECT
    o_custkey AS customer_id,
    o_orderkey AS order_number,
    FIRST_VALUE(o_totalprice) OVER w AS first_price,
    LAST_VALUE(o_totalprice) OVER w AS last_price,
    NTH_VALUE(o_totalprice, 2) OVER w AS second_price
FROM orders
WINDOW w AS (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
)
"""


def w7_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per order: customer's spend over the trailing 30 DAYS (RANGE
    frame on an integer day number — all rows whose day value falls
    in the window, regardless of how many there are)."""
    orders = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01"))
    base = orders.select(
        F.col("o_custkey").alias("customer_id"),
        F.col("o_orderkey").alias("order_number"),
        day.cast("long").alias("day_no"),
        F.col("o_totalprice").cast("decimal(18,4)").alias("price_dec"),
    )
    w = (
        Window.partitionBy("customer_id")
        .orderBy("day_no")
        .rangeBetween(-W7_DAYS, 0)
    )
    return base.select(
        "customer_id",
        "order_number",
        "day_no",
        F.sum("price_dec").over(w).cast("double").alias("trailing_30d_spend"),
    )


W7_ORACLE = f"""
SELECT
    o_custkey AS customer_id,
    o_orderkey AS order_number,
    CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
         AS BIGINT) AS day_no,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        PARTITION BY o_custkey
        ORDER BY CAST(datediff('day', DATE '1995-01-01',
                               CAST(o_orderdate AS DATE)) AS BIGINT)
        RANGE BETWEEN {W7_DAYS} PRECEDING AND CURRENT ROW
    ) AS DOUBLE) AS trailing_30d_spend
FROM orders
"""


W8_FRAME_ROWS = 5  # rolling frame: current row + 4 preceding


def w8_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: EXACT rolling median of the event value over the
    last W8_FRAME_ROWS events — the robust de-noised signal a
    mean-based rolling stat can't give on heavy-tailed
    values.  The reference has no ordered-set aggregates at all
    (SURVEY.md §2.5 lists its full window surface); this extends the
    family with a holistic (non-mergeable) window aggregate, the one
    class w1-w7 don't touch.

    Determinism — why NOT percentile()/quantile_cont(): the first cut
    compared Spark `percentile(value, 0.5)` to DuckDB `quantile_cont`
    and matched on the test data, but a hypothesis sweep
    (tests/test_r5_properties.py) falsified the law in general —
    DuckDB interpolates lo*(1-f)+hi*f while Spark uses lo+(hi-lo)*f,
    and the two round differently for adversarial doubles.  So the
    gate computes the median EXPLICITLY: sort the bounded frame into
    an array and average the two middle order statistics with ONE add
    and ONE divide-by-two — the identical IEEE expression on both
    engines, immune to either engine's quantile internals.  The
    ORDER BY is made total with the event_id tiebreak so both engines
    see the same frame contents.

    Scale: one shuffle on user_id; the frame array is bounded at
    W8_FRAME_ROWS elements, so cost is O(rows * frame log frame) with
    no extra exchange.  A mergeable approximation (approx_percentile
    sketch) is the fallback if the frame ever becomes unbounded."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(W8_FRAME_ROWS - 1), 0)
    )
    arr = F.sort_array(F.collect_list("value").over(w))
    return events.select(
        "user_id",
        "event_id",
        arr.alias("_arr"),
    ).select(
        "user_id",
        "event_id",
        (
            (
                F.element_at("_arr", ((F.size("_arr") + 1) / 2).cast("int"))
                + F.element_at(
                    "_arr", (F.size("_arr") / 2).cast("int") + 1
                )
            )
            / F.lit(2.0)
        ).alias("rolling_median"),
    )


W8_ORACLE = f"""
WITH framed AS (
    SELECT user_id, event_id,
           list_sort(list(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {W8_FRAME_ROWS - 1} PRECEDING AND CURRENT ROW
           )) AS arr
    FROM events
)
SELECT user_id, event_id,
       (arr[(len(arr) + 1) // 2] + arr[len(arr) // 2 + 1])
           / CAST(2 AS DOUBLE) AS rolling_median
FROM framed
"""


def w9_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per order: how many DISTINCT order priorities the customer has
    used up to and including this order — the running distinct-count
    window, a shape Spark's window functions do NOT support natively
    (COUNT(DISTINCT x) OVER raises); the idiomatic workaround is
    size(collect_set() OVER), pinned here against DuckDB's native
    COUNT(DISTINCT) OVER.

    The collect_set state is bounded by the DISTINCT value domain
    (five priorities), NOT the frame length — that boundedness is the
    contract that makes this formulation scale; for high-cardinality
    columns use the sort-free two-pass (first-occurrence flag via
    ROW_NUMBER = 1, then a running SUM of flags), which the docstring
    records as the unbounded-domain alternative.

    Scale: one shuffle on o_custkey; the running frame streams in
    sort order with O(|domain|) state per row."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        F.col("o_custkey").alias("customer_id"),
        F.col("o_orderkey").alias("order_number"),
        F.size(F.collect_set("o_orderpriority").over(w))
        .cast("long")
        .alias("n_distinct_priorities"),
    )


W9_ORACLE = """
SELECT o_custkey AS customer_id,
       o_orderkey AS order_number,
       CAST(COUNT(DISTINCT o_orderpriority) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS n_distinct_priorities
FROM orders
"""


QUERIES = {
    "w6_first_last_nth": w6_first_last_nth,
    "w7_range_frame": w7_range_frame,
    "w8_rolling_median": w8_rolling_median,
    "w9_running_distinct": w9_running_distinct,
}
ORACLES = {
    "w6_first_last_nth": W6_ORACLE,
    "w7_range_frame": W7_ORACLE,
    "w8_rolling_median": W8_ORACLE,
    "w9_running_distinct": W9_ORACLE,
}
