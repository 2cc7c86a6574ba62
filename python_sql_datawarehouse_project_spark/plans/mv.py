"""Materialized views: the reference's nine gold MVs
(sql/gold/materialized_view.sql:2-149), each defined ONCE here as a
function of the gold star frames (fact_sales, dim_customers,
dim_products).

Three callers run these same definitions:
  * the pipeline's FULL refresh (`refresh_mv`) over the warehouse's
    gold (`gold_frames`, read once for all nine) — recompute,
    overwrite; reference MV Refresh Template.sql:33,
    refresh_mode='FULL' at materialized_view.sql:161-169.  Spark has
    no MV object, so refresh is "run the query, overwrite the output
    table";
  * the incremental refresh (plans/mv_incremental.py), which folds
    `INCREMENTAL[name].delta` over one new batch into stored state and
    re-publishes;
  * the oracle gates q1-q8 (operators/analytics.py) and q9
    (operators/recursive.py) over star.py's TPC-H-derived star, each
    checked against hand-written DuckDB SQL.

Six MVs are distributive aggregates, defined by their `IncSpec`: a
`delta` that aggregates the given frames to the state grain, and a
`publish` that finalizes the output shape from state.  A full refresh
is `publish(delta(star))`.  The other three depend on row order across
the whole history (running window, LAG gaps, recursive chain), so they
are plain frame functions with no state form.

Money partials route through DECIMAL(18,4) (star.py's policy):
decimal addition is exact and associative, so the incremental and
full refreshes agree bitwise, and every output casts to DOUBLE once,
at publish.  State columns are pinned to DECIMAL(28,4), because Spark
widens SUM(decimal) per aggregation level (18,4 -> 28,4 -> 38,4) and
the state table's parquet schema must not drift across batches.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .warehouse import BATCH_COL, Warehouse

_DEC = "decimal(18,4)"
STATE_DEC = "decimal(28,4)"


def _money_sum(col: str = "sales"):
    return F.sum(F.col(col).cast(_DEC)).cast(STATE_DEC)


# surrogate-key columns per gold table, for history-mode re-keying
_SURROGATES = {
    "fact_sales": ("customer_key", "product_key"),
    "dim_customers": ("customer_key",),
    "dim_products": ("product_key",),
}


def gold_frames(wh: Warehouse, batch_id: str | None = None):
    """The gold star as (fact_sales, dim_customers, dim_products) for
    one batch (a partition-pruned scan) or, with batch_id=None, for ALL
    history.  dim_customers gains `customer_name` (first and last name
    joined by a space, reference materialized_view.sql:20), so pipeline
    gold presents the same dim columns as star.py.

    History mode must respect the warehouse's per-batch dim-snapshot
    model: surrogate keys restart at 1 in every batch (plans/gold.py
    assigns them per batch), so a naive cross-batch join on
    `customer_key` would pair batch 2's facts with batch 1's dim rows.
    Each surrogate is therefore qualified with its batch ordinal
    (batch_num * 2^32 + key — exact int64, keys are row_number-sized)
    so every join stays inside its own snapshot, while the group-bys
    unify history by NATURAL keys (customer_id, product_name, ...) as
    a star schema should.  The -1 unknown-member sentinel
    (tools.load_fact_sales_v1.sql:65-66 COALESCE) is preserved
    globally: dims carry no -1 row, so inner joins drop those facts in
    every mode, and the delayed chain's `!= -1` filter keeps working."""

    def read(name: str) -> DataFrame:
        if batch_id is not None:
            return wh.read_batch("gold", name, batch_id).drop(BATCH_COL)
        df = wh.read_table("gold", name)
        # batch ids are "BATCH" + 6-digit counter (pipeline.next_batch_id,
        # reference batch_processing.py:49-56): substring beats a per-row
        # regexp over 60M facts
        bnum = F.substring(F.col(BATCH_COL), 6, 10).cast("long")
        for c in _SURROGATES[name]:
            k = F.col(c).cast("long")
            df = df.withColumn(
                c, F.when(k < 0, k).otherwise(bnum * F.lit(1 << 32) + k)
            )
        return df.drop(BATCH_COL)

    dc = read("dim_customers").withColumn(
        "customer_name",
        F.concat_ws(" ", F.col("customer_firstname"), F.col("customer_lastname")),
    )
    return read("fact_sales"), dc, read("dim_products")


@dataclass(frozen=True)
class IncSpec:
    """One distributive MV: state grain, how two snapshots' partials
    merge, the per-batch `delta(fs, dc, dp)` at state grain and the
    `publish(state, **kw)` that finalizes the output."""

    keys: tuple[str, ...]
    partials: dict[str, str]  # state column -> merge fn name
    delta: Callable[[DataFrame, DataFrame, DataFrame], DataFrame]
    publish: Callable[..., DataFrame]


def _publish_double(state: DataFrame) -> DataFrame:
    # the state grain IS the output grain: only the money type changes
    return state.withColumn("total_sales", F.col("total_sales").cast("double"))


# -- mv_sales_monthly_productline (q1) --------------------------------
def _delta_monthly_productline(fs, dc, dp) -> DataFrame:
    return (
        fs.join(dp, "product_key")
        .groupBy(
            F.trunc("order_date", "month").alias("month"),
            "product_name",
            "category",
            "sub_category",
        )
        .agg(_money_sum().alias("total_sales"))
    )


# -- mv_sales_customer_country (q2) -----------------------------------
def _delta_customer_country(fs, dc, dp) -> DataFrame:
    return (
        fs.join(dc, "customer_key")
        .groupBy("country", "customer_id", "customer_name")
        .agg(_money_sum().alias("total_sales"))
    )


# -- mv_customer_lifetime_value (q3) ----------------------------------
def _delta_lifetime(fs, dc, dp) -> DataFrame:
    # (customer, order) grain keeps COUNT(DISTINCT order_number) exact
    # across batches: an order split over two batches merges into one
    # state row
    return (
        fs.join(dc, "customer_key")
        .groupBy("customer_id", "customer_name", "order_number")
        .agg(_money_sum().alias("order_sales"))
    )


def _publish_lifetime(state: DataFrame) -> DataFrame:
    # COUNT(order_number) over one-row-per-order state is
    # COUNT(DISTINCT order_number): a NULL order number forms a state
    # row of its own, which COUNT skips as COUNT(DISTINCT) does
    return state.groupBy("customer_id", "customer_name").agg(
        F.sum("order_sales").cast("double").alias("lifetime_value"),
        F.count("order_number").alias("order_count"),
    )


# -- mv_top3_products_month_country (q5) ------------------------------
def _delta_top3(fs, dc, dp) -> DataFrame:
    return (
        fs.join(dc, "customer_key")
        .join(dp, "product_key")
        .groupBy(
            F.trunc("order_date", "month").alias("month"),
            "country",
            "product_name",
        )
        .agg(_money_sum().alias("total_sales"))
    )


def _publish_top3(state: DataFrame) -> DataFrame:
    # RANK over total_sales only: ties share a rank, like the
    # reference's RANK(), and rank() is value-determined for ties, so
    # no tiebreaker is needed for determinism.  The DOUBLE total is
    # ranked, so two decimal sums that collapse to one double tie.
    w = Window.partitionBy("month", "country").orderBy(F.desc("total_sales"))
    return (
        _publish_double(state)
        .withColumn("rank_sales", F.rank().over(w))
        .filter(F.col("rank_sales") <= 3)
    )


# -- mv_customer_churn (q6) -------------------------------------------
def _delta_churn(fs, dc, dp) -> DataFrame:
    return (
        fs.join(dc, "customer_key")
        .groupBy("customer_id")
        .agg(
            F.min("order_date").alias("first_purchase"),
            F.max("order_date").alias("last_purchase"),
        )
    )


def _publish_churn(state: DataFrame, as_of=None) -> DataFrame:
    # as_of=None is the reference's CURRENT_DATE
    # (materialized_view.sql:86); a fixed date makes reruns agree
    cutoff = F.add_months(
        F.current_date() if as_of is None else F.lit(as_of).cast("date"), -6
    )
    return state.withColumn("is_churn", F.col("last_purchase") < cutoff)


# -- mv_sales_rollup_product (q8) -------------------------------------
def _delta_rollup(fs, dc, dp) -> DataFrame:
    return (
        fs.join(dp, "product_key")
        .groupBy("product_line", "category", "sub_category")
        .agg(_money_sum().alias("total_sales"))
    )


def _publish_rollup(state: DataFrame) -> DataFrame:
    # ROLLUP of sums over base-grain state == ROLLUP over facts (sum is
    # associative); the grouping-set expansion runs over |groups| rows
    return state.rollup("product_line", "category", "sub_category").agg(
        F.sum("total_sales").cast("double").alias("total_sales")
    )


INCREMENTAL: dict[str, IncSpec] = {
    "mv_sales_monthly_productline": IncSpec(
        keys=("month", "product_name", "category", "sub_category"),
        partials={"total_sales": "sum"},
        delta=_delta_monthly_productline,
        publish=_publish_double,
    ),
    "mv_sales_customer_country": IncSpec(
        keys=("country", "customer_id", "customer_name"),
        partials={"total_sales": "sum"},
        delta=_delta_customer_country,
        publish=_publish_double,
    ),
    "mv_top3_products_month_country": IncSpec(
        keys=("month", "country", "product_name"),
        partials={"total_sales": "sum"},
        delta=_delta_top3,
        publish=_publish_top3,
    ),
    "mv_customer_lifetime_value": IncSpec(
        keys=("customer_id", "customer_name", "order_number"),
        partials={"order_sales": "sum"},
        delta=_delta_lifetime,
        publish=_publish_lifetime,
    ),
    "mv_customer_churn": IncSpec(
        keys=("customer_id",),
        partials={"first_purchase": "min", "last_purchase": "max"},
        delta=_delta_churn,
        publish=_publish_churn,
    ),
    "mv_sales_rollup_product": IncSpec(
        keys=("product_line", "category", "sub_category"),
        partials={"total_sales": "sum"},
        delta=_delta_rollup,
        publish=_publish_rollup,
    ),
}


# -- order-dependent MVs: no state form --------------------------------
# Their outputs depend on orderings across the entire history, so state
# would have to BE the history; the incremental refresh recomputes them
# over all batches instead.
def running_sales_customer(fs, dc, dp) -> DataFrame:
    """mv_running_sales_customer (q4): running window over history.
    `sales` completes the sort key: rows still tied are fully
    interchangeable, so the running-sum multiset is deterministic."""
    w = (
        Window.partitionBy("customer_id")
        .orderBy("order_date", "order_number", "sales")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return fs.join(dc, "customer_key").select(
        "customer_id",
        "order_date",
        F.sum(F.col("sales").cast(_DEC))
        .over(w)
        .cast("double")
        .alias("running_sales"),
    )


def customer_order_gap(fs, dc, dp) -> DataFrame:
    """mv_customer_order_gap (q7): LAG gaps depend on neighbouring
    history rows.  The average depends only on the sorted order_date
    sequence, so the tiebreakers do not change the output."""
    w = Window.partitionBy("customer_id").orderBy(
        "order_date", "order_number", "sales"
    )
    gaps = (
        fs.join(dc, "customer_key")
        .select(
            "customer_id",
            "order_date",
            F.lag("order_date").over(w).alias("prev_date"),
        )
        .withColumn("order_gap", F.datediff("order_date", "prev_date"))
    )
    return (
        gaps.filter(F.col("prev_date").isNotNull())
        .groupBy("customer_id")
        .agg(F.avg("order_gap").alias("avg_gap_days"))
    )


def delayed_orders_chain(orders: DataFrame, max_level: int = 3) -> DataFrame:
    """The reference's WITH RECURSIVE delayed chain
    (materialized_view.sql:127-149) as a driver-side loop over an order
    frame (order_number, customer_key, order_date, shipping_date,
    due_date).  Level 1 is every order shipped after its due date;
    level k+1 is every order of the same customer placed after a
    level-k order shipped.  Each level joins the PREVIOUS level's rows,
    like UNION ALL recursion in Postgres/DuckDB, so one order can
    appear at several levels.  Level-capped: on data where most orders
    chain, rows grow ~fanout^level.

    The order frame is computed once per execution: it is wrapped in
    one lazy localCheckpoint that every level scans, so the first scan
    stores its partitions and the others read them.  The levels are
    plain joins and the result is their union: building it starts no
    Spark job, except the shuffle stages adaptive execution runs to
    plan the checkpoint when `orders` itself shuffles (q9's
    order_shipments).  Spark frees the stored partitions when the
    returned frame is garbage-collected."""
    cols = ["order_number", "customer_key", "shipping_date", "due_date"]
    base = orders.localCheckpoint(eager=False)
    frontier = base.filter(F.col("shipping_date") > F.col("due_date")).select(
        *cols, F.lit(1).alias("level")
    )
    levels = [frontier]
    for lvl in range(2, max_level + 1):
        prev = frontier.select(
            F.col("customer_key").alias("d_customer_key"),
            F.col("shipping_date").alias("d_shipping_date"),
        )
        frontier = base.join(
            prev,
            (base["customer_key"] == prev["d_customer_key"])
            & (base["order_date"] > prev["d_shipping_date"]),
        ).select(*cols, F.lit(lvl).alias("level"))
        levels.append(frontier)
    return reduce(DataFrame.unionByName, levels)


def _gold_delayed_orders_chain(fs, dc, dp, max_level: int = 3) -> DataFrame:
    # The unknown-member sentinel is excluded from the chain: the
    # COALESCE(-1) fallback (load_fact_sales) makes every orphan fact
    # row share customer_key = -1, and a self-join on customer_key
    # turns that shared key into a SUPERHUB — measured at sf1: 6
    # delayed -1 seeds x 30k -1 fact rows squared = 1.35B level-3
    # rows, OOM.  Semantically the -1 member is "customer unknown";
    # chaining orders ACROSS unknown customers asserts they belong to
    # the same customer, which is exactly what is not known — so the
    # filter is a correctness refinement, not just a skew guard.
    orders = fs.filter(F.col("customer_key") != -1).select(
        "order_number", "customer_key", "order_date", "shipping_date", "due_date"
    )
    return delayed_orders_chain(orders, max_level)


def _full(spec: IncSpec) -> Callable[..., DataFrame]:
    def refresh(fs, dc, dp, **kw) -> DataFrame:
        return spec.publish(spec.delta(fs, dc, dp), **kw)

    return refresh


_ORDER_DEPENDENT = {
    "mv_running_sales_customer": running_sales_customer,
    "mv_customer_order_gap": customer_order_gap,
    "mv_delayed_orders_chain": _gold_delayed_orders_chain,
}

# Every MV as a full recompute over (fact_sales, dim_customers,
# dim_products), in refresh order.  A caller may pass None for a frame
# the shape does not read.
SHAPES: dict[str, Callable[..., DataFrame]] = {
    name: _full(INCREMENTAL[name]) if name in INCREMENTAL else _ORDER_DEPENDENT[name]
    for name in (
        "mv_sales_monthly_productline",
        "mv_sales_customer_country",
        "mv_customer_lifetime_value",
        "mv_running_sales_customer",
        "mv_top3_products_month_country",
        "mv_customer_churn",
        "mv_customer_order_gap",
        "mv_sales_rollup_product",
        "mv_delayed_orders_chain",
    )
}


def _over_gold(shape: Callable[..., DataFrame]) -> Callable[..., DataFrame]:
    def mv(wh: Warehouse, batch_id: str | None = None, **kw) -> DataFrame:
        return shape(*gold_frames(wh, batch_id), **kw)

    return mv


# Every MV over the warehouse's gold: MVS[name](wh, batch_id, **kw),
# batch_id=None for all history.
MVS: dict[str, Callable[..., DataFrame]] = {
    name: _over_gold(shape) for name, shape in SHAPES.items()
}


def refresh_mv(
    wh: Warehouse,
    name: str,
    batch_id: str,
    frames: tuple[DataFrame, DataFrame, DataFrame],
) -> int:
    """FULL refresh: recompute MV `name` over `frames`, the gold star
    as (fact_sales, dim_customers, dim_products), and overwrite its
    `batch_id` partition.  Returns the MV's row count.

    The caller reads the frames, once for every MV it refreshes:
    `gold_frames(wh, batch_id)` recomputes over the named batch only
    (the single-batch pipeline's default, where batch == history);
    `gold_frames(wh)` recomputes over EVERY gold batch — the
    reference's REFRESH MATERIALIZED VIEW semantics (MV Refresh
    Template.sql:33) in a multi-batch warehouse, and the
    corpus-proportional cost the incremental path
    (plans/mv_incremental.py) exists to avoid."""
    return wh.write_batch(SHAPES[name](*frames), "mv", name, batch_id)
