"""Third batch of classic TPC-H report shapes — the plan families the
first two batches (tpch.py q13-q23, tpch2.py q24-q31) still lacked:

  q32_min_cost_supplier      Q2 shape: correlated-subquery argmin —
                             for every LARGE part, the supplier(s)
                             selling it at the lowest realized unit
                             price.  The canonical decorrelation:
                             aggregate to (part, supplier) grain, then
                             a partition-min window + equality filter
                             instead of a per-row correlated probe.
  q33_local_supplier_volume  Q5 shape: the 6-table snowflake with the
                             extra c_nationkey = s_nationkey equi
                             constraint (customer and supplier in the
                             SAME nation) — revenue per nation/region.
  q34_forecast_revenue       Q6 shape: single-scan filter + aggregate,
                             the pure predicate-pushdown showcase.
  q35_product_profit         Q9 shape: profit (revenue minus proxied
                             supply cost) per nation per year over a
                             5-table join with a part-name pattern.
  q36_important_parts        Q11 shape: groups filtered by a HAVING
                             against a GLOBAL scalar aggregate —
                             decorrelated into a broadcast 1-row
                             cross join, compared in exact decimal.
  q37_order_count_distribution  Q13 shape: customer order-count
                             histogram — LEFT OUTER join with an
                             ON-clause filter (zero-order customers
                             must survive), then two stacked
                             aggregations.
  q38_supplier_part_variety  Q16 shape: COUNT(DISTINCT supplier) per
                             part attribute triple, with a NOT IN
                             supplier blocklist done as a left-anti
                             join.
  q39_promotion_candidates   Q20 shape: the nested semi-join chain —
                             suppliers who moved serious volume of
                             pattern-matched parts in one year.

The reference's analytics layer stops at its nine gold reports; these
widen the §2.3/§2.4 coverage with the four classic decorrelation
patterns (argmin-per-group, global-scalar HAVING, histogram-of-counts,
nested volume semi-join) every warehouse engine must plan well.
The schema has no partsupp table, so Q2/Q11/Q20's supply-cost and
stock columns are re-expressed over realized lineitem economics
(unit price = extprice/qty; part value = summed extprice); the PLAN
shapes — what these gates exist to pin — are unchanged.

Cross-engine determinism (same policy as tpch.py/tpch2.py):
  * Money sums route through DECIMAL(18,4) (exact, order-independent
    addition), cast to DOUBLE only at publish.
  * q32's unit price is ONE double division of two exact decimal
    sums — identical operand bits on both engines, so the argmin and
    its tie-set agree exactly.
  * q36's global-share HAVING is `v * cnt * 10 > total * 11` — all
    decimal/integer exact arithmetic, no float threshold; the 1.1×
    average cut is scale-free (Q11's FRACTION/SF trick) so the gate
    stays non-trivial at every SF.
  * Years as INT on both sides.

Scale notes (100 TB):
  * q32 aggregates lineitem to (part, supplier) grain BEFORE the
    window: the min-per-part window shuffles pair-grain rows (bounded
    by |part|×|supp seen|, not |lineitem|) on l_partkey.  Part (type
    filter pushed down) and supplier broadcast onto the result.
  * q33 broadcasts supplier/nation/region; the same-nation predicate
    rides the supplier broadcast join as an equi-condition, so the
    big lineitem⋈orders leg stays the only real shuffle.
  * q34 is the minimal scan: every predicate reaches parquet
    (PushedFilters pinned in test_plans), two aggregate cells move.
  * q36's scalar side is a 1-row broadcast; no second pass over
    lineitem and no per-row correlated subquery.
  * q37's outer join keeps the ON-filter on the orders side (filter
    BEFORE the join, inside the scan) — pushing it to WHERE would
    wrongly drop zero-order customers; the histogram re-aggregates
    150-ish rows per 100k customers.
  * q38's blocklist is a broadcast left-anti on the supplier key;
    COUNT(DISTINCT) expands per-group, partial-aggregated map-side.
  * q39 never materializes a join wider than (suppkey, partkey)
    pair aggregates; both IN-probes are left-semi.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..star import SALES_DECIMAL

Q32_PTYPE = "LARGE"
Q33_YEAR = ("1996-01-01", "1997-01-01")
Q34_YEAR = ("1996-01-01", "1997-01-01")
Q34_DISCOUNT = (0.05, 0.07)
Q34_MAX_QTY = 24
Q35_PATTERN = "widget"
Q37_EXCLUDED_PRIORITY = "1-URGENT"
Q38_MIN_ACCTBAL = 1000.0
Q39_PATTERN = "bolt"
Q39_YEAR = ("1997-01-01", "1998-01-01")
Q39_MIN_QTY = 60


def _ts(d: str):
    return F.lit(f"{d} 00:00:00").cast("timestamp")


_REV = lambda: (  # noqa: E731 — shared revenue expression, both engines
    F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
).cast(SALES_DECIMAL)


# -- q32: TPC-H Q2 shape — min-cost supplier per part -----------------
def q32_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each part of one type, the supplier(s) with the lowest
    realized unit price (sum price / sum qty over their lineitems).

    Q2's correlated `ps_supplycost = (SELECT MIN...)` decorrelated the
    standard way: one aggregate to (part, supplier) grain, a
    MIN window partitioned by part, keep rows equal to the min.
    Ties keep every minimal supplier on both engines — the unit price
    is one double division of two exact decimal sums, so equality is
    bit-identical cross-engine.

    ONE exchange, not three: repartitioning lineitem by l_partkey
    up front satisfies the pair aggregate's clustering (partkey is a
    prefix of the grouping key) AND the window's partitioning, so
    neither adds a shuffle.  The trade is losing map-side combine on
    the raw rows — a loss only when pairs repeat heavily per input
    partition; here (and in TPC-H generally) lines-per-pair is ~1-5,
    so combine shrinks almost nothing and two pair-grain shuffles
    cost strictly more than one raw one (measured 2.4 -> 1.6 s at
    sf0.1).  Revisit if the corpus has heavy per-pair repetition."""
    li = load_table(spark, sf_dir, "lineitem").repartition("l_partkey")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        (
            F.sum(F.col("l_extendedprice").cast(SALES_DECIMAL)).cast("double")
            / F.sum(F.col("l_quantity").cast(SALES_DECIMAL)).cast("double")
        ).alias("unit_cost")
    )
    w = Window.partitionBy("l_partkey")
    best = cost.withColumn("min_cost", F.min("unit_cost").over(w)).where(
        F.col("unit_cost") == F.col("min_cost")
    )
    part = load_table(spark, sf_dir, "part").where(F.col("p_type") == Q32_PTYPE)
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        best.join(part, best.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), best.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "n_name",
            F.col("unit_cost").alias("unit_cost"),
        )
    )


Q32_ORACLE = f"""
WITH cost AS (
    SELECT l_partkey, l_suppkey,
           CAST(SUM(CAST(l_extendedprice AS {SALES_DECIMAL})) AS DOUBLE)
           / CAST(SUM(CAST(l_quantity AS {SALES_DECIMAL})) AS DOUBLE)
               AS unit_cost
    FROM lineitem
    GROUP BY 1, 2
),
best AS (
    SELECT *, MIN(unit_cost) OVER (PARTITION BY l_partkey) AS min_cost
    FROM cost
)
SELECT p.p_partkey, p.p_name, s.s_name, n.n_name, b.unit_cost
FROM best b
JOIN part p ON p.p_partkey = b.l_partkey AND p.p_type = '{Q32_PTYPE}'
JOIN supplier s ON s.s_suppkey = b.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE b.unit_cost = b.min_cost
"""


# -- q33: TPC-H Q5 shape — local-supplier volume ----------------------
def q33_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per nation from orders where the CUSTOMER's nation
    equals the SUPPLIER's nation — Q5's same-nation constraint, which
    turns a star into a cycle the planner must close with one extra
    equi-condition on the (broadcast) supplier join."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ts(Q33_YEAR[0]))
        & (F.col("o_orderdate") < _ts(Q33_YEAR[1]))
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.groupBy("r_name", "n_name")
        .agg(F.sum(_REV()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc())
    )


Q33_ORACLE = f"""
SELECT r.r_name, n.n_name,
       CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                     AS {SALES_DECIMAL})) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
                AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE o.o_orderdate >= TIMESTAMP '{Q33_YEAR[0]} 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '{Q33_YEAR[1]} 00:00:00'
GROUP BY 1, 2
ORDER BY revenue DESC
"""


# -- q34: TPC-H Q6 shape — forecast revenue change --------------------
def q34_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue that would vanish if small discounted orders were
    dropped: one lineitem scan, every predicate pushed to parquet,
    two aggregate cells out.  The canonical scan-bound query."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts(Q34_YEAR[0]))
        & (F.col("l_shipdate") < _ts(Q34_YEAR[1]))
        & (F.col("l_discount") >= Q34_DISCOUNT[0])
        & (F.col("l_discount") <= Q34_DISCOUNT[1])
        & (F.col("l_quantity") < Q34_MAX_QTY)
    )
    return li.agg(
        F.sum(
            (F.col("l_extendedprice") * F.col("l_discount")).cast(SALES_DECIMAL)
        )
        .cast("double")
        .alias("forecast_revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


Q34_ORACLE = f"""
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS {SALES_DECIMAL}))
            AS DOUBLE) AS forecast_revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{Q34_YEAR[0]} 00:00:00'
  AND l_shipdate <  TIMESTAMP '{Q34_YEAR[1]} 00:00:00'
  AND l_discount >= {Q34_DISCOUNT[0]} AND l_discount <= {Q34_DISCOUNT[1]}
  AND l_quantity < {Q34_MAX_QTY}
"""


# -- q35: TPC-H Q9 shape — product profit by nation/year --------------
def q35_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit on pattern-matched parts per supplier nation per order
    year.  Q9's ps_supplycost is proxied as 5% of the part's retail
    price per unit (the schema has no partsupp); the shape — part-name
    LIKE filter, 5-table join, two-level group — is Q9's."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_name").contains(Q35_PATTERN)
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    amount = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ).cast(SALES_DECIMAL) - (
        F.col("p_retailprice") * F.col("l_quantity") * F.lit(0.05)
    ).cast(SALES_DECIMAL)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
    )


Q35_ORACLE = f"""
SELECT n.n_name AS nation,
       CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                     AS {SALES_DECIMAL})
                - CAST(p.p_retailprice * l.l_quantity * 0.05
                       AS {SALES_DECIMAL})) AS DOUBLE) AS sum_profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
           AND p.p_name LIKE '%{Q35_PATTERN}%'
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1, 2
"""


# -- q36: TPC-H Q11 shape — parts above a global value share ----------
def q36_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose realized sales value exceeds 1.1× the average
    per-part value — Q11's HAVING-against-global-scalar, decorrelated
    into a broadcast 1-row cross join.

    The comparison `v * cnt * 10 > total * 11` stays entirely in
    exact decimal×integer arithmetic: no float average, no division,
    so the cut line cannot drift between engines.  The 1.1×-average
    form replaces Q11's FRACTION constant to stay scale-free."""
    li = load_table(spark, sf_dir, "lineitem")
    # Both the HAVING probe and the global scalar derive from the
    # per-part aggregate; localCheckpoint materializes it ONCE (it is
    # |part| rows — tiny relative to lineitem) so the big scan does
    # not run twice (PERF.md "shared-subplan audit" rule).
    val = (
        li.groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast(SALES_DECIMAL)).alias("v"))
        .localCheckpoint(eager=True)
    )
    totals = val.agg(
        F.sum("v").alias("total"), F.count(F.lit(1)).alias("cnt")
    )
    return (
        val.crossJoin(F.broadcast(totals))
        .where(F.col("v") * F.col("cnt") * 10 > F.col("total") * 11)
        .select("l_partkey", F.col("v").cast("double").alias("part_value"))
    )


Q36_ORACLE = f"""
WITH val AS (
    SELECT l_partkey,
           SUM(CAST(l_extendedprice AS {SALES_DECIMAL})) AS v
    FROM lineitem
    GROUP BY 1
),
totals AS (
    SELECT SUM(v) AS total, COUNT(*) AS cnt FROM val
)
SELECT val.l_partkey, CAST(val.v AS DOUBLE) AS part_value
FROM val, totals
WHERE val.v * totals.cnt * 10 > totals.total * 11
"""


# -- q37: TPC-H Q13 shape — customer order-count histogram ------------
def q37_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many customers placed 0, 1, 2, ... non-urgent orders.

    The Q13 trap is the filter placement: the priority exclusion must
    live in the JOIN condition (ON), not WHERE — a WHERE would erase
    the NULL rows that represent zero-order customers.  Two stacked
    aggregations: per-customer count, then count-of-counts."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != Q37_EXCLUDED_PRIORITY
    )
    counts = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        counts.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


Q37_ORACLE = f"""
WITH counts AS (
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
    FROM customer c
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                      AND o.o_orderpriority <> '{Q37_EXCLUDED_PRIORITY}'
    GROUP BY 1
)
SELECT c_count, COUNT(*) AS custdist
FROM counts
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# -- q38: TPC-H Q16 shape — supplier variety per part attribute -------
def q38_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct suppliers per (brand, type, size), excluding a
    supplier blocklist — Q16's NOT IN done as a broadcast left-anti
    join (the blocklist proxy: suppliers under a minimum account
    balance, standing in for Q16's complaint suppliers)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    blocked = load_table(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < Q38_MIN_ACCTBAL
    )
    ok = li.join(
        F.broadcast(blocked),
        li.l_suppkey == blocked.s_suppkey,
        "left_anti",
    )
    return (
        ok.join(part, ok.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


Q38_ORACLE = f"""
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < {Q38_MIN_ACCTBAL}
)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# -- q39: TPC-H Q20 shape — high-volume promotion candidates ----------
def q39_promotion_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who shipped more than a threshold quantity of any
    single pattern-matched part during one year — Q20's nested
    IN-chain as two left-semi joins around a pair-grain aggregate.

    Nothing wider than (suppkey, partkey) aggregates ever shuffles:
    the part filter semi-joins lineitem down, the HAVING bounds the
    pair set, and the supplier probe is a semi join again."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts(Q39_YEAR[0]))
        & (F.col("l_shipdate") < _ts(Q39_YEAR[1]))
    )
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_name").contains(Q39_PATTERN)
    )
    volume = (
        li.join(
            F.broadcast(part), li.l_partkey == part.p_partkey, "left_semi"
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast(SALES_DECIMAL)).alias("qty"))
        .where(F.col("qty") > Q39_MIN_QTY)
        .select("l_suppkey")
        .distinct()
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        supp.join(volume, supp.s_suppkey == volume.l_suppkey, "left_semi")
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


Q39_ORACLE = f"""
SELECT s.s_name, n.n_name
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE s.s_suppkey IN (
    SELECT l.l_suppkey
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_name LIKE '%{Q39_PATTERN}%'
      AND l.l_shipdate >= TIMESTAMP '{Q39_YEAR[0]} 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '{Q39_YEAR[1]} 00:00:00'
    GROUP BY l.l_suppkey, l.l_partkey
    HAVING SUM(CAST(l.l_quantity AS {SALES_DECIMAL})) > {Q39_MIN_QTY}
)
ORDER BY s_name
"""


# -- q44: market-basket part co-occurrence ----------------------------
Q44_MIN_SUPPORT = 2


def q44_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part pairs co-ordered in the same order, with support and
    LIFT against independence — the association-rule primer every
    retail warehouse runs (and the basket twin of tx9's bigram lift).

    Shape discipline: the basket self-join is an equi-join on the
    ORDER key, so pair explosion is bounded by basket size squared
    (~6 pairs for a 4-line order), never |parts|^2; baskets first
    dedupe to (order, part) grain so a part twice in one order counts
    once.  Part frequencies and the 1-row order count attach by join
    AFTER the pair aggregate — the heavy stream is always
    (order, part) ids.  Lift's four inputs are exact integers; the
    single double expression has identical parse trees on both
    engines."""
    li = load_table(spark, sf_dir, "lineitem")
    # The (order, part) frame feeds four consumers (pair join twice,
    # part counts, order count) — checkpoint once, shared-subplan rule.
    op = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = op.agg(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    part_cnt = op.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    a = op.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa")
    )
    b = op.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb")
    )
    pairs = (
        a.join(b, "ok")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= Q44_MIN_SUPPORT)
    )
    ca = part_cnt.select(
        F.col("l_partkey").alias("pa"), F.col("cnt").alias("cnt_a")
    )
    cb = part_cnt.select(
        F.col("l_partkey").alias("pb"), F.col("cnt").alias("cnt_b")
    )
    return (
        pairs.join(ca, "pa")
        .join(cb, "pb")
        .crossJoin(F.broadcast(n))
        .select(
            "pa",
            "pb",
            "support",
            "cnt_a",
            "cnt_b",
            (
                F.col("support").cast("double")
                * F.col("n_orders").cast("double")
                / (F.col("cnt_a").cast("double") * F.col("cnt_b").cast("double"))
            ).alias("lift"),
        )
    )


def _q44_oracle() -> str:
    return f"""
WITH op AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM op),
part_cnt AS (
    SELECT l_partkey, COUNT(*) AS cnt FROM op GROUP BY 1
),
pairs AS (
    SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS support
    FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING COUNT(*) >= {Q44_MIN_SUPPORT}
)
SELECT p.pa, p.pb, p.support,
       ca.cnt AS cnt_a, cb.cnt AS cnt_b,
       CAST(p.support AS DOUBLE) * CAST(n.n_orders AS DOUBLE)
           / (CAST(ca.cnt AS DOUBLE) * CAST(cb.cnt AS DOUBLE)) AS lift
FROM pairs p
JOIN part_cnt ca ON p.pa = ca.l_partkey
JOIN part_cnt cb ON p.pb = cb.l_partkey
CROSS JOIN n
"""


QUERIES = {
    "q32_min_cost_supplier": q32_min_cost_supplier,
    "q33_local_supplier_volume": q33_local_supplier_volume,
    "q34_forecast_revenue": q34_forecast_revenue,
    "q35_product_profit": q35_product_profit,
    "q36_important_parts": q36_important_parts,
    "q37_order_count_distribution": q37_order_count_distribution,
    "q38_supplier_part_variety": q38_supplier_part_variety,
    "q39_promotion_candidates": q39_promotion_candidates,
    "q44_market_basket": q44_market_basket,
}

ORACLES = {
    "q32_min_cost_supplier": Q32_ORACLE,
    "q33_local_supplier_volume": Q33_ORACLE,
    "q34_forecast_revenue": Q34_ORACLE,
    "q35_product_profit": Q35_ORACLE,
    "q36_important_parts": Q36_ORACLE,
    "q37_order_count_distribution": Q37_ORACLE,
    "q38_supplier_part_variety": Q38_ORACLE,
    "q39_promotion_candidates": Q39_ORACLE,
    "q44_market_basket": _q44_oracle(),
}
