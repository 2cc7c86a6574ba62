"""Data-quality aggregates as registry queries — the row-validation
shapes of SURVEY.md §2.2 P8 / §2.4 A8-A10 exercised over the test
tables so the driver's oracle gate covers them (the pipeline-side
implementations live in sources/validation.py and run per-ingest).

  qa1_null_profile   single-pass per-column null/blank counts (A9:
                     the reference loops one DuckDB query per column,
                     validate_row.py:403-411; here ONE aggregation)
  qa2_dup_keys       composite-key duplicate groups (A8/A10 HAVING
                     probe, Methods_crm_cust_info.sql:4-9)
  qa3_referential    anti-join orphan probe (J6,
                     Methods_crm_sales_details.sql:33-37)

Scale: qa1 is a map-side partial aggregate to ONE row (no shuffle of
data, only of partial states).  qa2 is one hash shuffle on the key.
qa3 is a broadcast-able anti-join (orders' custkey set is the small
side at dim scale; at fact scale Catalyst picks shuffled hash).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import hashing as H


# -- qa1: single-pass null/blank profile ------------------------------
_QA1_COLS = ("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")


def qa1_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("total_rows")] + [
        F.count(
            F.when(
                F.col(c).isNull() | (F.trim(F.col(c).cast("string")) == ""), 1
            )
        ).alias(f"bad_{c}")
        for c in _QA1_COLS
    ]
    return orders.agg(*aggs)


QA1_ORACLE = f"""
SELECT
    COUNT(*) AS total_rows,
    {", ".join(
        f"COUNT(CASE WHEN {c} IS NULL OR trim(CAST({c} AS VARCHAR)) = '' "
        f"THEN 1 END) AS bad_{c}"
        for c in _QA1_COLS
    )}
FROM orders
"""


# -- qa2: duplicate composite keys (HAVING probe) ---------------------
def qa2_dup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


QA2_ORACLE = """
SELECT l_orderkey, l_linenumber, COUNT(*) AS n
FROM lineitem
GROUP BY 1, 2
HAVING COUNT(*) > 1
"""


# -- qa3: referential-integrity anti-join (J6) ------------------------
def qa3_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.join(
            customer, orders["o_custkey"] == customer["c_custkey"], "left_anti"
        )
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orphans"))
    )


QA3_ORACLE = """
SELECT o_custkey, COUNT(*) AS n_orphans
FROM orders o
WHERE NOT EXISTS (
    SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey
)
GROUP BY 1
"""

# -- qa4: KMV distinct-count sketch -----------------------------------
KMV_K = 256
_POW60 = float(1 << 60)  # md5_long is a 60-bit hash


def qa4_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count sketch of lineitem.l_orderkey
    (estimate how many orders a fact table references without a full
    distinct).  KMV keeps the K smallest distinct hash values; with
    the k-th smallest at fraction u of the hash space, distinct-count
    ≈ (K-1)/u.  Chosen over HyperLogLog because it is exactly
    reproducible cross-engine: md5 + MIN-K + one IEEE division, no
    engine-private register layout (Spark's approx_count_distinct and
    DuckDB's approx HLLs can never hash-match each other).

    The gate also carries the exact distinct count so the result
    exhibits the estimate's quality; a production sketch run skips
    that branch — the whole point at 100 TB is that the K-smallest
    pass TakeOrdered-reduces per partition (K rows per partition
    cross the wire, not the distinct set).

    Determinism: every value is integer math except est_distinct,
    which is one multiply + one divide of exactly-representable
    doubles — correctly rounded identically on both engines."""
    from ..functions import hashing as H

    dh = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            H.md5_long(F.col("l_orderkey").cast("string")).alias("h")
        )
        .distinct()
    )
    sketch = (
        dh.orderBy("h")
        .limit(KMV_K)
        .agg(
            F.count(F.lit(1)).alias("k_used"),
            F.max("h").alias("kth_hash"),
        )
    )
    truth = dh.agg(F.count(F.lit(1)).alias("true_distinct"))
    est = F.when(
        F.col("k_used") < KMV_K, F.col("k_used").cast("double")
    ).otherwise(
        (F.col("k_used") - 1).cast("double")
        * F.lit(_POW60)
        / F.col("kth_hash").cast("double")
    )
    return (
        sketch.crossJoin(F.broadcast(truth))
        .select(
            "k_used",
            "kth_hash",
            est.alias("est_distinct"),
            "true_distinct",
        )
    )


QA4_ORACLE = f"""
WITH h AS (
    SELECT DISTINCT
        CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15)
             AS BIGINT) AS h
    FROM lineitem
),
km AS (SELECT h FROM h ORDER BY h LIMIT {KMV_K}),
sk AS (SELECT COUNT(*) AS k_used, MAX(h) AS kth_hash FROM km),
t AS (SELECT COUNT(*) AS true_distinct FROM h)
SELECT k_used, kth_hash,
       CASE WHEN k_used < {KMV_K} THEN CAST(k_used AS DOUBLE)
            ELSE CAST(k_used - 1 AS DOUBLE) * {_POW60!r}
                 / CAST(kth_hash AS DOUBLE) END AS est_distinct,
       true_distinct
FROM sk, t
"""

# -- qa5: exact distribution percentiles ------------------------------
_QA5_PCTS = ((50, 0.5), (90, 0.9), (99, 0.99))


def qa5_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact nearest-rank percentiles (p50/p90/p99) of order value per
    priority — the distribution profile a data-quality gate pins
    (approx_percentile/quantile sketches are engine-private and can
    never hash-match across engines; nearest-rank is exact and
    deterministic).

    Scale: the naive formulation (ROW_NUMBER over each priority) sends
    EVERY row of a priority to one task — a 5-partition shuffle of the
    whole table.  This one aggregates to (priority, value) counts
    first (map-side combinable; output is bounded by distinct values,
    not rows), then runs the cumulative window over that small table:
    the percentile value is the first distinct value whose cumulative
    count reaches ceil(p*n)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderpriority", "o_totalprice").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wc = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_totalprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("o_orderpriority")
    cum = counts.withColumn("cum", F.sum("cnt").over(wc)).withColumn(
        "n", F.sum("cnt").over(wn)
    )
    aggs = [F.max("n").alias("n_rows")]
    for label, p in _QA5_PCTS:
        target = F.ceil(F.lit(p) * F.col("n"))
        aggs.append(
            F.min(
                F.when(F.col("cum") >= target, F.col("o_totalprice"))
            ).alias(f"p{label}")
        )
    return cum.groupBy("o_orderpriority").agg(*aggs)


QA5_ORACLE = f"""
WITH counts AS (
    SELECT o_orderpriority, o_totalprice, COUNT(*) AS cnt
    FROM orders GROUP BY 1, 2
),
cum AS (
    SELECT o_orderpriority, o_totalprice, cnt,
           SUM(cnt) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           SUM(cnt) OVER (PARTITION BY o_orderpriority) AS n
    FROM counts
)
SELECT o_orderpriority,
       CAST(MAX(n) AS BIGINT) AS n_rows,
       {", ".join(
           f"MIN(CASE WHEN cum >= CAST(CEIL({p} * n) AS BIGINT) "
           f"THEN o_totalprice END) AS p{label}"
           for label, p in _QA5_PCTS
       )}
FROM cum
GROUP BY 1
"""

# -- qa6: full-outer cross-table reconciliation -----------------------
def qa6_order_event_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided completeness check: FULL OUTER join of per-entity
    order totals vs event totals, flagging entities present on only
    one side — the reconciliation shape a warehouse QA suite runs
    between a source system and its activity log (complements qa3's
    one-sided anti-join probe).

    Determinism: both money sums route through DECIMAL before the
    final DOUBLE cast (order-independent addition, star.py contract).
    Scale: two grouped aggregates (map-side partial) then one
    full-outer hash join on the entity key — the aggregated sides are
    |entities|-sized, not |facts|-sized, so the join input is already
    reduced; AQE picks the strategy."""
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    o = orders.groupBy(F.col("o_custkey").alias("entity_id")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("order_total_d"),
    )
    e = events.groupBy(F.col("user_id").alias("entity_id")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("event_total_d"),
    )
    j = o.join(e, "entity_id", "full_outer")
    return j.select(
        "entity_id",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.col("order_total_d").cast("double").alias("order_total"),
        F.col("event_total_d").cast("double").alias("event_total"),
        (F.col("n_orders").isNotNull() & F.col("n_events").isNull()).alias(
            "orders_only"
        ),
        (F.col("n_orders").isNull() & F.col("n_events").isNotNull()).alias(
            "events_only"
        ),
    )


QA6_ORACLE = """
WITH o AS (
    SELECT o_custkey AS entity_id, COUNT(*) AS n_orders,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS order_total_d
    FROM orders GROUP BY 1
),
e AS (
    SELECT user_id AS entity_id, COUNT(*) AS n_events,
           SUM(CAST(value AS DECIMAL(18,6))) AS event_total_d
    FROM events GROUP BY 1
)
SELECT COALESCE(o.entity_id, e.entity_id) AS entity_id,
       COALESCE(o.n_orders, 0) AS n_orders,
       COALESCE(e.n_events, 0) AS n_events,
       CAST(o.order_total_d AS DOUBLE) AS order_total,
       CAST(e.event_total_d AS DOUBLE) AS event_total,
       (o.n_orders IS NOT NULL AND e.n_events IS NULL) AS orders_only,
       (o.n_orders IS NULL AND e.n_events IS NOT NULL) AS events_only
FROM o FULL OUTER JOIN e ON o.entity_id = e.entity_id
"""


# -- qa7: fixed-bin value histogram -----------------------------------
HIST_WIDTH = 50.0
HIST_BINS = 10  # domain [0, 500): last bin clamps the tail


def qa7_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type histogram of `value` over fixed-width bins —
    the distribution profile a quality monitor charts.  Bin edges are
    LITERALS (floor(value/width), tail-clamped): data-derived edges
    (min/max, quantiles) would need an extra pass and make bins drift
    batch to batch, which defeats cross-batch comparison — the same
    reasoning as q10's pinned pivot columns.

    Scale: one map-side-combinable hash agg; output is bounded by
    |event types| x bins.  floor(value/width) on DOUBLE is a single
    IEEE op — bit-identical cross-engine."""
    ev = load_table(spark, sf_dir, "events")
    bin_col = F.least(
        F.floor(F.col("value") / HIST_WIDTH), F.lit(HIST_BINS - 1)
    ).cast("int")
    return (
        ev.groupBy("event_type", bin_col.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            "bin",
            (F.col("bin") * HIST_WIDTH).alias("bin_low"),
            "n",
        )
    )


QA7_ORACLE = f"""
SELECT event_type,
       CAST(least(floor(value / {HIST_WIDTH}), {HIST_BINS - 1}) AS INT) AS bin,
       CAST(CAST(least(floor(value / {HIST_WIDTH}), {HIST_BINS - 1}) AS INT)
           * {HIST_WIDTH} AS DOUBLE) AS bin_low,
       COUNT(*) AS n
FROM events
GROUP BY 1, 2, 3
"""


# -- qa8: categorical drift (chi-square contributions) ----------------
DRIFT_BASE_YEAR, DRIFT_OBS_YEAR = 1995, 1996


def qa8_chisq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-category chi-square drift contributions between two order
    cohorts (1995 baseline vs 1996 observed) over o_orderpriority —
    the categorical-distribution drift monitor.  Emits PER-CATEGORY
    contributions, not the summed statistic: the sum of doubles is
    order-dependent and un-oracle-able, while each contribution is a
    fixed expression tree over exact integers — (c_obs*T_base -
    c_base*T_obs) stays in int64, is cast to DOUBLE once, squared,
    and divided by the exact int64 denominator (identical op order on
    both engines).  Consumers sum (or max) the 5 rows driver-side.

    Scale: one conditional-count hash agg + a broadcast of the 1-row
    totals — same cost class as any grouped count."""
    orders = load_table(spark, sf_dir, "orders")
    yr = F.year(F.col("o_orderdate").cast("date"))
    base = F.sum(F.when(yr == DRIFT_BASE_YEAR, 1).otherwise(0)).alias("c_base")
    obs = F.sum(F.when(yr == DRIFT_OBS_YEAR, 1).otherwise(0)).alias("c_obs")
    agg = (
        orders.where(yr.isin(DRIFT_BASE_YEAR, DRIFT_OBS_YEAR))
        .groupBy("o_orderpriority")
        .agg(base, obs)
    )
    tot = agg.agg(
        F.sum("c_base").alias("t_base"), F.sum("c_obs").alias("t_obs")
    )
    j = agg.crossJoin(F.broadcast(tot))
    diff = F.col("c_obs") * F.col("t_base") - F.col("c_base") * F.col("t_obs")
    denom = F.col("c_base") * F.col("t_obs") * F.col("t_base")
    # NULLIF guards the degenerate cohort (c_base = 0 at tiny SFs):
    # without it Spark's non-ANSI / returns NULL while DuckDB's double
    # division returns inf — the guard makes both engines emit NULL.
    return j.select(
        "o_orderpriority",
        "c_base",
        "c_obs",
        (
            diff.cast("double")
            * diff.cast("double")
            / F.nullif(denom.cast("double"), F.lit(0.0))
        ).alias("chisq_contrib"),
    )


QA8_ORACLE = f"""
WITH agg AS (
    SELECT o_orderpriority,
           SUM(CASE WHEN EXTRACT(year FROM CAST(o_orderdate AS DATE))
                    = {DRIFT_BASE_YEAR} THEN 1 ELSE 0 END) AS c_base,
           SUM(CASE WHEN EXTRACT(year FROM CAST(o_orderdate AS DATE))
                    = {DRIFT_OBS_YEAR} THEN 1 ELSE 0 END) AS c_obs
    FROM orders
    WHERE EXTRACT(year FROM CAST(o_orderdate AS DATE))
          IN ({DRIFT_BASE_YEAR}, {DRIFT_OBS_YEAR})
    GROUP BY 1
),
tot AS (
    SELECT CAST(SUM(c_base) AS BIGINT) AS t_base,
           CAST(SUM(c_obs) AS BIGINT) AS t_obs
    FROM agg
)
SELECT o_orderpriority,
       CAST(c_base AS BIGINT) AS c_base,
       CAST(c_obs AS BIGINT) AS c_obs,
       CAST(c_obs * t_base - c_base * t_obs AS DOUBLE)
           * CAST(c_obs * t_base - c_base * t_obs AS DOUBLE)
           / NULLIF(CAST(c_base * t_obs * t_base AS DOUBLE), 0) AS chisq_contrib
FROM agg CROSS JOIN tot
"""


# -- qa9: Count-Min heavy hitters -------------------------------------
CMS_DEPTH = 4
CMS_WIDTH = 64  # test-scale; production uses 2^16-2^20 buckets/row


def qa9_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch frequency estimates for every user in the
    event stream, alongside the exact counts (the sketch-quality
    exhibit, same contract as qa4's KMV).  CMS is the mergeable
    heavy-hitter sketch: D x W integer counters, update = +1 at
    (d, h_d(x)), estimate = min over d — counters from different
    partitions/days/streams ADD, which is what makes it a
    pre-aggregable warehouse primitive where an exact per-key count
    over an open key domain is not.

    Determinism: bucket hashes are md5-derived (engine-portable by
    functions/hashing.py's contract) and every counter is an integer
    SUM — the sketch and its estimates hash-match DuckDB exactly.
    Overestimation (est >= exact, whp within 2N/W) is visible in the
    output by construction.

    Scale: the update pass is one map-side-combinable groupBy on
    (d, bucket) — the exchanged state is D*W counters TOTAL,
    independent of stream size; estimates then broadcast-join that
    tiny table to the distinct keys."""
    from ..functions import hashing as H

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("k")
    )
    d_col = F.explode(
        F.array(*[F.lit(i) for i in range(CMS_DEPTH)])
    ).alias("d")
    bucket = (
        H.md5_long(F.concat_ws(":", F.col("d"), F.col("k"))) % CMS_WIDTH
    ).alias("bucket")
    cms = (
        ev.select("k", d_col)
        .select("d", bucket)
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = ev.groupBy("k").agg(F.count(F.lit(1)).alias("exact_n"))
    kb = exact.select("k", d_col).select(
        "k", "d", bucket
    )
    est = (
        kb.join(F.broadcast(cms), ["d", "bucket"])
        .groupBy("k")
        .agg(F.min("c").alias("cms_est"))
    )
    return exact.join(est, "k").select(
        F.col("k").cast("long").alias("user_id"), "exact_n", "cms_est"
    )


QA9_ORACLE = f"""
WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
upd AS (
    SELECT d, mod({H.sql_md5_long("CAST(d AS VARCHAR) || ':' || k")},
                  {CMS_WIDTH}) AS bucket
    FROM ev, (SELECT unnest(range(0, {CMS_DEPTH})) AS d)
),
cms AS (SELECT d, bucket, COUNT(*) AS c FROM upd GROUP BY 1, 2),
exact AS (SELECT k, COUNT(*) AS exact_n FROM ev GROUP BY 1),
kb AS (
    SELECT k, d, mod({H.sql_md5_long("CAST(d AS VARCHAR) || ':' || k")},
                     {CMS_WIDTH}) AS bucket
    FROM exact, (SELECT unnest(range(0, {CMS_DEPTH})) AS d)
),
est AS (
    SELECT kb.k, MIN(cms.c) AS cms_est
    FROM kb JOIN cms ON kb.d = cms.d AND kb.bucket = cms.bucket
    GROUP BY 1
)
SELECT CAST(exact.k AS BIGINT) AS user_id, exact.exact_n, est.cms_est
FROM exact JOIN est ON exact.k = est.k
"""


# -- qa10: join-explosion pre-flight probe ----------------------------
# Binds at every test SF (p90 of the key products is ~900 at sf0.01);
# production sets this to the per-key output-row budget.
QA10_PRODUCT_T = 900


def qa10_join_explosion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew probe: for a planned orders⋈events join on the
    customer/user key, the keys whose output contribution
    (n_orders x n_events) exceeds a threshold — the check a pipeline
    runs BEFORE a big join to decide salting / skew hints, and the
    observability a post-mortem wants after an exploded join.

    Scale: two map-side-combinable grouped counts (each bounded by
    |keys|), one inner hash join of the two count tables — the probe
    costs two scans and never materializes the join it is sizing."""
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    o = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    e = events.groupBy(F.col("user_id").alias("k")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return (
        o.join(e, "k")
        .withColumn("out_rows", F.col("n_orders") * F.col("n_events"))
        .where(F.col("out_rows") >= QA10_PRODUCT_T)
        .select(F.col("k").alias("join_key"), "n_orders", "n_events", "out_rows")
    )


QA10_ORACLE = f"""
WITH o AS (
    SELECT o_custkey AS k, COUNT(*) AS n_orders FROM orders GROUP BY 1
),
e AS (
    SELECT user_id AS k, COUNT(*) AS n_events FROM events GROUP BY 1
)
SELECT o.k AS join_key, o.n_orders, e.n_events,
       o.n_orders * e.n_events AS out_rows
FROM o JOIN e ON o.k = e.k
WHERE o.n_orders * e.n_events >= {QA10_PRODUCT_T}
"""


# -- qa11: functional-dependency profile ------------------------------
def qa11_fd_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does X functionally determine Y?  The FD-discovery primitive of
    a data profiler, here checking o_custkey -> o_orderpriority (a
    candidate a profiler would test and REJECT — customers order under
    many priorities): one row with how many keys exist, how many
    violate (|distinct Y| > 1), the worst key's distinct-Y count, and
    the violation rate.  An FD that holds is a join-safety /
    normalization fact; the violation count is the data-debt metric.

    Scale: one (X, Y)-distinct reduction (map-side combinable), one
    grouped count over it, one global fold to a single row — a
    two-level distinct-then-count shape, never a COUNT DISTINCT
    Expand of the raw table."""
    orders = load_table(spark, sf_dir, "orders")
    per_key = (
        orders.select("o_custkey", "o_orderpriority")
        .distinct()
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_y"))
    )
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.when(F.col("n_y") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_violating"),
        F.max("n_y").alias("max_distinct_y"),
        (
            F.sum(F.when(F.col("n_y") > 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("violation_rate"),
    )


QA11_ORACLE = """
WITH per_key AS (
    SELECT o_custkey, COUNT(*) AS n_y
    FROM (SELECT DISTINCT o_custkey, o_orderpriority FROM orders)
    GROUP BY 1
)
SELECT COUNT(*) AS n_keys,
       CAST(SUM(CASE WHEN n_y > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violating,
       MAX(n_y) AS max_distinct_y,
       CAST(SUM(CASE WHEN n_y > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
           AS violation_rate
FROM per_key
"""


# -- qa12: cross-column correlation -----------------------------------
def qa12_corr_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation (and OLS slope) between order line count
    and order total — the cross-column dependence profile.  Built
    from EXACT sufficient statistics, not F.corr: engine-native corr
    aggregates accumulate floating partial states in partition order
    and can never hash-match across engines; here every sufficient
    statistic (n, Σx, Σy, Σx², Σy², Σxy) is exact integer/DECIMAL
    arithmetic, cast to DOUBLE once, and the closed-form r/slope are
    fixed expression trees — bit-identical both sides.

    Scale: one grouped count on lineitem (map-side combinable), one
    hash join to orders, one single-row fold — the sufficient
    statistics ARE the mergeable sketch (this is how distributed corr
    works anyway; the determinism comes from keeping the partials
    exact)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cnt = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.count(F.lit(1)).alias("x")
    )
    j = orders.select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(18,2)").alias("y")
    ).join(cnt, "o_orderkey")
    stats = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    # DECIMAL sums -> double through an exact scale-0 extraction, the
    # q13 fix (tpch._dec2dbl) widened to DECIMAL(38,0): syy's scaled
    # units (~1.2e22 at sf10) overflow int64, and a DIRECT decimal
    # cast diverges 1 ulp between engines at sf10 magnitudes (DuckDB
    # divides a separately-rounded int128->double by 10^scale; the
    # sf10 sweep caught corr_r at ...883 vs ...887).  Measured: both
    # engines' scale-0 DECIMAL(38,0)->double IS correctly rounded, so
    # the shared two-step (int conversion, then one double division)
    # is bit-identical.
    def dec2dbl(c: str, scale: int):
        return (F.col(c) * F.lit(10**scale)).cast("decimal(38,0)").cast(
            "double"
        ) / F.lit(float(10**scale))

    n, sx = F.col("n").cast("double"), F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy, syy, sxy = dec2dbl("sy", 2), dec2dbl("syy", 4), dec2dbl("sxy", 2)
    num = n * sxy - sx * sy
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    # nullif guards zero variance (single-row / constant input):
    # Spark ANSI raises DIVIDE_BY_ZERO where DuckDB yields nan/inf —
    # NULL on both engines instead (round-5 one-row-input sweep).
    return stats.select(
        F.col("n").alias("n_orders"),
        (num / F.nullif(F.sqrt(vx * vy), F.lit(0.0))).alias("corr_r"),
        (num / F.nullif(vx, F.lit(0.0))).alias("slope"),
    )


QA12_ORACLE = """
WITH cnt AS (
    SELECT l_orderkey AS o_orderkey, COUNT(*) AS x
    FROM lineitem GROUP BY 1
),
j AS (
    SELECT CAST(o.o_totalprice AS DECIMAL(18,2)) AS y, c.x
    FROM orders o JOIN cnt c ON o.o_orderkey = c.o_orderkey
),
stats AS (
    SELECT COUNT(*) AS n,
           SUM(x) AS sx, SUM(y) AS sy,
           SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
    FROM j
),
-- decimal sums -> double via the exact scale-0 extraction (wide
-- _dec2dbl): a direct decimal cast double-rounds differently per
-- engine at sf10 magnitudes (caught by the sf10 sweep, 1 ulp in
-- corr_r)
d AS (
    SELECT CAST(n AS DOUBLE) AS n, CAST(sx AS DOUBLE) AS sx,
           CAST(sxx AS DOUBLE) AS sxx,
           CAST(CAST(sy * 100 AS DECIMAL(38,0)) AS DOUBLE) / 100.0 AS sy,
           CAST(CAST(syy * 10000 AS DECIMAL(38,0)) AS DOUBLE) / 10000.0
               AS syy,
           CAST(CAST(sxy * 100 AS DECIMAL(38,0)) AS DOUBLE) / 100.0 AS sxy,
           n AS n_raw
    FROM stats
)
SELECT n_raw AS n_orders,
       (n * sxy - sx * sy)
           / nullif(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 0.0)
           AS corr_r,
       (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0) AS slope
FROM d
"""


def qa20_grouped_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS — slope / intercept / R² of extended price vs
    quantity for every return flag.  Generalizes qa12's single global
    fit to the grouped form a profiling pass actually runs (one
    regression per segment, all in one aggregate).

    Determinism is qa12's contract tightened one notch: every
    sufficient statistic (n, Σx, Σy, Σx², Σy², Σxy) is exact INT64
    arithmetic (order-independent sums; x and y floored to whole
    units so even Σy² stays int64), cast to DOUBLE once — a single
    correctly-rounded conversion on both engines — and the closed
    forms are fixed expression trees, bit-identical cross-engine.

    Scale: ONE map-side-combinable hash aggregate over lineitem; the
    sufficient statistics are the mergeable sketch, so this is the
    textbook distributed regression (no iterative solver, no second
    pass)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor("l_quantity").cast("long").alias("x"),
        # y floored to whole units: every sufficient statistic stays
        # exact int64, whose ->double cast is a SINGLE correctly
        # rounded conversion on both engines.  A DECIMAL(38,4) syy
        # exceeds 2^53 unscaled and the two engines round the
        # decimal->double conversion differently in the last ulp
        # (measured at sf0.001 before this landed).
        F.floor("l_extendedprice").cast("long").alias("y"),
    )
    stats = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy, sxx, syy, sxy = [
        F.col(c).cast("double") for c in ("n", "sx", "sy", "sxx", "syy", "sxy")
    ]
    num = n * sxy - sx * sy
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    # nullif guards zero per-group variance (constant x or y within a
    # group — e.g. a one-row table): NULL on both engines instead of a
    # Spark ANSI DIVIDE_BY_ZERO vs DuckDB nan/inf split.
    slope = num / F.nullif(vx, F.lit(0.0))
    return stats.select(
        "l_returnflag",
        F.col("n").alias("n_lines"),
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
        (num * num / F.nullif(vx * vy, F.lit(0.0))).alias("r2"),
    )


QA20_ORACLE = """
WITH pts AS (
    SELECT l_returnflag,
           CAST(FLOOR(l_quantity) AS BIGINT) AS x,
           CAST(FLOOR(l_extendedprice) AS BIGINT) AS y
    FROM lineitem
),
stats AS (
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           CAST(SUM(y * y) AS BIGINT) AS syy,
           CAST(SUM(x * y) AS BIGINT) AS sxy
    FROM pts GROUP BY 1
),
d AS (
    SELECT l_returnflag, n,
           CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
           CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
           CAST(syy AS DOUBLE) AS syyd, CAST(sxy AS DOUBLE) AS sxyd
    FROM stats
)
SELECT l_returnflag,
       n AS n_lines,
       (nd * sxyd - sxd * syd) / nullif(nd * sxxd - sxd * sxd, 0.0) AS slope,
       (syd - ((nd * sxyd - sxd * syd)
               / nullif(nd * sxxd - sxd * sxd, 0.0)) * sxd)
           / nd AS intercept,
       (nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)
           / nullif((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd), 0.0)
           AS r2
FROM d
"""


KS_YEAR_A, KS_YEAR_B = 1995, 1996
KS_BUCKET = 10_000.0  # value-axis bucket width for the two-phase cumsum


def qa21_ks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov distance between the 1995
    and 1996 order-value distributions — the year-over-year drift
    test qa8's chi-square (categorical) can't do on a continuous
    column.  D = max |ecdf_A(x) - ecdf_B(x)| over all observed x.

    Determinism: cumulative counts are exact integers; each ecdf is
    ONE IEEE division and D is a max over exact-diff doubles — no
    accumulation order anywhere (the qa12 sufficient-statistic rule).

    Scale: the naive formulation windows over ALL distinct values in
    one partition (a global sort into a single task).  This is a
    two-phase prefix sum instead: per-value counts bucket by value
    range, each bucket cumsums in parallel, and only the ~60
    bucket-level subtotals cross a SinglePartition exchange for the
    offset pass."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    counts = (
        orders.where(yr.isin(KS_YEAR_A, KS_YEAR_B))
        .groupBy(F.col("o_totalprice").alias("v"))
        .agg(
            F.sum(F.when(yr == KS_YEAR_A, 1).otherwise(0)).alias("c1"),
            F.sum(F.when(yr == KS_YEAR_B, 1).otherwise(0)).alias("c2"),
        )
        .withColumn("bkt", F.floor(F.col("v") / F.lit(KS_BUCKET)))
    )
    b_sums = counts.groupBy("bkt").agg(
        F.sum("c1").alias("b1"), F.sum("c2").alias("b2")
    )
    w_off = (
        Window.orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = b_sums.select(
        "bkt",
        F.coalesce(F.sum("b1").over(w_off), F.lit(0)).alias("off1"),
        F.coalesce(F.sum("b2").over(w_off), F.lit(0)).alias("off2"),
    )
    w_in = (
        Window.partitionBy("bkt")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        counts.withColumn("i1", F.sum("c1").over(w_in))
        .withColumn("i2", F.sum("c2").over(w_in))
        .join(F.broadcast(offsets), "bkt")
        .select(
            (F.col("off1") + F.col("i1")).alias("cum1"),
            (F.col("off2") + F.col("i2")).alias("cum2"),
        )
    )
    totals = b_sums.agg(
        F.sum("b1").alias("n_a"), F.sum("b2").alias("n_b")
    )
    # groupBy (not a global agg): mirrors the oracle's GROUP BY so an
    # EMPTY input yields zero rows on both engines instead of Spark's
    # one all-NULL global-aggregate row (round-5 empty-input sweep).
    return (
        cum.crossJoin(F.broadcast(totals))
        .groupBy("n_a", "n_b")
        .agg(
            F.max(
                F.abs(
                    F.col("cum1").cast("double")
                    / F.nullif(F.col("n_a").cast("double"), F.lit(0.0))
                    - F.col("cum2").cast("double")
                    / F.nullif(F.col("n_b").cast("double"), F.lit(0.0))
                )
            ).alias("ks_d"),
        )
    )


QA21_ORACLE = f"""
WITH counts AS (
    SELECT o_totalprice AS v,
           SUM(CASE WHEN EXTRACT(YEAR FROM CAST(o_orderdate AS DATE))
                    = {KS_YEAR_A} THEN 1 ELSE 0 END) AS c1,
           SUM(CASE WHEN EXTRACT(YEAR FROM CAST(o_orderdate AS DATE))
                    = {KS_YEAR_B} THEN 1 ELSE 0 END) AS c2
    FROM orders
    WHERE EXTRACT(YEAR FROM CAST(o_orderdate AS DATE))
          IN ({KS_YEAR_A}, {KS_YEAR_B})
    GROUP BY 1
),
cum AS (
    SELECT SUM(c1) OVER (ORDER BY v) AS cum1,
           SUM(c2) OVER (ORDER BY v) AS cum2
    FROM counts
),
t AS (SELECT CAST(SUM(c1) AS BIGINT) AS n_a,
             CAST(SUM(c2) AS BIGINT) AS n_b FROM counts)
SELECT n_a, n_b,
       MAX(ABS(CAST(cum1 AS DOUBLE) / nullif(CAST(n_a AS DOUBLE), 0.0)
               - CAST(cum2 AS DOUBLE)
                 / nullif(CAST(n_b AS DOUBLE), 0.0))) AS ks_d
FROM cum, t
GROUP BY n_a, n_b
"""


QUERIES = {
    "qa1_null_profile": qa1_null_profile,
    "qa2_dup_keys": qa2_dup_keys,
    "qa3_referential": qa3_referential,
    "qa4_kmv_distinct": qa4_kmv_distinct,
    "qa5_exact_percentiles": qa5_exact_percentiles,
    "qa6_order_event_reconcile": qa6_order_event_reconcile,
    "qa7_value_histogram": qa7_value_histogram,
    "qa8_chisq_drift": qa8_chisq_drift,
    "qa9_cms_heavy_hitters": qa9_cms_heavy_hitters,
    "qa10_join_explosion": qa10_join_explosion,
    "qa11_fd_profile": qa11_fd_profile,
    "qa12_corr_profile": qa12_corr_profile,
    "qa20_grouped_regression": qa20_grouped_regression,
    "qa21_ks_distance": qa21_ks_distance,
}
ORACLES = {
    "qa1_null_profile": QA1_ORACLE,
    "qa2_dup_keys": QA2_ORACLE,
    "qa3_referential": QA3_ORACLE,
    "qa4_kmv_distinct": QA4_ORACLE,
    "qa5_exact_percentiles": QA5_ORACLE,
    "qa6_order_event_reconcile": QA6_ORACLE,
    "qa7_value_histogram": QA7_ORACLE,
    "qa8_chisq_drift": QA8_ORACLE,
    "qa9_cms_heavy_hitters": QA9_ORACLE,
    "qa10_join_explosion": QA10_ORACLE,
    "qa11_fd_profile": QA11_ORACLE,
    "qa12_corr_profile": QA12_ORACLE,
    "qa20_grouped_regression": QA20_ORACLE,
    "qa21_ks_distance": QA21_ORACLE,
}
