"""Event-time batch operators over the `events` table
(ts/user_id/event_type/value/props).  SURVEY.md §2.9: the reference is
strictly batch and has no event-time windows; these gates are the
event-analytics extension kept beside the warehouse surface.

  ev1_tumbling_hourly      1 h tumbling windows per event_type
  ev9_hourly_active_users  windowed COUNT DISTINCT, distinct-then-count
  ev12_ohlc_hourly         hourly OHLC resample, one aggregate
  ev13_props_variant       VARIANT semi-structured profile
  ev16_cumulative_users    distinct users to date, window over days
  ev19_decayed_engagement  exponentially decayed per-user score

Determinism: double SUMs are order-dependent, so `value` routes
through DECIMAL(18,6) on both engines (same trick as star.py's money
math) and is cast back to double only in the final projection.

Scale design: every gate is one or two map-side-combinable hash
aggregates keyed by (window, type), (hour, user) or user; the only
window (ev16) runs over day-grain rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import VALUE_DEC, load_table


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").withColumn(
        "value_dec", F.col("value").cast(VALUE_DEC)
    )


# -- ev1: tumbling hourly windows ------------------------------------
def ev1_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value_dec").cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


EV1_ORACLE = """
SELECT
    time_bucket(INTERVAL '1 hour', ts) AS window_start,
    event_type,
    COUNT(*) AS n_events,
    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


# -- ev9: hourly active users (windowed COUNT DISTINCT) ---------------
def ev9_hourly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-user counts per hour — the DAU/HAU metric, i.e. COUNT
    DISTINCT inside time windows.  Formulated as distinct-then-count:
    first reduce to distinct (hour, user) pairs (map-side combinable,
    the dedup happens before the exchange), then a plain count per
    hour.  The single-step COUNT(DISTINCT) formulation plans an
    Expand that carries every raw event through the shuffle; at
    stream scale the two-step is the difference between exchanging
    |hours x users| and |events| rows.  qa4's KMV is the sketch
    alternative when exact distincts stop being worth it."""
    ev = load_table(spark, sf_dir, "events")
    hu = ev.select(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "user_id"
    ).distinct()
    return hu.groupBy("hour").agg(
        F.count(F.lit(1)).alias("active_users")
    )


EV9_ORACLE = """
WITH hu AS (
    SELECT DISTINCT date_trunc('hour', ts) AS hour, user_id FROM events
)
SELECT hour, COUNT(*) AS active_users
FROM hu GROUP BY 1
"""


# -- ev12: hourly OHLC resample --------------------------------------
def ev12_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, hour) OHLC downsample: open/close = value of
    the first/last event in the bucket, high/low = extremes — the
    classic time-series resample a metrics warehouse serves from a
    rollup instead of raw points.

    open/close use a single MIN/MAX over (ts, event_id, value)
    structs: event_id makes the order total, so "first" is
    deterministic under ties, and the whole thing stays one
    map-side-combinable aggregate — no window, no second shuffle (the
    ROW_NUMBER formulation sorts every bucket; this one keeps 2
    struct extremes per partition).  high/low are plain double
    comparisons (no float summation anywhere)."""
    ev = load_table(spark, sf_dir, "events")
    first = F.min(F.struct("ts", "event_id", "value")).alias("_f")
    last = F.max(F.struct("ts", "event_id", "value")).alias("_l")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            first,
            last,
            F.max("value").alias("high_value"),
            F.min("value").alias("low_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            F.col("_f.value").alias("open_value"),
            "high_value",
            "low_value",
            F.col("_l.value").alias("close_value"),
            "n_events",
        )
    )


EV12_ORACLE = """
WITH b AS (
    SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h,
           ts, event_id, value
    FROM events
), r AS (
    SELECT *,
           ROW_NUMBER() OVER (PARTITION BY event_type, h
                              ORDER BY ts ASC, event_id ASC) AS rn_a,
           ROW_NUMBER() OVER (PARTITION BY event_type, h
                              ORDER BY ts DESC, event_id DESC) AS rn_d
    FROM b
)
SELECT h AS window_start, event_type,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open_value,
       MAX(value) AS high_value,
       MIN(value) AS low_value,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close_value,
       COUNT(*) AS n_events
FROM r GROUP BY 1, 2
"""


# -- ev13: VARIANT semi-structured profile ---------------------------
def ev13_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON prop extraction over Spark's VARIANT type
    (parse_json once, then typed variant_get paths) — the modern
    schema-on-read route: the parse happens a single time per row
    into a binary-encoded value, every subsequent path access is a
    cheap typed probe instead of a re-parse of the JSON string, and
    the whole pipeline stays JVM-side/codegen.  At 100 TB the parse
    cost dominates string-path extraction when a query touches more
    than one field; VARIANT amortizes it to once per row (and a
    VARIANT-typed column in storage would amortize it to once ever)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type", (F.col("k") - F.col("k") % 10).alias("k_decile"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


EV13_ORACLE = """
SELECT event_type,
       k - k % 10 AS k_decile,
       COUNT(*) AS n_events,
       MIN(k) AS min_k,
       MAX(k) AS max_k
FROM (
    SELECT event_type,
           CAST(CAST(json_extract(props, '$.k') AS VARCHAR) AS INTEGER) AS k
    FROM events
)
GROUP BY 1, 2
"""


# -- ev16: cumulative distinct users to date --------------------------
def ev16_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users seen up to and including each day — the
    "registered/active-to-date" growth curve.

    The naive formulation (COUNT(DISTINCT user) OVER (ORDER BY day))
    holds per-day distinct state O(days x users); the decorrelated
    form is exact and scan-shaped: each user's FIRST-SEEN day (one
    hash aggregate), daily first-seen counts (a second, tiny
    aggregate), then a running sum over |days| rows — the only window
    runs over days, never events or users.  This is the standard
    distinct-to-date decorrelation every event warehouse needs.

    The day spine comes from the EVENT days present: days with no
    events are absent on both engines."""
    ev = _events(spark, sf_dir)
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("first_day")
    )
    new_per_day = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    days = (
        ev.select(F.date_trunc("day", F.col("ts")).alias("day"))
        .distinct()
    )
    per_day = days.join(new_per_day, "day", "left").select(
        "day", F.coalesce(F.col("new_users"), F.lit(0)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        "day",
        F.col("new_users").cast("long").alias("new_users"),
        F.sum("new_users").over(w).cast("long").alias("users_to_date"),
    )


EV16_ORACLE = """
WITH first_seen AS (
    SELECT user_id, DATE_TRUNC('day', MIN(ts)) AS first_day
    FROM events GROUP BY user_id
),
new_per_day AS (
    SELECT first_day AS day, COUNT(*) AS new_users
    FROM first_seen GROUP BY 1
),
days AS (SELECT DISTINCT DATE_TRUNC('day', ts) AS day FROM events)
SELECT d.day,
       CAST(COALESCE(n.new_users, 0) AS BIGINT) AS new_users,
       CAST(SUM(COALESCE(n.new_users, 0)) OVER (
           ORDER BY d.day ROWS BETWEEN UNBOUNDED PRECEDING
           AND CURRENT ROW) AS BIGINT) AS users_to_date
FROM days d LEFT JOIN new_per_day n ON d.day = n.day
"""


# -- ev19: exponentially decayed engagement score ---------------------
EV19_HORIZON_DAYS = 30  # weights below 2^-30 (~1e-9) are exactly zero


def ev19_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user recency-weighted activity: each event contributes
    2^(-age_days) with a 1-day half-life relative to the newest event
    in the table (data-derived NOW, broadcast as a 1-row frame);
    events older than EV19_HORIZON_DAYS contribute exactly 0 — the
    engagement feature a ranking pipeline recomputes daily.

    Determinism: a naive SUM(pow(0.5, age)) accumulates doubles in
    partition order and can never hash-match across engines, and the
    first cut of this gate (integer-scaled weights 2^(H - age) summed
    in int64) overflowed at 16 same-day events under ANSI mode — the
    weights span the whole int64 range, so the headroom is tiny.  The
    overflow-proof form: ONE aggregate of H+1 conditional COUNTS (one
    per age bucket — exact int64, order-free, each bounded by the
    user's event count), then the score is a FIXED 31-term expression
    tree sum(c_k * 2^-k) in canonical k order: counts convert to
    double exactly, each product scales by a power of two (exact),
    and both engines evaluate the identical tree.

    Scale: one broadcast of the 1-row max-ts frame; one map-side
    combinable per-user aggregate whose state is 31 longs (a fixed-
    width decay sketch — mergeable across partitions and days)."""
    ev = load_table(spark, sf_dir, "events")
    now = ev.agg(F.max(F.to_date("ts")).alias("now_day"))
    age = F.datediff(F.col("now_day"), F.to_date("ts"))
    counts = [
        F.sum(F.when(age == k, 1).otherwise(0)).alias(f"c{k}")
        for k in range(EV19_HORIZON_DAYS + 1)
    ]
    grouped = (
        ev.crossJoin(F.broadcast(now)).groupBy("user_id").agg(*counts)
    )
    score = F.col("c0").cast("double") * F.lit(1.0)
    n_recent = F.col("c0")
    for k in range(1, EV19_HORIZON_DAYS + 1):
        score = score + F.col(f"c{k}").cast("double") * F.lit(0.5**k)
        n_recent = n_recent + F.col(f"c{k}")
    return grouped.select(
        "user_id",
        score.alias("decayed_score"),
        n_recent.cast("long").alias("n_recent_events"),
    )


def _ev19_sql() -> str:
    ks = range(EV19_HORIZON_DAYS + 1)
    cnt = ", ".join(
        f"CAST(SUM(CASE WHEN age = {k} THEN 1 ELSE 0 END) AS BIGINT) AS c{k}"
        for k in ks
    )
    score = " + ".join(f"CAST(c{k} AS DOUBLE) * {0.5**k!r}" for k in ks)
    n = " + ".join(f"c{k}" for k in ks)
    return f"""
WITH now_t AS (SELECT MAX(CAST(ts AS DATE)) AS now_day FROM events),
aged AS (
    SELECT user_id,
           datediff('day', CAST(ts AS DATE), now_day) AS age
    FROM events, now_t
),
bucketed AS (
    SELECT user_id, {cnt}
    FROM aged GROUP BY 1
)
SELECT user_id,
       {score} AS decayed_score,
       CAST({n} AS BIGINT) AS n_recent_events
FROM bucketed
"""


EV19_ORACLE = _ev19_sql()


QUERIES = {
    "ev1_tumbling_hourly": ev1_tumbling_hourly,
    "ev9_hourly_active_users": ev9_hourly_active_users,
    "ev12_ohlc_hourly": ev12_ohlc_hourly,
    "ev13_props_variant": ev13_props_variant,
    "ev16_cumulative_users": ev16_cumulative_users,
    "ev19_decayed_engagement": ev19_decayed_engagement,
}
ORACLES = {
    "ev1_tumbling_hourly": EV1_ORACLE,
    "ev9_hourly_active_users": EV9_ORACLE,
    "ev12_ohlc_hourly": EV12_ORACLE,
    "ev13_props_variant": EV13_ORACLE,
    "ev16_cumulative_users": EV16_ORACLE,
    "ev19_decayed_engagement": EV19_ORACLE,
}
