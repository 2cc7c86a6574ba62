"""Event-time window operators over the `events` table
(ts/user_id/event_type/value/props) — batch forms of the streaming
shapes (SURVEY.md §2.9: the reference is strictly batch; these are the
BASELINE.json streaming extensions; streaming/ runs the same logic
under Structured Streaming with watermarks).

  ev1_tumbling_hourly   1 h tumbling windows per event_type
  ev2_sliding_windows   1 h windows sliding every 15 min
  ev3_session_windows   30 min gap sessionization per user
  ev4_props_json        JSON prop extraction + aggregate

Determinism: double SUMs are order-dependent, so `value` routes
through DECIMAL(18,6) on both engines (same trick as star.py's money
math) and is cast back to double only in the final projection.

Scale design: tumbling/sliding aggs are single-shuffle hash
aggregates keyed by (window, type) — at 100 TB the map-side partial
agg collapses each partition to one row per open window before the
exchange.  Sessionization shuffles once on user_id; Spark's
session_window merges map-side.  The sliding window multiplies rows
x4 BEFORE the partial agg (Spark's expand), still one exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table

VALUE_DEC = "DECIMAL(18,6)"
SESSION_GAP_MIN = 30


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


# -- ev2: sliding windows (1 h / 15 min) ------------------------------
def ev2_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
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


# An event at t belongs to the 4 slide-aligned windows starting at
# time_bucket(15min, t) - k*15min, k in 0..3 (window length 60 min).
EV2_ORACLE = """
SELECT
    time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes'
        AS window_start,
    event_type,
    COUNT(*) AS n_events,
    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events, (SELECT unnest(range(0, 4)) AS k)
GROUP BY 1, 2
"""


# -- ev3: session windows (30 min inactivity gap) ---------------------
def ev3_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value_dec").cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


# Gaps-and-islands: a new session starts when the gap from the
# previous event exceeds 30 min; Spark's session end = last ts + gap.
EV3_ORACLE = f"""
WITH flagged AS (
    SELECT user_id, event_id, ts, value,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL '{SESSION_GAP_MIN} minutes'
                OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
),
islands AS (
    SELECT user_id, ts, value,
           SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
    FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL '{SESSION_GAP_MIN} minutes' AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM islands
GROUP BY user_id, session_no
"""


# -- ev4: JSON props extraction --------------------------------------
def ev4_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("k").cast("long")).alias("sum_k"),
            F.countDistinct("k").alias("distinct_k"),
        )
    )


EV4_ORACLE = """
SELECT
    event_type,
    COUNT(*) AS n_events,
    CAST(SUM(CAST(CAST(json_extract(props, '$.k') AS VARCHAR) AS BIGINT))
        AS BIGINT) AS sum_k,
    COUNT(DISTINCT CAST(CAST(json_extract(props, '$.k') AS VARCHAR) AS INTEGER))
        AS distinct_k
FROM events
GROUP BY 1
"""

# -- ev5: ordered conversion funnel (view -> click -> purchase) ------
FUNNEL = ("view", "click", "purchase")


def ev5_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered funnel: first 'view', first 'click' STRICTLY
    after it, first 'purchase' strictly after that; stage = how far
    the user got (0-3).  The sequence constraint is what makes this a
    funnel rather than three independent MINs.

    Scale: three conditional MIN aggregations, each one hash shuffle
    on user_id — and after the first, every join/agg reuses the same
    user_id partitioning, so stages 2-3 are co-partitioned joins with
    no extra exchange of the events stream."""
    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts")
    users = ev.select("user_id").distinct()
    v = (
        ev.filter(F.col("event_type") == FUNNEL[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    c = (
        ev.filter(F.col("event_type") == FUNNEL[1])
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    p = (
        ev.filter(F.col("event_type") == FUNNEL[2])
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    stage = (
        F.when(F.col("first_purchase").isNotNull(), 3)
        .when(F.col("first_click").isNotNull(), 2)
        .when(F.col("first_view").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        users.join(v, "user_id", "left")
        .join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "first_view",
            "first_click",
            "first_purchase",
            stage.alias("stage"),
        )
    )


EV5_ORACLE = f"""
WITH v AS (
    SELECT user_id, MIN(ts) AS first_view
    FROM events WHERE event_type = '{FUNNEL[0]}' GROUP BY 1
),
c AS (
    SELECT e.user_id, MIN(e.ts) AS first_click
    FROM events e JOIN v ON e.user_id = v.user_id
    WHERE e.event_type = '{FUNNEL[1]}' AND e.ts > v.first_view
    GROUP BY 1
),
p AS (
    SELECT e.user_id, MIN(e.ts) AS first_purchase
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = '{FUNNEL[2]}' AND e.ts > c.first_click
    GROUP BY 1
),
u AS (SELECT DISTINCT user_id FROM events)
SELECT u.user_id, v.first_view, c.first_click, p.first_purchase,
       CASE WHEN p.first_purchase IS NOT NULL THEN 3
            WHEN c.first_click IS NOT NULL THEN 2
            WHEN v.first_view IS NOT NULL THEN 1
            ELSE 0 END AS stage
FROM u
LEFT JOIN v ON u.user_id = v.user_id
LEFT JOIN c ON u.user_id = c.user_id
LEFT JOIN p ON u.user_id = p.user_id
"""


# -- ev6: daily cohort retention --------------------------------------
def ev6_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort-retention matrix: users grouped by the day of
    their first event; for each (cohort day, day offset) the number of
    cohort members active that day and the retained fraction of the
    cohort.  Day grain because the test stream spans 30 days — the
    month/week variants are the same plan with a different trunc.

    Scale: one distinct on (user, day) and one MIN-agg on user — both
    single hash shuffles keyed by user_id, so the second reuses the
    first's partitioning; the (cohort, offset) roll-up exchanges only
    |users x active-days| rows, never raw events.  The ratio divides
    through DOUBLE on both engines (exact for these integer
    magnitudes)."""
    ev = load_table(spark, sf_dir, "events")
    # (user, day) distinct feeds both the cohort derivation and the
    # activity join; materialize the event-scan + distinct once
    # (shared-subplan rule, PERF.md §4).
    user_day = (
        ev.select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cohort = user_day.groupBy("user_id").agg(
        F.min("day").alias("cohort_day")
    )
    sizes = cohort.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    active = (
        user_day.join(cohort, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("day", F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("active_users"))
    )
    return active.join(sizes, "cohort_day").select(
        "cohort_day",
        "day_offset",
        "active_users",
        "cohort_size",
        (F.col("active_users").cast("double") / F.col("cohort_size")).alias(
            "retention"
        ),
    )


EV6_ORACLE = """
WITH user_day AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
    FROM events
),
cohort AS (
    SELECT user_id, MIN(day) AS cohort_day FROM user_day GROUP BY 1
),
sizes AS (
    SELECT cohort_day, COUNT(*) AS cohort_size FROM cohort GROUP BY 1
),
active AS (
    SELECT c.cohort_day,
           CAST(date_diff('day', c.cohort_day, ud.day) AS INT) AS day_offset,
           COUNT(DISTINCT ud.user_id) AS active_users
    FROM user_day ud JOIN cohort c ON ud.user_id = c.user_id
    GROUP BY 1, 2
)
SELECT a.cohort_day, a.day_offset, a.active_users, s.cohort_size,
       CAST(a.active_users AS DOUBLE) / s.cohort_size AS retention
FROM active a JOIN sizes s ON a.cohort_day = s.cohort_day
"""


# -- ev7: event-type transition matrix --------------------------------
def ev7_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: counts and conditional probabilities of event_type B
    immediately following A — the sequence-mining complement to ev5's
    fixed funnel (which paths actually happen, not just the one we
    ask about).

    Determinism: the LAG window orders by (ts, event_id) — a total
    order; ts alone ties under same-timestamp events and the previous
    type becomes engine-dependent.  p = one BIGINT/BIGINT division.
    Scale: one shuffle on user_id for the window (each user's
    sequence is processed within its partition), then two
    vocabulary-bounded aggs; the transition matrix is |types|^2
    rows."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev"),
    ).where(F.col("prev").isNotNull())
    cnt = t.groupBy(
        F.col("prev").alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n_transitions"))
    tot = cnt.groupBy("from_type").agg(
        F.sum("n_transitions").alias("n_from")
    )
    return cnt.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        "n_transitions",
        (F.col("n_transitions").cast("double") / F.col("n_from")).alias("p"),
    )


EV7_ORACLE = """
WITH t AS (
    SELECT user_id, event_type,
           LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev
    FROM events
),
cnt AS (
    SELECT prev AS from_type, event_type AS to_type,
           COUNT(*) AS n_transitions
    FROM t WHERE prev IS NOT NULL GROUP BY 1, 2
),
tot AS (
    SELECT from_type, CAST(SUM(n_transitions) AS BIGINT) AS n_from
    FROM cnt GROUP BY 1
)
SELECT c.from_type, c.to_type, c.n_transitions,
       CAST(c.n_transitions AS DOUBLE) / t2.n_from AS p
FROM cnt c JOIN tot t2 ON c.from_type = t2.from_type
"""


# -- ev8: rolling 7-day window over daily aggregates ------------------
ROLL_DAYS = 7
_EPOCH = "2024-01-01"  # day-number origin (any fixed date works)


def ev8_rolling_7day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type rolling 7-day totals: aggregate to daily grain
    first, then a RANGE frame (6 preceding days + current) over an
    integer day number — the standard trailing-window KPI.

    The RANGE frame is over a DAY NUMBER, not ROWS: a ROWS frame
    silently mis-windows whenever a day has no events (the frame
    would reach back 7 *rows* = more than 7 days).  Determinism: the
    daily roll-up is DECIMAL (order-independent), and the rolling
    re-aggregation sums <= 7 DECIMALs inside the frame — still exact;
    cast to DOUBLE only in the final projection.

    Scale: the window partitions by event_type over DAILY rows (365
    rows/type/year) — after the daily hash agg collapses the raw
    stream, the window input is tiny regardless of event volume."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("day"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value_dec").alias("day_value_d"),
    )
    daily = daily.withColumn(
        "day_num", F.datediff("day", F.lit(_EPOCH).cast("date"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_num")
        .rangeBetween(-(ROLL_DAYS - 1), 0)
    )
    return daily.select(
        "event_type",
        "day",
        "n_events",
        F.sum("n_events").over(w).alias("rolling_events"),
        F.sum("day_value_d").over(w).cast("double").alias("rolling_value"),
    )


EV8_ORACLE = f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           COUNT(*) AS n_events,
           SUM(CAST(value AS DECIMAL(18,6))) AS day_value_d,
           date_diff('day', DATE '{_EPOCH}', CAST(ts AS DATE)) AS day_num
    FROM events
    GROUP BY 1, 2, 5
)
SELECT event_type, day, n_events,
       CAST(SUM(n_events) OVER (
           PARTITION BY event_type ORDER BY day_num
           RANGE BETWEEN {ROLL_DAYS - 1} PRECEDING AND CURRENT ROW)
           AS BIGINT) AS rolling_events,
       CAST(SUM(day_value_d) OVER (
           PARTITION BY event_type ORDER BY day_num
           RANGE BETWEEN {ROLL_DAYS - 1} PRECEDING AND CURRENT ROW)
           AS DOUBLE) AS rolling_value
FROM daily
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


# -- ev10: inter-event gap histogram ----------------------------------
# Bin edges in MICROSECONDS: <1 min, 1-5 min, 5-30 min, 30-120 min,
# >= 2 h.  Gaps are computed in epoch-microseconds on BOTH engines:
# date_diff('second', ...) counts SECOND-BOUNDARY crossings in DuckDB
# while an epoch subtraction truncates — same sub-second gap, different
# integer — so the portable formulation never leaves integer micros.
GAP_EDGES_US = (60_000_000, 300_000_000, 1_800_000_000, 7_200_000_000)
GAP_LABELS = ("lt_1m", "1m_5m", "5m_30m", "30m_2h", "ge_2h")


def ev10_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of per-user inter-event gaps over fixed bins —
    the engagement-cadence profile (and the empirical input for
    choosing ev3's session gap).  One LAG window per user, then a
    bounded hash agg; bin edges are literals (qa7's cross-batch
    comparability argument)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts arrives TIMESTAMP_NTZ; the cast to TIMESTAMP applies the
    # session zone, but gaps are DIFFERENCES so a consistent offset
    # cancels — the binned micros match DuckDB's naive epoch_us.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = ev.select(
        (us - F.lag(us).over(w)).alias("gap_us")
    ).where(F.col("gap_us").isNotNull())
    bin_expr = F.lit(len(GAP_EDGES_US))
    for i, edge in reversed(list(enumerate(GAP_EDGES_US))):
        bin_expr = F.when(F.col("gap_us") < edge, i).otherwise(bin_expr)
    label = F.element_at(
        F.array(*[F.lit(s) for s in GAP_LABELS]), F.col("bin") + 1
    )
    return (
        gaps.select(bin_expr.cast("int").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_gaps"))
        .select("bin", label.alias("bin_label"), "n_gaps")
    )


def _ev10_oracle() -> str:
    case = "CASE "
    for i, edge in enumerate(GAP_EDGES_US):
        case += f"WHEN gap_us < {edge} THEN {i} "
    case += f"ELSE {len(GAP_EDGES_US)} END"
    labels = "[" + ", ".join(f"'{s}'" for s in GAP_LABELS) + "]"
    return f"""
WITH gaps AS (
    SELECT epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
    FROM events
),
binned AS (
    SELECT CAST({case} AS INT) AS bin
    FROM gaps WHERE gap_us IS NOT NULL
)
SELECT bin, {labels}[bin + 1] AS bin_label, COUNT(*) AS n_gaps
FROM binned GROUP BY 1
"""


EV10_ORACLE = _ev10_oracle()


# -- ev11: per-user hourly gap fill (time-series densification) ------
_HOUR_US = 3_600_000_000


def ev11_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-user hourly activity series: every hour between a
    user's first and last event carries a row, zero-filled where no
    events landed — the densification step a downstream
    forecaster/feature-window consumer needs (sparse event logs make
    lag features silently skip time).

    Hour buckets are exact integer epoch-hour arithmetic (the ev10
    epoch-micros trick, absolute this time — the session runs UTC so
    Spark's cast matches DuckDB's naive epoch_us).  The hour grid is
    generated per user with sequence+explode from the user's own
    (min, max) span — the Spark-native generate_series.

    Scale: counts and spans ride the same (user, hour)/(user) aggs;
    the grid explode is span-bounded per user and the final left
    join is (user, hour)-keyed hash join — skew-safe because grid
    rows are the per-user spans, not the event stream."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    hours = ev.select(
        "user_id",
        ((us - F.pmod(us, F.lit(_HOUR_US))) / F.lit(_HOUR_US))
        .cast("long")
        .alias("h"),
    )
    counts = hours.groupBy("user_id", "h").agg(
        F.count(F.lit(1)).alias("n")
    )
    span = counts.groupBy("user_id").agg(
        F.min("h").alias("a"), F.max("h").alias("b")
    )
    grid = span.select(
        "user_id",
        F.explode(F.sequence(F.col("a"), F.col("b"))).alias("h"),
    )
    return grid.join(counts, ["user_id", "h"], "left").select(
        "user_id",
        F.col("h").alias("hour_bucket"),
        F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n_events"),
    )


EV11_ORACLE = f"""
WITH hrs AS (
    SELECT user_id, epoch_us(ts) // {_HOUR_US} AS h FROM events
),
counts AS (
    SELECT user_id, h, COUNT(*) AS n FROM hrs GROUP BY 1, 2
),
span AS (
    SELECT user_id, MIN(h) AS a, MAX(h) AS b FROM counts GROUP BY 1
),
grid AS (
    SELECT user_id, unnest(range(a, b + 1)) AS h FROM span
)
SELECT g.user_id,
       CAST(g.h AS BIGINT) AS hour_bucket,
       COALESCE(c.n, 0) AS n_events
FROM grid g LEFT JOIN counts c ON g.user_id = c.user_id AND g.h = c.h
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
    """ev4's JSON extraction re-expressed over Spark's VARIANT type
    (parse_json once, then typed variant_get paths) — the modern
    schema-on-read route: the parse happens a single time per row
    into a binary-encoded value, every subsequent path access is a
    cheap typed probe instead of a re-parse of the JSON string, and
    the whole pipeline stays JVM-side/codegen.  At 100 TB the parse
    cost dominates string-path extraction when a query touches more
    than one field; VARIANT amortizes it to once per row (and a
    VARIANT-typed column in storage would amortize it to once ever).

    Output grain differs from ev4 (range + bucketed spread, not
    sum/distinct) so the two gates exercise different aggregates over
    the same semi-structured source."""
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


# -- ev14: per-user modal event type ---------------------------------
def ev14_mode_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's most frequent event type (deterministic tie-break:
    alphabetically first) — MODE as a two-level aggregate: per-
    (user, type) counts, then argmax via MIN over (-count, type)
    structs.  Same mergeable-aggregate trick as ev12's OHLC: no
    window, no per-user sort, map-side partial combine end to end."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    best = counts.groupBy("user_id").agg(
        F.min(
            F.struct(
                (-F.col("cnt")).alias("nc"), F.col("event_type").alias("et")
            )
        ).alias("b"),
        F.sum("cnt").cast("long").alias("n_events"),
    )
    return best.select(
        "user_id",
        F.col("b.et").alias("top_type"),
        (-F.col("b.nc")).alias("n_top"),
        "n_events",
    )


EV14_ORACLE = """
WITH c AS (
    SELECT user_id, event_type, COUNT(*) AS cnt
    FROM events GROUP BY 1, 2
),
r AS (
    SELECT user_id, event_type, cnt,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY cnt DESC, event_type ASC) AS rn,
           SUM(cnt) OVER (PARTITION BY user_id) AS n
    FROM c
)
SELECT user_id, event_type AS top_type,
       CAST(cnt AS BIGINT) AS n_top,
       CAST(n AS BIGINT) AS n_events
FROM r WHERE rn = 1
"""


# -- ev15: daily volume anomaly screen --------------------------------
EV15_Z = 1.5  # flags the tail ~7% of days at test SF — a real result set


def ev15_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days whose event volume is anomalous for their event type:
    |count - mean| > Z * stddev over that type's daily history — the
    pipeline-monitoring alarm (ingestion died / doubled).

    Determinism without float accumulation: daily counts are integers,
    so mean and variance come from EXACT integer sufficient statistics
    (n, Σx, Σx²) via var = (n·Σx² − (Σx)²)/n² — one fixed-shape double
    expression per type, identical on both engines, so the z-compare
    is engine-stable (the same qa12 sufficient-statistic trick).

    Scale: two hash aggregates (day-grain, then type-grain) + a
    broadcast join of the per-type stats back onto day rows — the
    day-grain table is bounded by days × types, not events."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"), F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n_events").cast("long").alias("sx"),
        F.sum(F.col("n_events") * F.col("n_events")).cast("long").alias("sxx"),
    )
    n = F.col("n_days").cast("double")
    mean = F.col("sx").cast("double") / n
    var = (
        n * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    ) / (n * n)
    stats = stats.select(
        "event_type", mean.alias("mean_daily"), F.sqrt(var).alias("sd_daily")
    )
    return (
        daily.join(F.broadcast(stats), "event_type")
        .where(
            F.abs(F.col("n_events").cast("double") - F.col("mean_daily"))
            > F.lit(EV15_Z) * F.col("sd_daily")
        )
        .select("event_type", "day", "n_events", "mean_daily", "sd_daily")
    )


EV15_ORACLE = f"""
WITH daily AS (
    SELECT event_type, date_trunc('day', ts) AS day,
           COUNT(*) AS n_events
    FROM events GROUP BY 1, 2
),
stats AS (
    SELECT event_type,
           CAST(SUM(n_events) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS mean_daily,
           sqrt((CAST(COUNT(*) AS DOUBLE)
                     * CAST(SUM(n_events * n_events) AS DOUBLE)
                 - CAST(SUM(n_events) AS DOUBLE)
                     * CAST(SUM(n_events) AS DOUBLE))
                / (CAST(COUNT(*) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)))
               AS sd_daily
    FROM daily GROUP BY 1
)
SELECT d.event_type, d.day, d.n_events, s.mean_daily, s.sd_daily
FROM daily d JOIN stats s ON d.event_type = s.event_type
WHERE ABS(CAST(d.n_events AS DOUBLE) - s.mean_daily)
      > {EV15_Z!r} * s.sd_daily
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

    The day spine comes from the EVENT days present (days with no
    events carry the prior cumulative value only in the gap-filled
    ev11 variant; here absent days are absent on both engines)."""
    from pyspark.sql import Window

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


# -- ev17: equi-width value histogram ---------------------------------
EV17_BINS = 20


def ev17_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of events.value against DATA-DERIVED
    bounds: one pass computes min/max (two pushed-down column stats,
    broadcast as a 1-row frame), a second bins every event —
    bin = floor((v - min) / width), max clamped into the last bin.

    Exactness: width is one double division of two exact doubles, the
    bin expression is the identical parse tree on both engines, and
    the clamp (LEAST with bins-1) pins the v = max edge.  The
    histogram aggregate is map-side combinable: the exchange carries
    at most EV17_BINS partial rows per task."""
    ev = _events(spark, sf_dir)
    bounds = ev.agg(
        F.min("value").alias("vmin"), F.max("value").alias("vmax")
    )
    # nullif guards the degenerate vmax == vmin table (all values
    # equal / single row): Spark ANSI raises DIVIDE_BY_ZERO where
    # DuckDB yields nan.  The degenerate bin is then assigned by an
    # EXPLICIT width-IS-NULL branch on both engines (everything in
    # bin 0) — relying on LEAST(NULL, k) would silently depend on
    # both engines sharing NULL-skipping LEAST semantics, which
    # DuckDB has changed across versions (round-6 ADVICE fix).
    width = F.nullif(
        (F.col("vmax") - F.col("vmin")) / F.lit(float(EV17_BINS)), F.lit(0.0)
    )
    binned = ev.crossJoin(F.broadcast(bounds)).select(
        F.when(width.isNull(), F.lit(0))
        .otherwise(
            F.least(
                F.floor((F.col("value") - F.col("vmin")) / width),
                F.lit(EV17_BINS - 1),
            )
        )
        .alias("bin"),
        "value",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("value").alias("bin_min"),
            F.max("value").alias("bin_max"),
        )
        .orderBy("bin")
    )


EV17_ORACLE = f"""
WITH bounds AS (
    SELECT vmin, vmax,
           nullif((vmax - vmin) / {float(EV17_BINS)!r}, 0.0) AS width
    FROM (SELECT MIN(value) AS vmin, MAX(value) AS vmax FROM events)
)
SELECT CASE WHEN width IS NULL THEN 0
            ELSE LEAST(CAST(floor((value - vmin) / width) AS BIGINT),
                       {EV17_BINS - 1})
       END AS bin,
       COUNT(*) AS n_events,
       MIN(value) AS bin_min,
       MAX(value) AS bin_max
FROM events, bounds
GROUP BY 1
ORDER BY bin
"""


# -- ev18: OHLC rollup cascade (day merged FROM hour) -----------------
def ev18_ohlc_daily_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC built by MERGING the hourly OHLC rollup — the
    hypertable continuous-aggregate cascade (raw -> hour -> day),
    proven against an oracle that computes the daily resample
    directly from raw events.

    The merge works because ev12's state is algebraic: open/close
    ride in MIN/MAX structs keyed by (ts, event_id), and min-of-mins
    = min, max-of-maxes = max, sum-of-counts = count — so the day
    grain re-aggregates 24 hour rows per (type, day) without touching
    raw points.  At 100 TB this is the load-bearing property: daily,
    weekly, monthly serve from the hour rollup (~|types| * 24 rows a
    day), never from the event store, and a late event folds into its
    hour partition and re-merges upward incrementally.

    Scale: two map-side-combinable aggregates back to back; Catalyst
    runs partial+final on each, and the second input is already
    rollup-sized."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(
        F.min(F.struct("ts", "event_id", "value")).alias("_f"),
        F.max(F.struct("ts", "event_id", "value")).alias("_l"),
        F.max("value").alias("high_value"),
        F.min("value").alias("low_value"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return (
        hourly.groupBy(
            F.date_trunc("day", F.col("w.start")).alias("day_start"),
            "event_type",
        )
        .agg(
            F.min("_f").alias("_f"),
            F.max("_l").alias("_l"),
            F.max("high_value").alias("high_value"),
            F.min("low_value").alias("low_value"),
            F.sum("n_events").alias("n_events"),
        )
        .select(
            "day_start",
            "event_type",
            F.col("_f.value").alias("open_value"),
            "high_value",
            "low_value",
            F.col("_l.value").alias("close_value"),
            "n_events",
        )
    )


EV18_ORACLE = """
WITH b AS (
    SELECT event_type, time_bucket(INTERVAL '1 day', ts) AS d,
           ts, event_id, value
    FROM events
), r AS (
    SELECT *,
           ROW_NUMBER() OVER (PARTITION BY event_type, d
                              ORDER BY ts ASC, event_id ASC) AS rn_a,
           ROW_NUMBER() OVER (PARTITION BY event_type, d
                              ORDER BY ts DESC, event_id DESC) AS rn_d
    FROM b
)
SELECT d AS day_start, event_type,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open_value,
       MAX(value) AS high_value,
       MIN(value) AS low_value,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close_value,
       COUNT(*) AS n_events
FROM r GROUP BY 1, 2
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


# -- ev20: daily growth accounting -----------------------------------
def ev20_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily user lifecycle (growth accounting): per day, how many
    active users are NEW (first day ever), RETAINED (also active the
    previous day), RESURRECTED (returning after a gap), and how many
    of a day's actives CHURN (skip the next day) — the standard
    DAU decomposition every growth team runs.  Day grain because the
    test events table spans one month; the classification is
    grain-generic (swap the date_trunc).

    Mechanics: activity collapses to distinct (user, day) rows;
    LAG/LEAD over each user's day sequence classify every active day
    and emit a churn marker at day+1 when the next activity skips it
    (bounded by the global max day so the open present is not counted
    as churn).  All arithmetic is integer day differences — exact.

    Scale: the dedup and the window both shuffle on user_id (one
    exchange, reused); the final aggregate is day-grain (bounded by
    the calendar, not the data); the global max day is a 1-row
    broadcast."""
    ev = load_table(spark, sf_dir, "events")
    am = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    mx = am.agg(F.max("d").alias("max_d"))
    w = Window.partitionBy("user_id").orderBy("d")
    flagged = (
        am.withColumn("prev_d", F.lag("d").over(w))
        .withColumn("next_d", F.lead("d").over(w))
        .crossJoin(F.broadcast(mx))
    )
    status = F.when(F.col("prev_d").isNull(), F.lit("new")).when(
        F.datediff("d", "prev_d") == 1, F.lit("retained")
    ).otherwise(F.lit("resurrected"))
    active = flagged.select(F.col("d").alias("day"), status.alias("s"))
    churn = (
        flagged.where(
            (F.col("d") < F.col("max_d"))
            & (
                F.col("next_d").isNull()
                | (F.datediff("next_d", "d") > 1)
            )
        )
        .select(F.date_add("d", 1).alias("day"), F.lit("churned").alias("s"))
    )
    return (
        active.unionByName(churn)
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("s") == "new", 1).otherwise(0)).alias("n_new"),
            F.sum(F.when(F.col("s") == "retained", 1).otherwise(0)).alias(
                "n_retained"
            ),
            F.sum(F.when(F.col("s") == "resurrected", 1).otherwise(0)).alias(
                "n_resurrected"
            ),
            F.sum(F.when(F.col("s") == "churned", 1).otherwise(0)).alias(
                "n_churned"
            ),
        )
    )


EV20_ORACLE = """
WITH am AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
    FROM events
),
mx AS (SELECT MAX(d) AS max_d FROM am),
flagged AS (
    SELECT user_id, d,
           LAG(d) OVER (PARTITION BY user_id ORDER BY d) AS prev_d,
           LEAD(d) OVER (PARTITION BY user_id ORDER BY d) AS next_d,
           max_d
    FROM am, mx
),
labeled AS (
    SELECT d AS day,
           CASE WHEN prev_d IS NULL THEN 'new'
                WHEN datediff('day', prev_d, d) = 1 THEN 'retained'
                ELSE 'resurrected' END AS s
    FROM flagged
    UNION ALL
    SELECT d + INTERVAL 1 DAY AS day, 'churned' AS s
    FROM flagged
    WHERE d < max_d AND (next_d IS NULL OR datediff('day', d, next_d) > 1)
)
SELECT CAST(day AS DATE) AS day,
       CAST(SUM(CASE WHEN s = 'new' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new,
       CAST(SUM(CASE WHEN s = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_retained,
       CAST(SUM(CASE WHEN s = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_resurrected,
       CAST(SUM(CASE WHEN s = 'churned' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_churned
FROM labeled
GROUP BY 1
"""


# -- ev21: rolling cross-metric correlation --------------------------
EV21_WIN_DAYS = 7


def ev21_rolling_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per day: the Pearson correlation between daily view volume and
    daily purchase volume over the trailing EV21_WIN_DAYS days — the
    rolling form of qa12's sufficient-statistic correlation, the
    metric-coupling monitor (views driving purchases decoupling is an
    incident signal).

    Determinism: the day grain collapses events to exact integer
    (x, y) counts; every windowed statistic (n, Σx, Σy, Σx², Σy²,
    Σxy) is an integer window SUM and the closed form is one fixed
    double tree per row (qa12's rule, windowed).  Degenerate windows
    (zero variance) yield NULL via an explicit guard on both engines.

    Scale: the rolling window runs over DAY rows — bounded by the
    calendar, not the data; the heavy lifting is the one
    map-side-combinable day aggregate before it.  The day window is a
    deliberate single partition of |days| rows (audited)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("y"),
    )
    w = Window.orderBy("d").rowsBetween(-(EV21_WIN_DAYS - 1), 0)
    st = daily.select(
        "d",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
    )
    n, sx, sy, sxx, syy, sxy = [
        F.col(c).cast("double") for c in ("n", "sx", "sy", "sxx", "syy", "sxy")
    ]
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    corr = F.when(
        (vx > 0) & (vy > 0),
        (n * sxy - sx * sy) / F.sqrt(vx * vy),
    )
    return st.select(
        "d", F.col("n").alias("n_days"), corr.alias("corr_view_purchase")
    )


EV21_ORACLE = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d,
           SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x,
           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
    FROM events GROUP BY 1
),
st AS (
    SELECT d,
           CAST(COUNT(*) OVER w AS BIGINT) AS n,
           CAST(SUM(x) OVER w AS BIGINT) AS sx,
           CAST(SUM(y) OVER w AS BIGINT) AS sy,
           CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
           CAST(SUM(y * y) OVER w AS BIGINT) AS syy,
           CAST(SUM(x * y) OVER w AS BIGINT) AS sxy
    FROM daily
    WINDOW w AS (ORDER BY d
                 ROWS BETWEEN {EV21_WIN_DAYS - 1} PRECEDING AND CURRENT ROW)
)
SELECT d, n AS n_days,
       CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
             AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
            THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       END AS corr_view_purchase
FROM st
"""


QUERIES = {
    "ev8_rolling_7day": ev8_rolling_7day,
    "ev1_tumbling_hourly": ev1_tumbling_hourly,
    "ev2_sliding_windows": ev2_sliding_windows,
    "ev3_session_windows": ev3_session_windows,
    "ev4_props_json": ev4_props_json,
    "ev5_funnel": ev5_funnel,
    "ev6_cohort_retention": ev6_cohort_retention,
    "ev7_transition_matrix": ev7_transition_matrix,
    "ev9_hourly_active_users": ev9_hourly_active_users,
    "ev10_gap_histogram": ev10_gap_histogram,
    "ev11_gap_fill": ev11_gap_fill,
    "ev12_ohlc_hourly": ev12_ohlc_hourly,
    "ev13_props_variant": ev13_props_variant,
    "ev14_mode_event_type": ev14_mode_event_type,
    "ev15_daily_anomaly": ev15_daily_anomaly,
    "ev16_cumulative_users": ev16_cumulative_users,
    "ev17_value_histogram": ev17_value_histogram,
    "ev18_ohlc_daily_cascade": ev18_ohlc_daily_cascade,
    "ev19_decayed_engagement": ev19_decayed_engagement,
    "ev20_growth_accounting": ev20_growth_accounting,
    "ev21_rolling_correlation": ev21_rolling_correlation,
}
ORACLES = {
    "ev1_tumbling_hourly": EV1_ORACLE,
    "ev2_sliding_windows": EV2_ORACLE,
    "ev3_session_windows": EV3_ORACLE,
    "ev4_props_json": EV4_ORACLE,
    "ev5_funnel": EV5_ORACLE,
    "ev6_cohort_retention": EV6_ORACLE,
    "ev7_transition_matrix": EV7_ORACLE,
    "ev8_rolling_7day": EV8_ORACLE,
    "ev9_hourly_active_users": EV9_ORACLE,
    "ev10_gap_histogram": EV10_ORACLE,
    "ev11_gap_fill": EV11_ORACLE,
    "ev12_ohlc_hourly": EV12_ORACLE,
    "ev13_props_variant": EV13_ORACLE,
    "ev14_mode_event_type": EV14_ORACLE,
    "ev15_daily_anomaly": EV15_ORACLE,
    "ev16_cumulative_users": EV16_ORACLE,
    "ev17_value_histogram": EV17_ORACLE,
    "ev18_ohlc_daily_cascade": EV18_ORACLE,
    "ev19_decayed_engagement": EV19_ORACLE,
    "ev20_growth_accounting": EV20_ORACLE,
    "ev21_rolling_correlation": EV21_ORACLE,
}
