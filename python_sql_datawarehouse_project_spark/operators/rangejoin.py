"""Binned range join — equi-join on (key, time-bin) + exact range
filter, the scale formulation of temporal interval joins.

The reference engine expresses range predicates as theta joins the
optimizer brute-forces (SURVEY.md §2.3 P7); Spark likewise plans a
raw `key = key AND t BETWEEN lo AND hi` as an equi-join whose ONE
join group per key holds every event the key ever produced — a hot
key's group is unbounded.  Binning the time axis at the window width
and exploding each probe into the (at most two) bins its window
touches turns the join key into (key, bin):

  * candidates per probe are bounded by two bins of events, not the
    key's full history;
  * a hot key's events split across its time bins, so no single
    shuffle partition receives the whole key (temporal skew relief
    that AQE's skew-join split can also exploit);
  * the exact `[t0, t1)` predicate runs post-join on the bounded
    candidate set, inside codegen.

The bin width must equal the window span (one probe → ≤ 2 bins); a
narrower bin multiplies probe replicas, a wider one widens candidate
sets.  For mixed window lengths, bin at the p99 span and route the
tail through a second pass.

Gate rj1 is pre-purchase attribution: per purchase event, the
count/value of the same user's events in the hour before it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import VALUE_DEC, load_table

WINDOW_SEC = 3600


def rj1_preorder_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    probes = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
            F.expr(f"ts - INTERVAL {WINDOW_SEC} SECONDS").alias("w_lo"),
        )
        .select(
            "purchase_id",
            "user_id",
            "p_ts",
            "w_lo",
            F.explode(
                F.array_distinct(
                    F.array(
                        F.floor(F.unix_timestamp("w_lo") / WINDOW_SEC),
                        F.floor(F.unix_timestamp("p_ts") / WINDOW_SEC),
                    )
                )
            ).alias("bin"),
        )
    )
    hist = events.select(
        F.col("user_id").alias("e_user"),
        "ts",
        F.col("value").cast(VALUE_DEC).alias("value_dec"),
        F.floor(F.unix_timestamp("ts") / WINDOW_SEC).alias("bin"),
    )
    return (
        probes.join(
            hist,
            (probes["user_id"] == hist["e_user"])
            & (probes["bin"] == hist["bin"]),
        )
        .where((F.col("ts") >= F.col("w_lo")) & (F.col("ts") < F.col("p_ts")))
        .groupBy("purchase_id")
        .agg(
            F.count(F.lit(1)).alias("n_events_1h"),
            F.sum("value_dec").cast("double").alias("value_1h"),
        )
    )


RJ1_ORACLE = f"""
SELECT p.event_id AS purchase_id,
       COUNT(*) AS n_events_1h,
       CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS value_1h
FROM events p JOIN events e
  ON e.user_id = p.user_id
 AND e.ts >= p.ts - INTERVAL {WINDOW_SEC} SECONDS
 AND e.ts < p.ts
WHERE p.event_type = 'purchase'
GROUP BY 1
"""

# -- rj2: interval-interval overlap self-join -------------------------
#
# rj1 is point-in-window (each probe is an instant); rj2 is the harder
# interval x interval shape: two shipments of the same supplier whose
# transit intervals OVERLAP.  A naive theta self-join on supplier puts
# a supplier's entire history in one join group (quadratic in its line
# count); banding the time axis bounds candidates per group by the
# bucket's occupancy instead.
#
# Dedup-free banding: each interval explodes to every BUCKET_DAYS
# bucket it touches, and a qualifying pair is COUNTED EXACTLY ONCE at
# the bucket of max(start_a, start_b) — that day lies inside both
# intervals (they overlap), so both sides exploded into that bucket;
# requiring bin == bucket(max(starts)) picks one witness per pair with
# no DISTINCT afterwards.

BUCKET_DAYS = 7
RJ2_EPOCH = "1992-01-01"
# transit span in days: deterministic function of the line's quantity
_RJ2_SPAN = "CAST(FLOOR(l_quantity) AS BIGINT) % 7 + 1"


def rj2_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per supplier: number of pairs of its shipments whose transit
    intervals [shipdate, shipdate + span] overlap (closed intervals,
    span = floor(quantity) % 7 + 1 days).

    Scale: the exploded frame is <= 3x lineitem (span <= 8 days over
    7-day buckets); the join key (suppkey, bin) bounds every join
    group by one week of one supplier's shipments, so a hot supplier
    shards across its weeks instead of forming one quadratic group.
    The exact overlap predicate + witness-bucket filter run post-join
    inside codegen."""
    s_day = (
        F.datediff(F.col("l_shipdate").cast("date"), F.lit(RJ2_EPOCH))
        .cast("long")
    )
    iv = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("lid"),
        s_day.alias("s_day"),
        (s_day + F.expr(_RJ2_SPAN)).alias("e_day"),
    )
    # explode each interval into every bucket it touches
    ex = iv.select(
        "l_suppkey",
        "lid",
        "s_day",
        "e_day",
        F.explode(
            F.sequence(
                F.floor(F.col("s_day") / BUCKET_DAYS),
                F.floor(F.col("e_day") / BUCKET_DAYS),
            )
        ).alias("bin"),
    )
    a, b = ex.alias("a"), ex.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_suppkey") == F.col("b.l_suppkey"))
            & (F.col("a.bin") == F.col("b.bin"))
            & (F.col("a.lid") < F.col("b.lid")),
        )
        .where(
            (F.col("a.s_day") <= F.col("b.e_day"))
            & (F.col("b.s_day") <= F.col("a.e_day"))
            & (
                F.col("a.bin")
                == F.floor(
                    F.greatest(F.col("a.s_day"), F.col("b.s_day")) / BUCKET_DAYS
                )
            )
        )
    )
    return (
        pairs.groupBy(F.col("a.l_suppkey").alias("suppkey"))
        .agg(F.count(F.lit(1)).alias("n_overlap_pairs"))
    )


_RJ2_SPAN_SQL = _RJ2_SPAN  # identical text runs on DuckDB
RJ2_ORACLE = f"""
WITH iv AS (
    SELECT l_suppkey,
           l_orderkey * 8 + l_linenumber AS lid,
           CAST(datediff('day', DATE '{RJ2_EPOCH}',
                         CAST(l_shipdate AS DATE)) AS BIGINT) AS s_day,
           CAST(datediff('day', DATE '{RJ2_EPOCH}',
                         CAST(l_shipdate AS DATE)) AS BIGINT)
               + ({_RJ2_SPAN_SQL}) AS e_day
    FROM lineitem
)
SELECT a.l_suppkey AS suppkey, COUNT(*) AS n_overlap_pairs
FROM iv a JOIN iv b
  ON a.l_suppkey = b.l_suppkey
 AND a.lid < b.lid
 AND a.s_day <= b.e_day
 AND b.s_day <= a.e_day
GROUP BY 1
"""

QUERIES = {
    "rj1_preorder_attribution": rj1_preorder_attribution,
    "rj2_interval_overlap": rj2_interval_overlap,
}
ORACLES = {
    "rj1_preorder_attribution": RJ1_ORACLE,
    "rj2_interval_overlap": RJ2_ORACLE,
}
