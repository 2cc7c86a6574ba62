"""Salted two-stage aggregation — the skew escape hatch for
low-cardinality / hot-key groupBys.

`events` has FIVE event types: a plain `groupBy(event_type)` at
100 TB funnels the whole table through five reduce partitions no
matter how many executors exist.  (Map-side partial aggregation
thins the rows, but any per-key state that grows with the data —
distinct sets, large sums-of-states, collect buffers — still lands
on five machines.)  AQE's skew handling splits skewed JOIN
partitions, not aggregations, so the fix is structural:

  stage 1  groupBy(key, salt) — salt = hash(row-unique col) % B
           spreads each hot key over B reducers;
  stage 2  groupBy(key) merges the B partial states.

Only aggregates whose states merge EXACTLY survive the split:
counts, integer/decimal sums, min/max, or any monoid state.  Double
sums would re-order floating-point addition — route money through
DECIMAL (the repo-wide rule) and the two-stage result is bit-equal
to the one-stage plan, which is what the oracle (a plain one-stage
GROUP BY) certifies.

The salt must be DETERMINISTIC (hash of a stored column, never
rand()) so re-runs and speculative task retries agree; md5 of the
row's unique id is used here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import VALUE_DEC, load_table
from ..functions import hashing as H

SALT_BUCKETS = 16


def salted_agg(
    df: DataFrame, key: str, salt_src: str, buckets: int = SALT_BUCKETS
) -> DataFrame:
    """Two-stage count + decimal-sum of `value_dec` by `key`, salted
    on a deterministic hash of `salt_src`."""
    partial = (
        df.withColumn(
            "salt",
            F.pmod(H.md5_long(F.col(salt_src).cast("string")), F.lit(buckets)),
        )
        .groupBy(key, "salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum("value_dec").alias("pv"),
        )
    )
    return partial.groupBy(key).agg(
        F.sum("pn").alias("n_events"),
        F.sum("pv").cast("double").alias("total_value"),
    )


def sk1_salted_hot_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "value_dec", F.col("value").cast(VALUE_DEC)
    )
    return salted_agg(ev, key="event_type", salt_src="event_id")


SK1_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1
"""

# -- sk2: salted skew JOIN --------------------------------------------
def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_src: str,
    buckets: int = SALT_BUCKETS,
) -> DataFrame:
    """Hot-key JOIN spread: the fact side salts each row
    deterministically, the dim side replicates every row across all
    `buckets` salts, and the join runs on (key, salt) — a hot join
    key's rows land on `buckets` reducers instead of one.  The
    replication cost is |dim| x buckets, which is the right trade
    exactly when the dim is small relative to the skewed fact (the
    manual form of what AQE's skew-join split does at runtime; this
    operator is for engines/plans where AQE cannot see the skew, e.g.
    a skew concentrated INSIDE one partition-sized key).

    The salt never changes the join semantics: every fact row meets
    every dim row of its key exactly once (dim carries each salt
    once), certified by the plain-join oracle."""
    salted_fact = fact.withColumn(
        "salt",
        F.pmod(H.md5_long(F.col(salt_src).cast("string")), F.lit(buckets)),
    )
    salted_dim = dim.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
    )
    return salted_fact.join(salted_dim, [key, "salt"])


def sk2_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events joined to their user's customer row through the salted
    join, aggregated per market segment — result identical to the
    plain join (the oracle), plan spread over (key, salt)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("value_dec", F.col("value").cast(VALUE_DEC))
        .select(
            F.col("user_id").alias("c_custkey"), "event_id", "value_dec"
        )
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    j = salted_join(ev, cust, key="c_custkey", salt_src="event_id")
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value_dec").cast("double").alias("total_value"),
    )


SK2_ORACLE = """
SELECT c.c_mktsegment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
"""

QUERIES = {
    "sk1_salted_hot_key_agg": sk1_salted_hot_key_agg,
    "sk2_salted_skew_join": sk2_salted_skew_join,
}
ORACLES = {
    "sk1_salted_hot_key_agg": SK1_ORACLE,
    "sk2_salted_skew_join": SK2_ORACLE,
}
