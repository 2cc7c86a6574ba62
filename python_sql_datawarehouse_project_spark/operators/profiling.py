"""Statistical data-profiling operators (BASELINE.json quality
extensions beyond qa1-qa12; the reference's profiling surface is its
EDA notebook aggregates, SURVEY.md §3.3).

  qa13_benford_digits   first-significant-digit distribution of the
                        money column vs Benford's law — the classic
                        fabricated/synthetic-data smell test
  tx12_commonness       per-document mean corpus-frequency of its
                        tokens — the rational (log-free) analogue of
                        a unigram-LM quality score (CCNet-class
                        filtering signal)
  qa14_kmv_set_ops      distinct-set UNION/INTERSECTION estimated by
                        MERGING two KMV sketches — the mergeability
                        property that lets per-partition sketches
                        roll up without re-reading raw data

Portability: qa13 never formats a DOUBLE as a string (engine-
dependent) and never takes log10 of data (libm-dependent at bin
boundaries) — the money value becomes exact integer cents via
floor(x*100 + 0.5), integer->string is exact on both engines, and
the Benford expected shares are PYTHON literal doubles shared by
both sides.  tx12 is integer counts + one final double division —
the tx5 rational-idf lesson applied again.

Scale notes: qa13 is one scan + a 9-row aggregate (the window total
rides the agg output, not the fact stream).  tx12's frequency table
is vocab-sized; the probe join broadcasts it (plan: one explode, one
broadcast hash join, one doc-keyed agg).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import hashing as H
from .text import _sql_tokens, _tokens

# Benford expected share per first digit, as shared literals.
BENFORD = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def qa13_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit histogram of o_totalprice against Benford's law.

    digit = first character of the exact integer cents — substring of
    an INT64's decimal rendering, which (unlike double formatting) is
    engine-identical.  Expected counts multiply the shared literal
    shares by the total, so expected/excess are bitwise comparable."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    counts = (
        orders.select(digit.alias("digit"))
        .where(F.col("digit") >= 1)  # zero/negative totals: no first digit
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    total = F.sum("n_obs").over(Window.partitionBy())
    expected = F.lit(0.0)
    for d, p in BENFORD.items():
        expected = F.when(F.col("digit") == d, F.lit(p)).otherwise(expected)
    return counts.select(
        "digit",
        "n_obs",
        (total.cast("double") * expected).alias("expected"),
        (F.col("n_obs").cast("double") - total.cast("double") * expected).alias(
            "excess"
        ),
    )


def _qa13_oracle() -> str:
    cases = " ".join(
        f"WHEN digit = {d} THEN {p!r}" for d, p in BENFORD.items()
    )
    return f"""
WITH counts AS (
    SELECT digit, COUNT(*) AS n_obs
    FROM (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5)
                                     AS BIGINT) AS VARCHAR), 1, 1)
                    AS INT) AS digit
        FROM orders
    )
    WHERE digit >= 1
    GROUP BY digit
)
SELECT digit, n_obs,
       CAST(SUM(n_obs) OVER () AS DOUBLE)
           * (CASE {cases} ELSE 0.0 END) AS expected,
       CAST(n_obs AS DOUBLE)
           - CAST(SUM(n_obs) OVER () AS DOUBLE)
             * (CASE {cases} ELSE 0.0 END) AS excess
FROM counts
"""


def tx12_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean corpus-frequency of each document's tokens: documents of
    common words score high, documents of rare/garbled tokens score
    low — the unigram-LM filtering signal without the log (rational
    arithmetic keeps it bitwise cross-engine, the tx5 idf trade).

    Two passes over the token stream: corpus term counts (vocab-sized
    result), then a broadcast re-join onto the exploded tokens and a
    per-doc rollup.  Token multiplicity counts on both passes — a
    doc repeating one common word scores that word each time."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    return (
        toks.join(F.broadcast(freq), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("tf").cast("long").alias("freq_mass"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "freq_mass",
            (
                F.col("freq_mass").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("mean_token_freq"),
        )
    )


TX12_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, unnest({_sql_tokens('text')}) AS tok FROM documents
),
freq AS (
    SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok
)
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(f.tf) AS BIGINT) AS freq_mass,
       CAST(SUM(f.tf) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
           AS mean_token_freq
FROM toks t JOIN freq f ON t.tok = f.tok
GROUP BY t.doc_id
"""


# -- qa14: KMV sketch set operations ----------------------------------
def qa14_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-customer UNION and INTERSECTION across two years,
    estimated from MERGED KMV sketches — the property that makes a
    sketch a warehouse primitive: min-K(A ∪ B) is computable from
    min-K(A) and min-K(B) alone, so per-partition/per-day sketches
    combine into any rollup without touching raw data again.  The
    intersection uses the standard Jaccard route: ρ = |merged K-set
    present in both sketches| / K, est∩ = ρ · est∪.

    The gate carries the exact union/intersection alongside (the u3
    INTERSECT gate's star twin) to exhibit estimate quality; at 100 TB
    only the K-row sketches move — the truth branch is the thing the
    sketch exists to avoid.

    Determinism: integer MIN-K + COUNT everywhere; the two estimates
    are each a fixed-order chain of exactly-representable double ops
    (same rationale as qa4)."""
    from .quality import KMV_K, _POW60

    orders = load_table(spark, sf_dir, "orders")

    def year_hashes(y: int) -> DataFrame:
        return (
            orders.where(F.year(F.col("o_orderdate").cast("date")) == y)
            .select(H.md5_long(F.col("o_custkey").cast("string")).alias("h"))
            .distinct()
        )

    a, b = year_hashes(1995), year_hashes(1996)
    ka = a.orderBy("h").limit(KMV_K)
    kb = b.orderBy("h").limit(KMV_K)
    merged = ka.union(kb).distinct().orderBy("h").limit(KMV_K)
    msk = merged.agg(
        F.count(F.lit(1)).alias("k_used"), F.max("h").alias("kth_hash")
    )
    both = (
        merged.join(ka.withColumnRenamed("h", "ha"), F.col("h") == F.col("ha"))
        .join(kb.withColumnRenamed("h", "hb"), F.col("h") == F.col("hb"))
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    truth_u = a.union(b).distinct().agg(
        F.count(F.lit(1)).alias("true_union")
    )
    truth_i = a.intersect(b).agg(
        F.count(F.lit(1)).alias("true_intersection")
    )
    est_u = F.when(
        F.col("k_used") < KMV_K, F.col("k_used").cast("double")
    ).otherwise(
        (F.col("k_used") - 1).cast("double")
        * F.lit(_POW60)
        / F.col("kth_hash").cast("double")
    )
    # nullif guards the empty-input sketch (k_used = 0): Spark ANSI
    # raises DIVIDE_BY_ZERO where DuckDB yields inf/nan — NULL on both
    # engines instead (found by the round-5 empty-input sweep).
    jac = F.col("n_both").cast("double") / F.nullif(
        F.col("k_used").cast("double"), F.lit(0.0)
    )
    return (
        msk.crossJoin(F.broadcast(both))
        .crossJoin(F.broadcast(truth_u))
        .crossJoin(F.broadcast(truth_i))
        .select(
            "k_used",
            "kth_hash",
            "n_both",
            est_u.alias("est_union"),
            (jac * est_u).alias("est_intersection"),
            "true_union",
            "true_intersection",
        )
    )


def _qa14_oracle() -> str:
    from .quality import KMV_K, _POW60

    h = H.sql_md5_long("CAST(o_custkey AS VARCHAR)")
    est = (
        f"CASE WHEN k_used < {KMV_K} THEN CAST(k_used AS DOUBLE) "
        f"ELSE CAST(k_used - 1 AS DOUBLE) * {_POW60!r} "
        f"/ CAST(kth_hash AS DOUBLE) END"
    )
    return f"""
WITH a AS (
    SELECT DISTINCT {h} AS h FROM orders
    WHERE EXTRACT(year FROM CAST(o_orderdate AS DATE)) = 1995
),
b AS (
    SELECT DISTINCT {h} AS h FROM orders
    WHERE EXTRACT(year FROM CAST(o_orderdate AS DATE)) = 1996
),
ka AS (SELECT h FROM a ORDER BY h LIMIT {KMV_K}),
kb AS (SELECT h FROM b ORDER BY h LIMIT {KMV_K}),
merged AS (
    SELECT DISTINCT h FROM (SELECT h FROM ka UNION ALL SELECT h FROM kb)
    ORDER BY h LIMIT {KMV_K}
),
msk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_used, MAX(h) AS kth_hash
        FROM merged),
bo AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_both
       FROM merged m JOIN ka ON m.h = ka.h JOIN kb ON m.h = kb.h),
tu AS (SELECT CAST(COUNT(*) AS BIGINT) AS true_union
       FROM (SELECT h FROM a UNION SELECT h FROM b)),
ti AS (SELECT CAST(COUNT(*) AS BIGINT) AS true_intersection
       FROM (SELECT h FROM a INTERSECT SELECT h FROM b))
SELECT k_used, kth_hash, n_both,
       {est} AS est_union,
       (CAST(n_both AS DOUBLE) / nullif(CAST(k_used AS DOUBLE), 0.0))
           * ({est}) AS est_intersection,
       true_union, true_intersection
FROM msk, bo, tu, ti
"""


# -- qa16: robust MAD outlier screen ----------------------------------
QA16_K = 5.0


def qa16_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier count on the money column: median absolute
    deviation, the screen that (unlike mean/stddev z-scores) a few
    extreme rows cannot drag toward themselves.  Flags rows with
    |x - median| > K * MAD.

    Both medians are exact nearest-rank via qa5's distinct-value
    cumulative-count trick — the shuffle is bounded by distinct
    VALUES, never rows — and each rides back onto the scan as a
    broadcast 1-row aggregate.  |x - m| is one subtraction + abs:
    bitwise cross-engine."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")

    def nearest_rank_median(df: DataFrame, col: str, out: str) -> DataFrame:
        counts = df.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        wc = Window.orderBy(col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        wn = Window.partitionBy()
        cum = counts.withColumn("cum", F.sum("cnt").over(wc)).withColumn(
            "n", F.sum("cnt").over(wn)
        )
        target = F.ceil(F.lit(0.5) * F.col("n"))
        return cum.agg(
            F.min(F.when(F.col("cum") >= target, F.col(col))).alias(out)
        )

    med = nearest_rank_median(orders, "o_totalprice", "median")
    devs = orders.crossJoin(F.broadcast(med)).select(
        F.abs(F.col("o_totalprice") - F.col("median")).alias("d")
    )
    mad = nearest_rank_median(devs, "d", "mad")
    flagged = F.when(
        F.abs(F.col("o_totalprice") - F.col("median"))
        > F.lit(QA16_K) * F.col("mad"),
        1,
    ).otherwise(0)
    return (
        orders.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max("median").alias("median"),
            F.max("mad").alias("mad"),
            F.sum(flagged).cast("long").alias("n_outliers"),
        )
    )


def _qa16_oracle() -> str:
    med_cte = """
counts AS (SELECT o_totalprice AS v, COUNT(*) AS cnt FROM orders GROUP BY 1),
cum AS (
    SELECT v, SUM(cnt) OVER (ORDER BY v
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        SUM(cnt) OVER () AS n
    FROM counts
),
med AS (SELECT MIN(CASE WHEN cum >= CEIL(0.5 * n) THEN v END) AS median
        FROM cum),
devs AS (SELECT ABS(o_totalprice - (SELECT median FROM med)) AS d
         FROM orders),
dcounts AS (SELECT d, COUNT(*) AS cnt FROM devs GROUP BY 1),
dcum AS (
    SELECT d, SUM(cnt) OVER (ORDER BY d
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        SUM(cnt) OVER () AS n
    FROM dcounts
),
madt AS (SELECT MIN(CASE WHEN cum >= CEIL(0.5 * n) THEN d END) AS mad
         FROM dcum)"""
    return f"""
WITH {med_cte}
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       (SELECT median FROM med) AS median,
       (SELECT mad FROM madt) AS mad,
       CAST(SUM(CASE WHEN ABS(o_totalprice - (SELECT median FROM med))
                          > {QA16_K!r} * (SELECT mad FROM madt)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM orders
"""


# -- qa17: completeness drift over time -------------------------------
def qa17_null_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily null/blank rate of the quality-relevant events columns
    — completeness DRIFT, the signal qa1's one-shot profile cannot
    see (a feed that silently stopped populating props three weeks
    ago looks fine in a whole-table null rate).

    One scan, month-grain aggregate: counts are exact integers, the
    rates one double division each."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    n = F.count(F.lit(1))
    null_props = F.sum(
        F.when(
            F.col("props").isNull() | (F.col("props") == ""), 1
        ).otherwise(0)
    )
    null_value = F.sum(
        F.when(F.col("value").isNull(), 1).otherwise(0)
    )
    return (
        ev.groupBy(day)
        .agg(
            n.alias("n_events"),
            null_props.cast("long").alias("n_null_props"),
            null_value.cast("long").alias("n_null_value"),
        )
        .select(
            "day",
            "n_events",
            "n_null_props",
            "n_null_value",
            (
                F.col("n_null_props").cast("double")
                / F.col("n_events").cast("double")
            ).alias("props_null_rate"),
            (
                F.col("n_null_value").cast("double")
                / F.col("n_events").cast("double")
            ).alias("value_null_rate"),
        )
    )


QA17_ORACLE = """
SELECT date_trunc('day', ts) AS day,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN props IS NULL OR props = '' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_null_props,
       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_null_value,
       CAST(SUM(CASE WHEN props IS NULL OR props = '' THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS props_null_rate,
       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS value_null_rate
FROM events
GROUP BY 1
"""


# -- qa19: one-pass NDV / ANALYZE-style table stats -------------------
QA19_NDV_COLS = (
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_returnflag",
    "l_linestatus",
)


def qa19_ndv_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style table statistics in ONE pass: exact distinct
    cardinality for five lineitem columns plus row count and the
    quantity range — the numbers a cost-based optimizer (and a human
    sizing a join) needs per table.

    Multiple COUNT(DISTINCT)s in one aggregate plan via Expand: Spark
    replicates each input row once per distinct-column (x5 here) with
    a grouping id, then ONE partial-aggregate pipeline computes every
    cardinality — one scan, one shuffle of expanded partials, no
    per-column job (plan-pinned: Expand present, lineitem scanned
    once).  Exact NDV beats approx_count_distinct here because the
    oracle must hash-match; the approx path's sketch is engine-
    specific by construction.  At 100 TB the same shape holds —
    Expand multiplies the MAP-side rows only; partial aggregation
    collapses them before the exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [
        F.countDistinct(c).alias(f"ndv_{c}") for c in QA19_NDV_COLS
    ]
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *aggs,
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


_QA19_NDV_SQL = ",\n       ".join(
    f"COUNT(DISTINCT {c}) AS ndv_{c}" for c in QA19_NDV_COLS
)
QA19_ORACLE = f"""
SELECT COUNT(*) AS n_rows,
       {_QA19_NDV_SQL},
       MIN(l_quantity) AS min_qty,
       MAX(l_quantity) AS max_qty
FROM lineitem
"""


QUERIES = {
    "qa13_benford_digits": qa13_benford_digits,
    "tx12_commonness": tx12_commonness,
    "qa14_kmv_set_ops": qa14_kmv_set_ops,
    "qa16_mad_outliers": qa16_mad_outliers,
    "qa17_null_drift": qa17_null_drift,
    "qa19_ndv_profile": qa19_ndv_profile,
}
ORACLES = {
    "qa13_benford_digits": _qa13_oracle(),
    "tx12_commonness": TX12_ORACLE,
    "qa14_kmv_set_ops": _qa14_oracle(),
    "qa16_mad_outliers": _qa16_oracle(),
    "qa17_null_drift": QA17_ORACLE,
    "qa19_ndv_profile": QA19_ORACLE,
}
