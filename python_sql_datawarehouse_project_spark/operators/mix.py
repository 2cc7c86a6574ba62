"""Training-mix assembly operators — the selection stage of a
training-data pipeline (BASELINE.json extension; the reference
engine's closest surface is its batch-predicate filters, SURVEY.md
§2.2 P4).

  ds1_training_mix   per-language weighted downsampling with a
                     DETERMINISTIC hash gate (no rand(): re-runs,
                     retries, and the DuckDB oracle all select the
                     identical rows)
  ds2_token_budget   quality-ordered greedy fill of a token budget
                     (running integer sum over a total order)

Scale notes: ds1 is a stateless per-row predicate — scan speed,
fully pushdown-friendly, and the sample is stable under any
partitioning because membership depends only on (doc_id, lang).
ds2's global order is a single range-partitioned sort at scale (the
running sum is the W5 frame over it); for a multi-epoch curriculum
the same window emits the epoch boundaries instead of one cutoff.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import hashing as H

# Mix weights: keep-probability per language (a typical "anchor
# language plus downsampled tail" recipe).
MIX_WEIGHTS = {"en": 1.0, "de": 0.5, "es": 0.5, "fr": 0.25, "zh": 0.25}
MIX_DEFAULT = 0.1
_GATE_BITS = 20  # hash gate resolution: md5 % 2^20 vs floor(w * 2^20)

# ~half the test corpus' total tokens, so the cutoff genuinely binds
# at every SF (the documents table holds ~27-28k tokens).
TOKEN_BUDGET = 14_000


def _hash_gate(doc_id: Column, lang: Column) -> Column:
    """True iff the doc survives its language's keep-probability,
    decided by an integer compare on a 20-bit md5 slice."""
    gate = F.pmod(
        H.md5_long(doc_id.cast("string")), F.lit(1 << _GATE_BITS)
    )
    thresh = F.lit(int(MIX_DEFAULT * (1 << _GATE_BITS)))
    for lg, w in MIX_WEIGHTS.items():
        thresh = F.when(lang == lg, int(w * (1 << _GATE_BITS))).otherwise(
            thresh
        )
    return gate < thresh


def ds1_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    kept = F.when(
        _hash_gate(F.col("doc_id"), F.col("lang")), 1
    ).otherwise(0)
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(kept).cast("long").alias("n_selected"),
        )
        .select(
            "lang",
            "n_total",
            "n_selected",
            (
                F.col("n_selected").cast("double")
                / F.col("n_total").cast("double")
            ).alias("realized_rate"),
        )
    )


def _sql_hash_gate() -> str:
    cases = " ".join(
        f"WHEN lang = '{lg}' THEN {int(w * (1 << _GATE_BITS))}"
        for lg, w in MIX_WEIGHTS.items()
    )
    thresh = f"CASE {cases} ELSE {int(MIX_DEFAULT * (1 << _GATE_BITS))} END"
    h = H.sql_md5_long("CAST(doc_id AS VARCHAR)")
    return f"mod({h}, {1 << _GATE_BITS}) < ({thresh})"


DS1_ORACLE = f"""
SELECT lang,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN {_sql_hash_gate()} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_selected,
       CAST(SUM(CASE WHEN {_sql_hash_gate()} THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS realized_rate
FROM documents
GROUP BY 1
"""


def ds2_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy quality-ordered budget fill: take documents in
    descending quality-score order (doc_id tiebreak — the total
    order every cross-engine window needs) until the cumulative
    whitespace-token count would exceed TOKEN_BUDGET.

    The quality score is tx2's — already proven bit-identical
    cross-engine, so ordering by it is deterministic; the cumulative
    sum is pure integer arithmetic over that order."""
    from pyspark.sql import Window

    from .text import quality_scored

    # Single scan: quality_scored carries n_tokens alongside the
    # score, so the budget fill needs no self-join of two documents
    # projections (the join cost a second scan + a doc_id shuffle).
    docs = load_table(spark, sf_dir, "documents")
    scored = quality_scored(docs).select(
        "doc_id", "quality_score", "n_tokens"
    )
    w = (
        Window.orderBy(F.desc("quality_score"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        scored.withColumn(
            "cum_tokens", F.sum(F.col("n_tokens").cast("long")).over(w)
        )
        .where(F.col("cum_tokens") <= TOKEN_BUDGET)
        .select("doc_id", "quality_score", "n_tokens", "cum_tokens")
    )


def _ds2_oracle() -> str:
    from .text import TX2_ORACLE, _sql_tokens

    return f"""
WITH scores AS ({TX2_ORACLE}),
toks AS (
    SELECT doc_id, CAST(len({_sql_tokens('text')}) AS INT) AS n_tokens
    FROM documents
),
cum AS (
    SELECT s.doc_id, s.quality_score, t.n_tokens,
           CAST(SUM(CAST(t.n_tokens AS BIGINT)) OVER (
               ORDER BY s.quality_score DESC, s.doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_tokens
    FROM scores s JOIN toks t USING (doc_id)
)
SELECT doc_id, quality_score, n_tokens, cum_tokens
FROM cum WHERE cum_tokens <= {TOKEN_BUDGET}
"""


# -- ds3: composed keep/drop filter pipeline --------------------------
# The C4/Gopher-class document gate: every rule is a column
# expression over ONE scan, the verdict is the first failing rule —
# observability (why was a doc dropped) without a second pass.
DS3_LANG_ALLOW = ("en", "de", "es", "fr")
DS3_MIN_TOKENS = 30
DS3_MAX_DUP_FRAC = 0.2
_DS3_NGRAM = 3


def ds3_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keep/drop verdict composing the tx-family rules:
    language allowlist, minimum token count, intra-doc repetition cap
    (duplicate-3-gram fraction, tx7's metric).  Emits every doc with
    its metrics, the verdict, and the FIRST failing rule as
    `reject_reason` — what a curation dashboard aggregates.

    Scale: single scan, zero shuffle, no UDF; all three rules fold
    into one whole-stage-codegen'd projection, so the full pipeline
    filter runs at parquet scan speed with column pruning intact."""
    from .text import _tokens

    docs = load_table(spark, sf_dir, "documents")
    tk = _tokens(F.col("text"))
    d = docs.select("doc_id", "lang", tk.alias("tk"))
    gs = F.when(
        F.size("tk") >= _DS3_NGRAM,
        F.transform(
            F.sequence(F.lit(1), F.size("tk") - (_DS3_NGRAM - 1)),
            lambda i: F.array_join(F.slice("tk", i, _DS3_NGRAM), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    d = d.select(
        "doc_id",
        "lang",
        F.size("tk").alias("n_tokens"),
        F.when(
            F.size(gs) > 0,
            (F.size(gs) - F.size(F.array_distinct(gs))).cast("double")
            / F.size(gs).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )
    reason = (
        F.when(~F.col("lang").isin(*DS3_LANG_ALLOW), "lang")
        .when(F.col("n_tokens") < DS3_MIN_TOKENS, "too_short")
        .when(F.col("dup_frac") > DS3_MAX_DUP_FRAC, "repetitive")
        .otherwise(F.lit(None).cast("string"))
    )
    return d.select(
        "doc_id",
        "lang",
        "n_tokens",
        "dup_frac",
        reason.alias("reject_reason"),
        reason.isNull().alias("keep"),
    )


def _ds3_oracle() -> str:
    from .text import _sql_tokens

    allow = ", ".join(f"'{lg}'" for lg in DS3_LANG_ALLOW)
    return f"""
WITH toks AS (
    SELECT doc_id, lang, {_sql_tokens('text')} AS tk FROM documents
),
grams AS (
    SELECT doc_id, lang, len(tk) AS n_tokens,
           CASE WHEN len(tk) >= {_DS3_NGRAM} THEN list_transform(
               range(1, len(tk) - {_DS3_NGRAM - 2}),
               i -> array_to_string(list_slice(tk, i, i + {_DS3_NGRAM - 1}), ' ')
           ) ELSE [] END AS gs
    FROM toks
),
metrics AS (
    SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens,
           CASE WHEN len(gs) > 0 THEN
               CAST(len(gs) - len(list_distinct(gs)) AS DOUBLE)
                   / CAST(len(gs) AS DOUBLE)
           ELSE 0.0 END AS dup_frac
    FROM grams
)
SELECT doc_id, lang, n_tokens, dup_frac,
       CASE WHEN lang NOT IN ({allow}) THEN 'lang'
            WHEN n_tokens < {DS3_MIN_TOKENS} THEN 'too_short'
            WHEN dup_frac > {DS3_MAX_DUP_FRAC} THEN 'repetitive'
       END AS reject_reason,
       (CASE WHEN lang NOT IN ({allow}) THEN 'lang'
             WHEN n_tokens < {DS3_MIN_TOKENS} THEN 'too_short'
             WHEN dup_frac > {DS3_MAX_DUP_FRAC} THEN 'repetitive'
        END) IS NULL AS keep
FROM metrics
"""


# -- ds4: exact-size stratified sample --------------------------------
DS4_K = 25


def ds4_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly DS4_K documents per language, picked by md5-hash order
    — the fixed-size eval-set / holdout cut.  ds1's hash gate gives a
    BINOMIAL sample (size varies batch to batch); ranking by hash
    gives exact strata sizes while keeping every other property
    (uniform, deterministic, reproducible on re-runs and across
    engines, and stable under partitioning because rank depends only
    on doc_id).

    Determinism: the rank order ties are impossible (md5 of distinct
    doc_ids; doc_id itself is the final tiebreak anyway).
    Scale: one hash shuffle on lang for the rank window; per-language
    partitions hold only that language's docs.  For heavily skewed
    strata at corpus scale, the qa5 cumulative-counts trick replaces
    the window (rank k-th hash by counts) — same output."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    h = H.md5_long(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= DS4_K)
        .select("doc_id", "lang", "rk")
    )


DS4_ORACLE = f"""
SELECT doc_id, lang, rk FROM (
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY {H.sql_md5_long("CAST(doc_id AS VARCHAR)")}, doc_id
           ) AS rk
    FROM documents
)
WHERE rk <= {DS4_K}
"""


# -- ds5: per-language quality-quantile filter ------------------------
DS5_QUANTILE = 0.5


def ds5_quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep each language's top half by quality score — the adaptive
    per-cohort threshold (an absolute score cutoff over-prunes
    whichever language the scorer is miscalibrated for; a per-language
    quantile self-calibrates).

    The score is tx2's expression tree verbatim (text.quality_scored
    — bitwise cross-engine), the threshold is PERCENT_RANK over the
    total order (quality_score, doc_id), and the comparison is on the
    exact rational (rank-1)/(n-1) both engines compute identically.

    Scale: one shuffle on lang (the window partition); the filter
    emits rows map-side after the per-partition sort.  Skewed
    language sizes are exactly the sk1 salting case if one cohort
    dominates — at corpus scale route through percentile buckets
    instead of a single-partition-per-lang sort."""
    from .text import quality_scored

    scored = quality_scored(load_table(spark, sf_dir, "documents"))
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(
        F.asc("quality_score"), F.asc("doc_id")
    )
    return (
        scored.select(
            "doc_id", "lang", "quality_score",
            F.percent_rank().over(w).alias("_pr"),
        )
        .filter(F.col("_pr") >= F.lit(DS5_QUANTILE))
        .select("doc_id", "lang", "quality_score")
    )


def _ds5_oracle() -> str:
    from .text import SQL_QUALITY_SCORED

    return f"""
WITH scored AS (SELECT * FROM {SQL_QUALITY_SCORED} s),
r AS (
    SELECT doc_id, lang, quality_score,
           PERCENT_RANK() OVER (
               PARTITION BY lang
               ORDER BY quality_score ASC, doc_id ASC) AS pr
    FROM scored
)
SELECT doc_id, lang, quality_score FROM r WHERE pr >= {DS5_QUANTILE}
"""




# -- ds6: end-to-end clean-mix assembly -------------------------------
def ds6_clean_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The final corpus-assembly verdict as ONE plan: a document ships
    to training iff it (a) survives its language's mix rate (ds1's
    deterministic hash gate), (b) sits in the top half of its
    language by quality (ds5's quantile, calibrated on the full
    corpus BEFORE any gate — a threshold computed after filtering
    would drift with the mix), (c) is not the benchmark split, and
    (d) shares no 8-gram with it (tx6's decontamination).

    Composition is exactly the production shape: the quantile rides a
    lang-partitioned window, the mix gate is a scan-speed predicate,
    and contamination is a left-anti join against the bounded
    contaminated-doc set — one pipeline, no operator recomputed per
    stage."""
    from .text import BENCH_MOD, _doc_grams, quality_scored
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    g = _doc_grams(docs)
    contaminated = (
        g.where(F.col("doc_id") % BENCH_MOD != 0)
        .join(
            g.where(F.col("doc_id") % BENCH_MOD == 0).select("h").distinct(),
            "h",
        )
        .select("doc_id")
        .distinct()
    )
    w = Window.partitionBy("lang").orderBy(
        F.asc("quality_score"), F.asc("doc_id")
    )
    ranked = quality_scored(docs).select(
        "doc_id",
        "lang",
        "quality_score",
        F.percent_rank().over(w).alias("_pr"),
    )
    return (
        ranked.where(F.col("_pr") >= F.lit(DS5_QUANTILE))
        .where(_hash_gate(F.col("doc_id"), F.col("lang")))
        .where(F.col("doc_id") % BENCH_MOD != 0)
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "lang", "quality_score")
    )


def _ds6_oracle() -> str:
    from .text import BENCH_MOD, DECON_NGRAM, SQL_QUALITY_SCORED, _sql_tokens
    from ..functions import hashing as H

    return f"""
WITH scored AS (SELECT * FROM {SQL_QUALITY_SCORED} s),
r AS (
    SELECT doc_id, lang, quality_score,
           PERCENT_RANK() OVER (
               PARTITION BY lang
               ORDER BY quality_score ASC, doc_id ASC) AS pr
    FROM scored
),
toks AS (SELECT doc_id, {_sql_tokens('text')} AS tk FROM documents),
grams AS (
    SELECT doc_id, unnest(list_distinct(list_transform(
        range(1, len(tk) - {DECON_NGRAM - 2}),
        i -> {H.sql_md5_long(
            f"array_to_string(list_slice(tk, i, i + {DECON_NGRAM - 1}), ' ')"
        )}
    ))) AS h
    FROM toks WHERE len(tk) >= {DECON_NGRAM}
),
contam AS (
    SELECT DISTINCT c.doc_id
    FROM (SELECT * FROM grams WHERE doc_id % {BENCH_MOD} <> 0) c
    JOIN (SELECT DISTINCT h FROM grams WHERE doc_id % {BENCH_MOD} = 0) b
      USING (h)
)
SELECT doc_id, lang, quality_score FROM r
WHERE pr >= {DS5_QUANTILE}
  AND {_sql_hash_gate()}
  AND doc_id % {BENCH_MOD} <> 0
  AND doc_id NOT IN (SELECT doc_id FROM contam)
"""


# -- ds11: bloom-screened clean mix (the 100 TB decontamination) ------
def ds11_bloom_screened_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ds6's assembly with stage (d) swapped for the Bloom screen
    (approx.qa23): a doc ships iff NONE of its
    grams probe positive against the benchmark's fixed 2^22-bit
    membership sketch.  This is the shape a 100 TB run actually
    executes — the exact gram join ds6 performs shuffles the corpus
    gram stream against a benchmark set that grows with every eval
    release, while the bloom screen is a ~1 MiB broadcast at wire
    speed whatever the suite's size.

    The trade is explicit and bounded: a false-positive gram can only
    OVER-block, never leak contamination, so the screened mix is a
    SUBSET of ds6's exact mix (pytest-pinned, with the removed-extra
    docs exactly the bloom's doc-level FP mass).  At qa23's measured
    FP rate the over-blocking is a fraction of a percent of the
    corpus — the classic sketch rent, paid in recall of CLEAN docs,
    never in contamination precision."""
    from .text import BENCH_MOD, _doc_grams, quality_scored
    from pyspark.sql import Window

    from .approx import bloom_doc_hits, bloom_words

    docs = load_table(spark, sf_dir, "documents")
    g = _doc_grams(docs).localCheckpoint(eager=True)
    flagged = (
        bloom_doc_hits(
            g.where(F.col("doc_id") % BENCH_MOD != 0),
            bloom_words(
                g.where(F.col("doc_id") % BENCH_MOD == 0)
                .select("h")
                .distinct()
            ),
        )
        .where(F.col("n_bloom_hits") > 0)
        .select("doc_id")
    )
    w = Window.partitionBy("lang").orderBy(
        F.asc("quality_score"), F.asc("doc_id")
    )
    ranked = quality_scored(docs).select(
        "doc_id",
        "lang",
        "quality_score",
        F.percent_rank().over(w).alias("_pr"),
    )
    return (
        ranked.where(F.col("_pr") >= F.lit(DS5_QUANTILE))
        .where(_hash_gate(F.col("doc_id"), F.col("lang")))
        .where(F.col("doc_id") % BENCH_MOD != 0)
        .join(flagged, "doc_id", "left_anti")
        .select("doc_id", "lang", "quality_score")
    )


def _ds11_oracle() -> str:
    from .text import BENCH_MOD, DECON_NGRAM, SQL_QUALITY_SCORED, _sql_tokens
    from ..functions import hashing as H

    return f"""
WITH scored AS (SELECT * FROM {SQL_QUALITY_SCORED} s),
r AS (
    SELECT doc_id, lang, quality_score,
           PERCENT_RANK() OVER (
               PARTITION BY lang
               ORDER BY quality_score ASC, doc_id ASC) AS pr
    FROM scored
),
toks AS (SELECT doc_id, {_sql_tokens('text')} AS tk FROM documents),
grams AS (
    SELECT doc_id, unnest(list_distinct(list_transform(
        range(1, len(tk) - {DECON_NGRAM - 2}),
        i -> {H.sql_md5_long(
            f"array_to_string(list_slice(tk, i, i + {DECON_NGRAM - 1}), ' ')"
        )}
    ))) AS h
    FROM toks WHERE len(tk) >= {DECON_NGRAM}
),
bpos AS (
    SELECT unnest({H.sql_bloom_positions('h')}) AS pos
    FROM (SELECT DISTINCT h FROM grams WHERE doc_id % {BENCH_MOD} = 0)
),
bloom AS (
    SELECT pos >> 5 AS w,
           bit_or(CAST(1 AS BIGINT) << CAST(pos & 31 AS INT)) AS word
    FROM bpos GROUP BY 1
),
cpos AS (
    SELECT doc_id, h, unnest({H.sql_bloom_positions('h')}) AS pos
    FROM grams WHERE doc_id % {BENCH_MOD} <> 0
),
hits AS (
    SELECT doc_id, h,
           SUM(CASE WHEN word IS NOT NULL
                    AND ((word >> CAST(pos & 31 AS INT)) & 1) = 1
                    THEN 1 ELSE 0 END) AS nset
    FROM cpos LEFT JOIN bloom ON (pos >> 5) = w
    GROUP BY 1, 2
),
flagged AS (
    SELECT DISTINCT doc_id FROM hits WHERE nset = {H.BLOOM_K}
)
SELECT doc_id, lang, quality_score FROM r
WHERE pr >= {DS5_QUANTILE}
  AND {_sql_hash_gate()}
  AND doc_id % {BENCH_MOD} <> 0
  AND doc_id NOT IN (SELECT doc_id FROM flagged)
"""


# -- ds8: sequence packing (concat-and-chunk manifest) ----------------
DS8_BUDGET = 512  # tokens per training sequence
DS8_BUCKET = 100  # doc_ids per prefix-sum bucket


def ds8_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: documents concatenated in
    doc_id order and sliced into DS8_BUDGET-token training sequences
    — each doc is assigned to the sequence its FIRST token lands in,
    and the output is the per-sequence packing manifest (doc count,
    token sum, fill ratio, id range) a pretraining loader consumes.

    The global running token sum does NOT use a single-partition
    window (the w3 contract is dims only).  It is the distributed
    two-phase prefix sum: (1) per-bucket cumulative sums, windowed by
    a DETERMINISTIC contiguous bucket (floor(doc_id / DS8_BUCKET) —
    range-partitioner sampling would not be reproducible), fully
    parallel; (2) bucket totals prefix-summed in a window over
    |buckets| rows — thousands at any corpus size — then broadcast
    back.  Identical by construction to the oracle's
    SUM() OVER (ORDER BY doc_id): integer token counts, integer
    addition, DIV for the sequence id (no float division anywhere).

    At 100 TB: phase 1 shuffles once on the bucket key; phase 2 moves
    |buckets| longs; the manifest aggregate reuses the bucket
    partitioning for its seq_id grouping only via one more compact
    exchange.  Nothing exceeds int64: total corpus tokens < 2^63."""
    from pyspark.sql import Window

    from .text import _tokens

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(_tokens(F.col("text"))).alias("nt")
    )
    docs = docs.withColumn(
        "b", (F.col("doc_id") / DS8_BUCKET).cast("long")
    )
    w_in = (
        Window.partitionBy("b")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = docs.withColumn("cum_in", F.sum("nt").over(w_in))
    totals = docs.groupBy("b").agg(F.sum("nt").alias("btot"))
    w_b = (
        Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "b", F.coalesce(F.sum("btot").over(w_b), F.lit(0)).alias("off")
    )
    cum = local.join(F.broadcast(offsets), "b").select(
        "doc_id",
        "nt",
        (F.col("cum_in") + F.col("off")).alias("cum"),
    )
    seq = cum.select(
        "doc_id",
        "nt",
        F.expr(f"(cum - nt) DIV {DS8_BUDGET}").alias("seq_id"),
    )
    return (
        seq.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .select(
            "seq_id",
            "n_docs",
            "n_tokens",
            (F.col("n_tokens").cast("double") / DS8_BUDGET).alias(
                "fill_ratio"
            ),
            "first_doc",
            "last_doc",
        )
    )


def _ds8_oracle() -> str:
    from .text import _sql_tokens

    return f"""
WITH t AS (
    SELECT doc_id, len({_sql_tokens("text")}) AS nt FROM documents
),
c AS (
    SELECT doc_id, nt,
           SUM(nt) OVER (ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cum
    FROM t
)
SELECT CAST((cum - nt) // {DS8_BUDGET} AS BIGINT) AS seq_id,
       COUNT(*) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS n_tokens,
       CAST(CAST(SUM(nt) AS BIGINT) AS DOUBLE) / {DS8_BUDGET}
           AS fill_ratio,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM c
GROUP BY 1
"""


# -- ds12: temperature-scaled mixture allocation ----------------------
# The standard multilingual sampling recipe (alpha-temperature,
# p_l ∝ n_l^alpha): alpha = 0.5 so the weight is sqrt(n_l) — chosen
# over an arbitrary alpha precisely because IEEE-754 sqrt is
# CORRECTLY ROUNDED on every engine (pow() is not), so the flattened
# weights are bitwise portable.  ds1/ds4 fix per-language rates/sizes
# by hand; ds12 DERIVES the per-language quota from corpus counts the
# way a multilingual pretraining mix actually does, then allocates an
# exact global budget with largest-remainder rounding (sum(alloc) ==
# BUDGET exactly, no float drift) and pins the selected sample's
# membership via an exact int64 doc_id sum.
DS12_BUDGET = 200
DS12_SQRT_SCALE = 1_000_000_000_000  # weight = floor(sqrt(n * 1e12))


def ds12_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language sqrt-temperature quota + deterministic sample.

    Exactness: weight_scaled = floor(sqrt(CAST(n AS DOUBLE) * 1e12))
    is one double multiply + one correctly-rounded sqrt + floor —
    identical on both engines; alloc0 = (BUDGET * w) div sum(w) and
    the largest-remainder top-up are pure int64; the winners rank by
    (remainder DESC, lang) over |langs| rows.  The sample is ds4's
    md5-rank order truncated at the DERIVED quota, and its exact
    int64 doc_id sum pins membership without materializing doc rows.

    Scale: two lang-grain aggregates (map-side combinable) feed a
    |langs|-row allocation frame (the global window is bounded by
    language count, never data — allowlisted like ds9's tau frame);
    the quota join back to documents is a broadcast of |langs| rows;
    the per-language rank window shuffles once on lang.

    Edge semantics (identical on both engines by construction): a
    language allocated zero docs yields no sample row and the final
    inner join drops it from the output — the report covers funded
    languages; and a quota exceeding a language's corpus simply
    takes the whole language (rank filter is <= alloc).
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    weights = counts.select(
        "lang",
        "n_docs",
        F.floor(
            F.sqrt(F.col("n_docs").cast("double") * F.lit(float(DS12_SQRT_SCALE)))
        )
        .cast("long")
        .alias("weight_scaled"),
    )
    tot = weights.agg(F.sum("weight_scaled").alias("tw"))
    base = weights.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "weight_scaled",
        F.expr(f"({DS12_BUDGET} * weight_scaled) div tw").alias("alloc0"),
        F.expr(f"({DS12_BUDGET} * weight_scaled) % tw").alias("rem"),
    )
    leftover = base.agg(
        (F.lit(DS12_BUDGET) - F.sum("alloc0")).alias("leftover")
    )
    rk = F.row_number().over(
        Window.orderBy(F.col("rem").desc(), F.col("lang").asc())
    )
    alloc = (
        base.withColumn("rk", rk)
        .crossJoin(F.broadcast(leftover))
        .select(
            "lang",
            "n_docs",
            "weight_scaled",
            (
                F.col("alloc0")
                + F.when(F.col("rk") <= F.col("leftover"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("alloc"),
        )
    )
    h = H.md5_long(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    ranked = docs.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
    sel = (
        ranked.join(F.broadcast(alloc.select("lang", "alloc")), "lang")
        .where(F.col("rk") <= F.col("alloc"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sample"),
            F.sum("doc_id").alias("sample_doc_id_sum"),
        )
    )
    return alloc.join(sel, "lang").select(
        "lang",
        "n_docs",
        "weight_scaled",
        "alloc",
        "n_sample",
        "sample_doc_id_sum",
    )


DS12_ORACLE = f"""
WITH counts AS (
    SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
),
weights AS (
    SELECT lang, n_docs,
           CAST(floor(sqrt(CAST(n_docs AS DOUBLE) * {float(DS12_SQRT_SCALE)}))
                AS BIGINT) AS weight_scaled
    FROM counts
),
tot AS (SELECT sum(weight_scaled) AS tw FROM weights),
base AS (
    SELECT lang, n_docs, weight_scaled,
           ({DS12_BUDGET} * weight_scaled) // tw AS alloc0,
           ({DS12_BUDGET} * weight_scaled) % tw AS rem
    FROM weights, tot
),
alloc AS (
    SELECT lang, n_docs, weight_scaled,
           CAST(alloc0 + CASE WHEN row_number() OVER (
                    ORDER BY rem DESC, lang ASC)
                <= (SELECT {DS12_BUDGET} - sum(alloc0) FROM base)
                THEN 1 ELSE 0 END AS BIGINT) AS alloc
    FROM base
),
ranked AS (
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY {H.sql_md5_long("CAST(doc_id AS VARCHAR)")}, doc_id
           ) AS rk
    FROM documents
),
sel AS (
    SELECT r.lang, count(*) AS n_sample,
           CAST(sum(r.doc_id) AS BIGINT) AS sample_doc_id_sum
    FROM ranked r JOIN alloc a USING (lang)
    WHERE r.rk <= a.alloc
    GROUP BY 1
)
SELECT a.lang, a.n_docs, a.weight_scaled, a.alloc,
       s.n_sample, s.sample_doc_id_sum
FROM alloc a JOIN sel s USING (lang)
"""


QUERIES = {
    "ds1_training_mix": ds1_training_mix,
    "ds2_token_budget": ds2_token_budget,
    "ds3_filter_pipeline": ds3_filter_pipeline,
    "ds4_stratified_sample": ds4_stratified_sample,
    "ds5_quality_quantile_filter": ds5_quality_quantile_filter,
    "ds6_clean_mix": ds6_clean_mix,
    "ds8_sequence_packing": ds8_sequence_packing,
    "ds11_bloom_screened_mix": ds11_bloom_screened_mix,
    "ds12_temperature_mix": ds12_temperature_mix,
}
ORACLES = {
    "ds1_training_mix": DS1_ORACLE,
    "ds2_token_budget": _ds2_oracle(),
    "ds3_filter_pipeline": _ds3_oracle(),
    "ds4_stratified_sample": DS4_ORACLE,
    "ds5_quality_quantile_filter": _ds5_oracle(),
    "ds6_clean_mix": _ds6_oracle(),
    "ds8_sequence_packing": _ds8_oracle(),
    "ds11_bloom_screened_mix": _ds11_oracle(),
    "ds12_temperature_mix": DS12_ORACLE,
}
