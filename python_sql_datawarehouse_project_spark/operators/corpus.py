"""Corpus-preparation operators — the assembly stage of an LLM
training-data pipeline (BASELINE.json extension; the reference's
closest surfaces are its batch filters and ROW_NUMBER dedup,
SURVEY.md §2.2 P4 / §2.5 W1).

  pd1_window_dedup    exact sliding token-window duplicate detection
                      (the suffix-array-free approximation of exact
                      substring dedup a la "Deduplicating Training
                      Data Makes Language Models Better")
  eq1_int8_quantize   symmetric per-vector int8 quantization of the
                      embedding column with a reconstruction-error
                      profile (the storage/serving compression step)
  pk1_pack_chunks     concatenate-and-chunk sequence packing: map
                      every document onto its context-window chunk
                      span under a fixed token budget
  ls1_leakage_safe_split  train/val split keyed on CONTENT hash so
                      exact duplicates can never straddle the split,
                      with a per-group audit of where a naive
                      doc_id-keyed split would have leaked
  sq1_event_sequences per-user ordered event-sequence assembly with
                      a deterministic sequence fingerprint (the
                      "build one training example per user session"
                      step)

Every query is oracle-checked bit-for-bit against DuckDB: integer
md5-slice hashing, integer window arithmetic and sequential double
folds only (functions/hashing.py portability contract).

Scale design (100 TB):
  * pd1 explodes W-token windows but exchanges only (doc_id, 60-bit
    window hash) pairs — never window text.  Documents are hash-
    repartitioned BEFORE the explode so the window stream is born
    spread across executors; two shuffles total (window hash, then
    doc_id), both on compact fixed-width keys.  Stride trades recall
    for cost exactly like the published pipelines.
  * eq1 is stateless per-row column math — scan speed, pushdown
    friendly, zero shuffles.
  * pk1's only wide dependency is a global running token count —
    a range-partitioned sort at cluster scale (same W5/ds2 frame);
    everything downstream is per-row integer arithmetic.
  * ls1 is an md5 content key plus one window over it; the audit
    min/max rides the same shuffle.  Split membership depends only
    on content bytes, so it is stable under re-partitioning,
    re-ingestion and re-runs — the property that makes it safe.
  * sq1 is one shuffle on user_id; per-user state is the user's own
    event list (bounded by session length, the op's inherent floor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import hashing as H
from .text import _norm, _sql_norm, _tokens, _sql_tokens

WIN_TOKENS = 20  # window width (tokens) for exact window dedup
WIN_STRIDE = 10  # stride between window starts
PACK_BUDGET = 2048  # context-window token budget for pk1
SPLIT_TRAIN_PCT = 90  # ls1: md5 % 100 < 90 -> train


# -- pd1: exact sliding-window duplicate detection --------------------
def pd1_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fraction of W-token windows that also occur in at
    least one OTHER document — the exact-substring-dedup signal of
    Lee et al. (2022), computed with stride WIN_STRIDE.

    The token array is projected into a column before the window
    transform (interpreted higher-order lambdas re-evaluate captured
    expression trees per element — a measured pitfall).  Windows leave
    the doc as 60-bit md5 slices; the distinct + window-count + per-doc
    rollup exchanges only (doc_id, whash) pairs."""
    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    # Tokenize ONCE before the exchange (pushing the filter to the
    # scan would re-run the regex tokenization on both sides of it),
    # then spread by doc_id so the window explosion is born
    # distributed and the (doc_id, whash) distinct reuses the same
    # partitioning with no extra exchange (superset rule).
    toks = (
        docs.select("doc_id", _tokens(F.col("text")).alias("tk"))
        .select("doc_id", "tk", F.size("tk").alias("n"))
        .filter(F.col("n") >= WIN_TOKENS)
        .repartition(par, "doc_id")
    )
    wins = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.col("n") - (WIN_TOKENS - 1),
                    F.lit(WIN_STRIDE),
                ),
                lambda i: F.array_join(
                    F.slice(F.col("tk"), i, WIN_TOKENS), " "
                ),
            )
        ).alias("win"),
    ).select("doc_id", H.md5_long(F.col("win")).alias("whash"))
    per_hash = (
        wins.distinct()
        .withColumn("n_docs", F.count(F.lit(1)).over(Window.partitionBy("whash")))
    )
    return per_hash.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_shared"),
    ).select(
        "doc_id",
        "n_windows",
        "n_shared",
        (
            F.col("n_shared").cast("double")
            / F.col("n_windows").cast("double")
        ).alias("shared_frac"),
    )


PD1_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, {_sql_tokens('text')} AS tk FROM documents
),
sized AS (
    SELECT doc_id, tk, len(tk) AS n FROM toks WHERE len(tk) >= {WIN_TOKENS}
),
wins AS (
    SELECT DISTINCT doc_id,
           {H.sql_md5_long(
               "array_to_string(list_slice(tk, i, i + " + str(WIN_TOKENS - 1) + "), ' ')"
           )} AS whash
    FROM sized,
         UNNEST(range(1, n - {WIN_TOKENS - 2}, {WIN_STRIDE})) AS t(i)
),
cnt AS (
    SELECT doc_id, whash,
           COUNT(*) OVER (PARTITION BY whash) AS n_docs
    FROM wins
)
SELECT doc_id,
       COUNT(*) AS n_windows,
       CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared,
       CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS shared_frac
FROM cnt
GROUP BY doc_id
"""


# -- eq1: symmetric int8 embedding quantization -----------------------
def eq1_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization profile: scale each
    vector by 127/max|x|, round with floor(x*s + 0.5) (identical on
    both engines — no banker's-rounding hazard), and report the
    reconstruction max-abs-error and MSE.

    All math is double-precision column expressions; the MSE is a
    sequential left-fold so it bitwise-matches the DuckDB oracle
    (hashing.py portability contract).  Each stage is materialized
    into its own projection so interpreted lambdas never re-evaluate
    an upstream expression tree per element.

    Domain: all-zero vectors yield NULL stats (nullif guard); a
    max|x| below ~1e-306 would overflow the scale to inf identically
    on both engines (found by tests/test_corpus_properties.py) — real
    embedding components sit many orders of magnitude above that."""
    emb = load_table(spark, sf_dir, "embeddings")
    xd = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "v"
        ),
    )
    scaled = xd.select(
        "vec_id",
        "v",
        (
            F.lit(127.0)
            / F.nullif(
                F.array_max(F.transform(F.col("v"), F.abs)), F.lit(0.0)
            )
        ).alias("qscale"),
    )
    err = scaled.select(
        "vec_id",
        "qscale",
        F.transform(
            F.col("v"),
            lambda x: F.abs(
                F.floor(x * F.col("qscale") + F.lit(0.5)).cast("double")
                / F.col("qscale")
                - x
            ),
        ).alias("err"),
    )
    return err.select(
        "vec_id",
        "qscale",
        F.array_max("err").alias("max_abs_err"),
        (
            F.aggregate(
                F.col("err"), F.lit(0.0), lambda acc, e: acc + e * e
            )
            / F.size("err").cast("double")
        ).alias("mse"),
    )


EQ1_ORACLE = """
WITH xd AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
s AS (
    SELECT vec_id, v,
           CAST(127 AS DOUBLE)
               / nullif(list_max(list_transform(v, x -> abs(x))),
                        CAST(0 AS DOUBLE)) AS qscale
    FROM xd
),
e AS (
    SELECT vec_id, qscale,
           list_transform(
               v,
               x -> abs(floor(x * qscale + CAST(0.5 AS DOUBLE)) / qscale - x)
           ) AS err
    FROM s
)
SELECT vec_id, qscale,
       list_max(err) AS max_abs_err,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                list_transform(err, x -> x * x)),
                   (acc, x) -> acc + x)
           / CAST(len(err) AS DOUBLE) AS mse
FROM e
"""


# -- pk1: concatenate-and-chunk sequence packing ----------------------
def pk1_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style packing: concatenate all documents in a
    deterministic shuffled order (md5 of doc_id — reproducible across
    engines and re-runs) and cut the stream every PACK_BUDGET tokens;
    report each document's chunk span.  Pure integer window
    arithmetic over a single global running sum — the ds2/W5 frame,
    which at cluster scale is one range-partitioned sort."""
    docs = load_table(spark, sf_dir, "documents")
    order = Window.orderBy(
        H.md5_long(F.col("doc_id").cast("string")).asc(),
        F.col("doc_id").asc(),
    )
    sized = docs.select(
        "doc_id", F.size(_tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    cum = sized.select(
        "doc_id",
        "n_tokens",
        F.coalesce(
            F.sum("n_tokens").over(
                order.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0).cast("long"),
        ).alias("cum_before"),
    )
    first_c = F.expr(f"cum_before DIV {PACK_BUDGET}")
    last_c = F.expr(f"(cum_before + n_tokens - 1) DIV {PACK_BUDGET}")
    return cum.select(
        "doc_id",
        "n_tokens",
        first_c.alias("first_chunk"),
        last_c.alias("last_chunk"),
        (last_c - first_c + F.lit(1)).alias("n_chunks"),
    )


PK1_ORACLE = f"""
WITH sized AS (
    SELECT doc_id,
           CAST(len({_sql_tokens('text')}) AS BIGINT) AS n_tokens,
           {H.sql_md5_long("CAST(doc_id AS VARCHAR)")} AS h
    FROM documents
),
cum AS (
    SELECT doc_id, n_tokens,
           COALESCE(SUM(n_tokens) OVER (
               ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS cum_before
    FROM sized
)
SELECT doc_id, n_tokens,
       CAST(cum_before // {PACK_BUDGET} AS BIGINT) AS first_chunk,
       CAST((cum_before + n_tokens - 1) // {PACK_BUDGET} AS BIGINT)
           AS last_chunk,
       CAST((cum_before + n_tokens - 1) // {PACK_BUDGET}
            - cum_before // {PACK_BUDGET} + 1 AS BIGINT) AS n_chunks
FROM cum
"""


# -- ls1: leakage-safe train/val split --------------------------------
def ls1_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val assignment keyed on the md5 of NORMALIZED CONTENT
    (an exact-duplicate key), so byte-identical duplicates always land in
    the same split; plus the audit column a naive doc_id-keyed split
    needs: group_leaky is true iff the doc's exact-duplicate group
    would have straddled the naive split."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(_norm(F.col("text"))).alias("content_key"),
    )
    split = F.when(
        F.pmod(H.md5_long(F.col("content_key")), F.lit(100))
        < SPLIT_TRAIN_PCT,
        "train",
    ).otherwise("val")
    naive = F.when(
        F.pmod(
            H.md5_long(F.col("doc_id").cast("string")), F.lit(100)
        )
        < SPLIT_TRAIN_PCT,
        "train",
    ).otherwise("val")
    grp = Window.partitionBy("content_key")
    return (
        keyed.select(
            "doc_id",
            "content_key",
            split.alias("split"),
            naive.alias("naive_split"),
        )
        .withColumn(
            "group_leaky",
            F.min("naive_split").over(grp) != F.max("naive_split").over(grp),
        )
    )


LS1_ORACLE = f"""
WITH keyed AS (
    SELECT doc_id,
           md5({_sql_norm('text')}) AS content_key,
           CASE WHEN mod({H.sql_md5_long("md5(" + _sql_norm('text') + ")")},
                         100) < {SPLIT_TRAIN_PCT}
                THEN 'train' ELSE 'val' END AS split,
           CASE WHEN mod({H.sql_md5_long("CAST(doc_id AS VARCHAR)")},
                         100) < {SPLIT_TRAIN_PCT}
                THEN 'train' ELSE 'val' END AS naive_split
    FROM documents
)
SELECT doc_id, content_key, split, naive_split,
       MIN(naive_split) OVER (PARTITION BY content_key)
           <> MAX(naive_split) OVER (PARTITION BY content_key)
           AS group_leaky
FROM keyed
"""


# -- sq1: per-user ordered event-sequence assembly --------------------
def sq1_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One training example per user: the user's event types in
    (ts, event_id) order, fingerprinted with the portable 60-bit md5
    slice.  collect_list is order-nondeterministic under shuffles, so
    the struct array is sort_array'd on (ts, event_id) — a total
    order (event_id is unique) — before the types are joined."""
    events = load_table(spark, sf_dir, "events")
    seq = F.array_join(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda x: x["event_type"],
        ),
        " ",
    )
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        H.md5_long(seq).alias("seq_hash"),
    )


SQ1_ORACLE = f"""
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
       {H.sql_md5_long("string_agg(event_type, ' ' ORDER BY ts, event_id)")}
           AS seq_hash
FROM events
GROUP BY user_id
"""


# -- ds7: epoch repetition schedule by quality tier -------------------
EPOCHS_BY_QUARTILE = {1: 4, 2: 2, 3: 1, 4: 0}  # quartile 1 = best


def ds7_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch data mixing: allocate repetition budget by quality
    tier — the best quartile of documents trains for 4 epochs, the
    worst is dropped (the "repeat good data instead of adding bad
    data" recipe modern pretraining mixes use).  Quartiles come from
    NTILE(4) over the tx2 quality score with doc_id tiebreak (the
    score is already proven bit-identical cross-engine, so the total
    order — and therefore every assignment — is deterministic).

    Output is the per-quartile budget sheet: documents, raw tokens,
    the epoch multiplier, and effective (epoch-weighted) tokens.
    Scale: one global sort for the NTILE (range partition at cluster
    scale) over (score, id) pairs only, then a 4-group rollup."""
    from .text import tx2_quality_score, _tokens

    docs = load_table(spark, sf_dir, "documents")
    scored = (
        tx2_quality_score(spark, sf_dir)
        .select("doc_id", "quality_score")
        .join(
            docs.select(
                "doc_id",
                F.size(_tokens(F.col("text"))).cast("long").alias("n_tokens"),
            ),
            "doc_id",
        )
    )
    w = Window.orderBy(F.col("quality_score").desc(), F.col("doc_id").asc())
    epochs = F.col("quartile")
    for q, e in EPOCHS_BY_QUARTILE.items():
        epochs = F.when(F.col("quartile") == q, e).otherwise(epochs)
    return (
        scored.select(
            "doc_id", "n_tokens", F.ntile(4).over(w).alias("quartile")
        )
        .withColumn("n_epochs", epochs.cast("long"))
        .groupBy("quartile", "n_epochs")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum(F.col("n_tokens") * F.col("n_epochs")).alias(
                "effective_tokens"
            ),
        )
    )


def _ds7_oracle() -> str:
    cases = " ".join(
        f"WHEN quartile = {q} THEN {e}" for q, e in EPOCHS_BY_QUARTILE.items()
    )
    # reuse tx2's ratio CTEs verbatim for the score
    from .text import TX2_ORACLE

    score_sql = TX2_ORACLE.strip().rstrip()
    return f"""
WITH scored AS ({score_sql}),
sized AS (
    SELECT s.doc_id, s.quality_score,
           CAST(len({_sql_tokens('d.text')}) AS BIGINT) AS n_tokens
    FROM scored s JOIN documents d ON s.doc_id = d.doc_id
),
tiered AS (
    SELECT doc_id, n_tokens,
           NTILE(4) OVER (ORDER BY quality_score DESC, doc_id ASC)
               AS quartile
    FROM sized
),
sched AS (
    SELECT doc_id, n_tokens, quartile,
           CAST(CASE {cases} END AS BIGINT) AS n_epochs
    FROM tiered
)
SELECT quartile, n_epochs,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(n_tokens * n_epochs) AS BIGINT) AS effective_tokens
FROM sched
GROUP BY quartile, n_epochs
"""


QUERIES = {
    "pd1_window_dedup": pd1_window_dedup,
    "eq1_int8_quantize": eq1_int8_quantize,
    "pk1_pack_chunks": pk1_pack_chunks,
    "ls1_leakage_safe_split": ls1_leakage_safe_split,
    "sq1_event_sequences": sq1_event_sequences,
    "ds7_epoch_schedule": ds7_epoch_schedule,
}
ORACLES = {
    "pd1_window_dedup": PD1_ORACLE,
    "eq1_int8_quantize": EQ1_ORACLE,
    "pk1_pack_chunks": PK1_ORACLE,
    "ls1_leakage_safe_split": LS1_ORACLE,
    "sq1_event_sequences": SQ1_ORACLE,
    "ds7_epoch_schedule": _ds7_oracle(),
}
