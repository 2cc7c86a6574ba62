"""Corpus-preparation operators — the assembly stage of an LLM
training-data pipeline (BASELINE.json extension; the reference's
closest surfaces are its batch filters and ROW_NUMBER dedup,
SURVEY.md §2.2 P4 / §2.5 W1).

  pk1_pack_chunks     concatenate-and-chunk sequence packing: map
                      every document onto its context-window chunk
                      span under a fixed token budget
  sq1_event_sequences per-user ordered event-sequence assembly with
                      a deterministic sequence fingerprint (the
                      "build one training example per user session"
                      step)

Every query is oracle-checked bit-for-bit against DuckDB: integer
md5-slice hashing and integer window arithmetic only
(functions/hashing.py portability contract).

Scale design (100 TB):
  * pk1's only wide dependency is a global running token count —
    a range-partitioned sort at cluster scale; everything downstream
    is per-row integer arithmetic.
  * sq1 is one shuffle on user_id; per-user state is the user's own
    event list (bounded by session length, the op's inherent floor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import hashing as H
from .text import _tokens, _sql_tokens

PACK_BUDGET = 2048  # context-window token budget for pk1


# -- pk1: concatenate-and-chunk sequence packing ----------------------
def pk1_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style packing: concatenate all documents in a
    deterministic shuffled order (md5 of doc_id — reproducible across
    engines and re-runs) and cut the stream every PACK_BUDGET tokens;
    report each document's chunk span.  Pure integer window
    arithmetic over a single global running sum — the W5 frame,
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


QUERIES = {
    "pk1_pack_chunks": pk1_pack_chunks,
    "sq1_event_sequences": sq1_event_sequences,
}
ORACLES = {
    "pk1_pack_chunks": PK1_ORACLE,
    "sq1_event_sequences": SQ1_ORACLE,
}
