"""Corpus-preparation operators — the assembly stage of an LLM
training-data pipeline (BASELINE.json extension; the reference's
closest surfaces are its batch filters and ROW_NUMBER dedup,
SURVEY.md §2.2 P4 / §2.5 W1).

  pk1_pack_chunks     concatenate-and-chunk sequence packing: map
                      every document onto its context-window chunk
                      span under a fixed token budget

The query is oracle-checked bit-for-bit against DuckDB: integer
md5-slice hashing and integer window arithmetic only
(functions/hashing.py portability contract).

Scale design (100 TB): pk1's only wide dependency is a global
running token count — a range-partitioned sort at cluster scale;
everything downstream is per-row integer arithmetic.
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


QUERIES = {
    "pk1_pack_chunks": pk1_pack_chunks,
}
ORACLES = {
    "pk1_pack_chunks": PK1_ORACLE,
}
