"""User-defined table function surface (SURVEY.md §2.10 parity, the
modern route): the reference's extension mechanism is plpgsql
procedures; the Spark-native equivalent for set-returning user logic
is the Python UDTF — arrow-batched, registered into the session
catalog, invoked via LATERAL.

  tx13_chunk_udtf   tx8's fixed-budget document chunking re-expressed
                    as a LATERAL Python UDTF, hash-matched against
                    tx8's own DuckDB oracle — proving the extension
                    path produces byte-identical results to the
                    built-in-expression path

This gate EXISTS to verify the extension seam, not to replace tx8:
the expression formulation is the production path (scan-speed,
JVM-side); the UDTF is what a user writes when their logic has no
expression equivalent (a real tokenizer, a model call).  The
measured gap between the two gates IS the documented cost of
dropping to Python — arrow batching keeps it a constant factor, not
the 10-100x of row-pickling UDFs.
"""

from __future__ import annotations

import hashlib
import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from .text import CHUNK_STRIDE, CHUNK_TOKENS, TX8_ORACLE, _STRIP_RE, _WS_RE


class ChunkDocument:
    """Arrow-batched UDTF: one input document -> its chunk rows.

    The normalization replicates text._norm exactly (ASCII-only
    regexes, so Python/Java/RE2 semantics coincide); chunk starts are
    range(0, n_tokens, CHUNK_STRIDE) — the same set sequence(0, n-1,
    stride) produces — and the hash is md5 over the space-rejoined
    chunk, matching F.md5/DuckDB md5 byte for byte."""

    def eval(self, text: str):
        if text is None:
            return
        s = re.sub(_WS_RE, " ", re.sub(_STRIP_RE, " ", text.lower())).strip()
        tk = s.split(" ") if s else []
        for start in range(0, len(tk), CHUNK_STRIDE):
            c = tk[start : start + CHUNK_TOKENS]
            yield (
                start // CHUNK_STRIDE,
                len(c),
                hashlib.md5(" ".join(c).encode()).hexdigest(),
            )


def tx13_chunk_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx8 via the user-extension seam: LATERAL Python UDTF."""
    from pyspark.sql.functions import udtf

    chunk = udtf(
        ChunkDocument,
        returnType="chunk_id int, n_chunk_tokens int, chunk_hash string",
        useArrow=True,
    )
    spark.udtf.register("spark_graft_chunk_udtf", chunk)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "spark_graft_docs_for_udtf"
    )
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_id, c.n_chunk_tokens, c.chunk_hash
        FROM spark_graft_docs_for_udtf d,
             LATERAL spark_graft_chunk_udtf(d.text) c
        """
    )


def ux1_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GROUPED_AGG pandas UDF seam — the third and last Python
    extension surface (§2.10) after mapInPandas (mm2) and the LATERAL
    UDTF (tx13): a user-defined AGGREGATE
    invocable inside a normal groupBy, arrow-batched per group.

    The UDAF computes the per-language character total over int64
    (numpy integer sum — exact, order-free) and is hash-matched
    against plain SUM: the gate proves a user's custom aggregate
    slots into the JVM aggregation pipeline and reproduces the
    built-in result bit for bit.  Scale: GROUPED_AGG ships each
    group's column to ONE python worker — fine for bounded groups
    (per-language stats); an unbounded-group custom aggregate
    belongs in applyInPandas with pre-aggregation instead."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    # Spark refuses to mix GROUPED_AGG pandas UDFs with built-in
    # aggregates in one agg() (INVALID_PANDAS_UDF_PLACEMENT), so the
    # row count is a second pandas UDAF rather than F.count.
    @pandas_udf("long")
    def char_sum(chars: pd.Series) -> int:
        return int(chars.sum())

    @pandas_udf("long")
    def row_count(chars: pd.Series) -> int:
        return int(len(chars))

    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        char_sum(F.col("n_chars")).alias("total_chars"),
        row_count(F.col("n_chars")).alias("n_docs"),
    )


UX1_ORACLE = """
SELECT lang,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       COUNT(*) AS n_docs
FROM documents
GROUP BY lang
"""


def ux2_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The declarative extension seam: a SQL UDF (Spark 4 CREATE
    FUNCTION ... RETURN <expr>) carrying the reference's R2/R3
    sales-consistency repair (tools.load_crm_sales_details_v1.sql:
    96-109 — if sales is null/<=0/inconsistent, recompute as
    qty * abs(price)).  Unlike every Python seam (mm2/tx13/ux1),
    a SQL UDF inlines into the plan as a plain expression tree:
    whole-stage codegen, predicate pushdown and CSE all still apply —
    it is the zero-overhead way to package a business rule, and the
    gate pins that the declared function reproduces the inline CASE
    bit-for-bit (the oracle writes the rule inline).

    The repair targets a deterministically corrupted sales column
    (every 7th order's sales nulled, every 11th negated) so the rule
    genuinely fires at any SF.  The consistency check compares
    sales_raw against the carried true total (l_extendedprice), not
    against q * (l_extendedprice / q): the double round-trip often
    differs from l_extendedprice by a ulp, which flagged CLEAN rows
    as repaired and perturbed their sales_fixed (round-6 ADVICE fix).
    The repair value itself stays the reference's recompute
    expression q * abs(p).  Scale: pure per-row expressions at
    parquet-scan speed; no shuffle."""
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION spark_graft_fix_sales(
            q DOUBLE, p DOUBLE, s DOUBLE, expected DOUBLE)
        RETURNS DOUBLE
        RETURN CASE WHEN s IS NULL OR s <= 0 OR s <> expected
                    THEN q * abs(p) ELSE s END
        """
    )
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "spark_graft_li_for_sqludf"
    )
    return spark.sql(
        """
        WITH corrupted AS (
            SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
                   l_extendedprice / l_quantity AS unit_price,
                   CASE WHEN l_orderkey % 7 = 0 THEN CAST(NULL AS DOUBLE)
                        WHEN l_orderkey % 11 = 0 THEN -l_extendedprice
                        ELSE l_extendedprice END AS sales_raw
            FROM spark_graft_li_for_sqludf
        )
        SELECT l_orderkey, l_linenumber,
               spark_graft_fix_sales(l_quantity, unit_price, sales_raw,
                                     l_extendedprice) AS sales_fixed,
               CAST(sales_raw IS NULL OR sales_raw <= 0
                    OR sales_raw <> l_extendedprice
                    AS INT) AS was_repaired
        FROM corrupted
        """
    )


UX2_ORACLE = """
WITH corrupted AS (
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
           l_extendedprice / l_quantity AS unit_price,
           CASE WHEN l_orderkey % 7 = 0 THEN CAST(NULL AS DOUBLE)
                WHEN l_orderkey % 11 = 0 THEN -l_extendedprice
                ELSE l_extendedprice END AS sales_raw
    FROM lineitem
)
SELECT l_orderkey, l_linenumber,
       CASE WHEN sales_raw IS NULL OR sales_raw <= 0
                 OR sales_raw <> l_extendedprice
            THEN l_quantity * abs(unit_price) ELSE sales_raw END
           AS sales_fixed,
       CAST(sales_raw IS NULL OR sales_raw <= 0
            OR sales_raw <> l_extendedprice
            AS INT) AS was_repaired
FROM corrupted
"""


QUERIES = {
    "tx13_chunk_udtf": tx13_chunk_udtf,
    "ux1_pandas_udaf": ux1_pandas_udaf,
    "ux2_sql_udf": ux2_sql_udf,
}
# tx8's oracle is column-compatible by construction — the whole point.
ORACLES = {
    "tx13_chunk_udtf": TX8_ORACLE,
    "ux1_pandas_udaf": UX1_ORACLE,
    "ux2_sql_udf": UX2_ORACLE,
}
