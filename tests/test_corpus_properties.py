"""Property tests (hypothesis) for the corpus-assembly portability
primitives (operators/corpus.py): the int8 quantization rounding and
the chunk-span arithmetic must hold their contracts over ARBITRARY
inputs, and the rounding must agree bitwise with the DuckDB
formulation the oracle uses — not just on the embeddings/documents
the gates happen to scan."""

from __future__ import annotations

import math

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from python_sql_datawarehouse_project_spark.operators.corpus import (
    PACK_BUDGET,
)

# Exact zeros plus magnitudes >= 1e-6: eq1's documented domain.  A
# max|x| below ~1e-306 would push 127/max to inf on BOTH engines —
# real embedding components never get there, and hypothesis found the
# edge immediately, hence the explicit bound (see eq1's docstring).
components = st.one_of(
    st.just(0.0),
    st.floats(min_value=1e-6, max_value=8.0, allow_nan=False),
    st.floats(min_value=-8.0, max_value=-1e-6, allow_nan=False),
)


def _py_quantize(xs: list[float]) -> tuple[list[int], float]:
    m = max(abs(x) for x in xs)
    if m == 0.0:
        return [0 for _ in xs], float("nan")
    scale = 127.0 / m
    return [math.floor(x * scale + 0.5) for x in xs], scale


@settings(max_examples=150, deadline=None)
@given(st.lists(components, min_size=1, max_size=64))
def test_int8_quantize_codes_in_range_and_error_bounded(xs):
    q, scale = _py_quantize(xs)
    if math.isnan(scale):  # all-zero vector: eq1 emits NULLs by contract
        return
    # symmetric int8: every code representable, max |code| hit exactly
    assert all(-127 <= c <= 127 for c in q)
    assert max(abs(c) for c in q) == 127
    # reconstruction error bound: floor(x*s + .5) is within half a
    # quantization step
    for x, c in zip(xs, q):
        assert abs(c / scale - x) <= 0.5 / scale + 1e-12


@settings(max_examples=100, deadline=None)
@given(st.lists(components, min_size=1, max_size=32))
def test_int8_rounding_bitwise_matches_duckdb(xs):
    # The exact expression pair the eq1 oracle relies on: Spark's
    # floor(x*scale + 0.5) (long) vs DuckDB's floor(...) (double) must
    # produce the same integer for every double input.
    if max(abs(x) for x in xs) == 0.0:
        return
    con = duckdb.connect()
    got = con.execute(
        """
        WITH s AS (
            SELECT CAST(127 AS DOUBLE)
                   / list_max(list_transform(?::DOUBLE[], x -> abs(x)))
                       AS scale
        )
        SELECT list_transform(?::DOUBLE[],
                              x -> CAST(floor(x * scale + CAST(0.5 AS DOUBLE))
                                        AS BIGINT))
        FROM s
        """,
        [xs, xs],
    ).fetchone()[0]
    want, _ = _py_quantize(xs)
    assert list(got) == want


@settings(max_examples=150, deadline=None)
@given(st.lists(st.integers(min_value=1, max_value=5000), min_size=1, max_size=200))
def test_pack_chunks_spans_partition_the_token_stream(token_counts):
    # pk1's integer chunk arithmetic: document spans must tile the
    # concatenated token stream — consecutive docs meet exactly at
    # chunk boundaries, spans never go backwards, and the total chunk
    # count equals ceil(total/BUDGET).
    cum = 0
    prev_last = 0
    total = sum(token_counts)
    for n in token_counts:
        first = cum // PACK_BUDGET
        last = (cum + n - 1) // PACK_BUDGET
        assert first <= last
        assert first >= prev_last - 1 + (0 if cum % PACK_BUDGET else 0)
        # a doc starts in the chunk where the previous doc ended (or
        # the next one if the boundary fell exactly between them)
        assert first - prev_last in (0, 1) or cum == 0
        prev_last = last
        cum += n
    assert prev_last == (total - 1) // PACK_BUDGET


def test_pii_redaction_fires_on_real_pii(spark):
    # The corpus gate proves cross-engine parity but the synthetic
    # docs carry no PII; this pins actual redaction behavior, and that
    # both engines agree on crafted rows (same regexes, same result).
    from python_sql_datawarehouse_project_spark.operators.text import (
        PII_EMAIL_RE,
        PII_PHONE_RE,
        redact_pii,
    )
    from pyspark.sql import functions as F

    rows = [
        ("mail me at jane.doe+spam@example.co.uk today", 1, 0),
        ("call +1 (555) 123-4567 or 555 987 6543 now", 0, 2),
        ("two addrs: a@b.io and c.d@e-f.org, one line +44 20 7946 0958", 2, 1),
        ("no pii here, just spark and sql", 0, 0),
    ]
    df = spark.createDataFrame([(t,) for t, _, _ in rows], ["text"])
    got = df.select(
        redact_pii(F.col("text")).alias("red"),
        F.regexp_count("text", F.lit(PII_EMAIL_RE)).alias("ne"),
        F.regexp_count("text", F.lit(PII_PHONE_RE)).alias("np"),
    ).collect()
    for (text, want_e, want_p), r in zip(rows, got):
        assert r.ne == want_e, (text, r.ne)
        assert r.np == want_p, (text, r.np)
        if want_e:
            assert "<EMAIL>" in r.red and "@" not in r.red
        if want_p:
            assert "<PHONE>" in r.red
        # DuckDB twin of the full redaction agrees byte-for-byte
        duck = duckdb.sql(
            "SELECT regexp_replace(regexp_replace(?, ?, '<EMAIL>', 'g'),"
            " ?, '<PHONE>', 'g')",
            params=[text, PII_EMAIL_RE, PII_PHONE_RE],
        ).fetchone()[0]
        assert duck == r.red, (duck, r.red)


def test_bloom_screened_mix_is_conservative_subset(spark, sf_dir):
    # ds11 may only OVER-block relative to ds6's exact decontamination
    # (a Bloom has no false negatives): every screened doc must be in
    # the exact mix, and the docs it additionally drops must be
    # exactly ds6-mix docs the bloom doc-flags with zero exact overlap
    # (the sketch's doc-level FP mass, nothing else).
    from pyspark.sql import functions as F

    from python_sql_datawarehouse_project_spark.operators.approx import (
        qa23_bloom_decontam,
    )
    from python_sql_datawarehouse_project_spark.operators.mix import (
        ds6_clean_mix,
        ds11_bloom_screened_mix,
    )

    exact = {r.doc_id for r in ds6_clean_mix(spark, sf_dir).collect()}
    screened = {
        r.doc_id for r in ds11_bloom_screened_mix(spark, sf_dir).collect()
    }
    assert screened <= exact
    fp_docs = {
        r.doc_id
        for r in qa23_bloom_decontam(spark, sf_dir)
        .where(F.col("n_exact_hits") == 0)
        .collect()
    }
    assert exact - screened == exact & fp_docs


def test_ds12_budget_exact_and_flattened(spark, sf_dir):
    # ds12: the largest-remainder allocation sums EXACTLY to the
    # budget, quotas follow sqrt-flattened (not raw) shares, and the
    # selected sample per language is exactly the quota.
    from pyspark.sql import functions as F

    from python_sql_datawarehouse_project_spark.catalog import load_table
    from python_sql_datawarehouse_project_spark.operators.mix import (
        DS12_BUDGET,
        ds12_temperature_mix,
    )

    rows = {r["lang"]: r.asDict() for r in ds12_temperature_mix(spark, sf_dir).collect()}
    assert sum(r["alloc"] for r in rows.values()) == DS12_BUDGET
    for r in rows.values():
        assert r["n_sample"] == r["alloc"]
    n_total = sum(r["n_docs"] for r in rows.values())
    # sqrt-temperature flattening: the largest language's quota share
    # sits strictly between the uniform share and its raw share.
    biggest = max(rows.values(), key=lambda r: r["n_docs"])
    raw_share = biggest["n_docs"] / n_total
    quota_share = biggest["alloc"] / DS12_BUDGET
    uniform = 1.0 / len(rows)
    assert uniform < quota_share < raw_share
    # Selection is ds4's md5-rank order truncated at the quota: pin
    # membership for one language against a direct recomputation.
    from python_sql_datawarehouse_project_spark.functions import hashing as H

    lang = biggest["lang"]
    docs = load_table(spark, sf_dir, "documents").where(F.col("lang") == lang)
    expect = (
        docs.select(
            "doc_id",
            H.md5_long(F.col("doc_id").cast("string")).alias("h"),
        )
        .orderBy("h", "doc_id")
        .limit(biggest["alloc"])
        .agg(F.sum("doc_id"))
        .collect()[0][0]
    )
    assert biggest["sample_doc_id_sum"] == expect
