"""Property tests for the corpus-assembly and text layers.

pk1's chunk-span arithmetic (operators/corpus.py) must tile the token
stream over ARBITRARY token counts (hypothesis), not just the documents
the gate happens to scan; the text layer's PII redaction
(operators/text.py) must fire on real PII, with Spark and DuckDB
agreeing on the redacted text byte for byte.

The other corpus-assembly and training-mix properties this file used
to hold went with their gates: pd1, eq1, ls1 and ds7 left
operators/corpus.py, and operators/mix.py (ds1-ds6, ds8, ds11, ds12)
and operators/approx.py (ds9, ds10, qa22, qa23, hh1) are deleted, as
are the `embeddings` table and the Bloom helpers of
functions/hashing.py.
"""

from __future__ import annotations

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from python_sql_datawarehouse_project_spark.operators.corpus import (
    PACK_BUDGET,
)


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
