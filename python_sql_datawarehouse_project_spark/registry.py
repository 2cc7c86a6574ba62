"""Central query/oracle registry aggregated from the operator modules.

Contract (driver): every key in queries() takes (spark, sf_dir) and
returns a DataFrame; oracles() maps the same key to DuckDB SQL over
the pre-registered views (region nation customer supplier part orders
lineitem events documents) producing identical column names.  Every
key has an oracle: test_oracle_parity's
test_every_query_has_entry_or_documented_gap pins it (no gap is allowed).
Every gate is a batch query over operators/.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .operators import (
    analytics,
    bpe,
    corpus,
    profiling,
    quality,
    reconcile,
    recursive,
    text,
    tpch,
    tpch2,
    tpch3,
    windows,
)

# The seven warehouse-parity modules come first: their 50 gates are
# the keys COVERAGE.md's parity tables map, so a check of the first 50
# registry keys covers exactly the warehouse-parity gates.
_MODULES = (
    analytics,
    windows,
    recursive,
    reconcile,
    tpch,
    tpch2,
    tpch3,
    text,
    quality,
    corpus,
    profiling,
    bpe,
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable] = {}
    for m in _MODULES:
        dupes = set(out) & set(m.QUERIES)
        if dupes:
            raise ValueError(f"duplicate query keys: {dupes}")
        out.update(m.QUERIES)
    return out


def oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _MODULES:
        out.update(getattr(m, "ORACLES", {}))
    return out


# Gates whose row-level output is big enough (millions of rows at
# sf >= 1) that the full compare()'s driver-side materialization — not
# either engine — is the scaling bottleneck.  The sf1+ parity sweep
# checks these with testing.compare_hashed (in-engine count +
# order-insensitive md5 hash-sum on BOTH sides; VERDICT r6 #5); at
# <= sf0.1 the full row-by-row compare remains the gate.  Declared
# here so the CLI sweep and the artifacts' __meta__ share one list.
HASHED_AT_SCALE = frozenset({
    # round-8 additions (VERDICT r7 #7): profiled the 32 gates the
    # sf10 sweep excluded on the sf1 >15 s bound — for these the sf1
    # cost is row MATERIALIZATION (output scales with the table:
    # 0.2-10M rows at sf10), not engine compute, so the hashed path
    # brings them into the sf10 sweep.  The compute-bound exclusions
    # (tx10's fixed-size-but-heavy oracle, q44's basket pairs) stay
    # out — hashing cannot help an oracle whose WHERE/JOIN is the
    # expensive part.
    "tx12_commonness",
    "tx16_bigram_novelty",
    "tx2_quality_score",
    "tx3_language_id",
    "tx5_tfidf_top_terms",
    "tx7_repetition",
    # pre-round-8 members
    "q1_monthly_sales_product",
    "q43_recursive_sql",
    "q4_running_sales",
    "q9_delayed_orders_chain",
    "qa2_dup_keys",
    "tx8_chunks",
    "w2_lead_end_dating",
})
