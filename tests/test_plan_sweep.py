"""Global physical-plan sweep: EVERY registry gate's plan is checked
for the anti-patterns that kill a 100x scale-up, in one test.

The per-operator pins in test_plans.py assert each design's SPECIFIC
shape (broadcasts, pushdown, zero-exchange layouts); this sweep is the
backstop that no gate — present or future — ships with:

  * CartesianProduct: an unconditioned cross join of two distributed
    relations.  (Broadcast nested-loop against a bounded/1-row side is
    a different node and is allowed — that is the standard scalar-
    aggregate probe pattern, e.g. q22's average-balance crossJoin.)
  * BatchEvalPython: a row-at-a-time (pickled) Python UDF in the
    plan.  All Python execution must go through Arrow
    (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas) — the
    10-100x rule from the module docstrings.
"""

from __future__ import annotations

import re

import pytest

from python_sql_datawarehouse_project_spark import registry


def _plan_of(df) -> str:
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


_QUERIES = registry.queries()


# Gates whose plan legitimately contains an `Exchange SinglePartition`
# (audited one by one, round 5).  Every entry is one of:
#   (a) a scalar/summary FINAL aggregate — the whole result is one (or
#       a handful of) rows, so the last merge step is single-partition
#       by definition (qa1, qa4, qa8, qa11-qa16, qa19, qa21
#       totals, q15/q17/q19/q22/q29/q31/q34/q36/q44 scalar probes,
#       tx5/tx9 corpus totals, pk1 budget cutoff);
#   (b) a two-phase prefix sum's OFFSET pass over |buckets| rows —
#       bounded by bucket count, never by data (qa21);
#   (c) a deliberately global window matching reference semantics on a
#       dimension-sized input (w3 surrogate keys — SURVEY §2.5 W6;
#       w4/w5 ntile/percent_rank over the customer dim).
# A NEW gate appearing here means a global exchange crept into its
# plan: either justify it in this list or restructure the query
# (bucket prefix sum / per-group windows / map-side-combinable aggs).
_SINGLE_PARTITION_OK = {
    "pk1_pack_chunks",
    "q15_top_supplier",
    "q17_small_quantity_revenue",
    "q19_disjunctive_revenue",
    "q22_dormant_high_balance",
    "q29_promo_revenue",
    "q31_date_dim",
    "q34_forecast_revenue",
    "q36_important_parts",
    "q44_market_basket",
    "qa11_fd_profile",
    "qa12_corr_profile",
    "qa13_benford_digits",
    "qa14_kmv_set_ops",
    "qa16_mad_outliers",
    "qa19_ndv_profile",
    "qa1_null_profile",
    "qa21_ks_distance",
    "qa4_kmv_distinct",
    "qa8_chisq_drift",
    "tx5_tfidf_top_terms",
    "tx9_bigram_lift",
    "w3_surrogate_keys",
    "w4_ntile_spend_quartiles",
    "w5_spend_percentile",
}


def test_single_partition_allowlist_names_live_gates():
    # A family deletion must take its keys out of this set too: a
    # stale name fails nothing, and a later gate reusing it would
    # inherit the exemption unaudited.
    stale = _SINGLE_PARTITION_OK - set(_QUERIES)
    assert not stale, f"_SINGLE_PARTITION_OK lists unknown keys: {sorted(stale)}"


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_no_scale_antipatterns(name, spark, sf_dir):
    df = _QUERIES[name](spark, sf_dir)
    # Output-type policy (VERDICT r7 #1): no gate returns DecimalType.
    # Money math is exact decimal INSIDE the aggregate, DOUBLE at the
    # output boundary — Spark and DuckDB widen decimal sums to
    # different precisions (decimal(28,4) vs DECIMAL(38,4)), which the
    # driver's schema/hash compare sees as a mismatch even when every
    # value is bit-identical (the sj1 round-7 red cell).  This closes
    # the class permanently.
    from pyspark.sql.types import DecimalType

    dec_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, DecimalType)]
    assert not dec_cols, (
        f"{name}: DecimalType output column(s) {dec_cols} — cast the "
        "final aggregate to DOUBLE on both the Spark and oracle side "
        "(star.py money routing)"
    )
    p = _plan_of(df)
    assert "CartesianProduct" not in p, f"{name}: non-broadcast cross join"
    assert "BatchEvalPython" not in p, f"{name}: row-at-a-time Python UDF in plan"
    if name not in _SINGLE_PARTITION_OK:
        # Catalyst's runtime bloom-filter join pushdown
        # (spark.sql.optimizer.runtimeFilter.*) injects its OWN
        # partial_bloom_filter_agg -> Exchange SinglePartition ->
        # bloom_filter_agg merge: the exchanged payload is the
        # fixed-size sketch buffer (~1 MiB), bounded regardless of
        # data, and ANY gate can trigger it depending on stats.
        # Strip those exchanges before asserting; real global
        # single-task stages remain caught.  The exemption is tied to
        # the exchange's DIRECT consumer: in formatted-explain details
        # the node block immediately after the Exchange's block is its
        # parent (the merge ObjectHashAggregate), so that block — not
        # an arbitrary 10-line window (ADVICE r9) — must carry the
        # bloom_filter_agg merge expression.
        lines = p.splitlines()

        def _consumer_block_has_bloom(i: int) -> bool:
            hdr = re.compile(r"\(\d+\) ")
            j = i + 1
            while j < len(lines) and not hdr.match(lines[j].strip()):
                j += 1
            k = j + 1
            while k < len(lines) and not hdr.match(lines[k].strip()):
                k += 1
            return any("bloom_filter_agg" in x for x in lines[j:k])

        bad = [
            i
            for i, l in enumerate(lines)
            if "SinglePartition" in l and not _consumer_block_has_bloom(i)
        ]
        assert not bad, (
            f"{name}: unaudited Exchange SinglePartition — a global "
            "single-task stage.  Restructure (bucketed prefix sum, "
            "per-group window, map-side-combinable aggregate) or "
            "audit and allowlist it in _SINGLE_PARTITION_OK.\n"
            + "\n".join(lines[bad[0] : bad[0] + 8] if bad else [])
        )
