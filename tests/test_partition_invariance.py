"""Partition-count invariance for float-producing gates.

The DuckDB oracle parity suite catches cross-ENGINE drift, but a
float aggregate that accumulates in partition order could still match
DuckDB at one partition count by accident and drift at another — the
failure mode a cluster hits when executor counts change between runs.
This suite re-runs the registry's float-heaviest gates at a DIFFERENT
shuffle-partition count (3 vs the session's 8) and asserts the
canonicalized result sets are IDENTICAL: every double must come from
order-independent sufficient statistics / fixed expression trees, not
from partition-ordered accumulation.

Gate selection: every family whose docstring carries a determinism
argument about float math (sufficient statistics, dyadic trees,
DECIMAL routing, fold arithmetic) — if one of these regresses to a
naive double SUM, this suite fails even though the oracle suite might
still pass at the test partition count.
"""

from __future__ import annotations

import pytest

from python_sql_datawarehouse_project_spark import registry
from python_sql_datawarehouse_project_spark.testing import _canon_rows

# Float-producing gates whose determinism rests on a design argument.
_FLOAT_GATES = (
    "qa12_corr_profile",
    "qa20_grouped_regression",
    "qa21_ks_distance",
    "tx17_char_diversity",
    "q1_monthly_sales_product",  # DECIMAL money routing
    "tx2_quality_score",  # fixed per-row expression tree
    "qa4_kmv_distinct",  # single-division estimate
)

_QUERIES = registry.queries()


def _run(spark, name, sf_dir):
    df = _QUERIES[name](spark, sf_dir)
    return _canon_rows(list(df.columns), [tuple(r) for r in df.collect()])


@pytest.mark.parametrize("name", _FLOAT_GATES)
def test_result_invariant_under_partition_count(name, spark, sf_dir):
    base = _run(spark, name, sf_dir)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        alt = _run(spark, name, sf_dir)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert base == alt, (
        f"{name}: result depends on shuffle partition count — a float "
        "accumulates in partition order somewhere"
    )


@pytest.mark.slow
def test_every_float_gate_is_partition_invariant(spark, sf_dir):
    """The systematic form of the suite above: EVERY gate whose
    result schema carries a float/double column re-runs at
    shuffle.partitions=3 and must match the default-partition result
    bitwise.  (The named subset documents WHY each design is
    invariant; this loop guarantees no gate ships without being
    checked at all.)"""
    names = [n for n in _QUERIES if n not in _FLOAT_GATES]
    failures = []
    old = spark.conf.get("spark.sql.shuffle.partitions")
    for name in names:
        df = _QUERIES[name](spark, sf_dir)
        if not any(t in ("double", "float") for _, t in df.dtypes):
            continue
        base = _canon_rows(list(df.columns), [tuple(r) for r in df.collect()])
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        try:
            alt = _run(spark, name, sf_dir)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        if base != alt:
            failures.append(name)
    assert not failures, (
        f"partition-count-dependent float results in: {failures}"
    )
