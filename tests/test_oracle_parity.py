"""Replicates the driver's DuckDB-oracle gate locally at sf0.001:
every registry query with an oracle must match on row count, columns
and order-insensitive canonicalized values."""

from __future__ import annotations

import os

import pytest

from python_sql_datawarehouse_project_spark import registry
from python_sql_datawarehouse_project_spark.testing import compare

_QUERIES = registry.queries()
_ORACLES = registry.oracles()

# The warehouse-parity gates (the registry's first 50 keys, which
# `__spark_entry__.queries()` lists first) get a second parity pass at sf0.01:
# sf0.001 is small enough that boundary conditions (empty partitions,
# single-band buckets) can pass trivially.
_PARITY_GATES = list(_QUERIES)[:50]
_SF01_DIR = os.environ.get("SPARK_GRAFT_SF01_DIR", "/root/testdata/sf0.01")


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_query_matches_oracle(name, spark, sf_dir):
    res = compare(name, _QUERIES[name], _ORACLES[name], spark, sf_dir)
    assert res.ok, (
        f"{name}: rows spark={res.spark_rows} oracle={res.oracle_rows}, "
        f"columns_match={res.columns_match}, values_match={res.values_match}; "
        + "; ".join(res.mismatches)
    )


@pytest.mark.slow
@pytest.mark.parametrize("name", _PARITY_GATES)
def test_parity_gates_also_match_at_sf01(name, spark):
    if not os.path.isdir(_SF01_DIR):
        pytest.skip(f"no sf0.01 testdata at {_SF01_DIR}")
    res = compare(name, _QUERIES[name], _ORACLES[name], spark, _SF01_DIR)
    assert res.ok, (
        f"{name}@sf0.01: rows spark={res.spark_rows} oracle={res.oracle_rows}, "
        f"columns_match={res.columns_match}, types_match={res.types_match}, "
        f"values_match={res.values_match}; " + "; ".join(res.mismatches)
    )


@pytest.mark.parametrize("name", ["q9_delayed_orders_chain", "q43_recursive_sql"])
def test_delayed_chain_matches_oracle_at_sf01(name, spark):
    if not os.path.isdir(_SF01_DIR):
        pytest.skip(f"no sf0.01 testdata at {_SF01_DIR}")
    res = compare(name, _QUERIES[name], _ORACLES[name], spark, _SF01_DIR)
    assert res.ok and res.spark_rows > 0, (res.spark_rows, res.mismatches)


def test_every_query_has_entry_or_documented_gap():
    missing = set(_QUERIES) - set(_ORACLES)
    assert not missing, f"queries without oracle: {missing}"


def test_named_gate_sets_name_live_gates():
    # A family deletion must take its keys out of this set too: a
    # stale name only surfaces later as a KeyError in a slow sweep.
    stale = registry.HASHED_AT_SCALE - set(_QUERIES)
    assert not stale, f"HASHED_AT_SCALE lists unknown keys: {sorted(stale)}"


def test_first_50_keys_are_the_parity_gates():
    # _PARITY_GATES and the driver's sf0.01 pass take the first 50
    # registry keys as the warehouse-parity gates; a module moved ahead
    # of them in _MODULES would silently swap extensions into that pass.
    from python_sql_datawarehouse_project_spark.operators import (
        analytics,
        reconcile,
        recursive,
        tpch,
        tpch2,
        tpch3,
        windows,
    )

    parity = [
        k
        for m in (analytics, windows, recursive, reconcile, tpch, tpch2, tpch3)
        for k in m.QUERIES
    ]
    assert len(parity) == 50
    assert _PARITY_GATES == parity


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_harness_flags_hugeint_oracle(spark, sf_dir):
    # The bug class that shipped in r1 (mm1) and r2 (qa5): a
    # DuckDB oracle carrying SUM(integer) as HUGEINT hash-fails at the
    # driver even when all values are identical.  The harness must flag
    # it locally as a TYPE mismatch (VERDICT r2 #3) — reverting any of
    # the CAST(... AS BIGINT) oracle fixes now fails pytest here and in
    # the per-query parity tests above.
    from pyspark.sql import functions as F

    from python_sql_datawarehouse_project_spark.catalog import load_table

    def q(spark, sf_dir):
        return (
            load_table(spark, sf_dir, "orders")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    hugeint = "SELECT o_orderpriority, SUM(1) AS n FROM orders GROUP BY 1"
    res = compare("hugeint_probe", q, hugeint, spark, sf_dir)
    assert not res.types_match and not res.ok
    assert any("decimal128(38, 0)" in m for m in res.mismatches), res.mismatches

    fixed = (
        "SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n "
        "FROM orders GROUP BY 1"
    )
    assert compare("hugeint_probe_fixed", q, fixed, spark, sf_dir).ok


# -- hashed compare (the sf>=1 big-output path, VERDICT r6 #5) --------
@pytest.mark.slow
def test_hashed_compare_agrees_with_full_compare(spark, sf_dir):
    """Every HASHED_AT_SCALE gate must pass the in-engine hashed
    compare at sf0.001 — the same verdict the full row compare above
    already renders, through the reduction path the sf1 sweep uses."""
    from python_sql_datawarehouse_project_spark.testing import compare_hashed

    for name in sorted(registry.HASHED_AT_SCALE):
        res = compare_hashed(
            name, _QUERIES[name], _ORACLES[name], spark, sf_dir
        )
        assert res.ok, f"{name}: {res.mismatches}"


def test_hashed_compare_detects_value_and_count_drift(spark, sf_dir):
    from python_sql_datawarehouse_project_spark.testing import compare_hashed

    name = "qa2_dup_keys"
    # value drift: same rows, one column zeroed
    bad_vals = (
        "SELECT l_orderkey, l_linenumber, CAST(0 AS BIGINT) AS n "
        "FROM lineitem GROUP BY 1, 2 HAVING COUNT(*) > 1"
    )
    assert not compare_hashed(
        name, _QUERIES[name], bad_vals, spark, sf_dir
    ).ok
    # count drift: one row dropped
    bad_rows = f"SELECT * FROM ({_ORACLES[name]}) ORDER BY 1, 2 OFFSET 1"
    res = compare_hashed(name, _QUERIES[name], bad_rows, spark, sf_dir)
    assert not res.ok and res.spark_rows == res.oracle_rows + 1
    # double sensitivity: a last-bit perturbation must flip the hash
    q4 = _ORACLES["q4_running_sales"].replace(
        "AS DOUBLE) AS running_sales",
        "AS DOUBLE) * (1.0 + 2.220446049250313e-16) AS running_sales",
    )
    assert not compare_hashed(
        "q4_running_sales", _QUERIES["q4_running_sales"], q4, spark, sf_dir
    ).ok


def test_canon_double_cross_engine_exact_and_injective(spark):
    """The (sign, mantissa, exponent) decomposition must render every
    double identically in both engines — including subnormals, the
    2^52/2^53 mantissa boundaries, +-0 and random bit patterns — and
    distinct doubles must get distinct strings (no collision hides a
    real divergence)."""
    import math
    import random
    import struct

    import duckdb

    from python_sql_datawarehouse_project_spark.testing import (
        _duck_canon_double,
        _spark_canon_double,
    )

    vals = [
        0.1, 1 / 3, 1234.56, 2.0**52, 2.0**52 - 1, 2.0**53, 2.0**53 + 2,
        1e308, 1e-308, 5e-324, 2.2250738585072014e-308, 1.0, 2.0, 0.5,
        -0.1, -2.5, 123456.789012, 7e22, 1e-30, math.pi, 0.0, -0.0,
    ]
    rng = random.Random(42)
    vals += [
        struct.unpack("d", struct.pack("Q", rng.getrandbits(63)))[0]
        for _ in range(200)
    ]
    vals = [v for v in vals if not (math.isnan(v) or math.isinf(v))]
    # NULL must render NULL in BOTH engines so the sentinel coalesce
    # fires — DuckDB's null-skipping concat() turned a NULL double
    # into the literal 'p' before the explicit IS NULL arm (caught by
    # the sf1 sweep on w6's second_price, invisible at sf0.001).
    vals.append(None)
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE vv(i INT, x DOUBLE)")
        con.executemany("INSERT INTO vv VALUES (?, ?)", list(enumerate(vals)))
        duck = [
            r[0]
            for r in con.execute(
                f"SELECT {_duck_canon_double('x')} FROM vv ORDER BY i"
            ).fetchall()
        ]
    finally:
        con.close()
    df = spark.createDataFrame(list(enumerate(vals)), "i int, x double")
    got = [r[0] for r in df.orderBy("i").select(_spark_canon_double(df.x)).collect()]
    assert got == duck
    assert got[-1] is None  # NULL propagates to the sentinel coalesce
    vals.pop()
    got.pop()
    # injective up to 0.0 == -0.0 (the full compare's equality too)
    assert len(set(got)) == len({0.0 if v == 0 else v for v in vals})
