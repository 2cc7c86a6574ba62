"""Empty-input boundary sweep: every gate runs against a
SCHEMA-ONLY (zero-row) copy of the test tables and must match its
DuckDB oracle there too.

Degenerate inputs are where engines disagree by construction — ANSI
Spark raises on division-by-zero where DuckDB yields inf/nan, a global
aggregate emits one all-NULL row where a grouped one emits none, an
empty literal array fails to type — and none of that is visible at any
populated scale factor.  The round-5 first run of this sweep found
three real bugs (qa14's unguarded sketch division, qa21's
global-vs-grouped final aggregate asymmetry, and an empty-centroid
literal array in a since-deleted k-means gate), all fixed; this suite
keeps the boundary pinned.

Known, documented divergence (excluded below): on EMPTY input Spark's
ROLLUP/CUBE emit no rows at all, while DuckDB follows the SQL standard
and still emits the grand-total grouping-set row (one all-NULL row
with a zero/NULL aggregate).  The two gates built on those operators
are correct on any populated input (driver-gate green at every SF);
the divergence is Spark's documented empty-relation behavior, not a
gate bug, so it is excluded rather than papered over with an
input-dependent union.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from python_sql_datawarehouse_project_spark import registry
from python_sql_datawarehouse_project_spark.testing import compare

# Spark emits zero rows for ROLLUP/CUBE over an empty relation; DuckDB
# emits the standard's grand-total row.  See module docstring.
_EMPTY_INPUT_DIVERGENT = {
    "q8_sales_rollup_product",
    "q11_sales_cube",
}

_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
)


@pytest.fixture(scope="module")
def empty_sf_dir(sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sf0"))
    con = duckdb.connect()
    for t in _TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src}') LIMIT 0) "
            f"TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )
    con.close()
    return out


@pytest.fixture(scope="module")
def one_row_sf_dir(sf_dir, tmp_path_factory):
    """One row per table — the degenerate-variance boundary (zero
    variance, zero histogram width, single-element windows, and a
    star join that comes up empty because the surviving keys don't
    match).  Found qa12/qa20's unguarded divisions."""
    out = str(tmp_path_factory.mktemp("sf1row"))
    con = duckdb.connect()
    for t in _TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src}') ORDER BY 1 LIMIT 1) "
            f"TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )
    con.close()
    return out


def _sweep(spark, data_dir):
    qs, oracles = registry.queries(), registry.oracles()
    failures = []
    for name in sorted(qs):
        if name in _EMPTY_INPUT_DIVERGENT:
            continue
        try:
            r = compare(name, qs[name], oracles[name], spark, data_dir)
            if not r.ok:
                failures.append((name, r.mismatches[:2]))
        except Exception as ex:  # noqa: BLE001 — collect, report all
            failures.append((name, [f"{type(ex).__name__}: {ex}"[:120]]))
    return failures


@pytest.mark.slow
def test_every_gate_matches_oracle_on_empty_input(spark, empty_sf_dir):
    failures = _sweep(spark, empty_sf_dir)
    assert not failures, f"empty-input divergences: {failures}"


@pytest.mark.slow
def test_every_gate_matches_oracle_on_one_row_input(spark, one_row_sf_dir):
    failures = _sweep(spark, one_row_sf_dir)
    assert not failures, f"one-row-input divergences: {failures}"
