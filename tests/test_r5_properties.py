"""Property tests (hypothesis) for the laws the round-5 gates rely on.

Pure Python + in-process DuckDB (no Spark session — the Spark side of
each law is already pinned by the oracle-parity gate; what these tests
probe is the MATH the gate designs assume, over adversarial inputs the
one fixed dataset cannot cover):

  * tx17's Gini form: the single-division 1 - Σc²/n² evaluates
    identically in DuckDB and Python for arbitrary count vectors.
"""

from __future__ import annotations

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

# ---------------------------------------------------------------- tx17
gini_counts = st.lists(
    st.integers(min_value=0, max_value=10**6), min_size=1, max_size=27
)


@settings(max_examples=100, deadline=None)
@given(gini_counts)
def test_tx17_gini_single_division_portable(cs):
    n = sum(cs)
    if n == 0:
        return
    sc2 = sum(c * c for c in cs)
    py = 1.0 - float(sc2) / (float(n) * float(n))
    [(ddb,)] = duckdb.sql(
        f"SELECT 1.0 - CAST({sc2} AS DOUBLE) "
        f"/ (CAST({n} AS DOUBLE) * CAST({n} AS DOUBLE))"
    ).fetchall()
    assert ddb == py
