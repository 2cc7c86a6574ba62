"""Property tests (hypothesis) for the laws the round-5 gates rely on.

Pure Python + in-process DuckDB (no Spark session — the Spark side of
each law is already pinned by the oracle-parity gate; what these tests
probe is the MATH the gate designs assume, over adversarial inputs the
one fixed dataset cannot cover):

  * rj2's dedup-free banding lemma: counting an overlapping pair only
    at the bucket of max(start_a, start_b) reproduces the brute-force
    pair count exactly, for ANY interval sets and bucket width —
    including spans longer than the bucket.
  * ev19's fixed-tree portability: DuckDB parses and evaluates the
    generated `c0*1.0 + c1*0.5 + ...` score expression exactly as the
    Python left-fold (left-associative, one rounding per op) — the
    assumption that lets the Spark tree and the oracle tree agree.
  * tx17's Gini form: the single-division 1 - Σc²/n² evaluates
    identically in DuckDB and Python for arbitrary count vectors.
"""

from __future__ import annotations

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

# ---------------------------------------------------------------- rj2
W = 7  # bucket width (days), as in the gate
intervals = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=200),  # start day
        st.integers(min_value=0, max_value=20),  # span (may exceed W)
    ),
    min_size=0,
    max_size=30,
)


def _overlap(a, b):
    (sa, la), (sb, lb) = a, b
    ea, eb = sa + la, sb + lb
    return sa <= eb and sb <= ea


def _banded_count(ivs):
    """The gate's formulation: explode to buckets, join within bucket,
    keep a pair only where bin == bucket(max(starts))."""
    ex = []  # (idx, start, end, bin)
    for i, (s, l) in enumerate(ivs):
        for b in range(s // W, (s + l) // W + 1):
            ex.append((i, s, s + l, b))
    n = 0
    for i, sa, ea, ba in ex:
        for j, sb, eb, bb in ex:
            if i < j and ba == bb:
                if sa <= eb and sb <= ea and ba == max(sa, sb) // W:
                    n += 1
    return n


@settings(max_examples=200, deadline=None)
@given(intervals)
def test_rj2_banding_counts_each_overlap_exactly_once(ivs):
    brute = sum(
        1
        for i in range(len(ivs))
        for j in range(i + 1, len(ivs))
        if _overlap(ivs[i], ivs[j])
    )
    assert _banded_count(ivs) == brute


# --------------------------------------------------------------- ev19
counts = st.lists(
    st.integers(min_value=0, max_value=10**12), min_size=1, max_size=31
)


@settings(max_examples=100, deadline=None)
@given(counts)
def test_ev19_score_tree_matches_duckdb_left_fold(cs):
    expr = " + ".join(
        f"CAST({c} AS DOUBLE) * {0.5**k!r}" for k, c in enumerate(cs)
    )
    [(ddb,)] = duckdb.sql(f"SELECT {expr}").fetchall()
    py = float(cs[0]) * 1.0
    for k, c in enumerate(cs[1:], start=1):
        py = py + float(c) * 0.5**k
    assert ddb == py


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
