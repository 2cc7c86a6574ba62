"""Property tests (hypothesis) for the cross-engine determinism
primitives: the int64 fixed-point mean that makes k-means oracle-able
(operators/kmeans.py) must agree BITWISE between Python driver math
and DuckDB SQL over arbitrary inputs — not just the embeddings the
gate happens to use.  Spark's side uses the same double ops (floor of
an exact power-of-two scaling), pinned separately by the sim4 oracle
gate."""

from __future__ import annotations

import math

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from python_sql_datawarehouse_project_spark.operators.kmeans import (
    KM_OFFSET,
    KM_Q,
)

components = st.floats(
    min_value=-1.0, max_value=1.0, allow_nan=False, allow_infinity=False
)


def _py_quant_mean(xs: list[float]) -> float:
    s = sum(math.floor((x + KM_OFFSET) * KM_Q) for x in xs)
    return float(s // len(xs)) / KM_Q - KM_OFFSET


@pytest.fixture(scope="module")
def con():
    return duckdb.connect()


@settings(max_examples=150, deadline=None)
@given(st.lists(components, min_size=1, max_size=64))
def test_quantized_mean_bitwise_matches_duckdb(xs):
    con = duckdb.connect()
    got = con.execute(
        f"""
        SELECT CAST(SUM(CAST(floor((x + {KM_OFFSET}) * {KM_Q}) AS BIGINT))
                    // COUNT(*) AS DOUBLE) / {KM_Q} - {KM_OFFSET}
        FROM (SELECT unnest(?::DOUBLE[]) AS x)
        """,
        [xs],
    ).fetchone()[0]
    want = _py_quant_mean(xs)
    # bitwise: struct-pack equality, not approx
    import struct

    assert struct.pack("<d", got) == struct.pack("<d", want), (got, want, xs)


@settings(max_examples=150, deadline=None)
@given(st.lists(components, min_size=1, max_size=64))
def test_quantized_mean_is_close_to_true_mean(xs):
    # the quantization must never distort clustering-relevant signal:
    # error is bounded by one quantum plus the floor bias
    got = _py_quant_mean(xs)
    true = sum(xs) / len(xs)
    assert abs(got - true) <= 2.0 / KM_Q + 1e-12


def test_xlsx_column_index_roundtrip():
    from python_sql_datawarehouse_project_spark.sources.xlsx import _col_index

    def letters(n: int) -> str:
        out = ""
        n += 1
        while n:
            n, r = divmod(n - 1, 26)
            out = chr(ord("A") + r) + out
        return out

    for i in [0, 1, 25, 26, 27, 51, 52, 701, 702, 703, 16383]:
        assert _col_index(f"{letters(i)}1") == i
