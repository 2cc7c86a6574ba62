"""Arrow-vectorized numpy twins of the interpreted Catalyst fold
kernels for the MULTI-PROJECTION hot paths (r10 optimization, guide
§4.2: hand whole batches to vectorized native code instead of
interpreting per-element trees).

Catalyst evaluates higher-order functions — ``F.aggregate`` /
``zip_with`` / ``transform`` lambdas — INTERPRETED, outside
whole-stage codegen: every 64-dim fold walks an expression tree per
element, and the auto-banding stage walks bands*bits of them per row
(24 bands x 5 bits at the sf0.1 multi-probe signature = ~7.7k
tree-walks per row).  Replacing THAT stage with one Arrow kernel is a
measured 2.5-3x on every auto-banded gate (dd14 7.15->2.70 s,
dd16 7.35->2.32 s; OPTIMIZATION_r10.md).

Scope is deliberately narrow (r10, measured): kernels for the
SINGLE-fold sites — dot_fold itself, normalization, the k-means
centroid argmax — were built, bit-verified, benched at every call
site, and REJECTED: each ArrowEvalPython node carries a per-stage
Python round-trip that one 64-element fold never amortizes, a Python
UDF inside a join filter forces the pair frame to materialize through
Arrow instead of fusing into the join, and plan reuse re-evaluates
the node per subtree — the single-fold sites regressed 3.2-15x at
sf0.1.  Only the >100-folds-per-row sites keep the kernel:
``dedup._auto_bands`` (band_keys_np) and ``dedup._bucket_col``
(bucket_np).  hashing.dot_fold stays the Catalyst fold.

The kernels perform the IDENTICAL IEEE-754 operation sequence as the
Catalyst folds they replace.  The crux: an explicit per-dimension
accumulation loop

    proj = proj + V[:, j:j+1] * P[:, j]

executes exactly one IEEE-754 multiply and one IEEE-754 add per
element, in fold order, vectorized ACROSS (row, plane) lanes (lanes
are independent; partial sums of one lane are never reassociated) —
so every output bit matches the sequential Catalyst fold and
therefore the DuckDB oracle.  This is NOT true of ``np.dot`` /
``matmul`` (pairwise/blocked summation — the r8 PERF.md conclusion
that numpy "breaks determinism" applies to those only).  Bit-identity
is pinned on the real embeddings table by tests/test_foldkernels.py.

The kernels are ``arrow_udf``s, not pandas UDFs: the pandas return
path masks NaN to SQL NULL (pandas' null sentinel), while pyarrow
arrays built with ``from_pandas=False`` keep NaN as the IEEE double
it is — and the ListArray input form exposes the flat float64 child
buffer, so a fixed-dim batch reshapes zero-copy instead of stacking
per-row objects.  Sign semantics mirror Spark/DuckDB: NaN orders
GREATEST, so a NaN projection bands as a set bit exactly like the
Catalyst ``F.when(p > 0)``.  One documented seam: these kernels only
accept non-null fixed-dim batches (normalized embeddings are exactly
that) and raise on null/ragged input rather than reproducing
null-propagation — the Catalyst forms stay the general-purpose path.

In physical plans these surface as ArrowEvalPython nodes — the plan
sweep's BatchEvalPython (row-at-a-time pickle) ban is untouched.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import ArrayType, LongType

# Explicit DataType objects, never DDL strings: a string returnType is
# parsed lazily via the ACTIVE SparkContext, which does not exist when
# the Python worker re-imports this module to deserialize the UDF.
_LONG = LongType()
_LONG_ARR = ArrayType(LongType())


def _as_matrix(a: pa.Array) -> np.ndarray | None:
    """(n, dim) float64 view of a list<double> Arrow array, or None
    when the batch is empty/ragged/nullable (slow-path marker).  The
    uniform no-null case is a zero-copy reshape of the flat child
    buffer."""
    if isinstance(a, pa.ChunkedArray):
        a = a.combine_chunks()
    n = len(a)
    if n == 0 or a.null_count:
        return None
    offs = np.asarray(a.offsets)
    widths = np.diff(offs)
    if not (widths == widths[0]).all():
        return None
    dim = int(widths[0])
    flat = np.asarray(a.values, dtype=np.float64)
    return flat[int(offs[0]) : int(offs[0]) + n * dim].reshape(n, dim)


def _project(V: np.ndarray, P: np.ndarray) -> np.ndarray:
    """(n, planes) fold-order projections: proj[:, i] accumulates
    V[:, j] * P[i, j] over j sequentially — each (row, plane) lane is
    the exact Catalyst per-projection fold."""
    proj = np.zeros((V.shape[0], P.shape[0]))
    for j in range(V.shape[1]):
        proj = proj + V[:, j : j + 1] * P[:, j]
    return proj


def _sign_spark(proj: np.ndarray) -> np.ndarray:
    """`proj > 0` under Spark/DuckDB ordering where NaN is GREATER
    than any value (numpy comparisons with NaN are false)."""
    return (proj > 0) | np.isnan(proj)


def _matrix_or_raise(vn: pa.Array, who: str) -> np.ndarray | None:
    V = _as_matrix(vn)
    if V is None and len(vn):
        raise ValueError(
            f"{who}: null/ragged vn batch — normalized embeddings "
            "must be non-null fixed-dim"
        )
    return V


def _list_array(flat: np.ndarray, n: int, dim: int, pa_type) -> pa.Array:
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.ListArray.from_arrays(
        offsets, pa.array(flat.ravel(), type=pa_type, from_pandas=False)
    )


def band_keys_np(
    planes: list[list[float]], bits: int, bands_count: int
) -> Callable[[Column], Column]:
    """UDF factory: vn -> array<long> of bands_count band keys, band k
    keyed on sign bits [k*bits, (k+1)*bits) offset by k << bits —
    bit-identical to the pre-r10 dedup._auto_bands per-projection
    Catalyst folds + F.when(p > 0) bit assembly."""
    P = np.asarray(planes, dtype=np.float64)
    assert P.shape[0] == bands_count * bits

    @arrow_udf(_LONG_ARR)
    def _keys(vn: pa.Array) -> pa.Array:
        V = _matrix_or_raise(vn, "band_keys_np")
        if V is None:
            return pa.array([], type=pa.list_(pa.int64()))
        sign = _sign_spark(_project(V, P))
        n = V.shape[0]
        keys = np.empty((n, bands_count), dtype=np.int64)
        for k in range(bands_count):
            key = np.full(n, k << bits, dtype=np.int64)
            for t in range(bits):
                key += sign[:, k * bits + t].astype(np.int64) << t
            keys[:, k] = key
        return _list_array(keys, n, bands_count, pa.int64())

    return _keys


def bucket_np(planes: list[list[float]]) -> Callable[[Column], Column]:
    """UDF factory: vn -> long sign-of-projection bucket, bit i =
    (vn . plane_i) > 0 — bit-identical to the pre-r10
    dedup._bucket_col interpreted folds."""
    P = np.asarray(planes, dtype=np.float64)

    @arrow_udf(_LONG)
    def _bucket(vn: pa.Array) -> pa.Array:
        V = _matrix_or_raise(vn, "bucket_np")
        if V is None:
            return pa.array([], type=pa.int64())
        sign = _sign_spark(_project(V, P))
        key = np.zeros(V.shape[0], dtype=np.int64)
        for i in range(P.shape[0]):
            key += sign[:, i].astype(np.int64) << i
        return pa.array(key, type=pa.int64(), from_pandas=False)

    return _bucket
