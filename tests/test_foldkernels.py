"""Bit-equality pins for the Arrow/numpy band kernels (r10).

functions/foldkernels.py replaces the interpreted Catalyst folds of
the multi-projection banding stages (dedup._auto_bands,
dedup._bucket_col).  The optimization contract is BITWISE
equality — the driver hash-compares gate outputs against the DuckDB
oracle, so "close" is a regression.  These tests compare each
deployed kernel against a hand-built evaluation of the exact
Catalyst expression it replaced, on the real sf embeddings table.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from python_sql_datawarehouse_project_spark.functions import foldkernels as K
from python_sql_datawarehouse_project_spark.functions import hashing as H


def _cat_proj(planes, i):
    """The pre-r10 interpreted Catalyst projection fold for plane i."""
    return F.aggregate(
        F.zip_with(
            F.col("vn"),
            F.array(*[F.lit(c) for c in planes[i]]),
            lambda x, r: x * r,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def test_band_keys_np_matches_catalyst(spark, sf_dir):
    # band_keys_np against a hand-built Catalyst evaluation of the
    # same planes (the pre-r10 _auto_bands body), on real vectors.
    from python_sql_datawarehouse_project_spark.operators.dedup import (
        _auto_bands,
        _auto_bits,
        _load_normalized,
    )

    n = _load_normalized(spark, sf_dir)
    bits = _auto_bits(n.count())
    bands_count = 4
    planes = H.rp_planes(bands_count * bits)

    keys = []
    for k in range(bands_count):
        key = F.lit(k << bits).cast("long")
        for t in range(bits):
            key = key + F.when(
                _cat_proj(planes, k * bits + t) > 0, F.lit(1 << t).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        keys.append(key)
    cat = n.select("vec_id", F.explode(F.array(*keys)).alias("band_key"))
    got = _auto_bands(n, bits, bands_count)
    cat_rows = sorted(map(tuple, cat.collect()))
    assert cat_rows, "fixture table empty"
    assert sorted(map(tuple, got.collect())) == cat_rows


def test_bucket_np_matches_catalyst(spark, sf_dir):
    # bucket_np against the pre-r10 dedup._bucket_col body.
    from python_sql_datawarehouse_project_spark.operators.dedup import (
        _load_normalized,
    )

    n = _load_normalized(spark, sf_dir)
    planes = H.RP_PLANES[: H.RP_BITS]
    bucket = F.lit(0).cast("long")
    for i in range(H.RP_BITS):
        bucket = bucket + F.when(
            _cat_proj(planes, i) > 0, F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    cat = n.select("vec_id", bucket.alias("bucket"))
    got = n.select(
        "vec_id", K.bucket_np(planes)(F.col("vn")).alias("bucket")
    )
    cat_rows = sorted(map(tuple, cat.collect()))
    assert cat_rows, "fixture table empty"
    assert sorted(map(tuple, got.collect())) == cat_rows


def test_kernels_on_empty_frame(spark):
    empty = spark.createDataFrame([], "vec_id long, vn array<double>")
    bk = K.band_keys_np(H.rp_planes(8), 4, 2)
    assert empty.select(F.explode(bk(F.col("vn")))).count() == 0
    bu = K.bucket_np(H.rp_planes(4))
    assert empty.select(bu(F.col("vn"))).count() == 0


def test_sign_spark_nan_orders_greatest():
    # Spark/DuckDB: NaN > 0 is true; the kernels must band a NaN
    # projection as a set bit exactly like the Catalyst F.when(p > 0).
    import numpy as np

    proj = np.array([[1.0, -1.0, float("nan"), 0.0]])
    assert K._sign_spark(proj).tolist() == [[True, False, True, False]]
