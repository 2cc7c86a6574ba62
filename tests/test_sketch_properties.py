"""Property tests (hypothesis) for the sketch laws qa4/qa14 rely on.

qa14's whole design rests on KMV mergeability: the K smallest distinct
hashes of A ∪ B are recoverable from the two K-row sketches alone,
min-K(A ∪ B) = min-K(min-K(A) ∪ min-K(B)).  The gate exercises one
(orders, 1995/1996) instance; these tests assert the law over
arbitrary hash sets, including the adversarial overlaps hypothesis
likes (one set a prefix of the other, all-equal elements, |A| < K).

Pure-Python: the law is about ordered sets, not about Spark — the
operators implement exactly this arithmetic with md5_long values.  The
last test checks Spark's own HLL++ (`approx_count_distinct`) over
`events`.

The approximate-sketch gates this file also covered went with their
module: operators/approx.py (qa22, qa23, ds9, ds10, hh1) is deleted,
with operators/mix.py (ds1-ds6, ds8, ds11, ds12), corpus.py's pd1, eq1,
ls1 and ds7 gates, and the Bloom helpers of functions/hashing.py.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

K = 16  # small K so hypothesis explores the K-boundary cases

hashes = st.sets(st.integers(min_value=0, max_value=1 << 60), max_size=64)


def min_k(s: set[int], k: int = K) -> list[int]:
    return sorted(s)[:k]


@settings(max_examples=300, deadline=None)
@given(hashes, hashes)
def test_kmv_union_merge_law(a: set[int], b: set[int]):
    direct = min_k(a | b)
    merged = min_k(set(min_k(a)) | set(min_k(b)))
    assert merged == direct


@settings(max_examples=300, deadline=None)
@given(hashes, hashes)
def test_kmv_intersection_membership_is_sketch_decidable(a, b):
    # qa14's ρ numerator: for every h in the MERGED K-set, "h ∈ A and
    # h ∈ B" must be decidable from the two sketches alone — h below
    # a sketch's k-th value is in that sketch iff it is in the set.
    merged = min_k(set(min_k(a)) | set(min_k(b)))
    ka, kb = set(min_k(a)), set(min_k(b))
    for h in merged:
        in_a_sketch = h in ka
        in_b_sketch = h in kb
        # sketch membership must agree with true membership whenever
        # the sketch's coverage extends to h (fewer than K values, or
        # h <= max of the sketch)
        if len(ka) < K or (ka and h <= max(ka)):
            assert in_a_sketch == (h in a)
        if len(kb) < K or (kb and h <= max(kb)):
            assert in_b_sketch == (h in b)


@settings(max_examples=200, deadline=None)
@given(hashes)
def test_kmv_estimate_exact_below_k(a: set[int]):
    # With fewer than K distinct values the estimate must be exact:
    # qa4/qa14's CASE branch returns k_used itself.
    if len(a) < K:
        k_used = len(min_k(a))
        assert k_used == len(a)


def test_hll_approx_distinct_partitioning_invariant_and_bounded(spark, sf_dir):
    # approx_count_distinct is HLL++: register-max merge is commutative
    # and associative, so the estimate must be IDENTICAL under any
    # partitioning (the property that makes it safe to gate on at
    # scale), and within a few relative standard deviations of exact.
    from pyspark.sql import functions as F

    from python_sql_datawarehouse_project_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    rsd = 0.05
    est1 = ev.repartition(4).agg(
        F.approx_count_distinct("user_id", rsd).alias("e")
    ).first().e
    est2 = ev.repartition(17, "event_type").agg(
        F.approx_count_distinct("user_id", rsd).alias("e")
    ).first().e
    assert est1 == est2, "HLL estimate changed under repartitioning"
    exact = ev.select("user_id").distinct().count()
    assert abs(est1 - exact) <= max(3, 4 * rsd * exact), (est1, exact)
