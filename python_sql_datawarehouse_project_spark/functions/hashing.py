"""Engine-portable hashing primitives for the fingerprinting and
sketch operators (BASELINE.json north star, beyond the reference's own
surface; the reference has no hashing beyond Postgres internals).

Every primitive exists twice: a Spark Column expression and a DuckDB
SQL fragment EMITTED FROM THE SAME PYTHON CONSTANTS, so the driver's
oracle comparison can hash-match bit-for-bit.  The portability
contract was verified empirically:

  * md5() produces identical hex on both engines (it's the standard
    digest), and a 15-hex-char prefix parsed base-16 fits in int64
    (60 bits), so `md5_long` is an identical 60-bit string hash on
    both sides.
  * int64 arithmetic (+ * % >> & <<) is exact and identical.

Known NON-portable corners (found round 5, tests/test_r5_properties):
  * engine quantile built-ins: DuckDB quantile_cont interpolates
    lo*(1-f)+hi*f, Spark percentile lo+(hi-lo)*f — different rounding
    on adversarial doubles.  Compute order statistics explicitly
    (w8's sorted-frame two-middle average) instead.
  * DECIMAL->DOUBLE conversion: DuckDB converts via
    (double)unscaled_int / 10^scale — TWO roundings — while Spark's
    BigDecimal.doubleValue rounds once.  Exact below 2^53 unscaled
    (every gate's tested range; a global DECIMAL(.,4) money sum
    crosses it around sf10), 1-ulp drift possible above: keep money
    totals' unscaled magnitude under 2^53 or route the final compare
    through integers.

Scale notes: all of these are pure JVM-side column expressions in
Spark (whole-stage codegen, no Python row traffic); cost is linear in
input characters, shuffle-free until the operator that consumes them
groups or joins.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Rolling fingerprint constants.
FP_MOD = 1_000_000_007
FP_MULT = 31


# ---------------------------------------------------------------- Spark side
def md5_long(col: Column) -> Column:
    """60-bit integer hash of a string: first 15 hex chars of md5."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def poly_fingerprint(chars: Column) -> Column:
    """Left-fold Karp-Rabin rolling hash over a char array:
    acc = (acc*31 + ascii(c)) mod 1e9+7."""
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(FP_MULT) + F.ascii(c)) % F.lit(FP_MOD),
    )


# --------------------------------------------------------------- DuckDB side
# SQL fragment emitters.  Each takes SQL expression strings and
# returns a SQL expression string implementing the same function.
def sql_md5_long(expr: str) -> str:
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


def sql_poly_fingerprint(chars_expr: str) -> str:
    """list_reduce has no init value, so prepend 0 (= fold with init)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform({chars_expr}, c -> CAST(ascii(c) AS BIGINT))), "
        f"(acc, c) -> mod(acc * {FP_MULT} + c, {FP_MOD}))"
    )
