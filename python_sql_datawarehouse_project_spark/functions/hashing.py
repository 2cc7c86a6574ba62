"""Engine-portable hashing primitives for the fingerprinting, sketch
and Bloom-filter operators (BASELINE.json north star, beyond the
reference's own surface; the reference has no hashing beyond Postgres
internals).

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

# Mersenne prime 2^31 - 1: modulus for the hash permutations.
MINHASH_P = 2_147_483_647


# Deterministic permutation coefficients a_i (odd, < 2^31) and b_i,
# from a fixed LCG so both engines share them as literals.
def _lcg_stream(seed: int):
    x = seed
    while True:
        x = (1103515245 * x + 12345) % (1 << 31)
        yield x


def _gen_bloom_coeffs(k: int) -> tuple[list[int], list[int]]:
    g = _lcg_stream(20260816)
    a = [((next(g) % (MINHASH_P - 1)) | 1) for _ in range(k)]
    b = [next(g) % MINHASH_P for _ in range(k)]
    return a, b


BLOOM_K = 3  # probes per key; BLOOM_BITS + doc block below
BLOOM_A, BLOOM_B = _gen_bloom_coeffs(BLOOM_K)

# Rolling fingerprint constants.
FP_MOD = 1_000_000_007
FP_MULT = 31

# Bloom-filter membership sketch (qa23): K positions per key in a
# BLOOM_BITS-bit space, packed 32 bits per int64 word so the mask and
# every probe shift stay < 2^31 — DuckDB's `<<` range-checks BIGINT
# overflow, so 1<<63-style masks are NOT portable; 32-bit packing is.
# Position i = ((h mod P) * A_i + B_i) mod P mod BLOOM_BITS with the
# Mersenne modulus P = MINHASH_P: (h mod P) < 2^31 and A_i < 2^31
# keep the product < 2^62 — exact int64 on both engines, no wrap
# (Java wraps silently, DuckDB errors: portable code must OVERFLOW
# NEVER, not overflow identically).  BLOOM_K itself is defined above,
# BEFORE the coefficient streams, so the probe count and coefficient
# count can never desynchronize (asserted below).
BLOOM_BITS = 1 << 22
assert len(BLOOM_A) == len(BLOOM_B) == BLOOM_K


# ---------------------------------------------------------------- Spark side
def md5_long(col: Column) -> Column:
    """60-bit integer hash of a string: first 15 hex chars of md5."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def bloom_positions(h: Column) -> Column:
    """array<long> of the BLOOM_K bit positions for a 60-bit key hash
    — each an exact int64 expression (see the BLOOM_* constants note
    on why nothing here may overflow on EITHER engine)."""
    hp = h % F.lit(MINHASH_P)
    return F.array(
        *[
            ((hp * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P))
            % F.lit(BLOOM_BITS)
            for a, b in zip(BLOOM_A, BLOOM_B)
        ]
    )


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


def sql_bloom_positions(h_expr: str) -> str:
    """DuckDB twin of bloom_positions: a BIGINT[] literal-arithmetic
    list over the same (A_i, B_i) coefficients."""
    terms = ", ".join(
        f"mod(mod(mod({h_expr}, {MINHASH_P}) * {a} + {b}, "
        f"{MINHASH_P}), {BLOOM_BITS})"
        for a, b in zip(BLOOM_A, BLOOM_B)
    )
    return f"[{terms}]"


def sql_poly_fingerprint(chars_expr: str) -> str:
    """list_reduce has no init value, so prepend 0 (= fold with init)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform({chars_expr}, c -> CAST(ascii(c) AS BIGINT))), "
        f"(acc, c) -> mod(acc * {FP_MULT} + c, {FP_MOD}))"
    )
