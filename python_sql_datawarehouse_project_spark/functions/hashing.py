"""Engine-portable hashing primitives for the LLM-data-pipeline
operators (dedup / fingerprinting — BASELINE.json north
star, beyond the reference's own surface; the reference has no hashing
beyond Postgres internals).

Every primitive exists twice: a Spark Column expression and a DuckDB
SQL fragment EMITTED FROM THE SAME PYTHON CONSTANTS, so the driver's
oracle comparison can hash-match bit-for-bit.  The portability
contract was verified empirically:

  * md5() produces identical hex on both engines (it's the standard
    digest), and a 15-hex-char prefix parsed base-16 fits in int64
    (60 bits), so `md5_long` is an identical 60-bit string hash on
    both sides.
  * int64 arithmetic (+ * % >> & <<) is exact and identical.
  * sequential left-folds over double arrays (Spark F.aggregate vs
    DuckDB list_reduce-with-prepended-init / list_dot_product) are
    bitwise identical — verified on all sf0.01 embeddings (500 dots,
    190 cosines, max abs diff 0.0).

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
input characters and embedding width, shuffle-free until the operator
that consumes them groups or joins.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^31 - 1: modulus for MinHash permutations.
MINHASH_P = 2_147_483_647
# Number of MinHash permutations and the LSH banding layout.
MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = MINHASH_K // LSH_BANDS

# Deterministic permutation coefficients a_i (odd, < 2^31) and b_i,
# from a fixed LCG so both engines share them as literals.
def _lcg_stream(seed: int):
    x = seed
    while True:
        x = (1103515245 * x + 12345) % (1 << 31)
        yield x


def _gen_coeffs(k: int) -> tuple[list[int], list[int]]:
    g = _lcg_stream(20240817)
    a = [((next(g) % (MINHASH_P - 1)) | 1) for _ in range(k)]
    b = [next(g) % MINHASH_P for _ in range(k)]
    return a, b


MINHASH_A, MINHASH_B = _gen_coeffs(MINHASH_K)


def _gen_bloom_coeffs(k: int) -> tuple[list[int], list[int]]:
    g = _lcg_stream(20260816)
    a = [((next(g) % (MINHASH_P - 1)) | 1) for _ in range(k)]
    b = [next(g) % MINHASH_P for _ in range(k)]
    return a, b


BLOOM_K = 3  # probes per key; BLOOM_BITS + doc block below
BLOOM_A, BLOOM_B = _gen_bloom_coeffs(BLOOM_K)

# Random-hyperplane LSH for embeddings: NBITS hyperplanes of dim DIM,
# components in [-0.5, 0.5) from the same LCG formula both engines
# can evaluate inline: r(i,j) = lcg(i*DIM+j)/2^31 - 0.5.
RP_BITS = 16
RP_DIM = 64
_RP_MULT = 1_103_515_245
_RP_INC = 12_345
_RP_MOD = 1 << 31

# Rolling fingerprint constants.
FP_MOD = 1_000_000_007
FP_MULT = 31

# Bloom-filter membership sketch (qa23): K positions per key in a
# BLOOM_BITS-bit space, packed 32 bits per int64 word so the mask and
# every probe shift stay < 2^31 — DuckDB's `<<` range-checks BIGINT
# overflow, so 1<<63-style masks are NOT portable; 32-bit packing is.
# Position i = ((h mod P) * A_i + B_i) mod P mod BLOOM_BITS with the
# same Mersenne modulus as MinHash: (h mod P) < 2^31 and A_i < 2^31
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


def _rp_value(i: int, j: int) -> float:
    """r(i, j) evaluated in Python — bitwise identical to
    sql_rp_component: the LCG is exact int64 arithmetic, the cast is
    exact (< 2^31), the divisor is a power of two (exact scaling), and
    the final subtraction rounds identically in IEEE double."""
    lcg = (_RP_MULT * (i * RP_DIM + j) + _RP_INC) % _RP_MOD
    return lcg / float(_RP_MOD) - 0.5


def rp_planes(count: int) -> list[list[float]]:
    """First `count` hyperplanes of the shared LCG family, as plain
    Python floats: consumers embed them as literal arrays
    (constant-folded by Catalyst) instead of re-deriving the LCG
    expression tree per array element inside an interpreted lambda.
    Plane i is the same row for every caller regardless of `count`,
    so a wider signature extends a narrower one — the auto-sizing
    path (dedup.dd14) and the frozen 16-plane gates draw from one
    deterministic family both engines can evaluate inline."""
    return [[_rp_value(i, j) for j in range(RP_DIM)] for i in range(count)]


# The frozen 16-plane signature the fixed-constant gates use.
RP_PLANES: list[list[float]] = rp_planes(RP_BITS)


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


def dot_fold(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two double arrays (deterministic
    summation order — bitwise-matches the DuckDB oracle).

    Stays the pure-JVM Catalyst fold ON PURPOSE (r10, measured): an
    Arrow/numpy twin (foldkernels module docstring) was swapped in at
    every call site and benched — the per-pair sites (join filters,
    single dots) REGRESSED 3-15x at sf0.1 because each ArrowEvalPython
    node costs a per-stage Python round-trip that a one-fold expression
    never amortizes, and a Python UDF in a join filter forces the pair
    frame to materialize through Arrow instead of fusing into the
    join's generated code.  The kernels survive only where ONE node
    replaces >100 folds per row (dedup._auto_bands banding,
    dedup._bucket_col) — see OPTIMIZATION_r10.md."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


# NOTE (measured, do not "optimize"): unrolling the dot product to
# `a[0]*b[0] + a[1]*b[1] + …` (127-node GetArrayItem tree) is 1.5-14x
# SLOWER than this interpreted fold on the pair hot path — the giant
# codegen expression defeats whole-stage compilation.  The lever that
# actually matters is partitioning the pair join's input (see dd5).


# --------------------------------------------------------------- DuckDB side
# SQL fragment emitters.  Each takes SQL expression strings and
# returns a SQL expression string implementing the same function.
def sql_md5_long(expr: str) -> str:
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


def sql_rp_component(i_expr: str, j_expr: str) -> str:
    idx = f"(CAST({i_expr} AS BIGINT) * {RP_DIM} + {j_expr})"
    return (
        f"(CAST(mod({_RP_MULT} * {idx} + {_RP_INC}, {_RP_MOD}) AS DOUBLE)"
        f" / {float(_RP_MOD)} - 0.5)"
    )


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


def sql_dot(a_expr: str, b_expr: str) -> str:
    """list_dot_product on DOUBLE[] is a sequential fold — verified
    bitwise-identical to dot_fold."""
    return f"list_dot_product({a_expr}, {b_expr})"


def sql_rp_bucket(vn_expr: str = "vn") -> str:
    """RP_BITS-bit hyperplane-sign bucket of a normalized DOUBLE[]
    column, emitted for DuckDB — the exact twin of
    dedup._bucket_col: each projection is the same sequential
    fold over vn[j] * r(i, j), so bucket assignment is bitwise
    identical across engines."""
    proj = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(range(0, {dim}), j -> "
        "{vn}[CAST(j AS INT) + 1] * {r})), (a, b) -> a + b)"
    ).format(dim=RP_DIM, vn=vn_expr, r=sql_rp_component("i", "j"))
    return (
        f"CAST(list_sum(list_transform(range(0, {RP_BITS}), i -> "
        f"CASE WHEN {proj} > 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) "
        f"ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
    )
