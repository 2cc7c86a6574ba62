"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs a registry query on Spark and its oracle SQL on DuckDB over the
same parquet tables, then compares row count, sorted column names and
(order-insensitively) canonicalized values.  Used by the pytest suite
at sf0.001 so oracle drift is caught before the driver's sf0.01 run.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import math
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .catalog import TABLES, table_path


def _canon_value(v):
    """Normalize a cell to a hashable, engine-independent value."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, _decimal.Decimal):
        return float(v)
    if isinstance(v, _dt.datetime):
        if v.time() == _dt.time(0, 0) and v.tzinfo is None:
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if hasattr(v, "item"):  # numpy scalar
        return _canon_value(v.item())
    if isinstance(v, (list, tuple)):
        return tuple(_canon_value(x) for x in v)
    if isinstance(v, bool):
        return bool(v)
    return v


def _type_category(t) -> str:
    """Coarse cross-engine type category for the strict type check.

    The driver's value hash distinguishes int from Decimal, so a
    DuckDB oracle that carries SUM(BIGINT) as HUGEINT (arrow
    decimal128(38,0)) hash-fails at the driver even when every value
    is identical — the bug class that shipped in rounds 1 (mm1) and
    2 (qa5) because fetchall() converts HUGEINT to Python int
    and the old canonicalizer coerced Decimal to float.  Comparing
    categories (integral / floating / decimal) per column catches it
    locally before the driver does.
    """
    import pyarrow as pa

    if isinstance(t, str):  # Spark simpleString
        if t in ("tinyint", "smallint", "int", "bigint"):
            return "integral"
        if t in ("float", "double"):
            return "floating"
        if t.startswith("decimal"):
            return "decimal"
        return "other"
    if pa.types.is_integer(t):
        return "integral"
    if pa.types.is_floating(t):
        return "floating"
    if pa.types.is_decimal(t):
        return "decimal"
    return "other"


def _canon_rows(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = [tuple(_canon_value(r[i]) for i in order) for r in rows]
    canon.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return canon


@dataclass
class ParityResult:
    name: str
    spark_rows: int
    oracle_rows: int
    columns_match: bool
    values_match: bool
    types_match: bool = True
    mismatches: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return (
            self.spark_rows == self.oracle_rows
            and self.columns_match
            and self.types_match
            and self.values_match
        )


def run_oracle(sql: str, sf_dir: str):
    """Run oracle SQL in DuckDB with the driver's view setup."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            p = table_path(sf_dir, t)
            if os.path.exists(p):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
                )
        return fetch_oracle(con, sql)
    finally:
        con.close()


def fetch_oracle(con, sql: str):
    """(columns, rows, arrow types) of `sql` on a DuckDB connection.

    Arrow fetch (not fetchall) so the oracle's carried types are
    visible: DuckDB's relational fetchall() narrows HUGEINT to a
    Python int, which is exactly what made the old harness blind to
    HUGEINT-vs-BIGINT value-hash failures."""
    tbl = con.execute(sql).fetch_arrow_table()
    cols = list(tbl.schema.names)
    types = [tbl.schema.field(i).type for i in range(tbl.num_columns)]
    pycols = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
    rows = list(zip(*pycols)) if tbl.num_columns else []
    return cols, rows, types


# -- hashed (streaming) compare for big-output gates ------------------
# VERDICT r6 #5: 18 gates were excluded from the sf1 parity sweep
# because their row-level outputs are in the millions and the full
# compare above materializes BOTH sides into Python tuples (the
# .collect() + tuple-sort is the bottleneck, not the engines).  This
# variant never moves rows out of either engine: each side reduces its
# output to (COUNT(*), SUM(md5_long(canonical_row_string))) — the same
# cross-engine 60-bit md5 hash the dd/tx gates already rely on — and
# only the two scalars cross.  Order-insensitive by commutativity of
# +, collision-safe to the same standard as the driver's value hash.
#
# Canonical cell rendering (both engines, verified by
# tests/test_oracle_parity.py::test_hashed_compare_*):
#   int/bool/string/date -> CAST AS STRING (identical text in both)
#   timestamp            -> explicit microsecond format pattern
#   double/float         -> "<sign><mantissa>p<exponent>": the IEEE
#     value decomposed arithmetically into its integer 53-bit
#     mantissa and binary exponent.  Neither engine's native
#     rendering can be trusted (measured: Java formats the SHORTEST
#     round-trip digits zero-padded while C prints the exact binary
#     expansion — '1.23456000000000000e+03' vs
#     '1.23455999999999995e+03' for the same bits; and DuckDB's
#     double->DECIMAL cast is approximate, '...991267328' vs the
#     exact '...993817880'), but multiplying by a power of two is
#     EXACT in IEEE — so m = |x| * 2^(52-e) with e = floor(log2|x|)
#     is computed bit-identically everywhere.  A one-step CASE
#     correction absorbs the +-1 ulp the two engines' log2 may
#     disagree by (the halving/doubling it applies is itself exact:
#     any scaled mantissa >= 2^53 is even).  NaN/Inf/zero (incl. -0,
#     matching the full compare's 0.0 == -0.0) get literal tags.
# NULL -> chr(1) sentinel; cells joined with chr(31).

_2_52, _2_53 = float(2**52), float(2**53)


def _spark_canon_double(col):
    from pyspark.sql import functions as F

    ax = F.abs(col)
    e0 = F.floor(F.log2(ax)).cast("int")
    # exact scaling: |x| * 2^(52-e0), split so each pow stays in
    # double range even for subnormal/huge inputs
    k = F.lit(52) - e0
    h1 = (k / F.lit(2)).cast("int")
    m0 = (
        ax
        * F.pow(F.lit(2.0), h1.cast("double"))
        * F.pow(F.lit(2.0), (k - h1).cast("double"))
    )
    over, under = m0 >= F.lit(_2_53), m0 < F.lit(_2_52)
    e1 = F.when(over, e0 + 1).when(under, e0 - 1).otherwise(e0)
    m1 = (
        F.when(over, m0 / F.lit(2.0))
        .when(under, m0 * F.lit(2.0))
        .otherwise(m0)
    )
    return (
        F.when(F.isnan(col), F.lit("NaN"))
        .when(col == F.lit(float("inf")), F.lit("Inf"))
        .when(col == F.lit(float("-inf")), F.lit("-Inf"))
        .when(col == F.lit(0.0), F.lit("0"))
        .otherwise(
            F.concat(
                F.when(col < 0, F.lit("-")).otherwise(F.lit("")),
                m1.cast("bigint").cast("string"),
                F.lit("p"),
                e1.cast("string"),
            )
        )
    )


def _duck_canon_double(q: str) -> str:
    ax = f"abs({q})"
    e0 = f"CAST(floor(log2({ax})) AS INT)"
    h1 = f"CAST((52 - {e0}) / 2 AS INT)"
    m0 = (
        f"({ax} * pow(2.0, {h1}) "
        f"* pow(2.0, CAST(52 - {e0} - {h1} AS DOUBLE)))"
    )
    e1 = (
        f"CASE WHEN {m0} >= {_2_53!r} THEN {e0} + 1 "
        f"WHEN {m0} < {_2_52!r} THEN {e0} - 1 ELSE {e0} END"
    )
    m1 = (
        f"CASE WHEN {m0} >= {_2_53!r} THEN {m0} / 2.0 "
        f"WHEN {m0} < {_2_52!r} THEN {m0} * 2.0 ELSE {m0} END"
    )
    # The explicit IS NULL arm is LOAD-BEARING: DuckDB's concat()
    # SKIPS null arguments (Spark's returns NULL), so without it a
    # NULL double falls through every WHEN (isnan(NULL) is NULL, not
    # true) into the ELSE and renders as the literal 'p' instead of
    # propagating NULL to the sentinel — caught by the sf1 sweep on
    # w6's second_price (single-order customers), invisible at
    # sf0.001 where every customer has >= 2 orders.
    return (
        f"CASE WHEN {q} IS NULL THEN NULL "
        f"WHEN isnan({q}) THEN 'NaN' "
        f"WHEN isinf({q}) AND {q} > 0 THEN 'Inf' "
        f"WHEN isinf({q}) THEN '-Inf' "
        f"WHEN {q} = 0.0 THEN '0' "
        f"ELSE concat(CASE WHEN {q} < 0 THEN '-' ELSE '' END, "
        f"CAST(CAST({m1} AS BIGINT) AS VARCHAR), 'p', "
        f"CAST({e1} AS VARCHAR)) END"
    )

_H_SEP = chr(31)
_H_NULL = chr(1)


def _spark_row_hash(sdf: DataFrame):
    from pyspark.sql import functions as F

    cells = []
    for c, t in sorted(sdf.dtypes):
        col = F.col(c)
        if t in ("double", "float"):
            v = _spark_canon_double(col.cast("double"))
        elif t in ("timestamp", "timestamp_ntz"):
            # NTZ included: a bare CAST AS STRING drops trailing-zero
            # fraction digits ('..:17' vs DuckDB strftime's
            # '..:17.000000') — caught by a since-deleted gate with
            # NTZ outputs when it joined the hashed cohort (the
            # session runs UTC so date_format is wall-clock identical).
            # Midnight renders as the bare date, mirroring the full
            # compare's _canon_value (timestamp@00:00 == date) so a
            # gate whose Spark side is date_trunc (timestamp) and
            # whose oracle is DATE hashes equal — caught by a since-
            # deleted streaming dedup gate's day column.
            full = F.date_format(col, "yyyy-MM-dd HH:mm:ss.SSSSSS")
            v = F.when(
                F.date_format(col, "HH:mm:ss.SSSSSS")
                == F.lit("00:00:00.000000"),
                F.date_format(col, "yyyy-MM-dd"),
            ).otherwise(full)
        else:
            v = col.cast("string")
        cells.append(F.coalesce(v, F.lit(_H_NULL)))
    from .functions import hashing as H

    h = H.md5_long(F.concat_ws(_H_SEP, *cells))
    return sdf.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(h.cast("decimal(38,0)")).alias("hsum"),
    ).first()


def _duck_canon_cell(c: str, t) -> str:
    import pyarrow as pa

    q = f'"{c}"'
    if pa.types.is_floating(t):
        v = _duck_canon_double(f"CAST({q} AS DOUBLE)")
    elif pa.types.is_timestamp(t):
        # midnight -> bare date, mirroring _canon_value (see the
        # Spark-side comment in _spark_row_hash)
        v = (
            f"CASE WHEN {q} = date_trunc('day', {q}) "
            f"THEN strftime({q}, '%Y-%m-%d') "
            f"ELSE strftime({q}, '%Y-%m-%d %H:%M:%S.%f') END"
        )
    else:
        v = f"CAST({q} AS VARCHAR)"
    return f"COALESCE({v}, chr(1))"


def compare_hashed(
    name: str,
    query_fn,
    oracle: str,
    spark: SparkSession,
    sf_dir: str,
) -> ParityResult:
    """compare(), but reduced in-engine to (count, hash-sum) so
    million-row outputs never materialize driver-side.  Schema and
    type-category checks are identical to compare()."""
    import duckdb

    from .functions import hashing as H

    sdf: DataFrame = query_fn(spark, sf_dir)
    s_cols = list(sdf.columns)

    con = duckdb.connect()
    try:
        for t in TABLES:
            p = table_path(sf_dir, t)
            if os.path.exists(p):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
                )
        schema = con.execute(
            f"SELECT * FROM ({oracle}) LIMIT 0"
        ).fetch_arrow_table().schema
        o_cols = list(schema.names)
        res = ParityResult(
            name=name,
            spark_rows=-1,
            oracle_rows=-1,
            columns_match=sorted(s_cols) == sorted(o_cols),
            values_match=False,
        )
        if not res.columns_match:
            res.mismatches.append(
                f"columns: spark={sorted(s_cols)} oracle={sorted(o_cols)}"
            )
            return res
        s_types = dict(sdf.dtypes)
        for c in o_cols:
            s_cat = _type_category(s_types[c])
            o_cat = _type_category(schema.field(c).type)
            if s_cat != o_cat:
                res.types_match = False
                res.mismatches.append(
                    f"type: {c} spark={s_types[c]}({s_cat}) oracle="
                    f"{schema.field(c).type}({o_cat})"
                )
        if not res.types_match:
            return res

        cells = ", ".join(
            _duck_canon_cell(c, schema.field(c).type)
            for c in sorted(o_cols)
        )
        hx = H.sql_md5_long(f"concat_ws(chr(31), {cells})")
        o_n, o_h = con.execute(
            f"SELECT COUNT(*), SUM(CAST({hx} AS HUGEINT)) "
            f"FROM ({oracle})"
        ).fetchone()
    finally:
        con.close()

    s = _spark_row_hash(sdf)
    res.spark_rows, res.oracle_rows = int(s["n"]), int(o_n)
    s_h = None if s["hsum"] is None else int(s["hsum"])
    o_h = None if o_h is None else int(o_h)
    res.values_match = s_h == o_h
    if not res.values_match:
        res.mismatches.append(f"hash-sum: spark={s_h} oracle={o_h}")
    return res


def compare(
    name: str,
    query_fn,
    oracle: str,
    spark: SparkSession,
    sf_dir: str,
    max_report: int = 5,
) -> ParityResult:
    return compare_frame(
        name, query_fn(spark, sf_dir), run_oracle(oracle, sf_dir), max_report
    )


def compare_frame(
    name: str, sdf: DataFrame, oracle_out, max_report: int = 5
) -> ParityResult:
    """Canonical compare of a Spark frame against a fetched oracle
    result (`run_oracle` / `fetch_oracle` output)."""
    s_cols = list(sdf.columns)
    s_rows = [tuple(r) for r in sdf.collect()]
    o_cols, o_rows, o_types = oracle_out

    res = ParityResult(
        name=name,
        spark_rows=len(s_rows),
        oracle_rows=len(o_rows),
        columns_match=sorted(s_cols) == sorted(o_cols),
        values_match=False,
    )
    if not res.columns_match:
        res.mismatches.append(f"columns: spark={sorted(s_cols)} oracle={sorted(o_cols)}")
        return res

    s_types = dict(sdf.dtypes)
    for c, ot in zip(o_cols, o_types):
        s_cat, o_cat = _type_category(s_types[c]), _type_category(ot)
        if s_cat != o_cat:
            res.types_match = False
            res.mismatches.append(
                f"type: {c} spark={s_types[c]}({s_cat}) oracle={ot}({o_cat})"
            )
    if not res.types_match:
        return res

    sc = _canon_rows(s_cols, s_rows)
    oc = _canon_rows(o_cols, o_rows)
    res.values_match = sc == oc
    if not res.values_match:
        from collections import Counter

        s_only = Counter(sc) - Counter(oc)
        o_only = Counter(oc) - Counter(sc)
        for r, _ in list(s_only.items())[:max_report]:
            res.mismatches.append(f"spark-only: {r}")
        for r, _ in list(o_only.items())[:max_report]:
            res.mismatches.append(f"oracle-only: {r}")
    return res
