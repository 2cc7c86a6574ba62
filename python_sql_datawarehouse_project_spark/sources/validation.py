"""Validation operators V1-V4 + row-quality aggregates P8/A8/A9
(SURVEY.md §2.11, §2.2, §2.4).

  V1 config match       file -> config lookup by (source_system,
                        extension, normalized name)
                        [reference batch_processing.py:400-457]
  V2 mapping validation normalized parquet column set == mapping set;
                        report missing/extra/expected/received
                        [validate_mapping.py:480-555]
  V3 row validation     per-required-column null/blank/NaN counts +
                        composite-key duplicate count; NON-FATAL
                        [validate_row.py:398-481; policy at
                        batch_processing.py:1209-1220]
  V4 target schema      required target cols subset of the table's
                        registered StructType
                        [load_to_bronze.py:123-137,457-490]

The row checks run as ONE aggregation per ingest call (A9's per-column
loop and A8's composite-key distinct count collapse into conditional
counts plus one count_distinct, grouped by file) over the bronze
batches the call wrote — one scan of each file's required columns from
parquet regardless of column count or file count, versus the
reference's one DuckDB query per column.  At 100 TB the counts are
map-side partial aggregates; the dup check's distinct is the only
shuffle.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType, StructType

from .mapping import normalize_name

NULL_SENTINEL = "<NULL>"
SEP = "\x1f"


# -- V1: config match -------------------------------------------------
@dataclass(frozen=True)
class SourceConfig:
    """One tools.client_config row: which landed files map to which
    bronze table."""

    source_system: str
    extension: str
    logical_source_file: str
    target_table: str


def match_config(
    filename: str, source_system: str, configs: list[SourceConfig]
) -> SourceConfig | None:
    """V1: (system, extension, normalized basename-prefix) lookup."""
    base, _, ext = filename.rpartition(".")
    nbase = normalize_name(base)
    for c in configs:
        if (
            c.source_system == source_system
            and c.extension.lstrip(".").lower() == ext.lower()
            and nbase.startswith(normalize_name(c.logical_source_file))
        ):
            return c
    return None


# -- V2: mapping (schema) validation ---------------------------------
@dataclass
class MappingValidation:
    ok: bool
    missing: list[str] = field(default_factory=list)  # mapped, not in file
    extra: list[str] = field(default_factory=list)  # in file, not mapped
    expected: list[str] = field(default_factory=list)
    received: list[str] = field(default_factory=list)


def validate_mapping(df: DataFrame, source_columns: list[str]) -> MappingValidation:
    received = [normalize_name(c) for c in df.columns]
    expected = [normalize_name(c) for c in source_columns]
    missing = sorted(set(expected) - set(received))
    extra = sorted(set(received) - set(expected))
    return MappingValidation(
        ok=not missing and not extra,
        missing=missing,
        extra=extra,
        expected=sorted(expected),
        received=sorted(received),
    )


# -- V3: row validation (P8 + A8 + A9) -------------------------------
def null_blank_nan(col: Column, is_numeric: bool) -> Column:
    """P8: NULL, blank-after-trim, or NaN (the reference's x <> x)."""
    cond = col.isNull() | (F.trim(col.cast("string")) == "")
    if is_numeric:
        cond = cond | F.isnan(col.cast("double"))
    return cond


def _normalized_key(col: Column) -> Column:
    """A8's dup-key normalization: lower(trim(x)), NULL -> sentinel."""
    return F.coalesce(F.lower(F.trim(col.cast("string"))), F.lit(NULL_SENTINEL))


@dataclass
class RowValidation:
    ok: bool
    total_rows: int
    null_counts: dict[str, int]
    duplicate_rows: int


def validate_rows(
    frames: list[tuple[DataFrame, list[str]]],
) -> list[RowValidation]:
    """V3 for several frames in ONE aggregation: per frame, the row
    count, every required column's null count (A9) and the
    composite-duplicate count (A8).  The frames are tagged with their
    index and unioned, so one shuffle grouped by index computes every
    count; a frame with no rows gets zero counts.  The normalized key
    is never NULL (NULL parts become a sentinel), so count_distinct
    counts every distinct key.  Non-fatal by contract — the caller
    logs and proceeds (reference WARNING-and-continue)."""
    width = max(len(req) for _, req in frames)
    tagged = []
    for i, (df, req) in enumerate(frames):
        numeric = {
            f.name for f in df.schema.fields if isinstance(f.dataType, NumericType)
        }
        key = F.concat_ws(SEP, *[_normalized_key(F.col(c)) for c in req])
        nulls = [null_blank_nan(F.col(c), c in numeric) for c in req]
        nulls += [F.lit(False)] * (width - len(req))
        tagged.append(
            df.select(
                F.lit(i).alias("__frame"),
                key.alias("__key"),
                *[n.alias(f"__null{j}") for j, n in enumerate(nulls)],
            )
        )
    rows = {
        r["__frame"]: r
        for r in reduce(DataFrame.unionByName, tagged)
        .groupBy("__frame")
        .agg(
            F.count(F.lit(1)).alias("__total"),
            F.count_distinct("__key").alias("__distinct"),
            *[
                F.count(F.when(F.col(f"__null{j}"), 1)).alias(f"__null{j}")
                for j in range(width)
            ],
        )
        .collect()
    }
    empty = {"__total": 0, "__distinct": 0} | {f"__null{j}": 0 for j in range(width)}
    out = []
    for i, (_, req) in enumerate(frames):
        r = rows.get(i, empty)
        dups = r["__total"] - r["__distinct"]
        nulls = {c: r[f"__null{j}"] for j, c in enumerate(req)}
        out.append(
            RowValidation(
                ok=dups == 0 and not any(nulls.values()),
                total_rows=r["__total"],
                null_counts=nulls,
                duplicate_rows=dups,
            )
        )
    return out


# -- V4: target schema validation ------------------------------------
def validate_target_schema(
    required: list[str], target_schema: StructType
) -> list[str]:
    """V4: required target columns missing from the registered table
    schema (empty list == valid)."""
    have = {normalize_name(f.name) for f in target_schema.fields}
    return sorted(
        c for c in required if normalize_name(c) not in have
    )
