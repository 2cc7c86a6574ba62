"""Mapping-driven projection P1-P3 (SURVEY.md §2.2) — the config
layer that renames raw source columns to bronze target columns.

  P1: rename/projection from a column mapping
      [reference scripts/load_to_bronze.py:527-560]
  P2: heuristic id re-cast — if the TARGET name is id-like and the
      target type is integral, CAST(ROUND(CAST(x AS DOUBLE)) AS
      BIGINT) (pandas writes int ids with NaNs as doubles, "1.0")
      [load_to_bronze.py:246-262,527-553]
  P3: dwh_batch_id literal injection [load_to_bronze.py:559] is done
      by the bronze write (plans/warehouse.py Warehouse.write_batch)

Every other mapped column is cast to its declared type, so a bronze
column's type is the mapping's (the reference's fixed bronze DDL,
SURVEY.md §1.4), whatever the file holds: CSVs arrive all-string
(sources/readers.py).  A value that does not parse under its declared
type lands as NULL, as silver's own casts would make it.  Integral
targets parse through DECIMAL(38,18), so "3.0" lands as 3.

Name normalization (case/space-insensitive matching) mirrors the
reference's normalize_name [batch_processing.py:59-79].

All of it is a single .select() of column expressions — zero shuffle,
fully pushed into the scan at any scale.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# id-like target names: "id", "*_id", "id_*", or trailing "id"
# (reference load_to_bronze.py:246-262's regex heuristic).
_ID_RE = re.compile(r"(^id$)|(_id$)|(^id_)|(id$)", re.IGNORECASE)

_INT_TYPES = {"int", "integer", "bigint", "long", "smallint", "tinyint"}

# Reference type names Spark reads differently: a bare NUMERIC/DECIMAL
# is DECIMAL(38,18) there (SURVEY.md §1.2) but decimal(10,0) to Spark,
# and TEXT is no Spark type at all.
_SPARK_TYPES = {
    "numeric": "decimal(38,18)",
    "decimal": "decimal(38,18)",
    "text": "string",
}


def normalize_name(name: str) -> str:
    """Case/whitespace-insensitive identifier normalization."""
    return re.sub(r"\s+", "_", name.strip().lower())


@dataclass(frozen=True)
class ColumnMapping:
    """One source->target column rename with the target's declared type
    (the reference's tools.column_mapping row + information_schema
    type lookup)."""

    source: str
    target: str
    target_type: str = "string"


def _cast_for_target(col: Column, m: ColumnMapping) -> Column:
    target = m.target_type.strip().lower()
    target = _SPARK_TYPES.get(target, target)
    if target.split("(")[0] in _INT_TYPES:
        if _ID_RE.search(m.target):
            # P2: round through double first
            return F.round(col.try_cast("double")).cast("long")
        return col.try_cast("decimal(38,18)").try_cast(target)
    return col.try_cast(target)


def apply_mapping(df: DataFrame, mappings: list[ColumnMapping]) -> DataFrame:
    """P1 projection/rename + P2 and declared-type casts.

    Source columns are matched by normalized name, so a CSV header
    ' Cst Gendr ' maps onto source 'cst_gendr' (the reference's real
    data depends on this: header cst_gendr -> bronze cst_gndr)."""
    by_norm = {normalize_name(c): c for c in df.columns}
    cols = []
    for m in mappings:
        src = by_norm.get(normalize_name(m.source))
        if src is None:
            raise KeyError(
                f"mapping source column {m.source!r} not in {df.columns}"
            )
        cols.append(_cast_for_target(F.col(src), m).alias(m.target))
    return df.select(*cols)
