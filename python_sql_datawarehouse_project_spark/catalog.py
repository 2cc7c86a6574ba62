"""Table registry over the parquet test tables.

The reference resolves tables through config tables in a `tools`
schema (reference sql/tools/ddl_tools.sql:4-233); here the registry is
a plain name->path mapping over a scale-factor directory, loaded
lazily so Catalyst sees a parquet scan it can push filters into.

Every table reads through `sources.readers.read_parquet`, whose schema
cache makes a repeat load of an unchanged file start no Spark job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .sources.readers import read_parquet

# Driver-provided tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def events_ts_is_nanos(path: str) -> bool:
    """True when `events.ts` is stored as parquet TIMESTAMP(NANOS),
    which Spark's vectorized reader rejects without the
    legacy.parquet.nanosAsLong conf.  Footer-only sniff (no data IO)
    so the reader adapts to whichever unit the data generator used —
    the driver has shipped both nanos and micros over time.
    """
    import pyarrow.parquet as pq

    return str(pq.read_schema(path).field("ts").type) == "timestamp[ns]"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan for one registry table.

    `events.ts` stored as TIMESTAMP(NANOS) reads as raw nanos (the
    legacy.parquet.nanosAsLong conf `session.build_session` sets) and
    is truncated to microseconds — exactly what DuckDB's us-resolution
    TIMESTAMP does, so oracle comparisons agree to the microsecond.
    Micros-unit data needs no workaround and reads natively.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; registry has {TABLES}")
    path = table_path(sf_dir, name)
    nanos = name == "events" and events_ts_is_nanos(path)
    if nanos:
        # A no-op under build_session; a plain SparkSession (as
        # `__spark_entry__` callers build) cannot read the file without it.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, path)
    if not nanos:
        return df
    from pyspark.sql import functions as F

    # integer `div`, NOT `/`: float division of epoch-nanos loses
    # sub-microsecond precision (1.7e18 needs 61 bits > double's 53)
    return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
