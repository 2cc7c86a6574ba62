"""Streaming exact dedup via ``dropDuplicatesWithinWatermark`` —
the streaming twin of a batch exact dedup (SURVEY.md §2.9
extension), completing the streaming family: windowed aggs
(windows.py), arbitrary state (stateful.py), stream-stream join
(joins.py), and now keyed dedup.

`stream_dedup_events` throttles event deliveries to at most one row
per (user, event_type, event day): the projection keeps EXACTLY the
key columns, so whichever duplicate arrives first yields the same
output row — that is what makes a first-wins streaming dedup
hash-comparable to the batch ``SELECT DISTINCT`` oracle (a dedup
that carried non-key payload columns would be arrival-order
dependent and un-oracle-able by construction).

Semantics: ``dropDuplicatesWithinWatermark`` guarantees suppression
of duplicates that arrive within the watermark delay of each other
and drops per-key state once the watermark passes — bounded state,
the production contract for infinite streams (plain streaming
``dropDuplicates`` retains state forever).  Equality with the global
``SELECT DISTINCT`` oracle relies on the staged source being a
SINGLE parquet file, i.e. one micro-batch: AvailableNow does NOT
guarantee event-time-ordered batch delivery, so a multi-file events
table with duplicates more than DEDUP_DELAY apart split across
batches could legally re-emit rows.  ``stream_dedup_events`` asserts
the single-file precondition at runtime; a production multi-file
deployment instead needs a watermark delay covering the maximum
duplicate span (or accepts at-least-once emission across batches).

Scale notes: one shuffle per micro-batch on the dedup key into the
state store (RocksDB on a cluster); state per key is a single
timestamp, evicted at watermark + delay.  Runs under the same
right-sized state-store partition scope as the other stream gates.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table_path
from .windows import events_stream, run_available_now, stream_run_scope

DEDUP_DELAY = "2 days"


def dedup_events(stream: DataFrame) -> DataFrame:
    keyed = stream.select(
        "user_id",
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
    ).withWatermark("day", DEDUP_DELAY)
    return keyed.dropDuplicatesWithinWatermark()


def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = table_path(sf_dir, "events")
    # Single-file staging is the oracle-equality precondition (module
    # docstring): one file -> one micro-batch -> no duplicate pair can
    # span a watermark-expired batch boundary.
    assert os.path.isfile(src), (
        f"stream_dedup_events requires a single-file events source for "
        f"global-distinct equality; got a directory: {src}"
    )
    with stream_run_scope(spark, src) as stage:
        return run_available_now(
            spark,
            dedup_events(events_stream(spark, sf_dir, stage)),
            output_mode="append",
        )


STREAM_DEDUP_ORACLE = """
SELECT DISTINCT user_id, event_type, date_trunc('day', ts) AS day
FROM events
"""

QUERIES = {"stream_dedup_events": stream_dedup_events}
ORACLES = {"stream_dedup_events": STREAM_DEDUP_ORACLE}
