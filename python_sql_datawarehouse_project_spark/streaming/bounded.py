"""Bounded-arrival sessionization — the PRODUCTION streaming shape,
as a first-class oracled gate.

  stream_sessions_bounded   per-user 30-min session windows drained
                            from a TIME-SLICED source directory in
                            APPEND mode, closed region only

WHY this gate exists (PERF.md r7 + the round-8 probe): draining the
whole events table as ONE AvailableNow batch puts every session into
a single state-store merge/commit — measured wedge at sf10 (9.5M
sessions/batch, both HDFS and RocksDB providers, append and complete
modes).  A real ingest never arrives that way: files land over time,
each micro-batch advances the watermark, closed sessions are EMITTED
and EVICTED as the drain walks forward.  This gate stages the events
table as N_SLICES mtime-ascending time-ordered parquet files and
drains with maxFilesPerTrigger=1 — measured at sf10 (PERF.md, "Round
8: stream_session_windows sf10 wedge RESOLVED", 64 slices): max live state
174,500 rows vs 9,528,000 total sessions, completes in 129 s (HDFS) /
208 s (RocksDB) and hash-matches the batch twin — where the
single-batch shape wedged past 30 min.  Per-batch live state is
~|sessions|/N_SLICES + the watermark lag: BOUNDED, arbitrarily
scalable by slicing finer.

Emission contract: append mode emits a session exactly once, when the
watermark passes its end.  The final watermark of a drained bounded
source is max(ts) - delay, so sessions ending later are still open at
termination and never emitted — the gate (like stream_sessions_custom,
stateful.py:112) restricts output to the CLOSED region
session_end < SESS_CUTOFF, which the oracle applies identically.
SESS_CUTOFF sits > 1 h + gap before the data's max ts at every SF, so
the region is watermark-safe by construction.

Determinism notes, learned the hard way:
  * slice assignment is ntile over ORDER BY (ts, event_id) — a total
    order, so file contents are identical run to run;
  * arrival order must equal time order (a time-ordered file arriving
    late would make its events late data and silently drop sessions):
    the stager writes slices via one partitionBy job and sets mtimes
    ascending in slice order, which FileStreamSource sorts by;
  * batch session_window (the twin this gate is pinned against in
    tests) must be MATERIALIZED before any filter on its output —
    Spark 4.1.2 pushes session_end predicates below the session
    merge, truncating sessions (see probe script docstring).

Reference parity: the reference has no streaming engine (SURVEY.md
§2.9); this is the extension family's production-arrival counterpart
to stream_session_windows' one-shot drain.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from .stateful import SESS_CUTOFF
from .windows import (
    _fast_tmpdir,
    _scoped_nanos_conf,
    _scoped_state_partitions,
    events_stream,
    run_available_now,
    session_windows,
    table_path,
)

# 4 slices at driver/bench SF: enough micro-batches to exercise
# cross-batch session merge + watermark eviction (the semantics under
# test) without paying 60+ fixed per-batch commit costs.  The sf10
# probe uses 64 — the knob is arrival granularity, not correctness.
N_SLICES = 4
# Above bench SF the slice count must GROW with the input or the
# per-batch session state recreates the exact wedge this gate exists
# to avoid (caught live by the first sf10 sweep that included this
# gate: 10M events / 4 slices = ~2.4M sessions per batch, stuck in
# the state-store merge).  The probe measured the healthy regime at
# ~156k rows/slice (64 slices at sf10, max live state 174.5k rows),
# so slices scale to hold rows-per-slice at that level, floored at
# N_SLICES so bench-SF behavior (and the incremental-drain pytest)
# is unchanged.
ROWS_PER_SLICE = 150_000


def _auto_slices(n_rows: int) -> int:
    return max(N_SLICES, -(-n_rows // ROWS_PER_SLICE))


@contextlib.contextmanager
def _sliced_source_dir(spark: SparkSession, src: str, n: int | None = None):
    """Stage `src` (one parquet table) as n time-ordered parquet files
    with ascending mtimes; yields the staging dir, removed on exit.

    One write job: ntile(n) over the (ts, event_id) total order, then
    partitionBy on the slice id — the data files themselves exclude
    the partition column, so the staged files carry the source schema
    and the stream reader needs no changes.  The ntile window is a
    deliberate single-partition stage over the STAGING data only (the
    measured operator is the drain, not the stager); a real deployment
    has no stager at all — files arrive already separated by time."""
    stage = tempfile.mkdtemp(prefix="spark-graft-sliced-src-", dir=_fast_tmpdir())
    tmp = tempfile.mkdtemp(prefix="spark-graft-slicer-", dir=_fast_tmpdir())
    try:
        df = spark.read.parquet(src)
        if n is None:
            n = _auto_slices(df.count())
        sliced = df.withColumn(
            "_slice",
            F.ntile(n).over(Window.orderBy("ts", "event_id")),
        )
        sliced.write.mode("overwrite").partitionBy("_slice").parquet(tmp)
        now = time.time()
        for i in range(1, n + 1):
            part_dir = os.path.join(tmp, f"_slice={i}")
            parts = sorted(
                f for f in os.listdir(part_dir) if f.endswith(".parquet")
            )
            for j, p in enumerate(parts):
                dst = os.path.join(stage, f"slice-{i:04d}-{j:04d}.parquet")
                os.link(os.path.join(part_dir, p), dst)
                t = now - (n - i)  # mtime ascends with slice order
                os.utime(dst, (t, t))
        yield stage
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)


def sessions_bounded_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the sliced source through the built-in session_window in
    append mode; returns the materialized emitted rows (closed
    sessions only, by append semantics)."""
    src = table_path(sf_dir, "events")
    with _scoped_nanos_conf(spark), _scoped_state_partitions(spark, src):
        with _sliced_source_dir(spark, src) as stage:
            return run_available_now(
                spark,
                session_windows(events_stream(spark, sf_dir, stage)),
                output_mode="append",
            )


def stream_sessions_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    drained = sessions_bounded_drain(spark, sf_dir)
    return drained.where(
        F.col("session_end") < F.lit(SESS_CUTOFF).cast("timestamp")
    )


# Identical closed-region session semantics to stream_sessions_custom:
# gaps-and-islands over the (ts, event_id) total order, end = last
# ts + gap, closed = end < SESS_CUTOFF.
from .stateful import STREAM_SESSIONS_CUSTOM_ORACLE  # noqa: E402

STREAM_SESSIONS_BOUNDED_ORACLE = STREAM_SESSIONS_CUSTOM_ORACLE

QUERIES = {"stream_sessions_bounded": stream_sessions_bounded}
ORACLES = {"stream_sessions_bounded": STREAM_SESSIONS_BOUNDED_ORACLE}
