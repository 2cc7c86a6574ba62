"""Incremental materialized-view refresh: the state machinery.

The reference refreshes every MV with refresh_mode='FULL' (reference
sql/gold/materialized_view.sql:161-169, `MV Refresh Template.sql:33`)
— recompute over all history, overwrite.  At 100 TB that is the one
cost that grows without bound: batch N pays a scan of N partitions to
fold in one.  This module adds the scale path the reference lacks:

  state(b)  = merge(state(b-1), delta(b))
  output(b) = publish(state(b))

`delta` and `publish` are the MV's own definition
(plans/mv.INCREMENTAL, the same functions the full refresh composes
as publish(delta(gold))); this module owns everything around them:

* `delta(b)` runs over ONLY the new gold batch partition — a
  partition-pruned scan (PartitionFilters on dwh_batch_id, pinned by
  tests/test_mv_incremental.py), so the 100 TB fact history is never
  re-read.
* `state` is the delta's partial-aggregate table at the MV's group
  grain (or a finer grain when the MV needs exact COUNT(DISTINCT));
  its size is bounded by group cardinality, not fact rows.
* `merge` is a grouped re-aggregation of two state snapshots — legal
  exactly because every partial is distributive (SUM/MIN/MAX of
  SUM/MIN/MAX).  Snapshots are stored per batch (dwh_batch_id
  partition), so re-running a batch rebuilds its snapshot from the
  same inputs — the warehouse's delete-then-insert idempotency
  extends to MV state.
* completion markers and per-MV previous-snapshot resolution make an
  empty snapshot durable and a torn or missing one detectable.

The three order-dependent MVs have no state form (see plans/mv.py);
run_mvs(mode="incremental") recomputes them over full history.

Dimension-attribute drift: a state row keeps the dimension attributes
(names, category) it was built with.  Type-1 attribute rewrites
require a state rebuild (FULL refresh of the state table); this is
the standard incremental-view trade and is asserted nowhere —
batches in this warehouse carry their own dim snapshots.
"""

from __future__ import annotations

import os
from functools import partial, reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .mv import INCREMENTAL, STATE_DEC, IncSpec, gold_frames
from .warehouse import BATCH_COL, Warehouse

STATE_LAYER = "mv_state"
# Completion marker written next to the state partitions after every
# successful snapshot write.  Needed because write_batch leaves NO
# partition for an empty state, so "no partition on disk" is
# ambiguous between (a) a legitimately-empty snapshot and (b) a
# snapshot that was never written (torn run, or an MV newly added to
# INCREMENTAL on an existing warehouse).  The marker makes
# (a) durable and leaves (b) detectable (ADVICE r9).
_MARKER_PREFIX = "_state_complete_"

# merge function per partial column: how two snapshots' values combine
_MERGE_FN = {"sum": F.sum, "min": F.min, "max": F.max}


def _mark_state_complete(wh: Warehouse, name: str, batch_id: str) -> None:
    root = wh.path(STATE_LAYER, name)
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, f"{_MARKER_PREFIX}{batch_id}"), "w"):
        pass  # empty touch file; presence is the whole payload


def state_batches(wh: Warehouse, name: str) -> list[str]:
    """Batch ids with a COMPLETED state snapshot for `name` (marker
    files, which survive empty snapshots).  A snapshot whose marker
    was never written is not complete, even if its partition is on
    disk."""
    try:
        entries = os.listdir(wh.path(STATE_LAYER, name))
    except OSError:
        return []
    return sorted(
        e[len(_MARKER_PREFIX):]
        for e in entries
        if e.startswith(_MARKER_PREFIX)
    )


def resolve_prev_state(
    wh: Warehouse, name: str, batch_id: str
) -> tuple[str | None, list[str]]:
    """Per-MV previous-snapshot resolution (ADVICE r9: a global
    intersection across MVs empties when any one MV legitimately
    lacks a snapshot, silently dropping folded history for ALL MVs).

    Returns (prev, missing_gold_batches) where `prev` is the
    latest completed snapshot strictly below `batch_id` (None if this
    MV has none) and `missing` lists gold fact batches strictly
    between `prev` and `batch_id` that no snapshot has folded — a
    torn earlier run, or an MV added to INCREMENTAL on a warehouse
    with existing history.  Callers fold those deltas in (state
    rebuild-from-history degenerates to prev=None, missing=all)."""
    below = [b for b in state_batches(wh, name) if b < batch_id]
    prev = max(below) if below else None
    gold = wh.list_batches("gold", "fact_sales")
    missing = sorted(
        b for b in gold if b < batch_id and (prev is None or b > prev)
    )
    return prev, missing


def _merge(spec: IncSpec, snapshots: DataFrame) -> DataFrame:
    aggs = [
        _MERGE_FN[fn](F.col(col)).alias(col) for col, fn in spec.partials.items()
    ]
    # re-pin widened decimal sums to the canonical state type
    merged = snapshots.groupBy(*spec.keys).agg(*aggs)
    pinned = [
        F.col(c).cast(STATE_DEC).alias(c) if fn == "sum" and t.startswith("decimal")
        else F.col(c)
        for c, fn, t in (
            (c, spec.partials.get(c, ""), dict(merged.dtypes)[c])
            for c in merged.columns
        )
    ]
    return merged.select(*pinned)


def refresh_mv_incremental(
    wh: Warehouse,
    name: str,
    batch_id: str,
    frames=None,
    **publish_kwargs,
) -> tuple[int, int]:
    """Fold gold batch `batch_id` into MV `name`'s state and publish;
    `frames(b)` gives batch b's gold frames (default gold_frames).

    The state snapshot to build on is resolved PER-MV from this MV's
    own completed-snapshot markers (resolve_prev_state).  Gold fact
    batches between that snapshot and `batch_id` that no snapshot
    folded (a torn earlier run, or an MV new to INCREMENTAL) have their
    deltas folded in, so prior gold never silently drops out of state
    (ADVICE r9).  Returns (state rows, output rows).  Re-running the
    same batch rebuilds both partitions identically, as `refresh_mv`.

    Raises KeyError for the order-dependent MVs, which have no state
    form; callers route those through `mv.refresh_mv`.
    """
    if name not in INCREMENTAL:
        raise KeyError(
            f"{name} is not incrementally maintainable (its output depends "
            "on row order across all history); use plans.mv.refresh_mv"
        )
    spec = INCREMENTAL[name]
    prev_id, missing = resolve_prev_state(wh, name, batch_id)
    frames = frames or partial(gold_frames, wh)
    parts = [spec.delta(*frames(b)) for b in [*missing, batch_id]]
    # A completed snapshot with no partition on disk was EMPTY (markers
    # are written only after write_batch returns, and write_batch
    # leaves no partition for zero rows) — it contributes nothing.
    if prev_id is not None and wh.has_batch(STATE_LAYER, name, prev_id):
        prev = wh.read_batch(STATE_LAYER, name, prev_id).drop(BATCH_COL)
        parts = [prev, *parts]
    merged = (
        _merge(spec, reduce(DataFrame.unionByName, parts))
        if len(parts) > 1
        else parts[0]
    )
    n_state = wh.write_batch(merged, STATE_LAYER, name, batch_id)
    _mark_state_complete(wh, name, batch_id)
    # publish from the snapshot just written: truncates the merge
    # lineage (state(b) never re-derives state(b-1) at read time) and
    # is the partition-pruned small-scan path.
    state = wh.read_batch(STATE_LAYER, name, batch_id).drop(BATCH_COL)
    out = spec.publish(state, **publish_kwargs)
    n_out = wh.write_batch(out, "mv", name, batch_id)
    return n_state, n_out
