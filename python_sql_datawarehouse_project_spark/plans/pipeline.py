"""Batch orchestrator: the Spark analogue of the reference's three
driver scripts (silver_clean_transform.py, gold_integration.py,
refresh_mv.py — SURVEY.md §3.2), collapsed into one in-process plan.

Lifecycle per batch:
  run_silver  -> every silver transform, logged to transformation_log
  run_gold    -> dims first, then facts gated on dim SUCCESS rows
                 (integration_dependencies semantics; SKIPPED rows are
                 logged exactly like gold_integration.py:276-290)
  run_mvs     -> FULL refresh of each registered MV over one shared
                 gold read, mv_refresh_log (or mode="incremental":
                 fold-the-batch state merge for the six maintainable
                 MVs, history recompute for the three order-dependent
                 ones)

Every step runs through `_step`: the step returns its row count or
raises, and `_step` logs one run-log row and returns the (ok, error,
rows) triple — the procs' EXCEPTION WHEN OTHERS handler, written once.
Each step's writes are delete-then-insert of its batch partition
(Warehouse.write_batch), so re-running a batch gives the same
warehouse.

Batch IDs follow the reference's "BATCH" + 6-digit counter
(batch_processing.py:49-56).
"""

from __future__ import annotations

from collections.abc import Callable
from functools import cache, partial

from .gold import DEPENDENCIES, INTEGRATIONS
from .mv import MVS, gold_frames, refresh_mv
from .mv_incremental import INCREMENTAL, refresh_mv_incremental
from .runlog import RunLog
from .silver import TRANSFORMS
from .warehouse import Warehouse


def next_batch_id(last: str | None) -> str:
    """BATCH###### counter (reference batch_processing.py:49-56)."""
    n = int(last.removeprefix("BATCH")) if last else 0
    return f"BATCH{n + 1:06d}"


def _step(
    log: RunLog,
    table: str,
    name: str,
    batch_id: str,
    fn: Callable[[], int],
    message: str | None = None,
) -> tuple[bool, str | None, int]:
    """Run one step and append its `table` row: SUCCESS with fn()'s row
    count, or FAILED with the exception's text.  `message` is logged
    when there is no error text."""
    try:
        ok, err, n = True, None, fn()
    except Exception as e:  # the procs' EXCEPTION WHEN OTHERS handler
        ok, err, n = False, str(e), 0
    log.append(
        table,
        proc_name=name,
        batch_id=batch_id,
        status="SUCCESS" if ok else "FAILED",
        record_count=n,
        message=err or message,
    )
    return ok, err, n


def run_silver(wh: Warehouse, log: RunLog, batch_id: str) -> dict[str, tuple]:
    return {
        name: _step(
            log, "transformation_log", name, batch_id, lambda: fn(wh, batch_id)
        )
        for name, fn in TRANSFORMS.items()
    }


def run_gold(wh: Warehouse, log: RunLog, batch_id: str) -> dict[str, tuple]:
    """Dims before facts; facts skipped unless all deps SUCCESS."""
    results = {}
    ordered = sorted(
        INTEGRATIONS, key=lambda k: (k in DEPENDENCIES, k)
    )  # no-dep (dims) first, then dependent (facts)
    for name in ordered:
        deps = DEPENDENCIES.get(name, ())
        done = log.successes("integration_log", batch_id)
        missing = [d for d in deps if d not in done]
        if missing:
            results[name] = (False, f"SKIPPED: deps not satisfied {missing}", 0)
            log.append(
                "integration_log",
                proc_name=name,
                batch_id=batch_id,
                status="SKIPPED",
                record_count=0,
                message=f"dependencies not satisfied: {missing}",
            )
            continue
        results[name] = _step(
            log,
            "integration_log",
            name,
            batch_id,
            lambda: INTEGRATIONS[name](wh, batch_id),
        )
    return results


def run_mvs(
    wh: Warehouse, log: RunLog, batch_id: str, mode: str = "full"
) -> dict[str, tuple]:
    """Refresh all nine MVs for `batch_id`.

    mode="full" (default, reference-faithful: refresh_mode='FULL' at
    materialized_view.sql:161-169) recomputes each MV over the batch.

    mode="incremental" is the scale path a 100 TB deployment runs:
    the six incrementally-maintainable MVs fold ONLY the new gold
    batch into their partial-aggregate state (cost proportional to the
    batch + group cardinality, never the fact history); the three
    order-dependent MVs (no state form, see plans/mv.py) are recomputed
    over full history, which is their only correct definition.  Each
    MV resolves its OWN latest completed snapshot (marker files,
    mv_incremental.resolve_prev_state) and folds in any gold batches
    no snapshot has covered — so an MV with a legitimately-empty
    first delta, or one newly added to INCREMENTAL on a warehouse
    with history, rebuilds correctly instead of silently restarting
    state from the current batch (ADVICE r9).

    The stage reads each gold batch once: one `gold_frames` reader,
    cached by batch id (None: history), serves every MV's step; a gold
    table that cannot be read fails each step that needs it.

    Semantics note: incremental mode produces `refresh_mv(wh, name,
    batch_id, gold_frames(wh))` semantics — each MV over FULL
    warehouse history as of `batch_id`.  That matches mode="full" only
    while the warehouse holds a single batch; with more batches
    loaded, mode="full" (reference-faithful) computes each MV over
    the named batch alone, so the two modes legitimately differ.  The
    parity pytest (tests/test_mv_incremental.py) pins incremental ==
    full-HISTORY recompute bitwise, not == mode="full" output.
    """
    incremental = mode == "incremental"
    # an exception is not cached, so a failed read is retried per step
    frames = cache(partial(gold_frames, wh))

    def refresh(name: str) -> int:
        if incremental and name in INCREMENTAL:
            return refresh_mv_incremental(wh, name, batch_id, frames)[1]
        return refresh_mv(
            wh, name, batch_id, frames(None if incremental else batch_id)
        )

    return {
        name: _step(
            log,
            "mv_refresh_log",
            name,
            batch_id,
            lambda: refresh(name),
            message=f"mode={mode}",
        )
        for name in MVS
    }


def run_batch(
    wh: Warehouse, log: RunLog, batch_id: str, mv_mode: str = "full"
) -> dict[str, dict]:
    """Full silver -> gold -> MV pass for one batch (the reference's
    three CLI entry points chained, minus the manifest file dance).
    `mv_mode` routes the MV stage (see run_mvs)."""
    silver = run_silver(wh, log, batch_id)
    gold = run_gold(wh, log, batch_id)
    mvs = run_mvs(wh, log, batch_id, mode=mv_mode)
    status = (
        "SUCCESS"
        if all(ok for ok, *_ in [*silver.values(), *gold.values(), *mvs.values()])
        else "FAILED"
    )
    log.append("job_execution_log", batch_id=batch_id, status=status)
    return {"silver": silver, "gold": gold, "mv": mvs}
