"""Streaming maintenance of warehouse tables: a staged file feed ->
``readStream`` -> ``foreachBatch`` -> one fold per warehouse batch.

`drain` runs every stream.  A fold is ``(df, batch_id) -> None`` and
writes only through `Warehouse`, so a streamed table is the batch
path's table:

  * `fold_mvs` writes a gold fact batch and folds it into incremental
    MVs (plans/mv_incremental.py);
  * `fold_merge` upserts a CDC batch (`Warehouse.merge_upsert`);
  * `fold_scd2` keeps an SCD2 dimension (plans/scd2.py) as one
    snapshot batch per CDC batch.

Exactly-once output from at-least-once delivery: `foreachBatch` may
replay an epoch after a failure, but a replay rewrites the same batch
partitions (delete-then-insert, `Warehouse.write_batch`) from the same
inputs, so the output does not change.

Lineage is read from the warehouse, never from process memory: an MV
resolves its previous state from its completed state snapshots
(`mv_incremental.resolve_prev_state`), an SCD2 dimension from its
latest snapshot batch below the incoming id.  A restarted query or a
replayed epoch therefore resolves the same lineage.  Batch ids order
lexically (BATCH000001 < BATCH000002, E000001 < E000002).

The epoch policy comes from the feed's schema:

  * a feed with `dwh_batch_id` (gold facts tagged with their ingest
    batch; their dim snapshots were written first, the dependency
    gate of plans/pipeline.py) drains every available file in one
    epoch and folds each id separately, in id order;
  * a feed without it (CDC files) drains one file per epoch, in
    file modification-time order, and folds epoch N as batch
    ``E{N:06d}``.  ORDERING PRECONDITION: SCD2 and MERGE are
    order-sensitive (a file's change timestamps must be later than
    the table's versions of its keys), so the drop directory stands
    in for an ordered log (Kafka offsets, binlog positions) and its
    writer lands files in log order.  A feed that cannot guarantee
    order lands in a staging table and goes through the batch path.

MERGE's replay contract is narrower: `merge_upsert` mutates the table
in place, so what converges is re-running the LAST epoch against the
state it already (fully or partly) produced: updates rewrite the same
values, former inserts become no-op updates, deletes find nothing.
That is foreachBatch's failure mode (a restart replays only the
uncommitted epoch).  A feed that re-delivers old epochs after newer
ones needs `fold_scd2`'s snapshot-per-batch pattern.

The checkpoint is the caller's: it records the files each epoch
consumed, so a restart with the same checkpoint folds only new files
and continues the epoch numbering.  A deployment swaps
Trigger.AvailableNow for a processing-time trigger.  Per epoch the
work is the batch path's (a batch-sized delta), with no state store.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..plans import mv_incremental as mi
from ..plans import scd2
from ..plans.warehouse import BATCH_COL, Warehouse

Fold = Callable[[DataFrame, str], None]


def fold_epoch(fold: Fold, df: DataFrame, epoch_id: int) -> None:
    """The foreachBatch handler: fold one epoch as warehouse batches
    (its `dwh_batch_id`s in order, or batch ``E{epoch_id:06d}``)."""
    if BATCH_COL not in df.columns:
        fold(df, f"E{epoch_id:06d}")
        return
    for bid in sorted(r[0] for r in df.select(BATCH_COL).distinct().collect()):
        fold(df.filter(F.col(BATCH_COL) == bid).drop(BATCH_COL), bid)


def drain(
    spark: SparkSession,
    stage: str,
    schema: StructType | str,
    fold: Fold,
    checkpoint: str,
) -> None:
    """Fold every parquet file under `stage` that `checkpoint` has not
    recorded yet, then stop (Trigger.AvailableNow)."""
    feed = spark.readStream.schema(schema)
    if BATCH_COL not in feed.parquet(stage).columns:
        feed.option("maxFilesPerTrigger", 1)
    (
        feed.parquet(stage)
        .writeStream.foreachBatch(partial(fold_epoch, fold))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def fold_mvs(wh: Warehouse, names: list[str]) -> Fold:
    """Write each fact batch to gold.fact_sales, then fold it into
    each named incremental MV."""
    for name in names:
        if name not in mi.INCREMENTAL:  # fail fast, not mid-stream
            raise KeyError(f"{name} is not incrementally maintainable")

    def fold(facts: DataFrame, batch_id: str) -> None:
        wh.write_batch(facts, "gold", "fact_sales", batch_id)
        for name in names:
            mi.refresh_mv_incremental(wh, name, batch_id)

    return fold


def fold_merge(
    wh: Warehouse, layer: str, name: str, key_col: str, delete_col: str | None = None
) -> Fold:
    """Upsert each CDC batch into the table; its inserts land in the
    batch's own partition."""

    def fold(changes: DataFrame, batch_id: str) -> None:
        if not changes.isEmpty():
            wh.merge_upsert(
                layer, name, changes, key_col, batch_id, delete_col=delete_col
            )

    return fold


def fold_scd2(
    wh: Warehouse, layer: str, name: str, key: str, ts: str, tiebreak: str
) -> Fold:
    """Write each CDC batch's dimension snapshot as its own batch: the
    latest snapshot below it with the changes applied, or the changes
    versionized when there is none.  The dimension is the last batch."""

    def fold(changes: DataFrame, batch_id: str) -> None:
        prev = [b for b in wh.list_batches(layer, name) if b < batch_id]
        if prev:
            dim = wh.read_batch(layer, name, prev[-1]).drop(BATCH_COL)
            dim = scd2.apply_changes(dim, changes, key, ts, tiebreak)
        else:
            dim = scd2.versionize(changes, key, ts, tiebreak)
        wh.write_batch(dim, layer, name, batch_id)

    return fold
