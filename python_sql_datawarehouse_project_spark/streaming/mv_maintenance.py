"""Streaming incremental MV maintenance: readStream -> foreachBatch
-> state(b) = merge(state(b-1), delta(b)).

The batch path (plans/mv_incremental.py) folds one gold batch into
each MV's partial-aggregate state.  This module is the
Structured-Streaming driver for the same contract: fact batches ARRIVE
as files in a staging directory, and every micro-batch routes through
``foreachBatch`` into the warehouse's idempotent batch writes + the
incremental refresh — the standard Spark recipe for streaming into a
batch-addressed sink with exactly-once OUTPUT semantics:

  * `foreachBatch` may replay an epoch after a failure, but each
    replay rewrites the same `dwh_batch_id` partitions
    (delete-then-insert overwrite, Warehouse.write_batch) and
    rebuilds the same state snapshot from the same inputs, so the
    published MV is identical — idempotence makes at-least-once
    delivery exactly-once output.
  * The previous-state pointer is NOT held in memory: each MV recovers
    it per batch from its own completed snapshots in the state layer
    (mv_incremental.resolve_prev_state: the latest snapshot strictly
    below the incoming id), so a restarted query — or a replayed
    epoch — resolves the same lineage.  Batch ids are
    lexicographically ordered by the ingest convention
    (BATCH000001 < BATCH000002 ..., the zero-padded format the
    reference's batch tracker assigns — see plans/ingest.py for the
    file:line citations).

Dim snapshots for a batch are written by the ingest pipeline before
its facts are staged (the dependency gate in plans/pipeline.py — same
ordering contract the batch path relies on).

Scale notes: the per-micro-batch work is exactly the batch path's —
a partition-pruned delta scan of the arriving batch plus a merge over
group-cardinality-bounded state.  Nothing here holds streaming state
in the state store; the MV state lives in the warehouse where it is
restart-safe, inspectable and shared with the batch path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import mv_incremental as mi
from ..plans.warehouse import BATCH_COL, Warehouse


class StreamingMVMaintenance:
    """foreachBatch handler maintaining a set of incremental MVs."""

    def __init__(
        self,
        wh: Warehouse,
        mv_names: list[str],
        publish_kwargs: dict[str, dict] | None = None,
    ):
        for name in mv_names:
            if name not in mi.INCREMENTAL:  # fail fast, not mid-stream
                raise KeyError(f"{name} is not incrementally maintainable")
        self.wh = wh
        self.mv_names = list(mv_names)
        self.publish_kwargs = publish_kwargs or {}

    def process_batch(self, df: DataFrame, epoch_id: int) -> None:
        """One micro-batch: the arriving fact rows, tagged with their
        ingest batch id.  AvailableNow may coalesce several staged
        batches into one epoch, so fold each id separately, in id
        order."""
        ids = [
            r[0]
            for r in df.select(BATCH_COL).distinct().collect()
        ]
        for bid in sorted(ids):
            fact = df.filter(F.col(BATCH_COL) == bid).drop(BATCH_COL)
            self.wh.write_batch(fact, "gold", "fact_sales", bid)
            for name in self.mv_names:
                mi.refresh_mv_incremental(
                    self.wh, name, bid, **self.publish_kwargs.get(name, {})
                )

    def run_available_now(
        self,
        spark: SparkSession,
        staging_dir: str,
        checkpoint_dir: str,
        schema: str,
    ) -> None:
        """Drain all staged fact files through the maintenance loop
        (Trigger.AvailableNow — the batch-drain mode every other
        streaming operator here uses; a production deployment swaps
        the trigger for a processing-time one, nothing else changes)."""
        q = (
            spark.readStream.schema(schema)
            .parquet(staging_dir)
            .writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
