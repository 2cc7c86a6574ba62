"""Warehouse-backed persisted Bloom membership index.

The production seam for qa23's sketch (operators/approx.py): a
training pipeline decontaminates every INGESTED batch against the
benchmark suite, and the benchmark itself grows (new eval releases).
Recomputing the benchmark gram set per ingest is the tax this index
removes — the same motivation as DedupIndex for candidate pairs,
applied to the membership sketch.

One index table (layer ``index``, partitioned by dwh_batch_id like
every warehouse table):

  bloom_words  (w, word) — the 32-bit-packed Bloom array of the
               batch's benchmark gram hashes; <= BLOOM_BITS/32 rows
               per partition REGARDLESS of how many grams built it.

Incremental growth is the sketch's OR-merge law made persistent:
``append_batch`` blooms ONLY the new benchmark docs and lands the
words as a new partition; ``merged`` folds every partition with one
groupBy(w).bit_or(word) over a bounded frame (sum of partition sizes
<= batches * BLOOM_BITS/32 rows — kilobytes per batch, never corpus-
scale).  pytest pins that append + merge equals a from-scratch
rebuild over the union bit-for-bit (tests/test_bloom_index.py), the
warehouse-grain restatement of the property-tested OR law.

``probe`` then runs qa23's broadcast probe against the merged words:
per-ingest decontamination cost is one pass over the BATCH's grams +
a ~1 MiB broadcast, independent of both corpus and benchmark size —
at 100 TB that is the difference between "screen each batch at wire
speed" and "re-shuffle the eval suite per ingest".  Unlike the
exact-join path, retiring or re-blooming a benchmark release is a
partition drop + re-merge, no corpus rescan.

A Bloom supports union but NOT subtraction — dropping a release
means dropping its PARTITION and re-merging, which this layout makes
a metadata operation; a counting filter would allow in-place deletes
at 4-8x the space, not needed while releases are append/drop-shaped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.approx import bloom_doc_hits, bloom_words
from .warehouse import BATCH_COL, Warehouse

LAYER = "index"
TABLE = "bloom_words"


class BloomIndex:
    """Persisted, OR-mergeable benchmark-membership sketch."""

    def __init__(self, warehouse: Warehouse):
        self.wh = warehouse

    def build(
        self, spark: SparkSession, bench: DataFrame, batch_id: str = "base"
    ) -> int:
        """Base snapshot: bloom the benchmark gram-hash frame (column
        ``h``) and persist it under `batch_id`; returns word rows."""
        return self.append_batch(spark, bench, batch_id)

    def append_batch(
        self, spark: SparkSession, bench: DataFrame, batch_id: str
    ) -> int:
        """Add a benchmark release: blooms ONLY `bench` (column
        ``h``) — cost scales with the release, never the index — and
        lands it as one partition.  Idempotent: a replay overwrites
        the same partition."""
        return self.wh.write_batch(bloom_words(bench), LAYER, TABLE, batch_id)

    def drop_release(self, batch_id: str) -> None:
        """Retire a benchmark release: partition drop, no rescan of
        anything (see the module note on why subtraction is a drop)."""
        self.wh.drop_batch(LAYER, TABLE, batch_id)

    def merged(self, spark: SparkSession) -> DataFrame:
        """(w, word): every persisted release OR-folded — the exact
        bloom of the UNION of all releases' gram sets (pytest-pinned
        against a from-scratch rebuild)."""
        return (
            self.wh.read_table(LAYER, TABLE)
            .drop(BATCH_COL)
            .groupBy("w")
            .agg(F.bit_or("word").alias("word"))
        )

    def probe(self, spark: SparkSession, grams: DataFrame) -> DataFrame:
        """(doc_id, n_grams, n_bloom_hits) for a (doc_id, h) gram
        stream — qa23's broadcast probe against the merged index."""
        return bloom_doc_hits(grams, self.merged(spark))
