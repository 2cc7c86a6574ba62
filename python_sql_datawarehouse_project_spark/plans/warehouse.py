"""Warehouse storage: batch-partitioned parquet tables with the
reference's delete-then-insert idempotency, expressed as a staged write
swapped into the batch's directory (SURVEY.md §1.5).

Every bronze/silver/gold table is partitioned by dwh_batch_id; writing
a batch replaces exactly that partition ("DELETE WHERE dwh_batch_id =
X; INSERT", reference tools.load_crm_cust_info_v1.sql:58-62 and
scripts/load_to_bronze.py:590-604) and re-runs are exactly-once.  An
empty write deletes the partition, so a batch's partition is on disk
exactly when the batch has rows (`has_batch`, a directory check).  This
class owns each table's partition directories and its schema file
`{table}/_schema.json` (written by write_batch, read by read_table, so
no read re-discovers a schema from parquet footers): no other module
builds or parses their paths.  At 100 TB this is also the scan-pruning
story: every proc-equivalent reads one partition, never the table.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

BATCH_COL = "dwh_batch_id"


def _replace_file(path: str, text: str) -> None:
    """Write `text` to `path` atomically: a temp file in the same
    directory, then os.replace (an atomic rename on POSIX), so a reader
    sees the old content or the new, never a torn file."""
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(prefix=f".{os.path.basename(path)}.", dir=d)
    with os.fdopen(fd, "w") as f:
        f.write(text)
    os.replace(tmp, path)


class Warehouse:
    """A layered parquet warehouse rooted at a directory.

    Tables live at {root}/{layer}/{name}/ partitioned by dwh_batch_id.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, layer: str, name: str) -> str:
        return os.path.join(self.root, layer, name)

    def _batch_dir(self, layer: str, name: str, batch_id: str) -> str:
        return os.path.join(self.path(layer, name), f"{BATCH_COL}={batch_id}")

    def _schema_path(self, layer: str, name: str) -> str:
        # Spark's file listing skips names starting with `_` or `.`, so
        # neither this file nor its temp file is scanned as data.
        return os.path.join(self.path(layer, name), "_schema.json")

    def _recorded_schema(self, layer: str, name: str) -> StructType:
        with open(self._schema_path(layer, name)) as f:
            return StructType.fromJson(json.load(f))

    def _record_schema(self, layer: str, name: str, schema: StructType) -> None:
        """Record the table schema for a write of `schema`: its data
        columns, then every column only the previous record had (older
        batches still hold them); this write's type wins.  The batch
        column is the partition column, appended on read."""
        fields = [f for f in schema.fields if f.name != BATCH_COL]
        if os.path.exists(self._schema_path(layer, name)):
            have = {f.name for f in fields}
            fields += [
                f
                for f in self._recorded_schema(layer, name).fields
                if f.name not in have
            ]
        _replace_file(self._schema_path(layer, name), StructType(fields).json())

    def write_batch(self, df: DataFrame, layer: str, name: str, batch_id: str) -> int:
        """Delete-then-insert of one batch partition; returns rowcount.

        The table schema is recorded first, empty writes included, so
        a crash in between never hides a written column.

        The frame is written whole into a hidden staging directory of
        the table (Spark's file listing skips names starting with `.`,
        and list_batches reads only partition names), then swapped in:
        the old partition directory is renamed aside, the staging
        directory renamed into its place, and the old one removed.  The
        old rows stay readable until the swap, and a write that fails
        leaves them in place.  A killed write never reaches its
        cleanup, so each write first removes the staging and aside
        directories an earlier write of the same batch left.  The count
        is observed during the write job itself (F.observe: zero extra
        scans, exact number of rows that landed — the Spark analogue of
        GET DIAGNOSTICS ROW_COUNT in the procs); a zero count drops the
        partition instead, so an empty write leaves the batch absent.
        """
        from pyspark.sql import Observation

        self._record_schema(layer, name, df.schema)
        base = self.path(layer, name)
        prefix = f".staging-{batch_id}-"
        for d in os.listdir(base):
            if d.startswith(prefix):
                shutil.rmtree(os.path.join(base, d), ignore_errors=True)
        target = self._batch_dir(layer, name, batch_id)
        staging = os.path.join(base, f"{prefix}{uuid.uuid4().hex}")
        aside = f"{staging}.replaced"
        obs = Observation()
        out = df.drop(BATCH_COL).observe(obs, F.count(F.lit(1)).alias("rows"))
        try:
            # no _SUCCESS marker: the swap, not a marker file, publishes
            out.write.option(
                "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
            ).parquet(staging)
            n = int(obs.get["rows"])
            if os.path.isdir(target):
                os.rename(target, aside)
            if n:
                os.rename(staging, target)
        finally:
            for d in (staging, aside):
                shutil.rmtree(d, ignore_errors=True)
        return n

    def drop_batch(self, layer: str, name: str, batch_id: str) -> None:
        """Remove one batch partition directory (a no-op when absent)."""
        shutil.rmtree(self._batch_dir(layer, name, batch_id), ignore_errors=True)

    def rebuild_batch(
        self,
        source: tuple[str, str],
        layer: str,
        name: str,
        batch_id: str,
        build: Callable[[], DataFrame],
    ) -> int:
        """One pipeline step's lifecycle: when the `source` (layer,
        name) batch is absent, the target batch is made absent and the
        step returns 0 (the procs' COUNT(*) = 0 short-circuit,
        tools.load_crm_cust_info_v1.sql:29-40); otherwise it returns
        write_batch(build())."""
        if not self.has_batch(*source, batch_id):
            self.drop_batch(layer, name, batch_id)
            return 0
        return self.write_batch(build(), layer, name, batch_id)

    def has_batch(self, layer: str, name: str, batch_id: str) -> bool:
        """Whether the batch partition is on disk: a directory check,
        no Spark job.  write_batch never leaves an empty partition, so
        a present batch has rows."""
        return os.path.isdir(self._batch_dir(layer, name, batch_id))

    def read_table(self, layer: str, name: str) -> DataFrame:
        """The table read with its recorded schema plus the string batch
        column: no Spark job, and older batches read NULL for columns
        added later.  Raises FileNotFoundError for a table never
        written."""
        schema = self._recorded_schema(layer, name).add(
            StructField(BATCH_COL, StringType())
        )
        return self.spark.read.schema(schema).parquet(self.path(layer, name))

    def read_batch(self, layer: str, name: str, batch_id: str) -> DataFrame:
        """Partition-pruned single-batch scan (P4, SURVEY.md §2.2)."""
        return self.read_table(layer, name).filter(F.col(BATCH_COL) == batch_id)

    def fingerprint_batches(self, layer: str, name: str) -> DataFrame:
        """Per-batch content fingerprint (row count, BIT_XOR and
        mod-2^32 SUM of a canonical row hash) — the warehouse-API
        generalization of the q42 gate: two warehouses (a replica, a
        migrated copy, a rebuilt pipeline) compare per-batch rows
        instead of data, and only disagreeing batches need a q40-style
        full diff.

        All accumulators are commutative and map-side combinable, so
        the fingerprint is independent of file layout, partitioning
        and row order — rewriting a batch at another file count does
        not change it (pytest-pinned); any single-row change does.  Columns hash
        in sorted-name order with a NUL sentinel for NULLs (concat_ws
        would otherwise collide NULL column positions).  Same-engine
        comparisons only: the string rendering of doubles is
        Spark-internal, which is exactly the replica-vs-replica use
        case (the cross-ENGINE variant is the oracled q42 gate)."""
        df = self.read_table(layer, name)
        cols = sorted(c for c in df.columns if c != BATCH_COL)
        rendered = [
            F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
            for c in cols
        ]
        h = F.conv(
            F.substring(F.md5(F.concat_ws("\x1f", *rendered)), 1, 15), 16, 10
        ).cast("long")
        h32 = F.pmod(h, F.lit(1 << 32))
        return df.groupBy(BATCH_COL).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor(h32).alias("xor_fp"),
            F.pmod(F.sum(h32), F.lit(1 << 32)).alias("sum_fp"),
        )

    def list_batches(self, layer: str, name: str) -> list[str]:
        """Batch ids present on disk, sorted — the table's load
        history, read from the partition directory names (no file
        footers touched)."""
        base = self.path(layer, name)
        if not os.path.isdir(base):
            return []
        prefix = f"{BATCH_COL}="
        return sorted(
            d[len(prefix):]
            for d in os.listdir(base)
            if d.startswith(prefix)
        )
