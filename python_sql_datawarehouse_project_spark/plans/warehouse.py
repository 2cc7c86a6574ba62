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
        leaves them in place.  The count is observed during the write
        job itself (F.observe: zero extra scans, exact number of rows
        that landed — the Spark analogue of GET DIAGNOSTICS ROW_COUNT
        in the procs); a zero count drops the partition instead, so an
        empty write leaves the batch absent.
        """
        from pyspark.sql import Observation

        self._record_schema(layer, name, df.schema)
        target = self._batch_dir(layer, name, batch_id)
        staging = os.path.join(
            self.path(layer, name), f".staging-{batch_id}-{uuid.uuid4().hex}"
        )
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

    def write_batch_with_expectations(
        self,
        df: DataFrame,
        layer: str,
        name: str,
        batch_id: str,
        expectations: dict[str, str],
        runlog=None,
    ) -> dict:
        """Expectation-gated idempotent write: rows satisfying EVERY
        predicate land in the table's batch partition; failing rows
        land in the same batch partition of ``<name>__quarantine``
        with a ``_failed_expectations`` array naming the violated
        rules.  Returns ``{"passed", "quarantined", "by_rule"}``
        (exact counts; by_rule counts rows per violated rule —
        a row can appear under several).

        Semantics: a predicate evaluating NULL counts as FAILED (the
        strict CHECK policy modern expectation frameworks apply —
        unlike SQL CHECK's null-passes rule — so a null in a guarded
        column cannot slip through as "unknown").  The reference's row
        validation (SURVEY.md §2.11 V3, validate_row.py:398-481)
        counts violations and loads everything anyway; this is the
        quarantine upgrade of that contract: the batch stays loadable
        AND auditable, and a re-run replaces both partitions
        (idempotency extends to the quarantine table).

        Scale: ONE pass computes the flag array (pure row
        expressions); the flagged frame is materialized once
        (localCheckpoint — the shared-subplan rule, it feeds the good
        write, the quarantine write and the stats aggregate), and each
        write replaces only its table's batch partition.  If ``runlog``
        is given, a ``row_validation_log`` row records the counts."""
        flags = F.array(
            *[
                F.struct(
                    F.lit(rule).alias("r"),
                    F.coalesce(F.expr(pred), F.lit(False)).alias("ok"),
                )
                for rule, pred in expectations.items()
            ]
        )
        failed = F.transform(
            F.filter(flags, lambda s: ~s["ok"]), lambda s: s["r"]
        )
        flagged = df.withColumn(
            "_failed_expectations", failed
        ).localCheckpoint(eager=True)
        good = flagged.where(F.size("_failed_expectations") == 0).drop(
            "_failed_expectations"
        )
        bad = flagged.where(F.size("_failed_expectations") > 0)
        n_good = self.write_batch(good, layer, name, batch_id)
        n_bad = self.write_batch(bad, layer, f"{name}__quarantine", batch_id)
        per_rule = (
            flagged.select(
                F.explode("_failed_expectations").alias("rule")
            )
            .groupBy("rule")
            .count()
            .collect()
        )
        by_rule = {r["rule"]: r["count"] for r in per_rule}
        if runlog is not None:
            runlog.append(
                "row_validation_log",
                batch_id=batch_id,
                table=f"{layer}.{name}",
                status="SUCCESS" if n_bad == 0 else "QUARANTINED",
                passed=n_good,
                quarantined=n_bad,
                by_rule=by_rule,
            )
        return {"passed": n_good, "quarantined": n_bad, "by_rule": by_rule}

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
        and row order — compaction and repartitioning do not change
        it (pytest-pinned); any single-row change does.  Columns hash
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

    # -- multi-table atomic publish -----------------------------------

    def _commits_dir(self) -> str:
        return os.path.join(self.root, "_commits")

    def commit_batch(self, batch_id: str, tables: list) -> None:
        """Publish a batch across MANY tables atomically: after every
        per-table write_batch succeeded, record one manifest file via
        write-to-temp + os.replace (an atomic rename on POSIX).
        Readers going through read_committed() see the batch in ALL
        its tables or in NONE — the cross-table consistency the
        medallion pipeline needs so a crash between the silver and
        gold writes cannot expose a half-published load.

        The manifest holds the (layer, name) list for auditability;
        re-committing the same batch (a pipeline replay) just
        replaces the manifest — idempotent like the writes."""
        _replace_file(
            os.path.join(self._commits_dir(), f"{batch_id}.json"),
            json.dumps(
                {"batch_id": batch_id, "tables": [list(t) for t in tables]}
            ),
        )

    def committed_batches(self) -> list[str]:
        d = self._commits_dir()
        if not os.path.isdir(d):
            return []
        return sorted(
            f[: -len(".json")]
            for f in os.listdir(d)
            if f.endswith(".json") and not f.startswith(".")
        )

    def read_committed(self, layer: str, name: str) -> DataFrame:
        """The table restricted to published batches.  The filter is
        an IN on the PARTITION column, so unpublished batches prune at
        plan time — their half-written files are never even listed
        into the scan.  Commit manifests are per-warehouse (thousands
        of ids, driver-side), not per-row state."""
        committed = self.committed_batches()
        return self.read_table(layer, name).filter(
            F.col(BATCH_COL).isin(committed)
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

    def read_as_of(self, layer: str, name: str, batch_id: str) -> DataFrame:
        """Time travel: the table as of load `batch_id` — every batch
        partition with id <= batch_id (lexical order; the pipeline's
        batch ids are zero-padded/date-stamped so lexical = load
        order).  The filter is on the PARTITION column, so Spark
        prunes the newer partitions at planning time and never lists
        their files into the scan (pinned in test_storage_maintenance)
        — as-of reads cost what they scan, not what the table holds.

        Semantics note: write_batch REPLACES a re-run batch's
        partition, so as-of sees each batch's latest
        content — this is "state after loads <= B", the idempotent-
        pipeline notion of time travel, not an MVCC snapshot log."""
        return self.read_table(layer, name).filter(
            F.col(BATCH_COL) <= batch_id
        )

    # -- storage maintenance (beyond-reference warehouse operations) --

    def compact_batch(
        self, layer: str, name: str, batch_id: str, target_files: int
    ) -> int:
        """Small-files compaction for one batch partition: rewrite it
        at a bounded file count and return the new count.

        Streaming/micro-batch ingestion leaves many tiny files per
        partition; at 100 TB the scan-planning and footer costs of
        millions of small files dominate before a byte is read.
        Compaction is the same idempotent partition replace as
        write_batch (a replay rewrites the same partition), restricted
        to one partition so running it online races nothing outside
        that batch.  The rewrite preserves rows exactly — asserted in
        tests — because it is a coalesce of the pruned scan, not a
        recompute."""
        part = self.read_batch(layer, name, batch_id).drop(BATCH_COL)
        self.write_batch(
            part.coalesce(target_files), layer, name, batch_id
        )
        part_dir = self._batch_dir(layer, name, batch_id)
        return len(
            [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
        )

    def merge_upsert(
        self,
        layer: str,
        name: str,
        source: DataFrame,
        key_col: str,
        batch_id: str,
        delete_col: str | None = None,
    ) -> dict:
        """MERGE INTO semantics over the batch-partitioned layout:
        matched keys are UPDATED in place (their original batch
        partition is rewritten with the source row), unmatched source
        rows are INSERTED into `batch_id`, and source rows flagged
        true in `delete_col` DELETE their matched target rows.
        Returns {"updated": n, "inserted": n, "deleted": n}.

        Partition-pruned like delete_keys: only batches that contain
        a source key are rewritten; untouched partitions keep their
        files.  The source broadcasts (the CDC-delta / correction-feed
        case MERGE exists for is small relative to the table); a
        big-big merge should instead land the delta as its own batch
        and reconcile through the silver dedup (w1 keep-latest).

        Re-running the same merge converges: the second pass finds
        every insert already present (they become no-op updates) and
        every delete already gone.  Duplicate target rows under one
        key are ALL replaced by the source row — MERGE's
        one-row-per-key contract is the caller's to uphold, as in
        SQL engines that raise on multi-match.

        Ordering matters for correctness: the insert set is
        materialized (localCheckpoint) BEFORE any partition rewrite,
        because a DataFrame's file listing is pinned at read time and
        rewritten partitions would otherwise feed the anti-join
        deleted files."""
        table = self.read_table(layer, name)
        cols = [c for c in table.columns if c != BATCH_COL]
        # Delete-flagged rows stay in src_keys (so their target rows
        # are dropped from rewritten partitions) but leave `ups` (so
        # nothing re-adds or inserts them).
        if delete_col is not None:
            ups = source.where(~F.col(delete_col)).select(*cols)
        else:
            ups = source.select(*cols)

        # 1. Pin the insert set and affected partitions against the
        #    PRE-merge table state.
        inserts = ups.join(
            table.select(key_col), key_col, "left_anti"
        ).localCheckpoint(eager=True)
        src_keys = source.select(key_col)
        affected = [
            r[0]
            for r in table.join(F.broadcast(src_keys), key_col, "left_semi")
            .select(BATCH_COL)
            .distinct()
            .collect()
        ]

        # 2. Rewrite each affected partition: drop every matched row,
        #    re-add the source version for non-delete matches.  A
        #    matched row that is NOT re-added was delete-flagged:
        #    deleted = (rows removed) - (rows replaced).
        updated = deleted = 0
        for b in affected:
            part = self.read_batch(layer, name, b).drop(BATCH_COL)
            matched_ups = ups.join(
                F.broadcast(part.select(key_col)), key_col, "left_semi"
            )
            kept = part.join(F.broadcast(src_keys), key_col, "left_anti")
            n_before = part.count()
            n_matched = matched_ups.count()
            out = kept.select(*cols).unionByName(matched_ups)
            n_after = self.write_batch(out, layer, name, b)
            updated += n_matched
            # n_after = kept + n_matched, so the matched rows that
            # vanished (delete-flagged) are exactly n_before - n_after.
            deleted += n_before - n_after

        # 3. Land the inserts in their own batch (idempotent: a replay
        #    finds an empty insert set and leaves the partition alone).
        n_inserted = 0
        if not inserts.isEmpty():
            existing = self.read_batch(layer, name, batch_id).drop(BATCH_COL)
            landing = existing.select(*cols).unionByName(inserts)
            before = existing.count()
            n_inserted = (
                self.write_batch(landing, layer, name, batch_id) - before
            )
        return {"updated": updated, "inserted": n_inserted, "deleted": deleted}

    def delete_keys(
        self, layer: str, name: str, key_col: str, keys: DataFrame
    ) -> int:
        """Hard-delete rows by key (right-to-be-forgotten): rewrite
        ONLY the batch partitions that contain the keys, anti-joining
        the keys out; untouched partitions keep their files byte-
        identical.  Returns the number of rows deleted.

        The affected-partition discovery is a pruned aggregate over
        the key semi-join (at scale: a broadcast of the deletion list,
        which GDPR-class requests keep tiny), so a 100 TB table
        rewrites only the partitions a deleted key ever landed in —
        the deletion path a corpus needs when a takedown arrives."""
        table = self.read_table(layer, name)
        affected = [
            r[0]
            for r in table.join(F.broadcast(keys), key_col, "left_semi")
            .select(BATCH_COL)
            .distinct()
            .collect()
        ]
        deleted = 0
        for b in affected:
            part = self.read_batch(layer, name, b).drop(BATCH_COL)
            kept = part.join(F.broadcast(keys), key_col, "left_anti")
            n_before = part.count()
            n_after = self.write_batch(kept, layer, name, b)
            deleted += n_before - n_after
        return deleted
