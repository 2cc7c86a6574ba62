"""Batch ingestion orchestrator — the Spark analogue of the
reference's `batch_processing.py <client> start` pipeline (SURVEY.md
§3.1), collapsed from five subprocess launches per file into one
driver program of lazy DataFrame transforms.

Per-file lifecycle (statuses land in the run log, which replaces both
the file_audit_log rows and the incoming/success/failed file moves):

  discover -> V1 config match   (no match -> CONFIG_FAILED, quarantine)
  read                          (S1-S4 by configured extension)
  V2 mapping validation         (mismatch -> MAPPING_FAILED, stop file)
  P1-P2 projection
  bronze write                  (idempotent batch-partition overwrite;
                                 stamps the batch id, P3; a failure ->
                                 READ_FAILED, as parquet data pages are
                                 first read here)
  V3 row validation             (failures logged, NON-FATAL — the
                                 reference warns and proceeds,
                                 batch_processing.py:1209-1220)

V3 reads the written bronze batches, not the landing files: one
aggregation per batch counts every loaded file's rows, nulls and
duplicate keys from parquet, after the last write of the batch's
incoming directories.  A file whose table a later file of the batch
also loads is counted just before that write replaces its partition.
The row_validation_log rows keep file order.

Batch ids are the reference's BATCH + 6-digit counter.  Re-running a
batch overwrites exactly its partitions (delete-then-insert
semantics); the three reference modes map as: start = new batch id,
restart/reprocessing = rerun same batch id (identical effect here
because conversion isn't a separate persisted stage).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from ..sources.mapping import ColumnMapping, apply_mapping
from ..sources.readers import read_source
from ..sources.validation import (
    SourceConfig,
    match_config,
    validate_mapping,
    validate_rows,
)
from .runlog import RunLog
from .warehouse import Warehouse


@dataclass
class FileResult:
    file: str
    status: str  # LOADED | CONFIG_FAILED | MAPPING_FAILED | READ_FAILED
    target_table: str | None = None
    rows: int = 0
    detail: str | None = None


@dataclass
class IngestPlan:
    """Per-client ingest config: the tools.client_config +
    column_mapping + required_columns tables as plain data."""

    configs: list[SourceConfig]
    mappings: dict[str, list[ColumnMapping]]  # target_table -> mapping
    required: dict[str, list[str]] = field(default_factory=dict)


def ingest_directory(
    spark: SparkSession,
    wh: Warehouse,
    log: RunLog,
    plan: IngestPlan,
    incoming: dict[str, str],
    batch_id: str,
) -> list[FileResult]:
    """Ingest one batch's landing files: `incoming` maps each source
    system to its incoming directory.  Systems go in sorted order and
    files in name order within each; a directory that does not exist
    is skipped.  V3 runs once for the whole batch (module docstring).
    Returns one FileResult per file, in that order."""
    results: list[FileResult] = []
    # loaded files whose V3 counts are still owed: (file, table, required)
    pending: list[tuple[str, str, list[str]]] = []

    def log_row_validation() -> None:
        checks = validate_rows(
            [(wh.read_batch("bronze", t, batch_id), req) for _, t, req in pending]
        )
        for (fname, _, _), rv in zip(pending, checks):
            log.append(
                "row_validation_log",
                batch_id=batch_id,
                physical_file_name=fname,
                status="SUCCESS" if rv.ok else "FAILED",
                total_rows=rv.total_rows,
                null_counts=rv.null_counts,
                duplicate_rows=rv.duplicate_rows,
            )
        pending.clear()

    def read_failed(fname: str, table: str, e: Exception) -> None:
        results.append(FileResult(fname, "READ_FAILED", table, 0, str(e)))
        log.append(
            "load_error_log",
            batch_id=batch_id,
            physical_file_name=fname,
            message=str(e),
        )

    files = [
        (source_system, fname, os.path.join(d, fname))
        for source_system, d in sorted(incoming.items())
        if os.path.isdir(d)
        for fname in sorted(os.listdir(d))
    ]
    for source_system, fname, path in files:
        if not os.path.isfile(path):
            continue
        cfg = match_config(fname, source_system, plan.configs)
        if cfg is None:
            results.append(FileResult(fname, "CONFIG_FAILED"))
            log.append(
                "file_audit_log",
                batch_id=batch_id,
                physical_file_name=fname,
                config_validation_status="FAILED",
            )
            continue
        mappings = plan.mappings[cfg.target_table]
        try:
            df = read_source(spark, path, cfg.extension)
        except Exception as e:
            read_failed(fname, cfg.target_table, e)
            continue

        mv = validate_mapping(df, [m.source for m in mappings])
        log.append(
            "mapping_validation_log",
            batch_id=batch_id,
            physical_file_name=fname,
            status="SUCCESS" if mv.ok else "FAILED",
            missing=",".join(mv.missing),
            extra=",".join(mv.extra),
        )
        if not mv.ok:
            results.append(
                FileResult(
                    fname,
                    "MAPPING_FAILED",
                    cfg.target_table,
                    0,
                    f"missing={mv.missing} extra={mv.extra}",
                )
            )
            continue

        if any(t == cfg.target_table for _, t, _ in pending):
            # this write replaces the batch partition the owed counts read
            log_row_validation()
        try:
            n = wh.write_batch(
                apply_mapping(df, mappings), "bronze", cfg.target_table, batch_id
            )
        except Exception as e:
            read_failed(fname, cfg.target_table, e)
            continue
        log.append(
            "file_audit_log",
            batch_id=batch_id,
            physical_file_name=fname,
            config_validation_status="SUCCESS",
            load_status="SUCCESS",
            total_rows=n,
        )
        results.append(FileResult(fname, "LOADED", cfg.target_table, n))
        # required columns are TARGET names: checked on the bronze batch
        req = plan.required.get(cfg.target_table, [])
        if req:
            pending.append((fname, cfg.target_table, req))
    if pending:
        log_row_validation()
    return results
