"""Run-log tables: the reference's seven `tools.*_log` tables
(ddl_tools.sql:51-233) re-expressed as append-only JSONL under the
warehouse root.  The log IS the pipeline state machine — the
reference's manifest-file dance (incoming/success/archive moves,
SURVEY.md §3.2) collapses into status rows here.

JSONL (not Spark writes) on purpose: log rows are single-row,
driver-side control-plane events; spinning a Spark job per audit row
would be the tail wagging the dog.  Analytical access is still easy:
spark.read.json(path).
"""

from __future__ import annotations

import datetime as _dt
import json
import os

LOG_TABLES = (
    "file_audit_log",
    "job_execution_log",
    "mapping_validation_log",
    "row_validation_log",
    "load_error_log",
    "transformation_log",
    "integration_log",
    "mv_refresh_log",
)


class RunLog:
    def __init__(self, root: str):
        self.root = os.path.join(root, "tools")
        os.makedirs(self.root, exist_ok=True)

    def _path(self, table: str) -> str:
        if table not in LOG_TABLES:
            raise KeyError(f"unknown log table {table!r}")
        return os.path.join(self.root, f"{table}.jsonl")

    def append(self, table: str, **row) -> None:
        """Append one row.  A last line with no newline is an append
        that was killed mid-write; it is cut off first, so this row
        starts a line of its own."""
        row.setdefault("logged_at", _dt.datetime.now(_dt.timezone.utc).isoformat())
        with open(self._path(table), "a+b") as f:
            if f.seek(0, os.SEEK_END):
                f.seek(-1, os.SEEK_END)
                if f.read(1) != b"\n":
                    f.seek(0)
                    f.truncate(f.read().rfind(b"\n") + 1)
            f.write((json.dumps(row, default=str) + "\n").encode())

    def read(self, table: str) -> list[dict]:
        """Every complete row; an unfinished last line is not a row."""
        p = self._path(table)
        if not os.path.exists(p):
            return []
        with open(p) as f:
            lines = f.read().split("\n")[:-1]
        return [json.loads(line) for line in lines if line.strip()]

    def successes(self, table: str, batch_id: str) -> set[str]:
        """Proc names with a SUCCESS row for this batch — the
        dependency-gate lookup (reference gold_integration.py:276-290)."""
        return {
            r.get("proc_name", "")
            for r in self.read(table)
            if r.get("batch_id") == batch_id and r.get("status") == "SUCCESS"
        }
