"""`scripts/ab_pairs.summarize` over synthetic run rows: a failed run
must never read as a gain, and a crashed run is a lost pair, not a
pair left out of the count; `run_once` keeps the stderr of a run with
failed operations.  No subprocess, no SparkSession."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess

_SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts",
    "ab_pairs.py",
)
_spec = importlib.util.spec_from_file_location("ab_pairs", _SCRIPT)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

METRICS = [
    {"name": "rows_per_cpu_s", "better": "higher", "bound": 0.25},
    {"name": "setup_s", "better": "lower", "bound": 0.25},
]


def _row(pair: int, side: str, rate: float, **kw) -> dict:
    row = {
        "pair": pair, "side": side, "rc": 0, "failed": 0, "attempted": 8,
        "rows_per_cpu_s": rate, "setup_s": 20.0,
    }
    row.update(kw)
    return row


def _clean_gain(n: int = 10) -> list[dict]:
    runs = []
    for p in range(n):
        runs.append(_row(p, "parent", 100.0 + p))
        runs.append(_row(p, "change", 130.0 + p))
    return runs


def test_clean_ten_pair_gain():
    s = ab.summarize(_clean_gain(), METRICS)
    assert s["rows_per_cpu_s"]["verdict"] == "gain"
    assert s["rows_per_cpu_s"]["change_better_pairs"] == "10/10"
    assert s["setup_s"]["verdict"] == "within bound"
    assert s["failed"] == [0] * 20


def test_crashed_change_run_is_a_lost_pair_and_no_gain():
    runs = _clean_gain()
    # pair 3's change run crashed: non-zero exit, no result line
    runs[7] = {"pair": 3, "side": "change", "rc": 1, "stderr_tail": "boom"}
    s = ab.summarize(runs, METRICS)
    assert s["rows_per_cpu_s"]["change_better_pairs"] == "9/10"
    for name in ("rows_per_cpu_s", "setup_s"):
        assert s[name]["verdict"] == "runs_failed"
    assert s["failed"][7] is None


def test_failed_operations_veto_a_gain():
    runs = _clean_gain()
    runs[5]["failed"] = 1  # pair 2's change run lost one operation
    s = ab.summarize(runs, METRICS)
    assert s["rows_per_cpu_s"]["change_better_pairs"] == "10/10"
    for name in ("rows_per_cpu_s", "setup_s"):
        assert s[name]["verdict"] == "runs_failed"


def test_every_change_run_crashed():
    runs = [r for r in _clean_gain() if r["side"] == "parent"]
    runs += [{"pair": p, "side": "change", "rc": 137} for p in range(10)]
    s = ab.summarize(runs, METRICS)
    assert s["rows_per_cpu_s"] == {"bound": 0.25, "verdict": "runs_failed"}


def _fake_run(monkeypatch, stdout: str, stderr: str) -> None:
    def run(cmd, **kw):
        return subprocess.CompletedProcess(cmd, 0, stdout, stderr)

    monkeypatch.setattr(ab.subprocess, "run", run)


def test_run_once_keeps_stderr_of_failed_operations(monkeypatch):
    result = {
        "failed": 1, "attempted": 8,
        "metrics": {"rows_per_cpu_s": {"value": 100.0}},
    }
    err = "op 3 check: mv rows differ\nop 5 failed:\nTraceback"
    _fake_run(monkeypatch, json.dumps(result) + "\n", err)
    row = ab.run_once(".", "batch_load", 1, 15)
    assert row["failed"] == 1 and row["rows_per_cpu_s"] == 100.0
    assert row["stderr_tail"] == err
    # a clean run keeps no stderr
    _fake_run(monkeypatch, json.dumps({**result, "failed": 0}) + "\n", err)
    assert "stderr_tail" not in ab.run_once(".", "batch_load", 1, 15)
