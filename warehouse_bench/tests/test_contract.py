"""BENCHMARK.json names exactly the workloads and per-layer metrics the
runner reports."""

from __future__ import annotations

import json
import os

from warehouse_bench.layers import PER_LAYER, layer_metrics
from warehouse_bench.workloads import WORKLOADS

BENCHMARK = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")


def _benchmark() -> dict:
    with open(BENCHMARK) as f:
        return json.load(f)


def test_workloads_match():
    assert [w["name"] for w in _benchmark()["workloads"]] == list(WORKLOADS)


def test_per_layer_metrics_match():
    declared = [(m["name"], m["unit"]) for m in _benchmark()["per_layer"]]
    assert declared == list(PER_LAYER)


def test_layer_metrics_of_no_spans_are_all_zero_but_given():
    def spark_of(groups):
        return dict.fromkeys(
            ("jobs", "tasks", "executor_run_ms", "gc_ms", "input_bytes",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"), 0
        )

    got = layer_metrics({}, {}, spark_of, 2, 1.0, 4, {"session.build_s": 3.0})
    assert list(got) == [name for name, _ in PER_LAYER]
    assert got["session.build_s"] == 3.0
    assert sum(v for k, v in got.items() if k != "session.build_s") == 0
