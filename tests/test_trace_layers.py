"""The traced benchmark run (`warehouse_bench/run.py --trace 1`) wraps
package functions by name.  Installing and removing its batch_load
spans here makes a renamed or moved entry point fail the suite rather
than the traced run."""

from __future__ import annotations

from warehouse_bench.spans import Patch, Tracer
from warehouse_bench.workloads import BatchLoad

from python_sql_datawarehouse_project_spark.plans import clients, ingest, pipeline
from python_sql_datawarehouse_project_spark.plans.warehouse import Warehouse


def test_batch_load_trace_installs_and_undoes(spark, tmp_path):
    entry_points = [
        (clients, "ingest_directory"),
        (clients, "process_client"),
        (clients, "run_batch"),
        (ingest, "read_source"),
        (ingest, "validate_rows"),
        (ingest, "validate_mapping"),
        (pipeline, "run_gold"),
        (pipeline, "refresh_mv"),
        (Warehouse, "write_batch"),
        (Warehouse, "read_table"),
    ]
    before = [getattr(obj, name) for obj, name in entry_points]
    patch = Patch()
    BatchLoad(1, str(tmp_path)).trace_layers(Tracer(spark.sparkContext), patch)
    try:
        wrapped = [getattr(obj, name) for obj, name in entry_points]
        assert all(w is not b for w, b in zip(wrapped, before))
    finally:
        patch.undo()
    assert [getattr(obj, name) for obj, name in entry_points] == before
