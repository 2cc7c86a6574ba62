"""Streaming maintenance (`streaming/maintenance.drain`): a staged
fact feed folded into incremental MVs must give the batch path's MV
rows, survive an epoch replay and restart from its checkpoint; the
registry holds no streaming gate."""

from __future__ import annotations

import pytest


def test_registry_has_no_streaming_module():
    # streaming/ maintains warehouse tables; every registry gate is a
    # batch query, so no gate module may live under streaming/.
    from python_sql_datawarehouse_project_spark import registry

    under = [m.__name__ for m in registry._MODULES if ".streaming." in m.__name__]
    assert not under, under


# --- streaming incremental MV maintenance ---------------------------


def _seed_mv_stream(spark, tmp):
    """Warehouse with per-batch dim snapshots + a staging dir holding
    one fact parquet file per arriving batch (facts tagged with their
    ingest batch id, the streaming arrival contract)."""
    from python_sql_datawarehouse_project_spark.plans.warehouse import Warehouse
    from tests.test_mv_incremental import B1, B2, _seed_gold

    wh = Warehouse(spark, str(tmp / "wh"))
    _seed_gold(spark, wh)
    # lift the seeded facts back out as the streaming arrivals, then
    # drop them from gold — the stream must be what (re)writes them
    staging = tmp / "staging"
    staging.mkdir()
    for bid in (B1, B2):
        fact = wh.read_batch("gold", "fact_sales", bid)
        fact.toPandas().to_parquet(str(staging / f"{bid}.parquet"), index=False)
    return wh, str(staging)


def test_streaming_mv_maintenance_equals_batch_path(spark, tmp_path):
    from python_sql_datawarehouse_project_spark.streaming import maintenance
    from tests.test_mv_incremental import B1, B2, _rows

    wh, staging = _seed_mv_stream(spark, tmp_path)
    names = ["mv_sales_monthly_productline", "mv_customer_lifetime_value"]
    schema = (
        "order_number string, customer_key int, product_key int, "
        "order_date date, shipping_date date, due_date date, "
        "sales double, quantity int, price double, dwh_batch_id string"
    )
    maintenance.drain(
        spark,
        staging,
        schema,
        maintenance.fold_mvs(wh, names),
        str(tmp_path / "cp"),
    )

    import datetime as dt

    d = dt.date
    got = _rows(
        wh,
        "mv_sales_monthly_productline",
        B2,
        ["month", "product_name", "category", "sub_category", "total_sales"],
    )
    # literal oracle — same rows the batch path is pinned to in
    # tests/test_mv_incremental.py
    assert got == {
        (d(2024, 1, 1), "Widget", "Components", "Road Frames", 130.0),
        (d(2024, 1, 1), "Brake", "Accessories", "Brakes", 50.0),
        (d(2024, 2, 1), "Brake", "Accessories", "Brakes", 70.0),
        (d(2024, 3, 1), "Gear", "Components", "Gears", 80.0),
    }
    got = _rows(
        wh,
        "mv_customer_lifetime_value",
        B2,
        ["customer_id", "customer_name", "lifetime_value", "order_count"],
    )
    assert got == {
        (100, "Ann A", 180.0, 1),
        (101, "Bob B", 70.0, 1),
        (102, "Cyd C", 80.0, 1),
    }


@pytest.mark.slow
def test_streaming_mv_replay_is_idempotent(spark, tmp_path):
    # foreachBatch's delivery guarantee is at-least-once: simulate an
    # epoch replay by invoking the handler twice with the same
    # micro-batch.  Output partitions must be byte-identical rows —
    # the delete-then-insert write + deterministic state lineage is
    # what upgrades replay to exactly-once output.
    from pyspark.sql import functions as F

    from python_sql_datawarehouse_project_spark.plans import mv_incremental as mi
    from python_sql_datawarehouse_project_spark.streaming import maintenance
    from tests.test_mv_incremental import B1, B2, _rows

    wh, staging = _seed_mv_stream(spark, tmp_path)
    names = ["mv_sales_monthly_productline"]
    fold = maintenance.fold_mvs(wh, names)
    arriving = spark.read.parquet(staging)
    maintenance.fold_epoch(fold, arriving, epoch_id=0)
    first = _rows(
        wh, names[0], B2, ["month", "product_name", "total_sales"]
    )
    maintenance.fold_epoch(fold, arriving, epoch_id=0)  # replay
    assert (
        _rows(wh, names[0], B2, ["month", "product_name", "total_sales"])
        == first
    )
    # lineage resolved from the state layer, not driver memory: B2's
    # snapshot must have been built on B1's both times
    assert mi.resolve_prev_state(wh, names[0], B2)[0] == B1


def test_streaming_mv_restart_processes_only_new_files(spark, tmp_path):
    # Source-checkpoint recovery: drain batch 1, then stage batch 2
    # and drain again WITH THE SAME CHECKPOINT.  The second run must
    # fold only the new arrival (B1's files are committed in the
    # checkpoint's file index) and chain its state on B1's snapshot.
    import shutil

    from python_sql_datawarehouse_project_spark.plans import mv_incremental as mi
    from python_sql_datawarehouse_project_spark.streaming import maintenance
    from tests.test_mv_incremental import B1, B2, _rows

    wh, staging = _seed_mv_stream(spark, tmp_path)
    # hold B2 back
    held = tmp_path / "held"
    held.mkdir()
    shutil.move(f"{staging}/{B2}.parquet", str(held / f"{B2}.parquet"))

    names = ["mv_sales_monthly_productline"]
    fold = maintenance.fold_mvs(wh, names)
    schema = (
        "order_number string, customer_key int, product_key int, "
        "order_date date, shipping_date date, due_date date, "
        "sales double, quantity int, price double, dwh_batch_id string"
    )
    cp = str(tmp_path / "cp")
    maintenance.drain(spark, staging, schema, fold, cp)
    assert mi.state_batches(wh, names[0]) == [B1]

    shutil.move(str(held / f"{B2}.parquet"), f"{staging}/{B2}.parquet")
    maintenance.drain(spark, staging, schema, fold, cp)
    assert mi.state_batches(wh, names[0]) == [B1, B2]
    assert mi.resolve_prev_state(wh, names[0], B2)[0] == B1
    # and the folded result equals the batch-path literal oracle
    import datetime as dt

    d = dt.date
    got = _rows(
        wh, names[0], B2, ["month", "product_name", "total_sales"]
    )
    assert got == {
        (d(2024, 1, 1), "Widget", 130.0),
        (d(2024, 1, 1), "Brake", 50.0),
        (d(2024, 2, 1), "Brake", 70.0),
        (d(2024, 3, 1), "Gear", 80.0),
    }


def test_core_budget_defaults_to_cpu_affinity(monkeypatch):
    import os

    from python_sql_datawarehouse_project_spark.session import core_budget

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert core_budget() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert core_budget() == 3
