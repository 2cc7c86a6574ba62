"""Incremental MV refresh: state(b) = merge(state(b-1), delta(b)) must
equal the full recompute over all batches — expectations are written
out literally from the seeded rows (an oracle independent of the
implementation), plus exactly-once re-runs and the partition-pruned
delta scan that is the whole point at scale."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from python_sql_datawarehouse_project_spark.plans import mv_incremental as mi
from python_sql_datawarehouse_project_spark.plans.warehouse import Warehouse

B1, B2 = "BATCH000001", "BATCH000002"

_CUST_SCHEMA = (
    "customer_key int, customer_id int, customer_firstname string, "
    "customer_lastname string, country string"
)
_PROD_SCHEMA = (
    "product_key int, product_name string, product_line string, "
    "category string, sub_category string"
)
_FACT_SCHEMA = (
    "order_number string, customer_key int, product_key int, "
    "order_date date, shipping_date date, due_date date, "
    "sales double, quantity int, price double"
)


def _seed_gold(spark, wh: Warehouse):
    d = dt.date
    # batch 1
    wh.write_batch(
        spark.createDataFrame(
            [(1, 100, "Ann", "A", "US"), (2, 101, "Bob", "B", "DE")],
            _CUST_SCHEMA,
        ),
        "gold",
        "dim_customers",
        B1,
    )
    wh.write_batch(
        spark.createDataFrame(
            [
                (1, "Widget", "R", "Components", "Road Frames"),
                (2, "Brake", "M", "Accessories", "Brakes"),
            ],
            _PROD_SCHEMA,
        ),
        "gold",
        "dim_products",
        B1,
    )
    wh.write_batch(
        spark.createDataFrame(
            [
                ("SO1", 1, 1, d(2024, 1, 5), d(2024, 1, 8), d(2024, 1, 9), 100.0, 2, 50.0),
                ("SO1", 1, 2, d(2024, 1, 5), d(2024, 1, 8), d(2024, 1, 9), 50.0, 1, 50.0),
                ("SO2", 2, 2, d(2024, 2, 10), d(2024, 2, 12), d(2024, 2, 14), 70.0, 1, 70.0),
            ],
            _FACT_SCHEMA,
        ),
        "gold",
        "fact_sales",
        B1,
    )
    # batch 2: surrogate keys restart per batch (per-batch dim
    # snapshots); customer 100 and order SO1 CONTINUE across batches,
    # exercising cross-batch state merge + exact distinct-order count
    wh.write_batch(
        spark.createDataFrame(
            [(1, 100, "Ann", "A", "US"), (2, 102, "Cyd", "C", "US")],
            _CUST_SCHEMA,
        ),
        "gold",
        "dim_customers",
        B2,
    )
    wh.write_batch(
        spark.createDataFrame(
            [
                (1, "Widget", "R", "Components", "Road Frames"),
                (2, "Gear", "R", "Components", "Gears"),
            ],
            _PROD_SCHEMA,
        ),
        "gold",
        "dim_products",
        B2,
    )
    wh.write_batch(
        spark.createDataFrame(
            [
                # same order + same (month, product) group as batch 1
                ("SO1", 1, 1, d(2024, 1, 20), d(2024, 1, 22), d(2024, 1, 24), 30.0, 1, 30.0),
                ("SO3", 2, 2, d(2024, 3, 15), d(2024, 3, 17), d(2024, 3, 19), 80.0, 1, 80.0),
            ],
            _FACT_SCHEMA,
        ),
        "gold",
        "fact_sales",
        B2,
    )


@pytest.fixture(scope="module")
def refreshed(spark, tmp_path_factory):
    wh = Warehouse(spark, str(tmp_path_factory.mktemp("incwh")))
    _seed_gold(spark, wh)
    for name in mi.INCREMENTAL:
        kw = {"as_of": "2024-06-01"} if name == "mv_customer_churn" else {}
        mi.refresh_mv_incremental(wh, name, B1, **kw)
        mi.refresh_mv_incremental(wh, name, B2, **kw)
    return wh


def _rows(wh, name, batch, cols):
    df = wh.read_batch("mv", name, batch).select(*cols)
    return {tuple(r) for r in df.collect()}


def test_monthly_productline_merges_across_batches(refreshed):
    got = _rows(
        refreshed,
        "mv_sales_monthly_productline",
        B2,
        ["month", "product_name", "category", "sub_category", "total_sales"],
    )
    d = dt.date
    assert got == {
        (d(2024, 1, 1), "Widget", "Components", "Road Frames", 130.0),
        (d(2024, 1, 1), "Brake", "Accessories", "Brakes", 50.0),
        (d(2024, 2, 1), "Brake", "Accessories", "Brakes", 70.0),
        (d(2024, 3, 1), "Gear", "Components", "Gears", 80.0),
    }


def test_lifetime_value_counts_cross_batch_order_once(refreshed):
    got = _rows(
        refreshed,
        "mv_customer_lifetime_value",
        B2,
        ["customer_id", "customer_name", "lifetime_value", "order_count"],
    )
    # SO1 spans both batches -> exactly one distinct order for Ann
    assert got == {
        (100, "Ann A", 180.0, 1),
        (101, "Bob B", 70.0, 1),
        (102, "Cyd C", 80.0, 1),
    }


def test_churn_min_max_merge(refreshed):
    got = _rows(
        refreshed,
        "mv_customer_churn",
        B2,
        ["customer_id", "first_purchase", "last_purchase", "is_churn"],
    )
    d = dt.date
    assert got == {
        (100, d(2024, 1, 5), d(2024, 1, 20), False),
        (101, d(2024, 2, 10), d(2024, 2, 10), False),
        (102, d(2024, 3, 15), d(2024, 3, 15), False),
    }


def test_top3_ranks_over_merged_state(refreshed):
    got = _rows(
        refreshed,
        "mv_top3_products_month_country",
        B2,
        ["month", "country", "product_name", "total_sales", "rank_sales"],
    )
    d = dt.date
    assert got == {
        (d(2024, 1, 1), "US", "Widget", 130.0, 1),
        (d(2024, 1, 1), "US", "Brake", 50.0, 2),
        (d(2024, 2, 1), "DE", "Brake", 70.0, 1),
        (d(2024, 3, 1), "US", "Gear", 80.0, 1),
    }


def test_rollup_over_state(refreshed):
    got = _rows(
        refreshed,
        "mv_sales_rollup_product",
        B2,
        ["product_line", "category", "sub_category", "total_sales"],
    )
    assert got == {
        ("R", "Components", "Road Frames", 130.0),
        ("R", "Components", "Gears", 80.0),
        ("R", "Components", None, 210.0),
        ("R", None, None, 210.0),
        ("M", "Accessories", "Brakes", 120.0),
        ("M", "Accessories", None, 120.0),
        ("M", None, None, 120.0),
        (None, None, None, 330.0),
    }


def test_rerun_is_exactly_once(refreshed):
    name = "mv_sales_monthly_productline"
    cols = ["month", "product_name", "category", "sub_category", "total_sales"]
    before = _rows(refreshed, name, B2, cols)
    mi.refresh_mv_incremental(refreshed, name, B2)
    assert _rows(refreshed, name, B2, cols) == before


def test_delta_scan_is_partition_pruned(refreshed):
    # the at-scale contract: folding in batch N reads batch N's gold
    # partition, never the history
    from python_sql_datawarehouse_project_spark.plans import mv

    spec = mi.INCREMENTAL["mv_sales_monthly_productline"]
    delta = spec.delta(*mv.gold_frames(refreshed, B2))
    sc = delta.sparkSession.sparkContext
    plan = sc._jvm.PythonSQLUtils.explainString(
        delta._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [isnotnull(dwh_batch_id" in plan, plan
    # every scan in the delta (fact + dims) is pruned to one batch
    assert plan.count("PartitionFilters: []") == 0, plan


def test_delayed_chain_mv_builds_without_a_spark_job(refreshed, job_ids):
    from python_sql_datawarehouse_project_spark.plans import mv

    for batch in (B2, None):
        df, jobs = job_ids(
            "chain_mv_build", lambda: mv.MVS["mv_delayed_orders_chain"](refreshed, batch)
        )
        assert jobs == []
        assert df.columns == [
            "order_number", "customer_key", "shipping_date", "due_date", "level"
        ]


def test_full_only_mvs_refuse_incremental(refreshed):
    with pytest.raises(KeyError, match="not incrementally maintainable"):
        mi.refresh_mv_incremental(refreshed, "mv_customer_order_gap", B2)


# -- incremental == full-history recompute (VERDICT r8 #1) -------------
# The wiring contract for run_mvs(mode="incremental"): for every
# maintainable MV, publish(state after folding B1, B2) must equal the
# reference-semantics FULL recompute over ALL gold history — bitwise,
# because both routes sum money through the same exact-decimal policy
# and cast to double exactly once at the end.


def test_incremental_equals_full_history_recompute(refreshed):
    from python_sql_datawarehouse_project_spark.plans import mv

    for name in mi.INCREMENTAL:
        kw = {"as_of": "2024-06-01"} if name == "mv_customer_churn" else {}
        full = mv.MVS[name](refreshed, None, **kw)
        inc = refreshed.read_batch("mv", name, B2).select(*full.columns)
        assert {tuple(r) for r in full.collect()} == {
            tuple(r) for r in inc.collect()
        }, name


def test_history_mode_rekeys_per_batch_dim_snapshots(refreshed):
    """Surrogate keys restart per batch: B2's fact with customer_key=2
    belongs to Cyd (B2 snapshot), not Bob (B1 snapshot, same surrogate).
    A naive cross-batch join on the bare surrogate would credit Bob
    with Cyd's 80.0; the batch-qualified re-key (mv.gold_frames history mode)
    must keep every join inside its own snapshot."""
    from python_sql_datawarehouse_project_spark.plans import mv

    got = {
        (r["customer_id"], r["lifetime_value"])
        for r in mv.MVS["mv_customer_lifetime_value"](refreshed, None).collect()
    }
    assert got == {(100, 180.0), (101, 70.0), (102, 80.0)}


def test_history_mode_running_sales_unifies_by_natural_key(refreshed):
    """Order-dependent MVs recompute over history: Ann's (id 100)
    running sum must CROSS the batch boundary (B1 rows 100+50, B2 row
    30) because the partition key is the natural customer_id."""
    from python_sql_datawarehouse_project_spark.plans import mv

    d = dt.date
    running = mv.MVS["mv_running_sales_customer"](refreshed, None)
    got = {tuple(r) for r in running.collect()}
    assert got == {
        (100, d(2024, 1, 5), 50.0),
        (100, d(2024, 1, 5), 150.0),
        (100, d(2024, 1, 20), 180.0),
        (101, d(2024, 2, 10), 70.0),
        (102, d(2024, 3, 15), 80.0),
    }


@pytest.mark.slow
def test_run_mvs_incremental_auto_resolves_prev_state(spark, tmp_path):
    """run_mvs resolves each MV's previous state snapshot from the
    state layer's completion markers — the
    restart-safe wiring the CLI's --mv-mode incremental relies on.
    Cross-batch proof: Ann's lifetime value at B2 must include B1."""
    from python_sql_datawarehouse_project_spark.plans.pipeline import run_mvs
    from python_sql_datawarehouse_project_spark.plans.runlog import RunLog

    wh = Warehouse(spark, str(tmp_path / "wh"))
    _seed_gold(spark, wh)
    log = RunLog(str(tmp_path / "log"))
    run_mvs(wh, log, B1, mode="incremental")
    run_mvs(wh, log, B2, mode="incremental")
    got = {
        (r["customer_id"], r["lifetime_value"])
        for r in wh.read_batch(
            "mv", "mv_customer_lifetime_value", B2
        ).collect()
    }
    assert got == {(100, 180.0), (101, 70.0), (102, 80.0)}


def test_incremental_stage_reads_each_gold_table_twice(
    spark, tmp_path, monkeypatch
):
    """run_mvs(mode="incremental") reads each gold table once for the
    batch, shared by the six state MVs, and once for history, shared
    by the three order-dependent MVs: 6 gold reads per batch."""
    from python_sql_datawarehouse_project_spark.plans.pipeline import run_mvs
    from python_sql_datawarehouse_project_spark.plans.runlog import RunLog

    wh = Warehouse(spark, str(tmp_path / "wh"))
    _seed_gold(spark, wh)
    log = RunLog(str(tmp_path / "log"))
    reads = []
    read_table = Warehouse.read_table

    def counted(self, layer, name):
        if layer == "gold":
            reads.append(name)
        return read_table(self, layer, name)

    monkeypatch.setattr(Warehouse, "read_table", counted)
    for b in (B1, B2):
        reads.clear()
        assert all(ok for ok, *_ in run_mvs(wh, log, b, "incremental").values())
        assert sorted(reads) == sorted(
            ["dim_customers", "dim_products", "fact_sales"] * 2
        )


@pytest.mark.slow
def test_run_mvs_incremental_mode_covers_all_nine(spark, tmp_path):
    """Pipeline wiring: mode="incremental" refreshes every registered
    MV (six via state fold, three via history recompute), all SUCCESS,
    outputs under the batch partition either way."""
    from python_sql_datawarehouse_project_spark.plans import mv
    from python_sql_datawarehouse_project_spark.plans.pipeline import run_mvs
    from python_sql_datawarehouse_project_spark.plans.runlog import RunLog

    wh = Warehouse(spark, str(tmp_path / "wh"))
    _seed_gold(spark, wh)
    log = RunLog(str(tmp_path / "log"))
    r1 = run_mvs(wh, log, B1, mode="incremental")
    r2 = run_mvs(wh, log, B2, mode="incremental")
    assert set(r1) == set(r2) == set(mv.MVS)
    bad = {n: e for n, (ok, e, _) in {**r1, **r2}.items() if not ok}
    assert not bad
    for name in mv.MVS:
        # a zero-row MV (the chain has no delayed orders here) leaves
        # no batch partition — that's the documented empty-batch
        # behavior, not a miss
        if r2[name][2] > 0:
            assert wh.read_batch("mv", name, B2).count() == r2[name][2]
    modes = {
        row["message"]
        for row in log.read("mv_refresh_log")
        if row["status"] == "SUCCESS"
    }
    assert modes == {"mode=incremental"}


def test_clv_order_count_skips_null_order_in_both_modes(spark, tmp_path):
    """Silver only trims sls_ord_num, so a NULL order number can reach
    gold.  COUNT(DISTINCT order_number) does not count it: Ann's orders
    {SOA, NULL} are ONE order in the full refresh and the incremental
    one alike, while both keep the NULL order's sales."""
    from python_sql_datawarehouse_project_spark.plans.pipeline import run_mvs
    from python_sql_datawarehouse_project_spark.plans.runlog import RunLog

    d = dt.date
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.write_batch(
        spark.createDataFrame([(1, 100, "Ann", "A", "US")], _CUST_SCHEMA),
        "gold",
        "dim_customers",
        B1,
    )
    wh.write_batch(
        spark.createDataFrame(
            [(1, "Widget", "R", "Components", "Road Frames")], _PROD_SCHEMA
        ),
        "gold",
        "dim_products",
        B1,
    )
    wh.write_batch(
        spark.createDataFrame(
            [
                ("SOA", 1, 1, d(2024, 1, 5), d(2024, 1, 8), d(2024, 1, 9), 10.0, 1, 10.0),
                (None, 1, 1, d(2024, 1, 6), d(2024, 1, 8), d(2024, 1, 9), 20.0, 1, 20.0),
            ],
            _FACT_SCHEMA,
        ),
        "gold",
        "fact_sales",
        B1,
    )
    log = RunLog(str(tmp_path / "log"))
    name = "mv_customer_lifetime_value"
    cols = ["customer_id", "customer_name", "lifetime_value", "order_count"]
    run_mvs(wh, log, B1, mode="full")
    full = _rows(wh, name, B1, cols)
    run_mvs(wh, log, B1, mode="incremental")
    assert _rows(wh, name, B1, cols) == full == {(100, "Ann A", 30.0, 1)}


# -- per-MV prev resolution + torn/empty-state healing (ADVICE r9) ----
# The r9 advisor's failure scenario: write_batch writes NO partition
# for an empty state, so "no partition" is ambiguous between an empty
# snapshot and a never-written one.  The global-intersection resolver
# then silently restarted EVERY MV's state from the current batch.
# Completion markers + per-MV resolution + gold-gap healing close all
# three paths.

B3 = "BATCH000003"


def test_empty_first_delta_does_not_drop_history(spark, tmp_path):
    """An MV whose first delta is EMPTY (zero fact rows in B1) still
    resolves B1 as its prev snapshot at B2 — the completion marker
    distinguishes 'empty snapshot' from 'torn write', so B2 builds on
    first-batch-empty state instead of erroring or forking."""
    d = dt.date
    wh = Warehouse(spark, str(tmp_path / "wh"))
    _seed_gold(spark, wh)
    wh.write_batch(
        spark.createDataFrame([], _FACT_SCHEMA), "gold", "fact_sales", B1
    )
    name = "mv_customer_lifetime_value"
    mi.refresh_mv_incremental(wh, name, B1)
    assert mi.state_batches(wh, name) == [B1]  # marker survives empty
    mi.refresh_mv_incremental(wh, name, B2)
    got = {
        (r["customer_id"], r["lifetime_value"])
        for r in wh.read_batch("mv", name, B2).collect()
    }
    # only B2's facts exist: SO1 30.0 for Ann, SO3 80.0 for Cyd
    assert got == {(100, 30.0), (102, 80.0)}


def test_new_mv_on_existing_warehouse_rebuilds_from_history(spark, tmp_path):
    """An MV first refreshed at B2 on a warehouse that already holds
    B1 gold history (the 'MV newly added to INCREMENTAL' scenario)
    must fold B1's delta in — never first-batch semantics that would
    permanently drop B1 while logging SUCCESS."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    _seed_gold(spark, wh)
    name = "mv_customer_lifetime_value"
    mi.refresh_mv_incremental(wh, name, B2)  # no B1 snapshot exists
    got = {
        (r["customer_id"], r["lifetime_value"], r["order_count"])
        for r in wh.read_batch("mv", name, B2).collect()
    }
    # full history: Ann 100+50+30 across one order SO1, Bob 70, Cyd 80
    assert got == {(100, 180.0, 1), (101, 70.0, 1), (102, 80.0, 1)}


def test_explicit_prev_heals_unfolded_gold_gap(spark, tmp_path):
    """refresh(B3) with state at B1 and gold B2 on disk resolves
    prev=B1 and folds B2's delta into the merge: state(B1) covers
    gold <= B1 only, so skipping B2 would silently lose a batch (the
    torn-run replay scenario)."""
    d = dt.date
    wh = Warehouse(spark, str(tmp_path / "wh"))
    _seed_gold(spark, wh)
    wh.write_batch(
        spark.createDataFrame(
            [(1, 100, "Ann", "A", "US")], _CUST_SCHEMA
        ),
        "gold",
        "dim_customers",
        B3,
    )
    wh.write_batch(
        spark.createDataFrame(
            [(1, "Widget", "R", "Components", "Road Frames")], _PROD_SCHEMA
        ),
        "gold",
        "dim_products",
        B3,
    )
    wh.write_batch(
        spark.createDataFrame(
            [("SO9", 1, 1, d(2024, 4, 2), d(2024, 4, 4), d(2024, 4, 6), 25.0, 1, 25.0)],
            _FACT_SCHEMA,
        ),
        "gold",
        "fact_sales",
        B3,
    )
    name = "mv_customer_lifetime_value"
    mi.refresh_mv_incremental(wh, name, B1)
    mi.refresh_mv_incremental(wh, name, B3)
    got = {
        (r["customer_id"], r["lifetime_value"])
        for r in wh.read_batch("mv", name, B3).collect()
    }
    # B2's 30.0 (SO1) and 80.0 (SO3) folded despite prev naming B1
    assert got == {(100, 205.0), (101, 70.0), (102, 80.0)}
