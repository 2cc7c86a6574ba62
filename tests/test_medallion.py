"""Medallion pipeline parity tests: dirty CRM/ERP-shaped fixtures
(FIXTURES.md §3) through bronze -> silver -> gold -> MV, asserting the
reference's Methods_* expectation queries ("Expectation: No Result",
SURVEY.md §5) plus idempotency (same batch twice => identical state).
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from python_sql_datawarehouse_project_spark.operators import analytics
from python_sql_datawarehouse_project_spark.plans.pipeline import next_batch_id, run_batch
from python_sql_datawarehouse_project_spark.plans.runlog import RunLog
from python_sql_datawarehouse_project_spark.plans.warehouse import Warehouse

BATCH = "BATCH000001"


def _seed_bronze(spark, wh: Warehouse):
    d = dt.date
    cust = spark.createDataFrame(
        [
            # dup cst_id 1: keep-latest by create_date must pick 2024 row
            (1.0, " AW00011000 ", " Jon ", "Smith ", "M", "F", d(2023, 1, 1)),
            (1.0, " AW00011000 ", " Jon ", "Smith ", "M", "F", d(2024, 2, 2)),
            # future create year -> clamped to current year (R6)
            (2.0, "AW00011001", "Ana", "Lee", "S", "M", d(2999, 3, 4)),
            # null id -> dropped (P5); unknown codes -> Unknown
            (None, "AW00011002", "X", "Y", "Z", None, d(2020, 1, 1)),
            (3.0, "AW00011003", "Bob", "Ray", None, None, d(2021, 5, 6)),
        ],
        "cst_id double, cst_key string, cst_firstname string, "
        "cst_lastname string, cst_marital_status string, cst_gndr string, "
        "cst_create_date date",
    )
    prd = spark.createDataFrame(
        [
            # two versions of same key -> LEAD end-dating; 'CO-RF' cat
            (10, "CO-RF-FR-R92B", "Road Frame", None, " R ", d(2021, 1, 1)),
            (11, "CO-RF-FR-R92B", "Road Frame v2", 120.5, "R", d(2022, 6, 1)),
            (12, "AC-BR-BR-9981", "Brakes", 25.0, "M", d(2021, 3, 1)),
            (13, "ZZ-XX-NO-CAT1", "Mystery", 1.0, "Q", d(2021, 4, 1)),
        ],
        "prd_id int, prd_key string, prd_nm string, prd_cost double, "
        "prd_line string, prd_start_dt date",
    )
    sales = spark.createDataFrame(
        [
            # clean row
            ("SO1", "FR-R92B", 1, 20240105, 20240110, 20240115, 200.0, 2, 100.0),
            # bad dates (0 / 7-digit) -> NULL (R4); sales mismatch -> repaired (R2)
            ("SO2", "FR-R92B", 2, 0, 2024011, 20240120, 999.0, 3, -50.0),
            # null sales -> recomputed; null price -> derived (R3)
            ("SO3", "BR-9981", 3, 20240201, 20240205, 20240210, None, 4, None),
            # unknown product + unknown customer -> -1 fallback in fact
            ("SO4", "NO-MATCH", 99, 20240301, 20240305, 20240310, 50.0, 1, 50.0),
        ],
        "sls_ord_num string, sls_prd_key string, sls_cust_id int, "
        "sls_order_dt long, sls_ship_dt long, sls_due_dt long, "
        "sls_sales double, sls_quantity int, sls_price double",
    )
    az12 = spark.createDataFrame(
        [
            ("NASAW00011000", d(1980, 5, 5), "F"),
            ("AW00011001", d(2999, 1, 1), "MALE"),  # future bdate -> NULL (R5)
            ("AW00011003", d(1975, 7, 7), ""),  # blank gender -> Unknown
        ],
        "cid string, bdate date, gen string",
    )
    loc = spark.createDataFrame(
        [
            ("AW-00011000", "US"),
            ("AW-00011001", "DE"),
            ("AW-00011003", None),  # null country -> Unknown
        ],
        "cid string, cntry string",
    )
    cat = spark.createDataFrame(
        [
            ("CO_RF", "Components", "Road Frames", "Yes"),
            ("AC_BR", "Accessories", "Brakes", "No"),
        ],
        "id string, cat string, subcat string, maintenance string",
    )
    for name, df in {
        "crm_cust_info": cust,
        "crm_prd_info": prd,
        "crm_sales_details": sales,
        "erp_cust_az12": az12,
        "erp_loc_a101": loc,
        "erp_px_cat_g1v2": cat,
    }.items():
        wh.write_batch(df, "bronze", name, BATCH)


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("wh"))
    wh = Warehouse(spark, root)
    log = RunLog(root)
    _seed_bronze(spark, wh)
    results = run_batch(wh, log, BATCH)
    return wh, log, results


def test_all_stages_succeed(pipeline_run):
    _, _, results = pipeline_run
    for stage, procs in results.items():
        for name, (ok, err, _) in procs.items():
            assert ok, f"{stage}.{name} failed: {err}"


# -- Methods_crm_cust_info.sql expectations --------------------------
def test_silver_cust_no_dup_or_null_pk(pipeline_run):
    wh, _, _ = pipeline_run
    s = wh.read_batch("silver", "crm_cust_info", BATCH)
    dups = s.groupBy("cst_id").count().filter("count > 1 OR cst_id IS NULL")
    assert dups.isEmpty()
    assert s.count() == 3  # null id dropped, dup collapsed


def test_silver_cust_keeps_latest_and_trims(pipeline_run):
    wh, _, _ = pipeline_run
    row = (
        wh.read_batch("silver", "crm_cust_info", BATCH)
        .filter("cst_id = 1")
        .collect()[0]
    )
    assert row.cst_create_date == dt.date(2024, 2, 2)
    assert row.cst_key == "AW00011000"  # trimmed
    assert row.cst_firstname == "Jon"
    assert row.cst_marital_status == "Married"
    assert row.cst_gndr == "Female"


def test_silver_cust_future_year_clamped(pipeline_run):
    wh, _, _ = pipeline_run
    row = (
        wh.read_batch("silver", "crm_cust_info", BATCH)
        .filter("cst_id = 2")
        .collect()[0]
    )
    assert row.cst_create_date == dt.date(dt.date.today().year, 3, 4)


# -- Methods_crm_prd_info.sql expectations ---------------------------
def test_silver_prd_key_split_and_end_dating(pipeline_run):
    wh, _, _ = pipeline_run
    s = wh.read_batch("silver", "crm_prd_info", BATCH)
    v1, v2 = (
        s.filter("prd_key = 'FR-R92B'").orderBy("prd_start_dt").collect()
    )
    assert v1.cat_id == "CO_RF"
    assert v1.prd_end_dt == dt.date(2022, 5, 31)  # LEAD - 1 day
    assert v2.prd_end_dt is None  # open current version
    assert v1.prd_cost == 0.0  # COALESCE null -> 0
    assert v1.prd_line == "Road"
    assert s.filter("prd_line = 'Unknown'").count() == 1  # code Q


def test_silver_prd_raw_key_window_and_trims(spark, tmp_path):
    """Parity details of tools.load_crm_prd_info_v1.sql:79-96: the LEAD
    window partitions by the RAW bronze prd_key (Postgres can't see the
    select alias), so two cat prefixes sharing a key suffix must NOT
    end-date each other; prd_nm and the split keys are TRIMmed; and
    tools.load_erp_cust_az12_v1.sql:72-75 never trims cid, so a
    leading-space ' NAS...' row keeps its prefix."""
    from python_sql_datawarehouse_project_spark.plans import silver

    wh = Warehouse(spark, str(tmp_path))
    d = dt.date
    prd = spark.createDataFrame(
        [
            # same suffix SHARED1, different raw keys -> separate windows
            ("AA-XX-SHARED1", " Name A ", d(2021, 1, 1)),
            ("BB-YY-SHARED1", "Name B", d(2022, 1, 1)),
        ],
        "prd_key string, prd_nm string, prd_start_dt date",
    ).select(
        F.lit(1).alias("prd_id"),
        "prd_key",
        "prd_nm",
        F.lit(None).cast("double").alias("prd_cost"),
        F.lit("R").alias("prd_line"),
        "prd_start_dt",
    )
    az12 = spark.createDataFrame(
        [(" NAS123", d(1980, 1, 1), "F"), ("NAS456", d(1981, 1, 1), "M")],
        "cid string, bdate date, gen string",
    )
    wh.write_batch(prd, "bronze", "crm_prd_info", BATCH)
    wh.write_batch(az12, "bronze", "erp_cust_az12", BATCH)
    assert silver.load_crm_prd_info(wh, BATCH) == 2
    assert silver.load_erp_cust_az12(wh, BATCH) == 2

    s = wh.read_batch("silver", "crm_prd_info", BATCH).collect()
    by_cat = {r.cat_id: r for r in s}
    # raw-key partitioning: both rows are their own open current version
    assert by_cat["AA_XX"].prd_end_dt is None
    assert by_cat["BB_YY"].prd_end_dt is None
    assert by_cat["AA_XX"].prd_nm == "Name A"  # TRIM(prd_nm)
    assert by_cat["AA_XX"].prd_key == "SHARED1"

    cids = {r.cid for r in wh.read_batch("silver", "erp_cust_az12", BATCH).collect()}
    assert cids == {" NAS123", "456"}  # raw cid: no trim before NAS strip


# -- Methods_crm_sales_details.sql expectations ----------------------
def test_silver_sales_date_and_value_repair(pipeline_run):
    wh, _, _ = pipeline_run
    s = wh.read_batch("silver", "crm_sales_details", BATCH)
    so2 = s.filter("sls_ord_num = 'SO2'").collect()[0]
    assert so2.sls_order_dt is None and so2.sls_ship_dt is None  # R4
    assert so2.sls_sales == 3 * abs(-50.0)  # R2: qty * ABS(price)
    assert so2.sls_price == abs(999.0) / 3  # R3: ABS(raw sales)/qty
    so3 = s.filter("sls_ord_num = 'SO3'").collect()[0]
    assert so3.sls_sales is None  # null qty*abs(null price) stays null (permissive)
    # clean rows are untouched (SO1: already consistent)
    so1 = s.filter("sls_ord_num = 'SO1'").collect()[0]
    assert so1.sls_sales == 200.0 and so1.sls_price == 100.0
    # NOTE: no blanket sales == qty*abs(price) assertion — when BOTH
    # sales and price are bad, the reference repairs each from the RAW
    # columns (tools.load_crm_sales_details_v1.sql:96-109), so the
    # repaired pair is intentionally inconsistent (permissive
    # semantics, SURVEY.md §7 "hard parts"); SO2 above is that case.


# -- Methods_erp_* expectations --------------------------------------
def test_silver_erp_keys_and_decodes(pipeline_run):
    wh, _, _ = pipeline_run
    az = wh.read_batch("silver", "erp_cust_az12", BATCH)
    assert az.filter("cid LIKE 'NAS%'").isEmpty()  # R7 strip
    assert az.filter("bdate > current_date()").isEmpty()  # R5
    assert {r.gen for r in az.collect()} == {"Female", "Male", "Unknown"}
    loc = wh.read_batch("silver", "erp_loc_a101", BATCH)
    assert loc.filter("cid LIKE '%-%'").isEmpty()
    assert {r.cntry for r in loc.collect()} == {
        "United States",
        "Germany",
        "Unknown",
    }


# -- Integration (gold) expectations ---------------------------------
def test_gold_dim_customers_integration(pipeline_run):
    wh, _, _ = pipeline_run
    dc = wh.read_batch("gold", "dim_customers", BATCH)
    rows = {r.customer_id: r for r in dc.collect()}
    assert len(rows) == 3
    # R1: CRM gender wins unless Unknown
    assert rows[1].gender == "Female"
    assert rows[3].gender == "Unknown"  # CRM Unknown, ERP Unknown
    assert rows[1].country == "United States"  # via dash-stripped cid
    assert rows[1].birth_date == dt.date(1980, 5, 5)  # via NAS-stripped cid
    assert rows[2].birth_date is None  # future bdate nulled
    # surrogate keys dense from 1
    assert sorted(r.customer_key for r in rows.values()) == [1, 2, 3]


def test_gold_dim_products_current_only(pipeline_run):
    wh, _, _ = pipeline_run
    dp = wh.read_batch("gold", "dim_products", BATCH)
    assert dp.filter("product_number = 'FR-R92B'").count() == 1  # P6
    nocat = dp.filter("product_number = 'NO-CAT1'").collect()[0]
    assert nocat.category is None  # left join preserved
    assert dp.filter("category = 'Components'").count() == 1


def test_gold_fact_unknown_member_fallback(pipeline_run):
    wh, _, _ = pipeline_run
    fs = wh.read_batch("gold", "fact_sales", BATCH)
    so4 = fs.filter("order_number = 'SO4'").collect()[0]
    assert so4.customer_key == -1 and so4.product_key == -1  # J3 fallback
    assert fs.count() == 4  # left joins lose no fact rows


def test_mvs_materialize(pipeline_run):
    wh, _, results = pipeline_run
    assert all(ok for ok, *_ in results["mv"].values())
    mv = wh.read_batch("mv", "mv_sales_monthly_productline", BATCH)
    assert mv.count() > 0


# -- the oracle over the pipeline's own MVs --------------------------
# The q1-q8 DuckDB oracle bodies read only fact_sales, dim_customers and
# dim_products, so they run unchanged over views on pipeline gold: money
# as DECIMAL(18,4) like star.py, and the same derived customer_name.
_MV_ORACLE_BODIES = {
    "mv_sales_monthly_productline": analytics.Q1_SQL,
    "mv_sales_customer_country": analytics.Q2_SQL,
    "mv_customer_lifetime_value": analytics.Q3_SQL,
    "mv_running_sales_customer": analytics.Q4_SQL,
    "mv_top3_products_month_country": analytics.Q5_SQL,
    "mv_customer_churn": analytics.Q6_SQL,
    "mv_customer_order_gap": analytics.Q7_SQL,
    "mv_sales_rollup_product": analytics.Q8_SQL,
}


@pytest.mark.parametrize("name", list(_MV_ORACLE_BODIES))
def test_pipeline_mv_matches_oracle(pipeline_run, name):
    import duckdb

    from python_sql_datawarehouse_project_spark.plans.mv import MVS
    from python_sql_datawarehouse_project_spark.testing import (
        compare_frame,
        fetch_oracle,
    )

    wh, _, _ = pipeline_run
    con = duckdb.connect()
    try:
        for table, cols in {
            "fact_sales": "* EXCLUDE (sales, dwh_batch_id), "
            "CAST(sales AS DECIMAL(18,4)) AS sales",
            "dim_customers": "* EXCLUDE (dwh_batch_id), concat_ws(' ', "
            "customer_firstname, customer_lastname) AS customer_name",
            "dim_products": "* EXCLUDE (dwh_batch_id)",
        }.items():
            files = os.path.join(wh.path("gold", table), "**", "*.parquet")
            con.execute(
                f"CREATE VIEW {table} AS SELECT {cols} FROM read_parquet("
                f"'{files}', hive_partitioning = true) "
                f"WHERE dwh_batch_id = '{BATCH}'"
            )
        expected = fetch_oracle(con, _MV_ORACLE_BODIES[name])
    finally:
        con.close()
    kw = {"as_of": analytics.CHURN_AS_OF} if name == "mv_customer_churn" else {}
    res = compare_frame(name, MVS[name](wh, BATCH, **kw), expected)
    assert res.ok, res.mismatches


# -- Idempotency (reference README.md:101-107) -----------------------
def _warehouse_state(wh: Warehouse) -> dict:
    """Per-batch fingerprint of every bronze, gold and mv table, and the
    per-batch row count of every silver table (silver rows carry their
    dwh_create_date, which a re-run moves)."""
    state = {}
    for layer in ("bronze", "silver", "gold", "mv"):
        for name in sorted(os.listdir(os.path.join(wh.root, layer))):
            if not wh.list_batches(layer, name):
                continue  # every write so far was empty
            fp = wh.fingerprint_batches(layer, name)
            if layer == "silver":
                fp = fp.select("dwh_batch_id", "n_rows")
            state[layer, name] = sorted(map(tuple, fp.collect()))
    return state


def test_rerun_same_batch_identical_state(pipeline_run, spark):
    wh, log, _ = pipeline_run
    before = _warehouse_state(wh)
    results = run_batch(wh, log, BATCH)
    for stage, procs in results.items():
        for name, (ok, err, _) in procs.items():
            assert ok, f"rerun {stage}.{name}: {err}"
    assert _warehouse_state(wh) == before


def test_full_mv_stage_reads_gold_once(pipeline_run, monkeypatch):
    # The nine MVs share one read of the batch's three gold tables and
    # write what each one's own read of gold gives.
    from python_sql_datawarehouse_project_spark.plans.mv import MVS
    from python_sql_datawarehouse_project_spark.plans.pipeline import run_mvs

    wh, log, _ = pipeline_run
    before = _warehouse_state(wh)
    reads = []
    read_table = Warehouse.read_table
    monkeypatch.setattr(
        Warehouse,
        "read_table",
        lambda self, layer, name: reads.append((layer, name))
        or read_table(self, layer, name),
    )
    results = run_mvs(wh, log, BATCH, "full")
    monkeypatch.undo()
    assert sorted(reads) == [
        ("gold", "dim_customers"), ("gold", "dim_products"), ("gold", "fact_sales")
    ]
    assert all(ok for ok, *_ in results.values()), results
    assert _warehouse_state(wh) == before
    for name in MVS:
        written = wh.read_batch("mv", name, BATCH).drop("dwh_batch_id").collect()
        alone = MVS[name](wh, BATCH).collect()
        assert sorted(map(repr, written)) == sorted(map(repr, alone)), name


def test_failed_silver_step_logs_spark_error_class(spark, tmp_path):
    from python_sql_datawarehouse_project_spark.plans.pipeline import run_silver

    root = str(tmp_path / "wh")
    wh, log = Warehouse(spark, root), RunLog(root)
    # a bronze batch without cst_key: the silver select cannot resolve it
    wh.write_batch(
        spark.createDataFrame(
            [(1, "Ann", dt.date(2024, 1, 1))],
            "cst_id int, cst_firstname string, cst_create_date date",
        ),
        "bronze",
        "crm_cust_info",
        BATCH,
    )
    ok, err, _ = run_silver(wh, log, BATCH)["load_crm_cust_info"]
    assert not ok
    [row] = [
        r for r in log.read("transformation_log")
        if r["proc_name"] == "load_crm_cust_info"
    ]
    assert row["status"] == "FAILED" and row["message"] == err
    assert err.startswith("[UNRESOLVED_COLUMN.")
    assert "`cst_key`" in err and "SQLSTATE: 42703" in err


def test_dependency_gate_skips_fact_on_missing_dims(spark, tmp_path):
    from python_sql_datawarehouse_project_spark.plans.pipeline import run_gold

    root = str(tmp_path / "wh2")
    wh = Warehouse(spark, root)
    log = RunLog(root)
    # no silver data at all -> dims short-circuit SUCCESS with 0 rows,
    # fact then runs (deps satisfied) and short-circuits too
    res = run_gold(wh, log, "BATCH000099")
    assert all(ok for ok, *_ in res.values())
    # now simulate a dim failure by logging FAILED and rerunning gate
    log2 = RunLog(str(tmp_path / "wh3"))
    wh2 = Warehouse(spark, str(tmp_path / "wh3"))
    log2.append(
        "integration_log",
        proc_name="load_dim_customers",
        batch_id="B1",
        status="FAILED",
    )
    from python_sql_datawarehouse_project_spark.plans.gold import DEPENDENCIES

    missing = [
        d
        for d in DEPENDENCIES["load_fact_sales"]
        if d not in log2.successes("integration_log", "B1")
    ]
    assert missing  # gate would skip the fact


def test_session_case_mapping_is_pinned(spark):
    # The JVM and ICU case mappings agree on these; the session uses
    # the JVM's, which needs no ICU table build on the first lower().
    words = ["straße", "ΣΑΣ ΟΔΟΣ", "İstanbul", "ǅemal", "ﬁne", "ſ", "ı", "ŉ", "abc"]
    df = spark.createDataFrame(list(enumerate(words)), "i int, w string")
    rows = df.orderBy("i").select(F.upper("w"), F.lower("w")).collect()
    assert [r[0] for r in rows] == [
        "STRASSE", "ΣΑΣ ΟΔΟΣ", "İSTANBUL", "ǄEMAL", "FINE", "S", "I", "ʼN", "ABC"
    ]
    assert [r[1] for r in rows] == [
        "straße", "σας οδος", "i̇stanbul", "ǆemal", "ﬁne", "ſ", "ı", "ŉ", "abc"
    ]


def test_next_batch_id():
    assert next_batch_id(None) == "BATCH000001"
    assert next_batch_id("BATCH000014") == "BATCH000015"
