"""Multi-client orchestration: two registered clients run the full
medallion pass with fully isolated state (per-client schemas in the
reference, per-client sub-roots here) and independent batch counters
(reference batch_processing.py:1276-1296 runs `start` for every
client_reference row when invoked with no args)."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from python_sql_datawarehouse_project_spark.plans.clients import (
    ClientRegistry,
    process_client,
    run_all_clients,
)


@pytest.fixture(scope="module")
def two_client_run(spark, tmp_path_factory):
    from test_medallion import _seed_bronze

    root = str(tmp_path_factory.mktemp("clients"))
    reg = ClientRegistry(root)
    reg.register("client1", client_name="Client One")
    reg.register("client2", client_name="Client Two")

    wh1 = reg.warehouse(spark, "client1")
    wh2 = reg.warehouse(spark, "client2")
    _seed_bronze(spark, wh1)
    _seed_bronze(spark, wh2)
    # client2 gets one extra clean customer -> its dims must differ
    extra = spark.createDataFrame(
        [(7.0, "AW00011007", "Eve", "Kim", "S", "F", dt.date(2022, 2, 2))],
        "cst_id double, cst_key string, cst_firstname string, "
        "cst_lastname string, cst_marital_status string, cst_gndr string, "
        "cst_create_date date",
    )
    base = wh2.read_batch("bronze", "crm_cust_info", "BATCH000001").drop(
        "dwh_batch_id"
    )
    wh2.write_batch(base.unionByName(extra), "bronze", "crm_cust_info", "BATCH000001")

    results = run_all_clients(spark, reg)
    return root, reg, results


def test_all_clients_processed_in_id_order(two_client_run):
    _, _, results = two_client_run
    assert [r.client_schema for r in results] == ["client1", "client2"]
    for r in results:
        assert r.batch_id == "BATCH000001"
        for stage, procs in r.results.items():
            for name, (ok, err, _) in procs.items():
                assert ok, f"{r.client_schema} {stage}.{name}: {err}"


def test_client_state_is_isolated(spark, two_client_run):
    _, reg, _ = two_client_run
    d1 = reg.warehouse(spark, "client1").read_batch(
        "gold", "dim_customers", "BATCH000001"
    )
    d2 = reg.warehouse(spark, "client2").read_batch(
        "gold", "dim_customers", "BATCH000001"
    )
    assert d1.count() == 3  # null pk dropped, dup collapsed
    assert d2.count() == 4  # the extra client2-only customer
    # separate physical roots, separate log files
    assert reg.client_root("client1") != reg.client_root("client2")
    for schema in ("client1", "client2"):
        assert os.path.exists(
            os.path.join(reg.client_root(schema), "tools", "job_execution_log.jsonl")
        )


def test_batch_counters_advance_independently(spark, two_client_run):
    _, reg, _ = two_client_run
    assert reg.get("client1").last_batch_id == "BATCH000001"
    r = process_client(spark, reg, "client1", "start")
    assert r.batch_id == "BATCH000002"
    assert reg.get("client1").last_batch_id == "BATCH000002"
    assert reg.get("client2").last_batch_id == "BATCH000001"  # untouched


@pytest.mark.slow
def test_restart_reruns_last_batch(spark, two_client_run):
    _, reg, _ = two_client_run
    before = reg.get("client2").last_batch_id
    r = process_client(spark, reg, "client2", "restart")
    assert r.batch_id == before  # idempotent re-run, no new counter


def test_unknown_client_raises(two_client_run):
    _, reg, _ = two_client_run
    with pytest.raises(KeyError, match="client9"):
        reg.get("client9")


def test_file_driven_client_run_and_reprocessing(spark, tmp_path):
    """The full reference driver shape: files land in an incoming dir,
    `start` ingests them into bronze and runs the transforms;
    `reprocessing` re-runs the SAME batch from the landed bronze
    without touching the incoming dir (batch_processing.py:776-860)."""
    from python_sql_datawarehouse_project_spark.plans.clients import ClientSources
    from python_sql_datawarehouse_project_spark.plans.ingest import IngestPlan
    from python_sql_datawarehouse_project_spark.sources.mapping import ColumnMapping
    from python_sql_datawarehouse_project_spark.sources.validation import SourceConfig

    incoming = tmp_path / "raw" / "c3" / "crm" / "incoming"
    incoming.mkdir(parents=True)
    (incoming / "cust_info_BATCH000001.csv").write_text(
        "cst_id,cst_key,cst_firstname,cst_lastname,cst_marital_status,"
        "cst_gndr,cst_create_date\n"
        "1.0,K1,Ann,Lee,M,F,2024-01-01\n"
        "2.0,K2,Bob,Ray,S,M,2024-02-02\n"
    )
    sources = ClientSources(
        plan=IngestPlan(
            configs=[SourceConfig("crm", "csv", "cust_info", "crm_cust_info")],
            mappings={
                "crm_cust_info": [
                    ColumnMapping(c, c, t)
                    for c, t in [
                        ("cst_id", "integer"),
                        ("cst_key", "string"),
                        ("cst_firstname", "string"),
                        ("cst_lastname", "string"),
                        ("cst_marital_status", "string"),
                        ("cst_gndr", "string"),
                        ("cst_create_date", "date"),
                    ]
                ]
            },
            required={"crm_cust_info": ["cst_id"]},
        ),
        incoming={"crm": str(incoming)},
    )
    reg = ClientRegistry(str(tmp_path / "wh"))
    reg.register("c3")
    r = process_client(spark, reg, "c3", "start", sources)
    assert [f.status for f in r.ingested] == ["LOADED"]
    assert r.batch_id == "BATCH000001"
    wh = reg.warehouse(spark, "c3")
    assert wh.read_batch("bronze", "crm_cust_info", r.batch_id).count() == 2
    assert wh.read_batch("silver", "crm_cust_info", r.batch_id).count() == 2

    # reprocessing: same batch, ingest skipped, transforms re-run
    (incoming / "cust_info_BATCH000001.csv").unlink()  # dir now empty
    r2 = process_client(spark, reg, "c3", "reprocessing", sources)
    assert r2.batch_id == r.batch_id and r2.ingested == []
    assert wh.read_batch("silver", "crm_cust_info", r2.batch_id).count() == 2
    for name, (ok, err, _) in r2.results["silver"].items():
        assert ok, f"{name}: {err}"


def test_restart_with_emptied_file_leaves_batch_absent(spark, tmp_path):
    """A `restart` whose landing file became header-only re-runs the
    batch with zero rows: the bronze and silver partitions the first
    run wrote must go, not survive as stale rows under a 0-row log."""
    from python_sql_datawarehouse_project_spark.plans.clients import ClientSources
    from python_sql_datawarehouse_project_spark.plans.ingest import IngestPlan
    from python_sql_datawarehouse_project_spark.sources.mapping import ColumnMapping
    from python_sql_datawarehouse_project_spark.sources.validation import SourceConfig

    header = (
        "cst_id,cst_key,cst_firstname,cst_lastname,cst_marital_status,"
        "cst_gndr,cst_create_date\n"
    )
    incoming = tmp_path / "raw" / "c4" / "crm" / "incoming"
    incoming.mkdir(parents=True)
    landing = incoming / "cust_info_BATCH000001.csv"
    landing.write_text(
        header + "1.0,K1,Ann,Lee,M,F,2024-01-01\n2.0,K2,Bob,Ray,S,M,2024-02-02\n"
    )
    sources = ClientSources(
        plan=IngestPlan(
            configs=[SourceConfig("crm", "csv", "cust_info", "crm_cust_info")],
            mappings={
                "crm_cust_info": [
                    ColumnMapping(c, c, t)
                    for c, t in [
                        ("cst_id", "integer"),
                        ("cst_key", "string"),
                        ("cst_firstname", "string"),
                        ("cst_lastname", "string"),
                        ("cst_marital_status", "string"),
                        ("cst_gndr", "string"),
                        ("cst_create_date", "date"),
                    ]
                ]
            },
        ),
        incoming={"crm": str(incoming)},
    )
    reg = ClientRegistry(str(tmp_path / "wh"))
    reg.register("c4")
    r = process_client(spark, reg, "c4", "start", sources)
    wh = reg.warehouse(spark, "c4")
    assert r.results["silver"]["load_crm_cust_info"] == (True, None, 2)

    landing.write_text(header)
    r2 = process_client(spark, reg, "c4", "restart", sources)
    assert r2.batch_id == r.batch_id
    assert [(f.status, f.rows) for f in r2.ingested] == [("LOADED", 0)]
    assert wh.list_batches("bronze", "crm_cust_info") == []
    assert wh.list_batches("silver", "crm_cust_info") == []
    assert r2.results["silver"]["load_crm_cust_info"] == (True, None, 0)


def test_registry_persists_across_instances(two_client_run):
    root, reg, _ = two_client_run
    reloaded = ClientRegistry(root)
    assert [c.client_schema for c in reloaded.all()] == ["client1", "client2"]
    assert (
        reloaded.get("client1").last_batch_id == reg.get("client1").last_batch_id
    )


def test_failed_register_leaves_registry_whole(tmp_path):
    # A row json cannot encode must not tear the file (losing every
    # client's last_batch_id) nor leave a half-registered client.
    root = str(tmp_path / "reg")
    reg = ClientRegistry(root)
    reg.register("client1")
    reg.set_last_batch("client1", "BATCH000003")
    with pytest.raises(TypeError):
        reg.register("client2", client_name=object())
    for r in (reg, ClientRegistry(root)):
        assert [c.client_schema for c in r.all()] == ["client1"]
        assert r.get("client1").last_batch_id == "BATCH000003"
    assert os.listdir(os.path.join(root, "tools")) == ["client_reference.json"]


def test_start_that_dies_leaves_its_batch_in_flight(spark, tmp_path, monkeypatch):
    # The batch id is persisted when it is allocated: a `start` that
    # dies mid-pipeline must leave its own id as last_batch_id, so
    # `restart` re-enters it instead of re-running the completed batch.
    from python_sql_datawarehouse_project_spark.plans import clients

    ran = []

    def run_batch(wh, log, batch_id, mv_mode="full"):
        ran.append(batch_id)
        if len(ran) == 2:
            raise RuntimeError("killed mid-pipeline")
        return {}

    monkeypatch.setattr(clients, "run_batch", run_batch)
    root = str(tmp_path / "reg")
    reg = ClientRegistry(root)
    reg.register("c6")
    assert process_client(spark, reg, "c6", "start").batch_id == "BATCH000001"
    with pytest.raises(RuntimeError, match="killed"):
        process_client(spark, reg, "c6", "start")
    assert reg.get("c6").last_batch_id == "BATCH000002"
    assert ClientRegistry(root).get("c6").last_batch_id == "BATCH000002"
    assert process_client(spark, reg, "c6", "restart").batch_id == "BATCH000002"
    assert process_client(spark, reg, "c6", "start").batch_id == "BATCH000003"
    assert ran == ["BATCH000001", "BATCH000002", "BATCH000002", "BATCH000003"]


def test_one_row_validation_per_batch_across_systems(spark, tmp_path, monkeypatch):
    # Files of two source systems land in one batch: V3 counts both
    # in one aggregation, and each file keeps its own log row.
    from python_sql_datawarehouse_project_spark.plans import ingest
    from python_sql_datawarehouse_project_spark.plans.clients import ClientSources
    from python_sql_datawarehouse_project_spark.sources.mapping import ColumnMapping
    from python_sql_datawarehouse_project_spark.sources.validation import SourceConfig

    raw = tmp_path / "raw"
    for system, fname, text in [
        ("crm", "cust_info_B1.csv", "cst_id,cst_key\n1,K1\n2,K2\n"),
        ("erp", "LOC_A101_B1.csv", "cid,cntry\nA1,DE\nA1,US\n"),
    ]:
        (raw / system).mkdir(parents=True)
        (raw / system / fname).write_text(text)
    sources = ClientSources(
        plan=ingest.IngestPlan(
            configs=[
                SourceConfig("crm", "csv", "cust_info", "crm_cust_info"),
                SourceConfig("erp", "csv", "LOC_A101", "erp_loc_a101"),
            ],
            mappings={
                "crm_cust_info": [
                    ColumnMapping("cst_id", "cst_id", "integer"),
                    ColumnMapping("cst_key", "cst_key", "string"),
                ],
                "erp_loc_a101": [
                    ColumnMapping("cid", "cid"),
                    ColumnMapping("cntry", "cntry"),
                ],
            },
            required={"crm_cust_info": ["cst_id"], "erp_loc_a101": ["cid"]},
        ),
        incoming={s: str(raw / s) for s in ("crm", "erp", "missing")},
    )
    calls = []
    validate_rows = ingest.validate_rows
    monkeypatch.setattr(
        ingest, "validate_rows", lambda frames: calls.append(len(frames))
        or validate_rows(frames)
    )
    reg = ClientRegistry(str(tmp_path / "wh"))
    reg.register("c5")
    r = process_client(spark, reg, "c5", "start", sources)
    assert [(f.file, f.status) for f in r.ingested] == [
        ("cust_info_B1.csv", "LOADED"),
        ("LOC_A101_B1.csv", "LOADED"),
    ]
    assert calls == [2]
    rows = reg.runlog("c5").read("row_validation_log")
    assert [(x["physical_file_name"], x["duplicate_rows"]) for x in rows] == [
        ("cust_info_B1.csv", 0),
        ("LOC_A101_B1.csv", 1),
    ]


@pytest.mark.slow
def test_cli_dispatch_runs_single_client(spark, tmp_path, capsys):
    # The reference CLI contract (batch_processing.py:1276-1296):
    # `<client> <mode>` runs one client; main() reuses the active
    # session and prints one status line per run.
    from test_medallion import _seed_bronze

    from python_sql_datawarehouse_project_spark.__main__ import main
    from python_sql_datawarehouse_project_spark.plans.clients import ClientRegistry

    root = str(tmp_path / "cli_root")
    reg = ClientRegistry(root)
    reg.register("cli_client", client_name="CLI Client")
    _seed_bronze(spark, reg.warehouse(spark, "cli_client"))

    rc = main(["cli_client", "start", "--root", root])
    assert rc == 0
    out = capsys.readouterr().out
    assert "cli_client BATCH000001" in out
    assert "FAILED" not in out
    # batch counter persisted: a second start allocates BATCH000002
    rc = main(["cli_client", "start", "--root", root])
    assert rc == 0
    assert "cli_client BATCH000002" in capsys.readouterr().out


def test_cli_gate_and_list(spark, sf_dir, capsys):
    # --list-gates needs no Spark session; --gate runs one registry
    # query against --sf-dir and prints rows.
    from python_sql_datawarehouse_project_spark.__main__ import main

    assert main(["--list-gates"]) == 0
    out = capsys.readouterr().out
    assert "q34_forecast_revenue" in out and "qa2_dup_keys" in out
    assert main(["--gate", "q34_forecast_revenue", "--sf-dir", sf_dir]) == 0
    out = capsys.readouterr().out
    assert "forecast_revenue" in out


def test_cli_oracle_check_single_gate(spark, sf_dir, capsys):
    # --oracle-check --gate replays one gate against its DuckDB oracle
    # (exit 0 on hash match, 1 on any FAIL) — the driver's gate as a
    # CLI, runnable at any SF dir.
    from python_sql_datawarehouse_project_spark.__main__ import main

    assert (
        main(
            [
                "--oracle-check",
                "--gate",
                "qa20_grouped_regression",
                "--sf-dir",
                sf_dir,
            ]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert "OK   qa20_grouped_regression" in out
    assert "oracle-check: 1/1 OK" in out


@pytest.mark.parametrize(
    "argv",
    [
        ["--oracle-check"],
        ["--gate", "q1_monthly_sales_product"],
        ["--gate", "no_such_gate", "--sf-dir", "x"],
    ],
)
def test_cli_rejects_bad_gate_arguments_before_building_a_session(
    monkeypatch, argv
):
    # A missing --sf-dir or an unknown gate is a usage error (exit 2)
    # found without starting a JVM.
    from python_sql_datawarehouse_project_spark import session
    from python_sql_datawarehouse_project_spark.__main__ import main

    def no_session(*args, **kwargs):
        raise AssertionError("built a Spark session")

    monkeypatch.setattr(session, "build_session", no_session)
    with pytest.raises(SystemExit) as exc:
        main(argv)
    assert exc.value.code == 2
