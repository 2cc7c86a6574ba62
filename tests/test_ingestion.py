"""Ingestion & validation layer tests (SURVEY.md §2.1-2.2, §2.11):
readers, mapping projection with the id-cast heuristic, the
cst_gendr -> cst_gndr rename the reference's real data depends on,
V1-V4 validation semantics, and the end-to-end directory ingest."""

from __future__ import annotations

import json
import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from python_sql_datawarehouse_project_spark.plans.ingest import (
    IngestPlan,
    ingest_directory,
)
from python_sql_datawarehouse_project_spark.plans.runlog import RunLog
from python_sql_datawarehouse_project_spark.plans.warehouse import Warehouse
from python_sql_datawarehouse_project_spark.sources.mapping import (
    ColumnMapping,
    apply_mapping,
    normalize_name,
)
from python_sql_datawarehouse_project_spark.sources.readers import (
    UnsupportedSourceError,
    read_source,
)
from python_sql_datawarehouse_project_spark.sources.validation import (
    SourceConfig,
    match_config,
    validate_mapping,
    validate_rows,
    validate_target_schema,
)


@pytest.fixture()
def csv_file(tmp_path):
    p = tmp_path / "cust_info_BATCH000001.csv"
    p.write_text(
        "cst_id,cst_key,cst_gendr,amount\n"
        "1.0,K1,F,10.5\n"
        "2.0,K2,M,20.25\n"
        ",K3,,30.0\n"  # null id, blank gender
        "2.0,K2,M,20.25\n"  # exact dup of row 2
    )
    return str(p)


MAPPINGS = [
    ColumnMapping("cst_id", "cst_id", "integer"),
    ColumnMapping("cst_key", "cst_key", "string"),
    ColumnMapping("cst_gendr", "cst_gndr", "string"),  # genuine rename
    ColumnMapping("amount", "amount", "numeric"),
]


# -- readers ----------------------------------------------------------
def test_csv_reader_infers(spark, csv_file):
    df = read_source(spark, csv_file, "csv")
    assert df.columns == ["cst_id", "cst_key", "cst_gendr", "amount"]
    assert df.count() == 4


def test_building_a_bronze_frame_captures_no_call_site(spark, csv_file, monkeypatch):
    # The session turns PySpark's DataFrame call-site capture off, so
    # Column and functions.* calls make no capture round trips.
    from pyspark.errors import utils

    calls = []
    capture = utils._capture_call_site
    monkeypatch.setattr(
        utils, "_capture_call_site", lambda depth: calls.append(depth) or capture(depth)
    )
    # re-read the setting from the session instead of a cached answer
    monkeypatch.setattr(utils, "_enable_debugging_cache", None)
    df = apply_mapping(read_source(spark, csv_file, "csv"), MAPPINGS)
    assert df.columns == ["cst_id", "cst_key", "cst_gndr", "amount"]
    assert calls == []


def test_json_reader_lines_and_whole_doc(spark, tmp_path):
    lines = tmp_path / "d.json"
    lines.write_text('{"a": 1}\n{"a": 2}\n')
    assert read_source(spark, str(lines), "json").count() == 2
    whole = tmp_path / "w.json"
    whole.write_text(json.dumps([{"a": 1}, {"a": 2}, {"a": 3}]))
    assert read_source(spark, str(whole), "json").count() == 3


def test_unknown_format_raises(spark):
    with pytest.raises(UnsupportedSourceError):
        read_source(spark, "/nonexistent", "avro")


# -- mapping projection (P1-P2) --------------------------------------
def test_mapping_rename_and_id_cast(spark, csv_file):
    df = read_source(spark, csv_file, "csv")
    out = apply_mapping(df, MAPPINGS)
    assert out.columns == ["cst_id", "cst_key", "cst_gndr", "amount"]
    rows = {r.cst_key: r for r in out.collect()}
    # P2: inference-mangled double ids -> clean longs
    assert rows["K1"].cst_id == 1 and isinstance(rows["K1"].cst_id, int)
    assert rows["K3"].cst_id is None
    # a bare `numeric` target is DECIMAL(38,18), not Spark's decimal(10,0)
    assert rows["K1"].amount == Decimal("10.5")


def test_mapping_matches_normalized_headers(spark):
    df = spark.createDataFrame([(1, "x")], [" Cst ID ", "CST KEY"])
    out = apply_mapping(
        df,
        [ColumnMapping("cst_id", "cst_id", "int"),
         ColumnMapping("cst_key", "cst_key", "string")],
    )
    assert out.columns == ["cst_id", "cst_key"]
    assert normalize_name("  Cst  Gendr ") == "cst_gendr"


# -- V1 config match --------------------------------------------------
CONFIGS = [
    SourceConfig("crm", "csv", "cust_info", "crm_cust_info"),
    SourceConfig("erp", "csv", "loc_a101", "erp_loc_a101"),
]


def test_config_match_and_quarantine():
    assert match_config("cust_info_BATCH000001.csv", "crm", CONFIGS).target_table == "crm_cust_info"
    assert match_config("cust_info_BATCH000001.csv", "erp", CONFIGS) is None
    assert match_config("unknown.csv", "crm", CONFIGS) is None
    assert match_config("cust_info.parquet", "crm", CONFIGS) is None


# -- V2 mapping validation -------------------------------------------
def test_mapping_validation_reports_missing_and_extra(spark):
    df = spark.createDataFrame([(1, "a")], ["cst_id", "surprise"])
    mv = validate_mapping(df, ["cst_id", "cst_key"])
    assert not mv.ok
    assert mv.missing == ["cst_key"] and mv.extra == ["surprise"]


# -- V3 row validation ------------------------------------------------
def test_row_validation_nulls_and_dups(spark, csv_file):
    df = read_source(spark, csv_file, "csv")
    out = apply_mapping(df, MAPPINGS)
    [rv] = validate_rows([(out, ["cst_id", "cst_gndr"])])
    assert not rv.ok
    assert rv.total_rows == 4
    assert rv.null_counts == {"cst_id": 1, "cst_gndr": 1}
    assert rv.duplicate_rows == 1  # the repeated (2, m) key


def test_row_validation_nan_detected(spark):
    df = spark.createDataFrame([(float("nan"),), (1.0,)], "x double")
    [rv] = validate_rows([(df, ["x"])])
    assert rv.null_counts == {"x": 1}


# -- V4 target schema -------------------------------------------------
def test_target_schema_validation():
    schema = StructType.fromDDL("cst_id INT, cst_key STRING")
    assert validate_target_schema(["cst_id", "cst_key"], schema) == []
    assert validate_target_schema(["cst_id", "ghost"], schema) == ["ghost"]


# -- end-to-end directory ingest -------------------------------------
def test_ingest_directory_end_to_end(spark, tmp_path, csv_file):
    incoming = tmp_path / "incoming"
    incoming.mkdir()
    os.link(csv_file, incoming / os.path.basename(csv_file))
    (incoming / "mystery_file.csv").write_text("a,b\n1,2\n")

    wh = Warehouse(spark, str(tmp_path / "wh"))
    log = RunLog(str(tmp_path / "wh"))
    plan = IngestPlan(
        configs=CONFIGS,
        mappings={"crm_cust_info": MAPPINGS},
        required={"crm_cust_info": ["cst_id"]},
    )
    results = ingest_directory(
        spark, wh, log, plan, {"crm": str(incoming)}, "BATCH000007"
    )
    by_file = {r.file: r for r in results}
    assert by_file["mystery_file.csv"].status == "CONFIG_FAILED"
    loaded = by_file["cust_info_BATCH000001.csv"]
    assert loaded.status == "LOADED" and loaded.rows == 4

    bronze = wh.read_batch("bronze", "crm_cust_info", "BATCH000007")
    assert bronze.count() == 4
    assert bronze.filter(F.col("cst_gndr") == "F").count() == 1
    # audit + row-validation rows landed
    statuses = {r["physical_file_name"]: r for r in log.read("file_audit_log")}
    assert statuses["mystery_file.csv"]["config_validation_status"] == "FAILED"
    assert statuses["cust_info_BATCH000001.csv"]["load_status"] == "SUCCESS"
    rv = log.read("row_validation_log")[0]
    assert rv["status"] == "FAILED" and rv["duplicate_rows"] == 1  # non-fatal


def test_bronze_types_come_from_mapping_not_file(spark, tmp_path):
    # Two batches whose files would infer different types (B1: "AW1"
    # ids and ISO dates; B2: all-digit ids and one bad date) land with
    # the mapping's types, so both batches stay readable together.
    import datetime as dt

    plan = IngestPlan(
        configs=[SourceConfig("erp", "csv", "CUST_AZ12", "erp_cust_az12")],
        mappings={
            "erp_cust_az12": [
                ColumnMapping("cid", "cid", "string"),
                ColumnMapping("bdate", "bdate", "date"),
                ColumnMapping("gen", "gen", "string"),
            ]
        },
    )
    files = {
        "B1": "cid,bdate,gen\nAW1,1970-01-02,F\nAW2,1980-03-04,M\n",
        "B2": "cid,bdate,gen\n11,1990-05-06,F\n12,not-a-date,M\n",
    }
    wh = Warehouse(spark, str(tmp_path / "wh"))
    log = RunLog(str(tmp_path / "wh"))
    for bid, text in files.items():
        incoming = tmp_path / bid
        incoming.mkdir()
        (incoming / f"CUST_AZ12_{bid}.csv").write_text(text)
        [r] = ingest_directory(spark, wh, log, plan, {"erp": str(incoming)}, bid)
        assert r.status == "LOADED"
    table = wh.read_table("bronze", "erp_cust_az12")
    assert table.schema["cid"].dataType.simpleString() == "string"
    assert table.schema["bdate"].dataType.simpleString() == "date"
    rows = {r.cid: r.bdate for r in table.collect()}
    assert rows == {
        "AW1": dt.date(1970, 1, 2),
        "AW2": dt.date(1980, 3, 4),
        "11": dt.date(1990, 5, 6),
        "12": None,  # does not parse as a date
    }
    fp = wh.fingerprint_batches("bronze", "erp_cust_az12").collect()
    assert sorted((r.dwh_batch_id, r.n_rows) for r in fp) == [("B1", 2), ("B2", 2)]


def test_file_whose_data_pages_fail_to_read_is_read_failed(spark, tmp_path):
    # A parquet read_source only touches the footer, so corrupt data
    # pages first fail in the bronze write.  That file must end
    # READ_FAILED with one load_error_log row, and the batch's later
    # files still load.
    import pyarrow as pa
    import pyarrow.parquet as pq

    incoming = tmp_path / "incoming"
    incoming.mkdir()
    table = pa.table({
        "cst_key": pa.array([f"K{i}" for i in range(5000)]),
        "cst_id": pa.array(range(5000), pa.int64()),
    })
    bad = incoming / "cust_info_A.parquet"
    pq.write_table(table, bad, compression="none", use_dictionary=False)
    data = bytearray(bad.read_bytes())
    data[100:400] = b"\xff" * 300  # cst_key's value lengths
    bad.write_bytes(bytes(data))
    pq.write_table(table.slice(0, 3), incoming / "cust_info_B.parquet")

    plan = IngestPlan(
        configs=[SourceConfig("crm", "parquet", "cust_info", "crm_cust_info")],
        mappings={"crm_cust_info": MAPPINGS[:2]},
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    log = RunLog(str(tmp_path / "wh"))
    results = ingest_directory(spark, wh, log, plan, {"crm": str(incoming)}, "B1")
    assert [(r.file, r.status, r.rows) for r in results] == [
        ("cust_info_A.parquet", "READ_FAILED", 0),
        ("cust_info_B.parquet", "LOADED", 3),
    ]
    [err] = log.read("load_error_log")
    assert err["physical_file_name"] == "cust_info_A.parquet"
    assert wh.read_batch("bronze", "crm_cust_info", "B1").count() == 3


def _write_minimal_xlsx(path: str) -> None:
    """Hand-rolled OOXML workbook (stdlib zipfile only): 4 columns,
    3 data rows, exercising shared strings, inline strings, booleans,
    integers, floats and an absent cell."""
    import zipfile

    parts = {
        "[Content_Types].xml": """<?xml version="1.0"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
 <Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
 <Default Extension="xml" ContentType="application/xml"/>
 <Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
 <Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
 <Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>
</Types>""",
        "_rels/.rels": """<?xml version="1.0"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
 <Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>""",
        "xl/workbook.xml": """<?xml version="1.0"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
 <sheets><sheet name="Landing" sheetId="1" r:id="rId1"/></sheets>
</workbook>""",
        "xl/_rels/workbook.xml.rels": """<?xml version="1.0"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
 <Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
 <Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>
</Relationships>""",
        "xl/sharedStrings.xml": """<?xml version="1.0"?>
<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="6" uniqueCount="6">
 <si><t>id</t></si><si><t>name</t></si><si><t>score</t></si>
 <si><t>active</t></si><si><t>alpha</t></si><si><t>gamma</t></si>
</sst>""",
        "xl/worksheets/sheet1.xml": """<?xml version="1.0"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
 <sheetData>
  <row r="1">
   <c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>
   <c r="C1" t="s"><v>2</v></c><c r="D1" t="s"><v>3</v></c>
  </row>
  <row r="2">
   <c r="A2"><v>1</v></c><c r="B2" t="s"><v>4</v></c>
   <c r="C2"><v>1.5</v></c><c r="D2" t="b"><v>1</v></c>
  </row>
  <row r="3">
   <c r="A3"><v>2</v></c>
   <c r="B3" t="inlineStr"><is><t>beta</t></is></c>
   <c r="D3" t="b"><v>0</v></c>
  </row>
  <row r="4">
   <c r="A4"><v>3</v></c><c r="B4" t="s"><v>5</v></c>
   <c r="C4"><v>2.5</v></c><c r="D4" t="b"><v>1</v></c>
  </row>
 </sheetData>
</worksheet>""",
    }
    with zipfile.ZipFile(path, "w") as zf:
        for name, xml in parts.items():
            zf.writestr(name, xml)


def test_excel_real_first_sheet_read(spark, tmp_path):
    # S2 parity target: the reference runs pd.read_excel(src,
    # sheet_name=0) (convert_to_parquet.py:186).  With no xlsx engine
    # installed, the stdlib ZIP+XML fallback must still perform a REAL
    # first-sheet read, typed cells and all.
    from python_sql_datawarehouse_project_spark.sources.readers import read_source

    p = str(tmp_path / "landing.xlsx")
    _write_minimal_xlsx(p)
    df = read_source(spark, p, "xlsx")
    assert df.columns == ["id", "name", "score", "active"]
    rows = {r.id: r for r in df.collect()}
    assert len(rows) == 3
    assert rows[1].name == "alpha" and rows[1].score == 1.5 and rows[1].active
    assert rows[2].name == "beta" and rows[2].score is None  # absent cell
    assert not rows[2].active
    assert rows[3].name == "gamma" and rows[3].score == 2.5


def test_excel_legacy_xls_still_gated(spark, tmp_path):
    # Binary .xls has no stdlib path: typed gate error, not a crash.
    from python_sql_datawarehouse_project_spark.sources.readers import (
        UnsupportedSourceError,
        read_source,
    )

    p = tmp_path / "legacy.xls"
    p.write_bytes(b"\xd0\xcf\x11\xe0notreallyanxls")
    with pytest.raises(UnsupportedSourceError):
        read_source(spark, str(p), "xls")


def test_schema_only_read_is_metadata(spark, sf_dir, job_ids):
    # S5: column listing without a data scan (parquet footer only); the
    # footer is read once per file, so a repeat listing runs no job.
    from python_sql_datawarehouse_project_spark.sources.readers import read_schema

    path = f"{sf_dir}/nation.parquet"
    cols = read_schema(spark, path, "parquet")
    assert cols == ["n_nationkey", "n_name", "n_regionkey"]
    again, jobs = job_ids(
        "test_schema_only_read_is_metadata",
        lambda: read_schema(spark, path, "parquet"),
    )
    assert jobs == []
    assert again == cols


def test_repeat_table_load_starts_no_spark_job(spark, sf_dir, job_ids):
    # S4: the star catalog resolves a table's schema once per file.
    from python_sql_datawarehouse_project_spark.catalog import (
        load_table,
        table_path,
    )

    def load():
        df = load_table(spark, sf_dir, "lineitem")
        return df, df.columns

    load()
    (df, cols), jobs = job_ids("test_repeat_table_load_starts_no_spark_job", load)
    assert jobs == []
    assert cols[0] == "l_orderkey"
    assert df.schema == spark.read.parquet(table_path(sf_dir, "lineitem")).schema


def test_table_rewritten_in_place_is_read_with_its_new_schema(spark, tmp_path):
    # The cached schema is keyed on the file's identity, not its path.
    import pyarrow as pa
    import pyarrow.parquet as pq

    from python_sql_datawarehouse_project_spark.catalog import (
        load_table,
        table_path,
    )

    path = table_path(str(tmp_path), "region")
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["AFRICA", "ASIA"]}), path
    )
    first = load_table(spark, str(tmp_path), "region")
    assert sorted(map(tuple, first.collect())) == [(0, "AFRICA"), (1, "ASIA")]

    pq.write_table(
        pa.table({
            "r_regionkey": [0, 1],
            "r_name": ["AFRICA", "ASIA"],
            "r_comment": ["c0", "c1"],
        }),
        path,
    )
    second = load_table(spark, str(tmp_path), "region")
    assert second.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(map(tuple, second.collect())) == [
        (0, "AFRICA", "c0"), (1, "ASIA", "c1")
    ]


def test_nanos_file_reads_the_same_before_and_after_an_events_load(
    spark, tmp_path
):
    # The nanos reader conf is a session setting, not something an
    # events load switches on: an unrelated TIMESTAMP(NANOS) file has
    # one dtype whether or not a nanos events table was loaded first.
    import pyarrow as pa
    import pyarrow.parquet as pq

    from python_sql_datawarehouse_project_spark.catalog import (
        load_table,
        table_path,
    )

    ts = pa.array(
        [1_700_000_000_123_456_789, 1_700_000_001_000_000_000],
        pa.timestamp("ns"),
    )
    other = str(tmp_path / "other.parquet")
    pq.write_table(pa.table({"ts": ts}), other)
    pq.write_table(
        pa.table({"event_id": [1, 2], "ts": ts}),
        table_path(str(tmp_path), "events"),
    )

    def dtype():
        return dict(spark.read.parquet(other).dtypes)["ts"]

    before = dtype()
    events = load_table(spark, str(tmp_path), "events")
    assert dtype() == before
    rows = events.orderBy("event_id").collect()
    assert [r.ts.microsecond for r in rows] == [123_456, 0]


def test_parquet_directory_sees_a_file_rewritten_inside_it(spark, tmp_path):
    # Rewriting a file inside a dataset directory leaves the directory's
    # own stat unchanged, so a directory read must not reuse a schema.
    import pyarrow as pa
    import pyarrow.parquet as pq

    part = tmp_path / "ds" / "dwh_batch_id=B1"
    part.mkdir(parents=True)
    pq.write_table(pa.table({"k": [1]}), str(part / "part-0.parquet"))
    first = read_source(spark, str(tmp_path / "ds"), "parquet")
    assert first.columns == ["k", "dwh_batch_id"]

    pq.write_table(
        pa.table({"k": [1], "v": ["x"]}), str(part / "part-0.parquet")
    )
    second = read_source(spark, str(tmp_path / "ds"), "parquet")
    assert second.columns == ["k", "v", "dwh_batch_id"]
    assert [tuple(r) for r in second.collect()] == [(1, "x", "B1")]


def test_orc_text_binary_readers_roundtrip(spark, tmp_path):
    # S-family widening: ORC round-trip, line-text scan, whole-file
    # binary ingestion.
    from python_sql_datawarehouse_project_spark.sources import readers

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "s"])
    orc_dir = str(tmp_path / "t.orc")
    df.write.orc(orc_dir)
    back = readers.read_source(spark, orc_dir, "orc")
    assert sorted(map(tuple, back.collect())) == [(1, "a"), (2, "b")]

    txt = tmp_path / "corpus.txt"
    txt.write_text("line one\nline two\n")
    lines = readers.read_source(spark, str(txt), "text")
    assert lines.columns == ["value"]
    assert sorted(r.value for r in lines.collect()) == ["line one", "line two"]

    blob = tmp_path / "payload.bin"
    blob.write_bytes(b"\x00\x01\x02spark")
    bin_df = readers.read_source(spark, str(blob), "binary")
    row = bin_df.select("length", "content").first()
    assert row.length == 8 and bytes(row.content) == b"\x00\x01\x02spark"


# -- S1: the CSV header is read in Python ------------------------------
# Each case's bytes and the mapping the file is meant to match; the
# expected columns, rows and ingest status come from Spark's own header
# inference over the same file.
_EDGE_CSVS = {
    "quoted_comma": (b'id,"name, full"\n1,"a, b"\n', ["id", "name, full"]),
    "duplicate_names": (b"id,Id,x,x\n1,2,3,4\n", ["id", "x"]),
    "empty_name": (b"id,,x\n1,2,3\n", ["id", "_c1", "x"]),
    "utf8_bom": (b"\xef\xbb\xbfid,name\n1,a\n", ["id", "name"]),
    "crlf": (b"id,name\r\n1,a\r\n2,b\r\n", ["id", "name"]),
    "header_only": (b"id,name\n", ["id", "name"]),
    "empty_file": (b"", ["id", "name"]),
    "binary_garbage": (bytes(range(256)) * 4, ["id", "name"]),
    "blank_lines_first": (b"\n  \nid,name\n1,a\n", ["id", "name"]),
    "doubled_quote": (b'id,"na""me"\n1,a\n', ["id", 'na"me']),
}


@pytest.mark.parametrize("case", sorted(_EDGE_CSVS))
def test_csv_header_matches_spark_inference(spark, tmp_path, case):
    data, sources = _EDGE_CSVS[case]
    incoming = tmp_path / "incoming"
    incoming.mkdir()
    path = incoming / "edge.csv"
    path.write_bytes(data)

    want = spark.read.option("header", True).csv(str(path))
    got = read_source(spark, str(path), "csv")
    assert got.columns == want.columns
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    want_status = "LOADED" if validate_mapping(want, sources).ok else "MAPPING_FAILED"
    plan = IngestPlan(
        configs=[SourceConfig("crm", "csv", "edge", "edge")],
        mappings={"edge": [ColumnMapping(c, f"c{i}") for i, c in enumerate(sources)]},
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    [r] = ingest_directory(
        spark, wh, RunLog(str(tmp_path / "wh")), plan, {"crm": str(incoming)}, "B1"
    )
    assert r.status == want_status


def test_csv_header_read_starts_no_spark_job(spark, csv_file, job_ids):
    cols, jobs = job_ids(
        "test_csv_header_read_starts_no_spark_job",
        lambda: read_source(spark, csv_file, "csv").columns,
    )
    assert jobs == []
    assert cols == ["cst_id", "cst_key", "cst_gendr", "amount"]


# -- V3 over the batches one ingest call wrote -------------------------
def test_row_validation_log_rows_per_file(spark, tmp_path, csv_file):
    # Three files load crm_cust_info in one batch, so each later write
    # replaces the partition the earlier file's counts are read from;
    # a second system's file shares the aggregate; a MAPPING_FAILED
    # file gets no V3 row.
    incoming = tmp_path / "incoming"
    incoming.mkdir()
    os.link(csv_file, incoming / "cust_info_A.csv")  # 1 null id, 1 dup key
    (incoming / "cust_info_B.csv").write_text(
        "cst_id,cst_key,cst_gendr,amount\n7,K7,M,1\n8,K8,F,2\n"
    )
    (incoming / "cust_info_C.csv").write_text("cst_id,cst_key,cst_gendr,amount\n")
    (incoming / "cust_info_D.csv").write_text("cst_id,wrong\n1,2\n")
    (incoming / "loc_a101_E.csv").write_text("cid,cntry\nA, \nA,DE\na ,DE\n")

    plan = IngestPlan(
        configs=CONFIGS,
        mappings={
            "crm_cust_info": MAPPINGS,
            "erp_loc_a101": [
                ColumnMapping("cid", "cid"),
                ColumnMapping("cntry", "cntry"),
            ],
        },
        required={"crm_cust_info": ["cst_id", "cst_gndr"], "erp_loc_a101": ["cid"]},
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    log = RunLog(str(tmp_path / "wh"))
    d = str(incoming)
    results = ingest_directory(spark, wh, log, plan, {"crm": d, "erp": d}, "B1")
    assert [(r.file, r.status) for r in results] == [
        ("cust_info_A.csv", "LOADED"),
        ("cust_info_B.csv", "LOADED"),
        ("cust_info_C.csv", "LOADED"),
        ("cust_info_D.csv", "MAPPING_FAILED"),
        ("loc_a101_E.csv", "CONFIG_FAILED"),
        ("cust_info_A.csv", "CONFIG_FAILED"),
        ("cust_info_B.csv", "CONFIG_FAILED"),
        ("cust_info_C.csv", "CONFIG_FAILED"),
        ("cust_info_D.csv", "CONFIG_FAILED"),
        ("loc_a101_E.csv", "LOADED"),
    ]
    rows = [
        {k: v for k, v in r.items() if k != "logged_at"}
        for r in log.read("row_validation_log")
    ]

    def row(fname, status, total, nulls, dups):
        return {
            "batch_id": "B1",
            "physical_file_name": fname,
            "status": status,
            "total_rows": total,
            "null_counts": nulls,
            "duplicate_rows": dups,
        }

    assert rows == [
        row("cust_info_A.csv", "FAILED", 4, {"cst_id": 1, "cst_gndr": 1}, 1),
        row("cust_info_B.csv", "SUCCESS", 2, {"cst_id": 0, "cst_gndr": 0}, 0),
        row("cust_info_C.csv", "SUCCESS", 0, {"cst_id": 0, "cst_gndr": 0}, 0),
        # "A", "A" and "a " share one normalized key
        row("loc_a101_E.csv", "FAILED", 3, {"cid": 0}, 2),
    ]
