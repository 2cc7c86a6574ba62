"""Warehouse storage (plans/warehouse.py, plans/runlog.py):
schema-evolution reads, the staged batch write and what a failed or
killed one leaves, per-batch fingerprints, and run-log files that a
killed append left torn.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from python_sql_datawarehouse_project_spark.plans.runlog import RunLog
from python_sql_datawarehouse_project_spark.plans.warehouse import (
    BATCH_COL,
    Warehouse,
)


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_schema_evolution_read_unions_footers(spark, wh):
    old = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    new = spark.createDataFrame(
        [(3, "c", 7.5)], "id int, v string, score double"
    )
    wh.write_batch(old, "bronze", "t", "B1")
    wh.write_batch(new, "bronze", "t", "B2")
    merged = wh.read_table("bronze", "t")
    assert "score" in merged.columns
    got = {
        (r["id"], r["score"])
        for r in merged.select("id", "score").collect()
    }
    assert got == {(1, None), (2, None), (3, 7.5)}
    assert "score" in wh.read_batch("bronze", "t", "B2").columns
    # re-running the older-shaped batch keeps the column B2 still holds
    wh.write_batch(old, "bronze", "t", "B1")
    assert wh.read_table("bronze", "t").columns == [
        "id", "v", "score", BATCH_COL
    ]


def test_reads_start_no_spark_job(spark, wh):
    wh.write_batch(
        spark.createDataFrame([(1, "a")], "id int, v string"),
        "bronze", "t", "B1",
    )
    sc = spark.sparkContext
    group = "test_reads_start_no_spark_job"
    sc.setJobGroup(group, "warehouse reads")
    try:
        table_cols = wh.read_table("bronze", "t").columns
        batch_cols = wh.read_batch("bronze", "t", "B1").columns
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert table_cols == batch_cols == ["id", "v", BATCH_COL]


def test_table_with_only_empty_writes_reads_as_empty_frame(spark, wh):
    empty = spark.createDataFrame([], "id int, v string")
    assert wh.write_batch(empty, "bronze", "t", "B1") == 0
    df = wh.read_table("bronze", "t")
    assert df.columns == ["id", "v", BATCH_COL]
    assert df.count() == 0


def test_failed_rewrite_keeps_previous_rows_and_no_staging(spark, wh):
    wh.write_batch(
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"),
        "bronze", "t", "B1",
    )
    before = _rows(wh.read_batch("bronze", "t", "B1"))
    boom = spark.range(3).select(
        F.when(F.col("id") < 2, F.col("id").cast("int"))
        .otherwise(F.raise_error(F.lit("boom")).cast("int"))
        .alias("id"),
        F.lit("z").alias("v"),
    )
    with pytest.raises(Exception, match="boom"):
        wh.write_batch(boom, "bronze", "t", "B1")
    assert _rows(wh.read_batch("bronze", "t", "B1")) == before
    assert not [
        d for d in os.listdir(wh.path("bronze", "t")) if d.startswith(".staging-")
    ]


def test_rewrite_leaves_only_batch_dirs_and_schema(spark, wh):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    wh.write_batch(df, "bronze", "t", "B1")
    wh.write_batch(df, "bronze", "t", "B2")
    assert wh.write_batch(df.limit(1), "bronze", "t", "B1") == 1
    table = wh.path("bronze", "t")
    assert sorted(os.listdir(table)) == [
        "_schema.json",
        f"{BATCH_COL}=B1",
        f"{BATCH_COL}=B2",
    ]
    assert "_SUCCESS" not in os.listdir(os.path.join(table, f"{BATCH_COL}=B1"))


def test_rewrite_removes_a_killed_writes_leftovers(spark, wh):
    # A killed write skips write_batch's cleanup: it can leave its
    # staging directory and the old partition renamed aside, with the
    # batch's own directory gone.
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    wh.write_batch(df, "bronze", "t", "B1")
    table = wh.path("bronze", "t")
    staging = os.path.join(table, f".staging-B1-{'0' * 32}")
    os.rename(os.path.join(table, f"{BATCH_COL}=B1"), f"{staging}.replaced")
    os.makedirs(staging)
    with open(os.path.join(staging, "part-00000.parquet"), "w") as f:
        f.write("torn")
    assert wh.write_batch(df.limit(1), "bronze", "t", "B1") == 1
    assert sorted(os.listdir(table)) == ["_schema.json", f"{BATCH_COL}=B1"]
    assert len(_rows(wh.read_table("bronze", "t"))) == 1
    # another batch's leftovers are not this write's to remove
    other = os.path.join(table, f".staging-B10-{'0' * 32}")
    os.makedirs(other)
    wh.write_batch(df, "bronze", "t", "B1")
    assert os.path.isdir(other)


# -- per-batch fingerprints (fingerprint_batches) ----------------------


def test_fingerprint_invariant_to_layout_sensitive_to_content(
    spark, wh, tmp_path
):
    df = spark.range(0, 500).select(
        F.col("id").cast("int").alias("uid"),
        (F.col("id") % 7).cast("double").alias("score"),
    )
    wh.write_batch(df.repartition(16), "silver", "t", "B1")
    fp1 = _rows(wh.fingerprint_batches("silver", "t"))
    # same content, different file layout: a rewrite must not move it
    wh.write_batch(df.repartition(2), "silver", "t", "B1")
    assert _rows(wh.fingerprint_batches("silver", "t")) == fp1
    # a replica warehouse with identical content fingerprints equal
    wh2 = Warehouse(spark, str(tmp_path / "wh2"))
    wh2.write_batch(df.repartition(3), "silver", "t", "B1")
    assert _rows(wh2.fingerprint_batches("silver", "t")) == fp1
    # one changed row flips the fingerprint
    changed = df.withColumn(
        "score",
        F.when(F.col("uid") == 250, 99.0).otherwise(F.col("score")),
    )
    wh2.write_batch(changed, "silver", "t", "B1")
    assert _rows(wh2.fingerprint_batches("silver", "t")) != fp1


def test_fingerprint_distinguishes_null_positions(spark, wh, tmp_path):
    # (NULL, "a") vs ("a", NULL) must hash differently — the concat_ws
    # null-skip collision the NUL sentinel exists to prevent.
    a = spark.createDataFrame([(1, None, "a")], "uid int, x string, y string")
    b = spark.createDataFrame([(1, "a", None)], "uid int, x string, y string")
    wh.write_batch(a, "silver", "t", "B1")
    wh2 = Warehouse(spark, str(tmp_path / "wh2"))
    wh2.write_batch(b, "silver", "t", "B1")
    assert _rows(wh.fingerprint_batches("silver", "t")) != _rows(
        wh2.fingerprint_batches("silver", "t")
    )


# -- run-log files (RunLog) ---------------------------------------------


def test_torn_run_log_line_is_cut_not_read(tmp_path):
    log = RunLog(str(tmp_path / "wh"))
    row = {"batch_id": "B1", "status": "SUCCESS"}
    for proc in ("a", "b"):
        log.append("integration_log", proc_name=proc, **row)
    # an append killed mid-write leaves a last line with no newline
    with open(os.path.join(log.root, "integration_log.jsonl"), "a") as f:
        f.write('{"proc_name": "c", "batch_id": "B1", "sta')
    assert log.successes("integration_log", "B1") == {"a", "b"}
    log.append("integration_log", proc_name="d", **row)
    assert [r["proc_name"] for r in log.read("integration_log")] == ["a", "b", "d"]
