"""Warehouse storage-maintenance operations (plans/warehouse.py):
schema-evolution reads, small-file compaction, and keyed hard delete
— the layout-level lifecycle a batch-partitioned 100 TB table needs.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

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


def test_compaction_bounds_files_and_preserves_rows(spark, wh):
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).alias("g")
    )
    wh.write_batch(df.repartition(16), "bronze", "t", "B1")
    part_dir = os.path.join(wh.path("bronze", "t"), f"{BATCH_COL}=B1")
    before_files = [
        f for f in os.listdir(part_dir) if f.endswith(".parquet")
    ]
    assert len(before_files) > 2
    rows_before = _rows(wh.read_batch("bronze", "t", "B1"))
    n_files = wh.compact_batch("bronze", "t", "B1", target_files=2)
    assert n_files <= 2
    assert _rows(wh.read_batch("bronze", "t", "B1")) == rows_before


def test_delete_keys_rewrites_only_affected_partitions(spark, wh):
    b1 = spark.createDataFrame([(1, "x"), (2, "y")], "uid int, v string")
    b2 = spark.createDataFrame([(3, "z"), (4, "w")], "uid int, v string")
    wh.write_batch(b1, "bronze", "t", "B1")
    wh.write_batch(b2, "bronze", "t", "B2")
    b2_dir = os.path.join(wh.path("bronze", "t"), f"{BATCH_COL}=B2")
    b2_mtimes = {
        f: os.path.getmtime(os.path.join(b2_dir, f))
        for f in os.listdir(b2_dir)
        if f.endswith(".parquet")
    }
    keys = spark.createDataFrame([(1,)], "uid int")
    deleted = wh.delete_keys("bronze", "t", "uid", keys)
    assert deleted == 1
    assert _rows(wh.read_table("bronze", "t").select("uid")) == [
        (2,),
        (3,),
        (4,),
    ]
    # the untouched partition kept its files byte-identical (same
    # names, same mtimes — never rewritten)
    after = {
        f: os.path.getmtime(os.path.join(b2_dir, f))
        for f in os.listdir(b2_dir)
        if f.endswith(".parquet")
    }
    assert after == b2_mtimes


def test_delete_keys_drops_fully_deleted_partition(spark, wh):
    b1 = spark.createDataFrame([(1, "x")], "uid int, v string")
    b2 = spark.createDataFrame([(2, "y")], "uid int, v string")
    wh.write_batch(b1, "bronze", "t", "B1")
    wh.write_batch(b2, "bronze", "t", "B2")
    keys = spark.createDataFrame([(1,)], "uid int")
    deleted = wh.delete_keys("bronze", "t", "uid", keys)
    assert deleted == 1
    # the emptied partition directory is GONE, not a stale leftover
    assert not os.path.exists(
        os.path.join(wh.path("bronze", "t"), f"{BATCH_COL}=B1")
    )
    assert _rows(wh.read_table("bronze", "t").select("uid")) == [(2,)]


def test_delete_keys_is_idempotent(spark, wh):
    b1 = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], "uid int, v string"
    )
    wh.write_batch(b1, "bronze", "t", "B1")
    keys = spark.createDataFrame([(2,)], "uid int")
    assert wh.delete_keys("bronze", "t", "uid", keys) == 1
    assert wh.delete_keys("bronze", "t", "uid", keys) == 0
    assert _rows(wh.read_table("bronze", "t").select("uid")) == [(1,), (3,)]


# -- MERGE INTO semantics (merge_upsert) ------------------------------


def _merge_fixture(spark, wh):
    b1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "uid int, v string, score double"
    )
    b2 = spark.createDataFrame(
        [(3, "c", 30.0), (4, "d", 40.0)], "uid int, v string, score double"
    )
    wh.write_batch(b1, "silver", "t", "B1")
    wh.write_batch(b2, "silver", "t", "B2")


def test_merge_upsert_updates_inserts_deletes(spark, wh):
    _merge_fixture(spark, wh)
    src = spark.createDataFrame(
        [
            (2, "b2", 21.0, False),  # update (lives in B1)
            (5, "e", 50.0, False),  # insert
            (3, None, None, True),  # delete (lives in B2)
        ],
        "uid int, v string, score double, is_deleted boolean",
    )
    res = wh.merge_upsert(
        "silver", "t", src, "uid", "B3", delete_col="is_deleted"
    )
    assert res == {"updated": 1, "inserted": 1, "deleted": 1}
    got = _rows(wh.read_table("silver", "t").drop(BATCH_COL))
    assert got == sorted(
        [
            (10.0, 1, "a"),
            (21.0, 2, "b2"),
            (40.0, 4, "d"),
            (50.0, 5, "e"),
        ]
    )
    # the update stayed in its ORIGINAL batch; the insert landed in B3
    assert _rows(wh.read_batch("silver", "t", "B1").select("uid")) == [
        (1,),
        (2,),
    ]
    assert _rows(wh.read_batch("silver", "t", "B3").select("uid")) == [(5,)]


def test_merge_upsert_untouched_partition_keeps_files(spark, wh):
    _merge_fixture(spark, wh)
    part_dir = os.path.join(wh.path("silver", "t"), f"{BATCH_COL}=B2")
    before = sorted(os.listdir(part_dir))
    src = spark.createDataFrame(
        [(1, "a2", 11.0)], "uid int, v string, score double"
    )
    res = wh.merge_upsert("silver", "t", src, "uid", "B3")
    assert res == {"updated": 1, "inserted": 0, "deleted": 0}
    assert sorted(os.listdir(part_dir)) == before  # B2 never rewritten


def test_merge_upsert_replay_converges(spark, wh):
    _merge_fixture(spark, wh)
    src = spark.createDataFrame(
        [(2, "b2", 21.0, False), (5, "e", 50.0, False), (3, None, None, True)],
        "uid int, v string, score double, is_deleted boolean",
    )
    wh.merge_upsert("silver", "t", src, "uid", "B3", delete_col="is_deleted")
    state1 = _rows(wh.read_table("silver", "t"))
    res2 = wh.merge_upsert(
        "silver", "t", src, "uid", "B3", delete_col="is_deleted"
    )
    # replay: the former insert is now a (no-op) update, delete is gone
    assert res2 == {"updated": 2, "inserted": 0, "deleted": 0}
    assert _rows(wh.read_table("silver", "t")) == state1


def test_merge_upsert_delete_empties_whole_partition(spark, wh):
    _merge_fixture(spark, wh)
    src = spark.createDataFrame(
        [(3, True), (4, True)], "uid int, is_deleted boolean"
    ).selectExpr(
        "uid", "CAST(NULL AS STRING) v", "CAST(NULL AS DOUBLE) score",
        "is_deleted",
    )
    res = wh.merge_upsert(
        "silver", "t", src, "uid", "B9", delete_col="is_deleted"
    )
    assert res == {"updated": 0, "inserted": 0, "deleted": 2}
    assert not os.path.isdir(
        os.path.join(wh.path("silver", "t"), f"{BATCH_COL}=B2")
    )
    assert _rows(wh.read_table("silver", "t").select("uid")) == [(1,), (2,)]


def test_merge_upsert_keeps_evolved_column(spark, wh):
    wh.write_batch(
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"),
        "bronze", "t", "B1",
    )
    wh.write_batch(
        spark.createDataFrame([(3, "c", 7.5)], "id int, v string, score double"),
        "bronze", "t", "B2",
    )
    src = spark.createDataFrame(
        [(3, "C", 9.0)], "id int, v string, score double"
    )
    res = wh.merge_upsert("bronze", "t", src, "id", "B3")
    assert res == {"updated": 1, "inserted": 0, "deleted": 0}
    got = _rows(wh.read_table("bronze", "t").select("id", "v", "score"))
    assert got == [(1, None, "a"), (2, None, "b"), (3, 9.0, "C")]


# -- time travel (read_as_of / list_batches) --------------------------


def test_read_as_of_sees_only_loads_up_to_batch(spark, wh):
    _merge_fixture(spark, wh)  # B1: uids 1,2  B2: uids 3,4
    wh.write_batch(
        spark.createDataFrame(
            [(5, "e", 50.0)], "uid int, v string, score double"
        ),
        "silver",
        "t",
        "B3",
    )
    assert wh.list_batches("silver", "t") == ["B1", "B2", "B3"]
    assert _rows(wh.read_as_of("silver", "t", "B2").select("uid")) == [
        (1,),
        (2,),
        (3,),
        (4,),
    ]
    assert _rows(wh.read_as_of("silver", "t", "B1").select("uid")) == [
        (1,),
        (2,),
    ]


def test_read_as_of_prunes_newer_partitions_at_plan_time(spark, wh):
    _merge_fixture(spark, wh)
    df = wh.read_as_of("silver", "t", "B1")
    p = df._jdf.queryExecution().executedPlan().toString()
    # partition filter, not a data filter: B2's files never enter the scan
    assert "B2" not in p
    # inputFiles() reports the pre-pruning listing; the files ACTUALLY
    # read come from input_file_name() at execution time.
    read = {
        r[0] for r in df.select(F.input_file_name()).distinct().collect()
    }
    assert read and all("B2" not in f for f in read), read


def test_read_as_of_reflects_rerun_batch_content(spark, wh):
    _merge_fixture(spark, wh)
    # re-run B1 with corrected content: as-of B1 sees the REPLACEMENT
    wh.write_batch(
        spark.createDataFrame(
            [(1, "a-fixed", 11.0)], "uid int, v string, score double"
        ),
        "silver",
        "t",
        "B1",
    )
    assert _rows(wh.read_as_of("silver", "t", "B1")) == [
        ("B1", 11.0, 1, "a-fixed")
    ]


# -- atomic multi-table publish (commit_batch / read_committed) -------


def test_uncommitted_batch_invisible_everywhere(spark, wh):
    rows = spark.createDataFrame([(1, "a")], "uid int, v string")
    wh.write_batch(rows, "silver", "t1", "B1")
    wh.write_batch(rows, "gold", "t2", "B1")
    wh.commit_batch("B1", [("silver", "t1"), ("gold", "t2")])
    # B2: silver landed, "crash" before gold + commit
    wh.write_batch(rows, "silver", "t1", "B2")
    assert wh.committed_batches() == ["B1"]
    assert _rows(
        wh.read_committed("silver", "t1").select(BATCH_COL)
    ) == [("B1",)]
    # the raw read still sees the half-published load; committed
    # reads are the consistency boundary
    assert _rows(wh.read_table("silver", "t1").select(BATCH_COL)) == [
        ("B1",),
        ("B2",),
    ]


def test_commit_completes_publish_and_prunes_at_plan_time(spark, wh):
    rows = spark.createDataFrame([(1, "a")], "uid int, v string")
    wh.write_batch(rows, "silver", "t1", "B1")
    wh.write_batch(rows, "silver", "t1", "B2")
    wh.commit_batch("B1", [("silver", "t1")])
    df = wh.read_committed("silver", "t1")
    read = {
        r[0] for r in df.select(F.input_file_name()).distinct().collect()
    }
    assert read and all("B2" not in f for f in read), read
    wh.commit_batch("B2", [("silver", "t1")])
    assert _rows(wh.read_committed("silver", "t1").select(BATCH_COL)) == [
        ("B1",),
        ("B2",),
    ]


def test_commit_replay_is_idempotent(spark, wh):
    rows = spark.createDataFrame([(1, "a")], "uid int, v string")
    wh.write_batch(rows, "silver", "t1", "B1")
    wh.commit_batch("B1", [("silver", "t1")])
    wh.commit_batch("B1", [("silver", "t1")])  # replay
    assert wh.committed_batches() == ["B1"]


# -- streaming MERGE maintenance (CDC feed -> foreachBatch -> upsert) --


def _cdc_schema():
    return "uid int, v string, score double, is_deleted boolean"


@pytest.mark.slow
def test_streaming_merge_equals_sequential_batch_merges(spark, wh, tmp_path):
    import os
    import time

    from python_sql_datawarehouse_project_spark.streaming import maintenance

    _merge_fixture(spark, wh)  # B1: 1,2  B2: 3,4
    batches = [
        [(2, "b2", 21.0, False), (5, "e", 50.0, False)],
        [(3, None, None, True), (5, "e2", 51.0, False), (6, "f", 60.0, False)],
    ]
    stage = tmp_path / "cdc"
    stage.mkdir()
    for i, rows in enumerate(batches):
        d = tmp_path / f"b{i}"
        spark.createDataFrame(rows, _cdc_schema()).coalesce(1).write.parquet(
            str(d)
        )
        [f] = [x for x in os.listdir(d) if x.endswith(".parquet")]
        dst = stage / f"batch{i}.parquet"
        os.rename(d / f, dst)
        t = time.time() - 300 + i * 10
        os.utime(dst, (t, t))

    fold = maintenance.fold_merge(wh, "silver", "t", "uid", delete_col="is_deleted")
    maintenance.drain(spark, str(stage), _cdc_schema(), fold, str(tmp_path / "cp"))
    got = wh.read_table("silver", "t")

    # parallel warehouse taken through the same merges via the batch API
    wh2 = Warehouse(spark, str(tmp_path / "wh2"))
    _merge_fixture(spark, wh2)
    for i, rows in enumerate(batches):
        wh2.merge_upsert(
            "silver",
            "t",
            spark.createDataFrame(rows, _cdc_schema()),
            "uid",
            f"E{i:06d}",
            delete_col="is_deleted",
        )
    assert _rows(got.drop(BATCH_COL)) == _rows(
        wh2.read_table("silver", "t").drop(BATCH_COL)
    )
    # the drained state: 1,2(updated),4,5(updated twice),6; 3 deleted
    assert _rows(got.select("uid")) == [(1,), (2,), (4,), (5,), (6,)]


def test_streaming_merge_last_epoch_replay_converges(spark, wh):
    from python_sql_datawarehouse_project_spark.streaming import maintenance

    _merge_fixture(spark, wh)
    fold = maintenance.fold_merge(wh, "silver", "t", "uid", delete_col="is_deleted")
    b0 = spark.createDataFrame(
        [(2, "b2", 21.0, False), (5, "e", 50.0, False), (3, None, None, True)],
        _cdc_schema(),
    )
    maintenance.fold_epoch(fold, b0, 0)
    once = _rows(wh.read_table("silver", "t"))
    maintenance.fold_epoch(fold, b0, 0)  # foreachBatch at-least-once replay
    assert _rows(wh.read_table("silver", "t")) == once


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
    # same content, different file layout: compaction must not move it
    wh.compact_batch("silver", "t", "B1", target_files=2)
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


# -- expectation-gated writes (quarantine) ----------------------------
def _exp_frame(spark):
    return spark.createDataFrame(
        [
            (1, 10.0, "x"),
            (2, -5.0, "y"),   # fails positive_amount
            (3, None, "z"),   # NULL fails positive_amount (strict CHECK)
            (4, 7.0, None),   # fails tag_present
            (5, -1.0, None),  # fails both
        ],
        "id int, amount double, tag string",
    )


_EXPECTATIONS = {
    "positive_amount": "amount > 0",
    "tag_present": "tag IS NOT NULL",
}


def test_expectations_exact_membership_and_flags(spark, wh):
    wh.write_batch_with_expectations(
        _exp_frame(spark), "bronze", "t", "B1", _EXPECTATIONS
    )
    good = wh.read_batch("bronze", "t", "B1")
    quar = wh.read_batch("bronze", "t__quarantine", "B1")
    assert {r["id"] for r in good.collect()} == {1}
    assert "_failed_expectations" not in good.columns
    flags = {
        r["id"]: sorted(r["_failed_expectations"]) for r in quar.collect()
    }
    assert flags == {
        2: ["positive_amount"],
        3: ["positive_amount"],
        4: ["tag_present"],
        5: ["positive_amount", "tag_present"],
    }


def test_expectations_replay_is_idempotent(spark, wh):
    for _ in range(2):
        stats = wh.write_batch_with_expectations(
            _exp_frame(spark), "bronze", "t", "B1", _EXPECTATIONS
        )
    assert stats == {
        "passed": 1,
        "quarantined": 4,
        "by_rule": {"positive_amount": 3, "tag_present": 2},
    }
    assert wh.read_batch("bronze", "t", "B1").count() == 1
    assert wh.read_batch("bronze", "t__quarantine", "B1").count() == 4


def test_expectations_all_pass_writes_no_quarantine_rows(spark, wh):
    clean = spark.createDataFrame(
        [(1, 1.0, "a")], "id int, amount double, tag string"
    )
    stats = wh.write_batch_with_expectations(
        clean, "bronze", "t", "B1", _EXPECTATIONS
    )
    assert stats == {"passed": 1, "quarantined": 0, "by_rule": {}}


def test_expectations_rerun_with_changed_split_leaves_no_stale_rows(spark, wh):
    """A batch re-run whose pass/fail split CHANGED must not leave the
    previous run's partition behind: an empty result writes no
    partition, so the empty side's stale partition has to be dropped
    explicitly (round-6 ADVICE fix).  Sweep all four
    transitions: mixed -> all-pass, all-pass -> all-fail, and back."""
    mixed = _exp_frame(spark)
    all_pass = spark.createDataFrame(
        [(1, 1.0, "a"), (2, 2.0, "b")], "id int, amount double, tag string"
    )
    all_fail = spark.createDataFrame(
        [(1, -1.0, "a"), (2, -2.0, "b")], "id int, amount double, tag string"
    )

    def state():
        def n(tbl):
            # list_batches, not exists: dropping the only partition
            # leaves an empty table dir that parquet cannot infer a
            # schema from (schema-on-read has nothing to read).
            if "B1" not in wh.list_batches("bronze", tbl):
                return 0
            return wh.read_batch("bronze", tbl, "B1").count()

        return n("t"), n("t__quarantine")

    wh.write_batch_with_expectations(mixed, "bronze", "t", "B1", _EXPECTATIONS)
    assert state() == (1, 4)
    # re-run now passes everything: the 4 quarantined rows must vanish
    stats = wh.write_batch_with_expectations(
        all_pass, "bronze", "t", "B1", _EXPECTATIONS
    )
    assert stats == {"passed": 2, "quarantined": 0, "by_rule": {}}
    assert state() == (2, 0)
    # re-run now fails everything: the 2 good rows must vanish
    wh.write_batch_with_expectations(all_fail, "bronze", "t", "B1", _EXPECTATIONS)
    assert state() == (0, 2)
    # and back to mixed: both sides replaced, no accumulation
    wh.write_batch_with_expectations(mixed, "bronze", "t", "B1", _EXPECTATIONS)
    assert state() == (1, 4)
