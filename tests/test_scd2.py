"""Incremental SCD2 apply (plans/scd2.py): the literal-oracle
equality contract — any batch split of a monotone CDC feed, applied
incrementally, must be row-identical to the one-shot full rebuild —
plus the interval invariants a consumer relies on."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from python_sql_datawarehouse_project_spark.plans import scd2
from python_sql_datawarehouse_project_spark.plans.warehouse import BATCH_COL, Warehouse

KEY, TS, TIE = "cust_id", "change_ts", "change_id"


def _feed(spark):
    """Deterministic synthetic CDC feed: 40 keys, 1-6 changes each,
    strictly increasing timestamps per key across the whole feed."""
    rows = []
    cid = 0
    for k in range(40):
        n = 1 + (k * 7) % 6
        for i in range(n):
            rows.append(
                (
                    k,
                    f"segment-{(k + i) % 5}",
                    dt.datetime(2024, 1, 1) + dt.timedelta(days=3 * i + k % 3),
                    cid,
                )
            )
            cid += 1
    return spark.createDataFrame(
        rows, f"{KEY} int, segment string, {TS} timestamp, {TIE} long"
    )


def _split_by_day(feed, cuts):
    parts = []
    lo = None
    for hi in [*cuts, None]:
        f = feed
        if lo is not None:
            f = f.where(F.col(TS) >= lo)
        if hi is not None:
            f = f.where(F.col(TS) < hi)
        parts.append(f)
        lo = hi
    return parts


def _canon(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _latest(wh):
    """A streamed dimension: its last snapshot batch."""
    last = wh.list_batches("gold", "dim")[-1]
    return wh.read_batch("gold", "dim", last).drop(BATCH_COL)


@pytest.mark.parametrize(
    "cuts",
    [
        [dt.datetime(2024, 1, 8)],
        [dt.datetime(2024, 1, 5), dt.datetime(2024, 1, 11)],
        [dt.datetime(2024, 1, 3), dt.datetime(2024, 1, 6), dt.datetime(2024, 1, 12)],
    ],
)
def test_incremental_apply_equals_full_rebuild(spark, cuts):
    feed = _feed(spark)
    init, *batches = _split_by_day(feed, cuts)
    inc = scd2.apply_feed(init, batches, KEY, TS, TIE)
    full = scd2.full_rebuild(feed, KEY, TS, TIE)
    assert _canon(inc) == _canon(full)


def test_intervals_are_contiguous_and_single_current(spark):
    feed = _feed(spark)
    init, b1 = _split_by_day(feed, [dt.datetime(2024, 1, 7)])
    dim = scd2.apply_feed(init, [b1], KEY, TS, TIE)
    # exactly one open (current) version per key
    cur = dim.where("is_current").groupBy(KEY).count()
    assert cur.where("count != 1").count() == 0
    assert dim.where("is_current").count() == dim.select(KEY).distinct().count()
    # half-open intervals chain exactly: each non-final effective_to
    # equals the key's next effective_from
    from pyspark.sql import Window

    w = Window.partitionBy(KEY).orderBy("effective_from", TIE)
    chained = dim.withColumn("_next_from", F.lead("effective_from").over(w))
    bad = chained.where(
        (F.col("effective_to").isNotNull())
        & (F.col("effective_to") != F.col("_next_from"))
    )
    assert bad.count() == 0


def test_untouched_keys_pass_through_unchanged(spark):
    feed = _feed(spark)
    init, b1 = _split_by_day(feed, [dt.datetime(2024, 1, 7)])
    dim0 = scd2.versionize(init, KEY, TS, TIE)
    touched = {r[0] for r in b1.select(KEY).distinct().collect()}
    dim1 = scd2.apply_changes(dim0, b1, KEY, TS, TIE)
    # _canon sorts columns alphabetically: cust_id lands at index 2
    # (change_id, change_ts, cust_id, ...)
    before = [r for r in _canon(dim0) if r[2] not in touched]
    after = [r for r in _canon(dim1) if r[2] not in touched]
    assert before == after


def test_close_join_is_broadcast(spark):
    # The dim side must never shuffle to close open versions: the
    # batch-keys aggregate joins in as a broadcast.
    feed = _feed(spark)
    init, b1 = _split_by_day(feed, [dt.datetime(2024, 1, 7)])
    dim = scd2.apply_changes(
        scd2.versionize(init, KEY, TS, TIE), b1, KEY, TS, TIE
    )
    sc = spark.sparkContext
    p = sc._jvm.PythonSQLUtils.explainString(dim._jdf.queryExecution(), "formatted")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


@pytest.mark.slow
def test_streaming_scd2_equals_full_rebuild(spark, tmp_path):
    # CDC files drained through foreachBatch must land on the same
    # dimension as the one-shot rebuild of the concatenated feed.
    import os
    import time

    from python_sql_datawarehouse_project_spark.streaming import maintenance

    feed = _feed(spark)
    parts = _split_by_day(
        feed, [dt.datetime(2024, 1, 5), dt.datetime(2024, 1, 11)]
    )
    stage = tmp_path / "cdc"
    stage.mkdir()
    # one file per CDC batch, mtimes forced into feed order (the
    # ordered-log stand-in the module's docstring requires)
    for i, p in enumerate(parts):
        d = tmp_path / f"b{i}"
        p.coalesce(1).write.parquet(str(d))
        [f] = [x for x in os.listdir(d) if x.endswith(".parquet")]
        dst = stage / f"batch{i}.parquet"
        os.rename(d / f, dst)
        t = time.time() - 300 + i * 10
        os.utime(dst, (t, t))
    wh = Warehouse(spark, str(tmp_path / "wh"))
    fold = maintenance.fold_scd2(wh, "gold", "dim", KEY, TS, TIE)
    maintenance.drain(spark, str(stage), feed.schema, fold, str(tmp_path / "cp"))
    got = _latest(wh)
    full = scd2.full_rebuild(feed, KEY, TS, TIE)
    assert _canon(got) == _canon(full)


def test_streaming_scd2_epoch_replay_is_idempotent(spark, tmp_path):
    # Replaying an epoch (foreachBatch's at-least-once contract) must
    # rewrite the same snapshot, not fork the lineage.
    from python_sql_datawarehouse_project_spark.streaming import maintenance

    feed = _feed(spark)
    init, b1 = _split_by_day(feed, [dt.datetime(2024, 1, 7)])
    wh = Warehouse(spark, str(tmp_path / "wh"))
    fold = maintenance.fold_scd2(wh, "gold", "dim", KEY, TS, TIE)
    maintenance.fold_epoch(fold, init, 0)
    maintenance.fold_epoch(fold, b1, 1)
    once = _canon(_latest(wh))
    maintenance.fold_epoch(fold, b1, 1)  # replay epoch 1
    twice = _canon(_latest(wh))
    assert once == twice
