"""Streaming twins must reproduce their batch counterparts exactly on
bounded input — the batch queries are themselves oracle-checked
against DuckDB, so equality here transitively certifies the streaming
path (SURVEY.md §2.9 extension)."""

from __future__ import annotations

import pytest

from python_sql_datawarehouse_project_spark.operators import events as batch_events
from python_sql_datawarehouse_project_spark.streaming import windows as sw


def _rows(df):
    return sorted(map(str, df.collect()))


def test_stream_tumbling_equals_batch(spark, sf_dir):
    got = sw.stream_tumbling_hourly(spark, sf_dir)
    want = batch_events.ev1_tumbling_hourly(spark, sf_dir)
    assert _rows(got) == _rows(want)


def test_stream_sessions_equal_batch(spark, sf_dir):
    got = sw.stream_session_windows(spark, sf_dir)
    want = batch_events.ev3_session_windows(spark, sf_dir)
    assert _rows(got) == _rows(want)


def test_stream_sliding_equals_batch(spark, sf_dir):
    got = sw.stream_sliding_windows(spark, sf_dir)
    want = batch_events.ev2_sliding_windows(spark, sf_dir)
    assert _rows(got) == _rows(want)


def test_stream_is_incremental(spark, sf_dir):
    # the source really is a stream (not a disguised batch read)
    from python_sql_datawarehouse_project_spark.catalog import table_path

    src = table_path(sf_dir, "events")
    with sw._scoped_nanos_conf(spark), sw._staged_source_dir(src) as stage:
        st = sw.events_stream(spark, sf_dir, stage)
        assert st.isStreaming


def test_stream_scopes_session_conf(spark, sf_dir):
    # a drained stream query must not leave the nanos reader conf set
    prior = spark.conf.get(sw._NANOS_CONF)
    spark.conf.unset(sw._NANOS_CONF)
    try:
        before = spark.conf.get(sw._NANOS_CONF)  # engine default
        assert before == "false"
        sw.stream_tumbling_hourly(spark, sf_dir)
        assert spark.conf.get(sw._NANOS_CONF) == before
    finally:
        spark.conf.set(sw._NANOS_CONF, prior)


def test_stream_pairs_equal_batch_join(spark, sf_dir):
    # the stream-stream interval join on a drained bounded source
    # must reproduce the batch join exactly
    from python_sql_datawarehouse_project_spark.catalog import load_table
    from python_sql_datawarehouse_project_spark.operators.rangejoin import WINDOW_SEC
    from python_sql_datawarehouse_project_spark.streaming import joins as sj

    got = sj.stream_preorder_pairs(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(ev.event_type == "purchase").select(
        ev.event_id.alias("purchase_id"),
        ev.user_id.alias("p_user"),
        ev.ts.alias("p_ts"),
    )
    e = ev.select(
        ev.user_id.alias("e_user"),
        ev.ts.alias("e_ts"),
        ev.value.alias("e_value"),
    )
    from pyspark.sql import functions as F

    want = p.join(
        e,
        F.expr(
            f"p_user = e_user AND e_ts >= p_ts - INTERVAL {WINDOW_SEC} SECONDS"
            " AND e_ts < p_ts"
        ),
    ).select("purchase_id", "e_ts", "e_value")
    assert _rows(got) == _rows(want)


def test_stream_first_events_equals_batch_min(spark, sf_dir):
    from python_sql_datawarehouse_project_spark.catalog import load_table
    from python_sql_datawarehouse_project_spark.streaming import stateful

    got = stateful.stream_first_events(spark, sf_dir)
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg({"ts": "min"})
        .withColumnRenamed("min(ts)", "first_ts")
    )
    assert _rows(got) == _rows(want)


def test_stream_first_events_state_survives_batches(spark, sf_dir, tmp_path):
    """Split the source into two time-ordered files so AvailableNow
    drains TWO micro-batches (maxFilesPerTrigger=1); per-user state
    must suppress re-emission of event types already seen in batch 1,
    leaving the drained result equal to the batch GROUP BY MIN."""
    import glob
    import os
    import shutil

    from python_sql_datawarehouse_project_spark.catalog import (
        load_table,
        table_path,
    )
    from python_sql_datawarehouse_project_spark.streaming import stateful

    src = table_path(sf_dir, "events")
    with sw._scoped_nanos_conf(spark):
        raw = spark.read.parquet(src)
        # median split point; ts may be raw int64 nanos or a native
        # timestamp depending on the generator's parquet unit, so
        # quantile over a numeric view and compare on the same view
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        if isinstance(raw.schema["ts"].dataType, LongType):
            tsn = raw.ts.cast("double")
        else:
            tsn = F.unix_micros(raw.ts.cast("timestamp")).cast("double")
        raw = raw.withColumn("_tsn", tsn)
        cut = raw.approxQuantile("_tsn", [0.5], 0.0)[0]
        raw_ts = raw["_tsn"]
        stage = tmp_path / "stage"
        stage.mkdir()
        for i, part in enumerate(
            (
                raw.where(raw_ts <= cut).drop("_tsn"),
                raw.where(raw_ts > cut).drop("_tsn"),
            )
        ):
            out = tmp_path / f"half{i}"
            part.coalesce(1).write.parquet(str(out))
            (pf,) = glob.glob(str(out / "part-*.parquet"))
            dst = stage / f"batch{i}.parquet"
            shutil.move(pf, dst)
            os.utime(dst, (1_000_000 + i * 100, 1_000_000 + i * 100))

        got = sw.run_available_now(
            spark,
            stateful.first_events(
                sw.events_stream(spark, sf_dir, str(stage))
            ),
            output_mode="append",
        )
        # two files, one per trigger => the state store carried
        # batch-1 state into batch 2; equality to the batch answer
        # means nothing was re-emitted or lost across the boundary
        want = (
            load_table(spark, sf_dir, "events")
            .groupBy("user_id", "event_type")
            .agg({"ts": "min"})
            .withColumnRenamed("min(ts)", "first_ts")
        )
        assert _rows(got) == _rows(want)


def test_stream_dedup_suppresses_across_batches(spark, sf_dir, tmp_path):
    """Two time-ordered micro-batches: duplicates of a (user, type,
    day) key that span the batch boundary must be suppressed by the
    watermark state store, leaving exactly the batch DISTINCT."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from python_sql_datawarehouse_project_spark.catalog import (
        load_table,
        table_path,
    )
    from python_sql_datawarehouse_project_spark.streaming import dedup as sd

    src = table_path(sf_dir, "events")
    with sw._scoped_nanos_conf(spark):
        raw = spark.read.parquet(src)
        from pyspark.sql.types import LongType

        if isinstance(raw.schema["ts"].dataType, LongType):
            tsn = raw.ts.cast("double")
        else:
            tsn = F.unix_micros(raw.ts.cast("timestamp")).cast("double")
        raw = raw.withColumn("_tsn", tsn)
        cut = raw.approxQuantile("_tsn", [0.5], 0.0)[0]
        raw_ts = raw["_tsn"]
        stage = tmp_path / "stage"
        stage.mkdir()
        for i, part in enumerate(
            (
                raw.where(raw_ts <= cut).drop("_tsn"),
                raw.where(raw_ts > cut).drop("_tsn"),
            )
        ):
            out = tmp_path / f"half{i}"
            part.coalesce(1).write.parquet(str(out))
            (pf,) = glob.glob(str(out / "part-*.parquet"))
            dst = stage / f"batch{i}.parquet"
            shutil.move(pf, dst)
            os.utime(dst, (1_000_000 + i * 100, 1_000_000 + i * 100))

        got = sw.run_available_now(
            spark,
            sd.dedup_events(sw.events_stream(spark, sf_dir, str(stage))),
            output_mode="append",
        )
        want = (
            load_table(spark, sf_dir, "events")
            .select(
                "user_id",
                "event_type",
                F.date_trunc("day", F.col("ts")).alias("day"),
            )
            .distinct()
        )
        assert _rows(got) == _rows(want)


# --- streaming incremental MV maintenance ---------------------------


def _seed_mv_stream(spark, tmp, n_batches=2):
    """Warehouse with per-batch dim snapshots + a staging dir holding
    one fact parquet file per arriving batch (facts tagged with their
    ingest batch id, the streaming arrival contract)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from python_sql_datawarehouse_project_spark.plans.warehouse import (
        BATCH_COL,
        Warehouse,
    )
    from tests.test_mv_incremental import (
        B1,
        B2,
        _seed_gold,
    )

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
    from python_sql_datawarehouse_project_spark.plans import mv_incremental as mi
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


def test_tws_first_events_equals_batch(spark, sf_dir):
    # Spark 4's transformWithState twin of stream_first_events: runs
    # end-to-end and matches the batch GROUP BY oracle wherever the
    # runtime ships protobuf (the state protocol's transport); skips
    # in environments that don't — see streaming/tws.py's boundary
    # note.
    import pytest

    from python_sql_datawarehouse_project_spark.streaming import tws

    if not tws._protobuf_available():
        pytest.skip("protobuf not available: transformWithState "
                    "cannot execute in this environment")
    got = tws.stream_first_events_tws(spark, sf_dir)
    from pyspark.sql import functions as F

    from python_sql_datawarehouse_project_spark.catalog import load_table

    want = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.min("ts").alias("first_ts"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_stream_enrich_segments_equals_batch_join(spark, sf_dir):
    # Stream-static dimension enrichment must reproduce the batch
    # join+aggregate exactly on bounded input, and the dim side must
    # broadcast (the stream never shuffles for the join).
    from python_sql_datawarehouse_project_spark.catalog import load_table
    from python_sql_datawarehouse_project_spark.operators.events import VALUE_DEC
    from python_sql_datawarehouse_project_spark.streaming import enrich
    from pyspark.sql import functions as F

    got = enrich.stream_enrich_segments(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    want = (
        ev.join(F.broadcast(cust), ev["user_id"] == cust["c_custkey"], "left")
        .groupBy(F.col("c_mktsegment").alias("segment"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(VALUE_DEC)).cast("double").alias("total_value"),
        )
    )
    assert _rows(got) == _rows(want)


def test_sessions_custom_pins_builtin_on_closed_region(spark, sf_dir):
    """The custom per-user-state sessionizer must equal the built-in
    session_window gate on the closed region (session_end < the
    cutoff) — same sessions, same counts, same money.  The custom
    operator is the sf10 scale path (PERF.md r7: the built-in's
    per-session state wedges at 9.5M sessions/batch; this one keys
    state per USER and completes in 324 s)."""
    from pyspark.sql import functions as F

    from python_sql_datawarehouse_project_spark.streaming.stateful import (
        SESS_CUTOFF,
        stream_sessions_custom,
    )
    from python_sql_datawarehouse_project_spark.streaming.windows import (
        session_windows,
    )
    from python_sql_datawarehouse_project_spark.streaming import windows as W
    from python_sql_datawarehouse_project_spark.catalog import table_path

    got = stream_sessions_custom(spark, sf_dir)
    src = table_path(sf_dir, "events")
    with W.stream_run_scope(spark, src) as stage:
        builtin = W.run_available_now(
            spark,
            session_windows(W.events_stream(spark, sf_dir, stage)),
            output_mode="complete",
        )
    want = builtin.where(
        F.col("session_end") < F.lit(SESS_CUTOFF).cast("timestamp")
    ).select(
        "user_id", "session_start", "session_end", "n_events", "total_value"
    )
    assert _rows(got) == _rows(want)


def test_sessions_bounded_drain_is_incremental_and_matches(spark, sf_dir):
    """The bounded-arrival gate must (a) actually drain MULTIPLE
    micro-batches — per-batch live state, watermark advance and
    cross-batch session merge are the semantics under test, a
    single-batch drain would vacuously pass — and (b) equal the
    one-shot complete-mode drain on the closed region.  (a) is read
    from LAST_DRAIN_SPLIT: N_SLICES data batches + the AvailableNow
    flush batch."""
    from pyspark.sql import functions as F

    from python_sql_datawarehouse_project_spark.streaming import windows as W
    from python_sql_datawarehouse_project_spark.streaming.bounded import (
        N_SLICES,
        stream_sessions_bounded,
    )
    from python_sql_datawarehouse_project_spark.streaming.stateful import (
        SESS_CUTOFF,
    )
    from python_sql_datawarehouse_project_spark.catalog import table_path

    got = stream_sessions_bounded(spark, sf_dir)
    assert W.LAST_DRAIN_SPLIT["n_batches"] >= N_SLICES + 1, W.LAST_DRAIN_SPLIT
    src = table_path(sf_dir, "events")
    with W.stream_run_scope(spark, src) as stage:
        builtin = W.run_available_now(
            spark,
            W.session_windows(W.events_stream(spark, sf_dir, stage)),
            output_mode="complete",
        )
    want = builtin.where(
        F.col("session_end") < F.lit(SESS_CUTOFF).cast("timestamp")
    ).select(
        "user_id", "session_start", "session_end", "n_events", "total_value"
    )
    assert _rows(got) == _rows(want)


def test_state_partitions_scale_with_source_size(tmp_path, monkeypatch):
    # r11 sizing policy: the r7-measured elbow (4) is the floor at
    # bench scale, the count grows one partition per _STATE_PART_BYTES
    # of source beyond it, and the session core budget caps it — so
    # sf0.1 drains are bit-comparable across rounds while a decade
    # corpus parallelizes its per-group state work.
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")

    def sparse(name: str, size: int) -> str:
        p = tmp_path / name
        with open(p, "wb") as f:
            f.truncate(size)  # sparse: getsize() sees it, no I/O paid
        return str(p)

    assert sw._state_partitions(sparse("small", 2 << 20)) == 4  # ~sf0.1
    big = sparse("big", 112 << 20)  # ~sf10 events
    assert sw._state_partitions(big) == 28
    assert sw._state_partitions(sparse("huge", 300 << 20)) == 32  # cap
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert sw._state_partitions(str(big)) == 8
    assert sw._state_partitions(None) == 4  # no source: the floor


def test_state_partitions_walk_partitioned_source(tmp_path, monkeypatch):
    # a partitioned source keeps its bytes in nested directories; they
    # count toward the size, so it leaves the 4-partition floor
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    part = tmp_path / "events" / "day=1" / "hour=0"
    part.mkdir(parents=True)
    with open(part / "part-0.parquet", "wb") as f:
        f.truncate(112 << 20)
    assert sw._state_partitions(str(tmp_path / "events")) == 28


def test_core_budget_defaults_to_cpu_affinity(monkeypatch):
    import os

    from python_sql_datawarehouse_project_spark.session import core_budget

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert core_budget() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert core_budget() == 3
