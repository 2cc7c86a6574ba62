"""The counter collector on a tiny job with a known shuffle."""

from __future__ import annotations

import pytest

from warehouse_bench.sparkstats import Collector


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_shuffle_job_counters(spark):
    sc = spark.sparkContext
    col = Collector(sc)
    col.harvest()
    sc.setJobGroup("shuffle", "known shuffle")
    df = spark.range(0, 1000, 1, 4).selectExpr("id % 10 AS k").groupBy("k").count()
    assert sorted(r["count"] for r in df.collect()) == [100] * 10
    sc.setLocalProperty("spark.jobGroup.id", None)
    spark.range(10).count()  # ungrouped: must not land in "shuffle"
    col.harvest()
    got = col.total({"shuffle"})
    assert got["jobs"] >= 1
    assert got["tasks"] == 4 + 3  # 4 map tasks, 3 reduce tasks
    assert got["shuffle_write_bytes"] > 0
    assert got["shuffle_read_bytes"] == got["shuffle_write_bytes"]
    assert got["executor_run_ms"] >= 0
    assert col.total({None})["jobs"] >= 1
    col.harvest()  # idempotent: nothing counted twice
    assert col.total({"shuffle"}) == got
