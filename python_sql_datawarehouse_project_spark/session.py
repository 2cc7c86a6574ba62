"""SparkSession factory.

Defaults are chosen for the dual design point in BASELINE.json:
correctness-tested on local[N] but architected for a 1000-executor
cluster reading ~100 TB.  Everything scale-relevant is a plain Spark
conf so a cluster deployment overrides via spark-submit --conf.

Key choices (SURVEY.md §4):
  * AQE on: runtime join-strategy switching, skew-join splitting and
    post-shuffle partition coalescing replace hand-tuned partition
    counts when data volume varies by 1000x between test and prod.
  * JVM case mapping: upper()/lower() use the JVM's mapping (Spark 3's),
    not ICU's, whose tables cost seconds of CPU to build on a process's
    first call; Postgres UPPER/LOWER follow the database's LC_CTYPE, so
    neither mapping is closer to the reference.
  * No DataFrame call-site capture: PySpark 4 otherwise wraps every
    Column and functions.* call in driver round trips (the active
    session, a conf read, setting and clearing the JVM's call-site
    origin) plus a stack walk, and its first call imports IPython.
    Error text does not change: the captured call site only reaches
    the query context of an ANSI runtime error, and ANSI is off
    (below), so AnalysisException and raised-error messages read the
    same with capture on or off.
  * Arrow enabled: the Excel readers' createDataFrame(pandas) bridge
    (sources/readers.py) ships Arrow batches, not pickled rows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def core_budget() -> int:
    """Cores this process may use: SPARK_GRAFT_CPUS when set, else the
    CPUs the process is allowed to run on (its affinity set, which a
    container or taskset narrows below os.cpu_count())."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def build_session(
    app_name: str = "python-sql-datawarehouse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with scale-aware defaults."""
    cpus = core_budget()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # -- adaptive execution: the scale story ------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # -- shuffle sizing --------------------------------------------
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # 128 MB input splits: a 100 TB table fans out to ~800k tasks,
        # which a 1000-executor cluster drains without straggler blowup.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # -- JVM case mapping: no ICU table build on the first lower() --
        .config("spark.sql.icu.caseMappings.enabled", "false")
        # -- no call-site capture around every Column / F.* call ------
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # -- Arrow for the Excel readers' createDataFrame(pandas) -----
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # -- TIMESTAMP(NANOS) parquet reads as raw int64 nanos ---------
        # Set once: the reader consults it when a frame executes, so it
        # cannot be scoped around a lazy read (catalog.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # -- broadcast: dims in both the reference workload (37-row
        # category table) and TPC-H (region/nation/supplier/part at
        # dim scale) are far below this; 64 MB is safe with 4 GB+
        # executors and removes every fact-side dim shuffle.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ANSI off: reference semantics are permissive (silent NULL on
        # bad casts, e.g. yyyymmdd=0 -> NULL, SURVEY.md §2.8 R4).
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Pin loopback: the sandbox resolver is a black hole, so any
        # JVM hostname lookup that misses /etc/hosts stalls for the
        # full DNS timeout.  Irrelevant on a real cluster (overridden
        # by spark-submit), critical for local determinism.
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
