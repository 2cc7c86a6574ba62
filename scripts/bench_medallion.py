"""End-to-end medallion ingest bench at parquet-table scale
(VERDICT r7 #5: the pipeline had reference-sample correctness evidence
but no decade wall-clock row in PERF.md).

Synthesizes CRM/ERP-shaped BRONZE tables from the TPC-H-ish sf tables
— entirely in Spark expressions, no driver loops — with ~1% of every
dirt class the silver procs exist to repair (dup cst_id versions,
null keys, padded strings, unknown codes, future dates, 0/7-digit
yyyymmdd ints, null/mismatched sales), then times each stage of
pipeline.run_batch:

    bronze seed -> 6 silver transforms -> 3 gold integrations
        -> 9 MV refreshes

Row drivers: crm_sales_details ~ |lineitem| (600k at sf0.1, 6M at
sf1), crm_cust_info ~ |customer|, crm_prd_info ~ |part|.  Prints one
JSON line per stage plus a total; paste into PERF.md.

Round 9 adds `--mode incremental` (VERDICT r8 #1): after the corpus
batch lands, a SECOND, fixed-absolute-size delta batch (~60k sales
rows at every SF — the "daily ingest" whose cost must not depend on
corpus size) flows bronze -> silver -> gold, and the MV stage is then
timed BOTH ways on identical inputs:

    mv_full_6        six maintainable MVs, reference FULL refresh over
                     all gold history (cost grows with the corpus)
    mv_incremental_6 the same six MVs folding ONLY the delta batch
                     into their partial-aggregate state
    mv_history_3     the three order-dependent MVs (no state form), which
                     recompute over history in either mode

The decade table in PERF.md reads mv_full_6 vs mv_incremental_6.

Usage:
    python scripts/bench_medallion.py [--sf-dir /root/testdata/sf0.1]
        [--root /root/repo/.scratch/bench_medallion]
        [--mode full|incremental]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BATCH = "BATCH000001"


def _load(spark, sf_dir: str, name: str):
    from python_sql_datawarehouse_project_spark.catalog import load_table

    return load_table(spark, sf_dir, name)


def seed_bronze(
    spark, wh, sf_dir: str, batch: str = BATCH, mods: dict | None = None
) -> dict[str, int]:
    """CRM/ERP bronze from TPC-H shapes, dirt injected by key modulus
    (deterministic — reruns produce identical bronze).

    `mods` (incremental mode's delta batch) subsamples the base tables
    by key modulus BEFORE the dirt expressions, so the delta batch has
    a fixed ABSOLUTE size at every SF — the invariant the
    cost-proportional-to-batch claim is measured against."""
    from pyspark.sql import functions as F

    counts = {}
    c = _load(spark, sf_dir, "customer")
    if mods:
        c = c.filter(F.col("c_custkey") % mods["cust"] == 0)
    key8 = F.lpad(F.col("c_custkey").cast("string"), 8, "0")
    cust = c.select(
        F.when(F.col("c_custkey") % 199 == 0, F.lit(None))
        .otherwise(F.col("c_custkey").cast("double"))
        .alias("cst_id"),
        F.concat(F.lit(" AW"), key8, F.lit(" ")).alias("cst_key"),
        F.concat(F.lit(" "), F.split(F.col("c_name"), "#").getItem(0)).alias(
            "cst_firstname"
        ),
        F.col("c_mktsegment").alias("cst_lastname"),
        F.element_at(
            F.array(F.lit("M"), F.lit("S"), F.lit("X")),
            (F.col("c_custkey") % 3 + 1).cast("int"),
        ).alias("cst_marital_status"),
        F.element_at(
            F.array(F.lit("M"), F.lit("F"), F.lit("m"), F.lit(""), F.lit(None)),
            (F.col("c_custkey") % 5 + 1).cast("int"),
        ).alias("cst_gndr"),
        F.when(
            F.col("c_custkey") % 97 == 0, F.lit("2999-06-01").cast("date")
        )
        .otherwise(
            F.date_add(
                F.lit("2020-01-01").cast("date"),
                (F.col("c_custkey") % 1500).cast("int"),
            )
        )
        .alias("cst_create_date"),
    )
    # dup versions for 2% of ids: a later create_date row the W1
    # keep-latest dedup must prefer
    dups = cust.where(
        (F.col("cst_id").isNotNull()) & (F.col("cst_id") % 50 == 0)
    ).withColumn("cst_create_date", F.date_add(F.col("cst_create_date"), 30))
    counts["crm_cust_info"] = wh.write_batch(
        cust.unionByName(dups), "bronze", "crm_cust_info", batch
    )

    p = _load(spark, sf_dir, "part")
    if mods:
        p = p.filter(F.col("p_partkey") % mods["part"] == 0)
    cat5 = F.element_at(
        F.array(F.lit("CO-RF"), F.lit("AC-BR"), F.lit("CL-SO"), F.lit("BI-MT")),
        (F.col("p_partkey") % 4 + 1).cast("int"),
    )
    pkey = F.concat(F.lit("P"), F.lpad(F.col("p_partkey").cast("string"), 7, "0"))
    prd = p.select(
        F.col("p_partkey").cast("int").alias("prd_id"),
        F.concat(cat5, F.lit("-"), pkey).alias("prd_key"),
        F.concat(F.lit(" "), F.col("p_name")).alias("prd_nm"),
        F.when(F.col("p_partkey") % 113 == 0, F.lit(None))
        .otherwise(F.col("p_retailprice").cast("double"))
        .alias("prd_cost"),
        F.element_at(
            F.array(F.lit("R"), F.lit("M"), F.lit("S"), F.lit("T"), F.lit("X")),
            (F.col("p_partkey") % 5 + 1).cast("int"),
        ).alias("prd_line"),
        F.date_add(
            F.lit("2019-01-01").cast("date"),
            (F.col("p_partkey") % 700).cast("int"),
        ).alias("prd_start_dt"),
    )
    # second versions for 10% of keys: LEAD end-dating work
    vers = prd.where(F.col("prd_id") % 10 == 0).withColumn(
        "prd_start_dt", F.date_add(F.col("prd_start_dt"), 365)
    )
    counts["crm_prd_info"] = wh.write_batch(
        prd.unionByName(vers), "bronze", "crm_prd_info", batch
    )

    li = _load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_linenumber"
    )
    o = _load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    if mods:
        li = li.filter(F.col("l_orderkey") % mods["ord"] == 0)
        o = o.filter(F.col("o_orderkey") % mods["ord"] == 0)
    def ymd(col):
        return (
            F.year(col) * 10000 + F.month(col) * 100 + F.dayofmonth(col)
        ).cast("long")

    yyyymmdd = ymd(F.col("o_orderdate"))
    rowmod = F.col("l_orderkey") * 7 + F.col("l_linenumber")
    # ~0.02% delayed rows (ship after due) seed mv_delayed_orders_chain.
    # Sparse on purpose: the chain MV is multiplicative per level —
    # each frontier row joins every LATER fact row of its customer
    # (no dedup; reference materialized_view.sql:127-149 semantics),
    # so chain mass ~ Sigma_cust seeds_c * laters_c^2, and the square
    # makes heavy customers dominate (measured at sf0.1: 1.2k seeds
    # at 0.2% density -> 12.0M chain rows, ~100x per level).  0.02%
    # keeps the chain ~1/10 of the fact table at every SF.  Real date
    # arithmetic so the yyyymmdd ints stay valid calendar days.
    ship = F.when(
        rowmod % 4999 == 0, ymd(F.date_add(F.col("o_orderdate"), 12))
    ).otherwise(ymd(F.date_add(F.col("o_orderdate"), 3)))
    due = ymd(F.date_add(F.col("o_orderdate"), 7))
    sales = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.concat(F.lit("SO"), F.col("o_orderkey")).alias("sls_ord_num"),
            F.concat(
                F.lit("P"), F.lpad(F.col("l_partkey").cast("string"), 7, "0")
            ).alias("sls_prd_key"),
            F.col("o_custkey").cast("int").alias("sls_cust_id"),
            F.when(rowmod % 211 == 0, F.lit(0))
            .when(rowmod % 223 == 0, F.lit(2024011))
            .otherwise(yyyymmdd)
            .alias("sls_order_dt"),
            ship.alias("sls_ship_dt"),
            due.alias("sls_due_dt"),
            F.when(rowmod % 97 == 0, F.lit(None))
            .when(rowmod % 89 == 0, F.lit(-1.0))
            .otherwise(F.round(F.col("l_extendedprice"), 2).cast("double"))
            .alias("sls_sales"),
            F.col("l_quantity").cast("int").alias("sls_quantity"),
            F.when(rowmod % 101 == 0, F.lit(None))
            .otherwise(
                F.round(
                    F.col("l_extendedprice") / F.col("l_quantity"), 2
                ).cast("double")
            )
            .alias("sls_price"),
        )
    )
    counts["crm_sales_details"] = wh.write_batch(
        sales, "bronze", "crm_sales_details", batch
    )

    az12 = c.select(
        F.concat(
            F.when(F.col("c_custkey") % 7 == 0, F.lit("NAS")).otherwise(
                F.lit("")
            ),
            F.lit("AW"),
            key8,
        ).alias("cid"),
        F.when(
            F.col("c_custkey") % 173 == 0, F.lit("2999-01-01").cast("date")
        )
        .otherwise(
            F.date_add(
                F.lit("1950-01-01").cast("date"),
                (F.col("c_custkey") % 18000).cast("int"),
            )
        )
        .alias("bdate"),
        F.element_at(
            F.array(
                F.lit("M"),
                F.lit("F"),
                F.lit("MALE"),
                F.lit("FEMALE"),
                F.lit(""),
                F.lit(None),
            ),
            (F.col("c_custkey") % 6 + 1).cast("int"),
        ).alias("gen"),
    )
    counts["erp_cust_az12"] = wh.write_batch(az12, "bronze", "erp_cust_az12", batch)

    loc = c.select(
        F.concat(F.lit("AW-"), key8).alias("cid"),
        F.element_at(
            F.array(
                F.lit("US"),
                F.lit("USA"),
                F.lit("DE"),
                F.lit("Germany"),
                F.lit("Australia"),
                F.lit(""),
                F.lit(None),
                F.lit("CA"),
            ),
            (F.col("c_custkey") % 8 + 1).cast("int"),
        ).alias("cntry"),
    )
    counts["erp_loc_a101"] = wh.write_batch(loc, "bronze", "erp_loc_a101", batch)

    cat = spark.createDataFrame(
        [
            ("CO_RF", "Components", "Road Frames", "Yes"),
            ("AC_BR", "Accessories", "Brakes", "No"),
            ("CL_SO", "Clothing", "Socks", "No"),
            ("BI_MT", "Bikes", "Mountain Bikes", "Yes"),
        ],
        "id string, cat string, subcat string, maintenance string",
    )
    counts["erp_px_cat_g1v2"] = wh.write_batch(
        cat, "bronze", "erp_px_cat_g1v2", batch
    )
    return counts


DELTA = "BATCH000002"
# fixed absolute delta-batch targets, every SF (the "daily ingest")
DELTA_SALES, DELTA_CUST, DELTA_PART = 60_000, 1_500, 2_000


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--root", default="/root/repo/.scratch/bench_medallion")
    ap.add_argument("--keep", action="store_true", help="keep the warehouse dir")
    ap.add_argument("--mode", choices=("full", "incremental"), default="full")
    args = ap.parse_args()

    from python_sql_datawarehouse_project_spark.plans import mv_incremental as mi
    from python_sql_datawarehouse_project_spark.plans.mv import (
        MVS,
        gold_frames,
        refresh_mv,
    )
    from python_sql_datawarehouse_project_spark.plans.pipeline import (
        run_gold,
        run_mvs,
        run_silver,
    )
    from python_sql_datawarehouse_project_spark.plans.runlog import RunLog
    from python_sql_datawarehouse_project_spark.plans.warehouse import Warehouse
    from python_sql_datawarehouse_project_spark.session import build_session

    spark = build_session(app_name="bench-medallion", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    shutil.rmtree(args.root, ignore_errors=True)
    wh = Warehouse(spark, args.root)
    log = RunLog(args.root)

    stages = {}
    t0 = time.perf_counter()
    counts = seed_bronze(spark, wh, args.sf_dir)
    stages["bronze_seed"] = round(time.perf_counter() - t0, 1)

    t = time.perf_counter()
    silver = run_silver(wh, log, BATCH)
    stages["silver"] = round(time.perf_counter() - t, 1)

    t = time.perf_counter()
    gold = run_gold(wh, log, BATCH)
    stages["gold"] = round(time.perf_counter() - t, 1)

    t = time.perf_counter()
    mvs = run_mvs(
        wh,
        log,
        BATCH,
        mode="incremental" if args.mode == "incremental" else "full",
    )
    stages["mv_state_init" if args.mode == "incremental" else "mv"] = round(
        time.perf_counter() - t, 1
    )

    groups = [silver, gold, mvs]
    extra = {}
    if args.mode == "incremental":
        # -- delta batch: fixed absolute size at every SF --------------
        n_li = _load(spark, args.sf_dir, "lineitem").count()
        n_c = _load(spark, args.sf_dir, "customer").count()
        n_p = _load(spark, args.sf_dir, "part").count()
        mods = {
            "ord": max(1, round(n_li / DELTA_SALES)),
            "cust": max(1, round(n_c / DELTA_CUST)),
            "part": max(1, round(n_p / DELTA_PART)),
        }
        t = time.perf_counter()
        delta_counts = seed_bronze(spark, wh, args.sf_dir, DELTA, mods)
        stages["delta_bronze"] = round(time.perf_counter() - t, 1)
        t = time.perf_counter()
        d_silver = run_silver(wh, log, DELTA)
        stages["delta_silver"] = round(time.perf_counter() - t, 1)
        t = time.perf_counter()
        d_gold = run_gold(wh, log, DELTA)
        stages["delta_gold"] = round(time.perf_counter() - t, 1)
        groups += [d_silver, d_gold]

        # -- the measured comparison: same MVs, same inputs ------------
        rows_full, rows_inc = {}, {}
        t = time.perf_counter()
        history = gold_frames(wh)
        for name in mi.INCREMENTAL:
            rows_full[name] = refresh_mv(wh, name, DELTA, history)
        stages["mv_full_6"] = round(time.perf_counter() - t, 1)
        t = time.perf_counter()
        for name in (n for n in MVS if n not in mi.INCREMENTAL):
            refresh_mv(wh, name, DELTA, history)
        stages["mv_history_3"] = round(time.perf_counter() - t, 1)
        t = time.perf_counter()
        per_mv = {}
        for name in mi.INCREMENTAL:
            t_mv = time.perf_counter()
            _, rows_inc[name] = mi.refresh_mv_incremental(wh, name, DELTA)
            per_mv[name] = round(time.perf_counter() - t_mv, 1)
        stages["mv_incremental_6"] = round(time.perf_counter() - t, 1)
        mismatch = {
            n: (rows_full[n], rows_inc[n])
            for n in rows_full
            if rows_full[n] != rows_inc[n]
        }
        extra = {
            "delta_bronze_rows": delta_counts,
            "delta_mods": mods,
            "mv_rowcount_mismatch": mismatch,
            "per_mv_incremental_sec": per_mv,
        }
        if mismatch:
            groups.append(
                {"mv_rowcount_parity": (False, json.dumps(mismatch), 0)}
            )

    failures = {
        name: err
        for group in groups
        for name, (ok, err, _) in group.items()
        if not ok
    }
    out = {
        "sf_dir": args.sf_dir,
        "mode": args.mode,
        "bronze_rows": counts,
        "stages_sec": stages,
        "total_sec": round(time.perf_counter() - t0, 1),
        "per_proc_rows": {
            **{k: n for k, (_, _, n) in silver.items()},
            **{k: n for k, (_, _, n) in gold.items()},
            **{k: n for k, (_, _, n) in mvs.items()},
        },
        **extra,
        "failures": failures,
    }
    print(json.dumps(out))
    if not args.keep:
        shutil.rmtree(args.root, ignore_errors=True)
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
