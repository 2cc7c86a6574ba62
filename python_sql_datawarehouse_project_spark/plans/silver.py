"""Bronze -> silver cleansing transforms: one function per reference
stored procedure (SURVEY.md §3.2; reference
sql/tools/Procedure/client1/tools.load_*_v1.sql).

Each transform is (warehouse, batch_id) -> rowcount (the procs' GET
DIAGNOSTICS ROW_COUNT) and raises on error; the pipeline's step runner
(plans/pipeline.py `_step`) turns an exception into the procs' (OUT
is_success, OUT error_message) pair.  The lifecycle is
Warehouse.rebuild_batch: an absent bronze batch makes the silver batch
absent, otherwise transform -> delete-then-insert of the batch.

All row logic is built-in column expressions (functions/cleansing.py)
— no UDFs, fully codegen'd, so a 100 TB bronze partition cleanses at
scan speed with exactly one shuffle where a window requires it (W1
dedup, W2 end-dating).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import cleansing as C
from .warehouse import Warehouse


def _run(
    wh: Warehouse,
    table: str,
    batch_id: str,
    transform: Callable[[DataFrame], DataFrame],
) -> int:
    """Shared proc lifecycle (tools.load_crm_cust_info_v1.sql:29-120):
    bronze `table` -> silver `table` for one batch."""

    def build() -> DataFrame:
        df = wh.read_batch("bronze", table, batch_id).drop("dwh_batch_id")
        return transform(df).withColumn("dwh_create_date", F.current_timestamp())

    return wh.rebuild_batch(("bronze", table), "silver", table, batch_id, build)


def load_crm_cust_info(wh: Warehouse, batch_id: str) -> int:
    """tools.load_crm_cust_info_v1.sql:58-120 — null-key filter, W1
    keep-latest dedup, trims, marital/gender decode, R6 year clamp.

    Dedup tiebreaker: the proc's ROW_NUMBER ... ORDER BY
    cst_create_date DESC is nondeterministic under ties in Postgres;
    cst_key DESC pins a total order (SURVEY.md §7)."""

    def t(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("cst_id").orderBy(
            F.desc("cst_create_date"), F.desc("cst_key")
        )
        return (
            df.filter(F.col("cst_id").isNotNull())
            .withColumn("flag_last", F.row_number().over(w))
            .filter(F.col("flag_last") == 1)
            .select(
                F.col("cst_id").cast("int").alias("cst_id"),
                F.trim("cst_key").alias("cst_key"),
                F.trim("cst_firstname").alias("cst_firstname"),
                F.trim("cst_lastname").alias("cst_lastname"),
                C.decode_marital_status(F.col("cst_marital_status")).alias(
                    "cst_marital_status"
                ),
                C.decode_gender_crm(F.col("cst_gndr")).alias("cst_gndr"),
                C.clamp_future_year(F.col("cst_create_date").cast("date")).alias(
                    "cst_create_date"
                ),
            )
        )

    return _run(wh, "crm_cust_info", batch_id, t)


def load_crm_prd_info(wh: Warehouse, batch_id: str) -> int:
    """tools.load_crm_prd_info_v1.sql:70-100 — R7 key split, cost
    COALESCE 0, product-line decode, W2 LEAD end-dating."""

    def t(df: DataFrame) -> DataFrame:
        # The proc's LEAD window says PARTITION BY prd_key, and in
        # Postgres select-list aliases are out of scope inside window
        # definitions — so it partitions by the RAW bronze prd_key,
        # not the derived chars-7..end key.  Mirror that exactly.
        w = Window.partitionBy(F.col("prd_key")).orderBy("prd_start_dt")
        return df.select(
            F.col("prd_id").cast("int").alias("prd_id"),
            C.split_cat_id(F.col("prd_key")).alias("cat_id"),
            C.split_prd_key(F.col("prd_key")).alias("prd_key"),
            F.trim("prd_nm").alias("prd_nm"),
            F.coalesce(F.col("prd_cost"), F.lit(0)).alias("prd_cost"),
            C.decode_product_line(F.col("prd_line")).alias("prd_line"),
            F.col("prd_start_dt").cast("date").alias("prd_start_dt"),
            F.date_sub(
                F.lead(F.col("prd_start_dt").cast("date")).over(w), 1
            ).alias("prd_end_dt"),
        )

    return _run(wh, "crm_prd_info", batch_id, t)


def load_crm_sales_details(wh: Warehouse, batch_id: str) -> int:
    """tools.load_crm_sales_details_v1.sql:75-115 — trims, R4 yyyymmdd
    parsing, R2 sales repair, R3 price derivation (from RAW columns)."""

    def t(df: DataFrame) -> DataFrame:
        return df.select(
            F.trim("sls_ord_num").alias("sls_ord_num"),
            F.trim("sls_prd_key").alias("sls_prd_key"),
            F.col("sls_cust_id").cast("int").alias("sls_cust_id"),
            C.parse_yyyymmdd(F.col("sls_order_dt")).alias("sls_order_dt"),
            C.parse_yyyymmdd(F.col("sls_ship_dt")).alias("sls_ship_dt"),
            C.parse_yyyymmdd(F.col("sls_due_dt")).alias("sls_due_dt"),
            C.repair_sales(
                F.col("sls_sales"), F.col("sls_quantity"), F.col("sls_price")
            ).alias("sls_sales"),
            F.col("sls_quantity").cast("int").alias("sls_quantity"),
            C.repair_price(
                F.col("sls_sales"), F.col("sls_quantity"), F.col("sls_price")
            ).alias("sls_price"),
        )

    return _run(wh, "crm_sales_details", batch_id, t)


def load_erp_cust_az12(wh: Warehouse, batch_id: str) -> int:
    """tools.load_erp_cust_az12_v1.sql:66-86 — NAS strip, R5 future
    bdate -> NULL, gender decode."""

    def t(df: DataFrame) -> DataFrame:
        # No trim on cid: the proc strips the NAS prefix from the raw
        # value (LIKE 'NAS%' fails on ' NAS...'), so trimming first
        # would strip rows the reference leaves untouched.
        return df.select(
            C.strip_nas_prefix(F.col("cid")).alias("cid"),
            C.null_future_date(F.col("bdate").cast("date")).alias("bdate"),
            C.decode_gender_erp(F.col("gen")).alias("gen"),
        )

    return _run(wh, "erp_cust_az12", batch_id, t)


def load_erp_loc_a101(wh: Warehouse, batch_id: str) -> int:
    """tools.load_erp_loc_a101_v1.sql:66-80 — dash strip, country decode."""

    def t(df: DataFrame) -> DataFrame:
        return df.select(
            C.strip_dashes(F.col("cid")).alias("cid"),
            C.decode_country(F.col("cntry")).alias("cntry"),
        )

    return _run(wh, "erp_loc_a101", batch_id, t)


def load_erp_px_cat_g1v2(wh: Warehouse, batch_id: str) -> int:
    """tools.load_erp_px_cat_g1v2_v1.sql — passthrough projection."""

    def t(df: DataFrame) -> DataFrame:
        return df.select("id", "cat", "subcat", "maintenance")

    return _run(wh, "erp_px_cat_g1v2", batch_id, t)


# Execution order mirrors tools.transformation_config ordering
# (reference silver_clean_transform.py:43-58).
TRANSFORMS: dict[str, Callable[[Warehouse, str], int]] = {
    "load_crm_cust_info": load_crm_cust_info,
    "load_crm_prd_info": load_crm_prd_info,
    "load_crm_sales_details": load_crm_sales_details,
    "load_erp_cust_az12": load_erp_cust_az12,
    "load_erp_loc_a101": load_erp_loc_a101,
    "load_erp_px_cat_g1v2": load_erp_px_cat_g1v2,
}
