"""Silver -> gold star-schema integration: dim_customers,
dim_products, fact_sales (reference
sql/tools/Procedure/client1/tools.load_{dim_customers,dim_products,
fact_sales}_v1.sql), plus the dependency gate that orders dims before
facts (reference gold_integration.py:50-64,152-212).

Surrogate keys are deterministic ROW_NUMBERs over the documented
integration order (reference Integrations/client1/
Integration_dim_customers.sql:1-5, Integration_dim_products.sql:1-6)
rather than DB IDENTITY — same dense-key semantics, reproducible for
oracle comparison.  Dims are dim-scale so the single-partition
row_number shuffle is fine; the fact NEVER gets a global row_number
(its key is the natural (order, line) grain).

Scale: fact-to-dim joins are left joins with broadcast-eligible dims;
the -1 unknown-member fallback (tools.load_fact_sales_v1.sql:65-66)
is a COALESCE after the join, preserving every fact row (no inner-join
row loss at scale).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import cleansing as C
from .warehouse import Warehouse


def dim_customers_plan(ci: DataFrame, ca: DataFrame, la: DataFrame) -> DataFrame:
    """Pure plan for dim_customers (no warehouse I/O) — exposed so
    tests can assert join strategy on the exact production plan.

    No broadcast hints: the ERP enrichment tables grow with the
    customer base, and a forced broadcast OOMs executors once they
    outgrow memory.  Catalyst/AQE broadcasts them while they are small
    and switches to shuffled hash when they aren't."""
    joined = (
        ci.alias("ci")
        .join(ca.alias("ca"), F.col("ci.cst_key") == F.col("ca.cid"), "left")
        .join(la.alias("la"), F.col("ci.cst_key") == F.col("la.cid"), "left")
    )
    return joined.select(
            F.col("ci.cst_id").alias("customer_id"),
            F.col("ci.cst_key").alias("customer_number"),
            F.col("ci.cst_firstname").alias("customer_firstname"),
            F.col("ci.cst_lastname").alias("customer_lastname"),
            C.integrate_gender(F.col("ci.cst_gndr"), F.col("ca.gen")).alias("gender"),
            F.col("ci.cst_marital_status").alias("marital_status"),
            F.col("la.cntry").alias("country"),
            F.col("ca.bdate").alias("birth_date"),
            F.col("ci.cst_create_date").alias("create_date"),
    ).withColumn(
        "customer_key",
        F.row_number().over(Window.orderBy("customer_id")),
    )


def load_dim_customers(wh: Warehouse, batch_id: str) -> int:
    """tools.load_dim_customers_v1.sql:55-84 — crm |x| erp enrichment,
    R1 gender integration, row_number surrogate key by cst_id."""
    return wh.rebuild_batch(
        ("silver", "crm_cust_info"),
        "gold",
        "dim_customers",
        batch_id,
        lambda: dim_customers_plan(
            wh.read_batch("silver", "crm_cust_info", batch_id),
            wh.read_batch("silver", "erp_cust_az12", batch_id),
            wh.read_batch("silver", "erp_loc_a101", batch_id),
        ),
    )


def dim_products_plan(po: DataFrame, pc: DataFrame) -> DataFrame:
    """Pure plan for dim_products.

    The category decode table is genuinely bounded (37 rows in the
    reference data; a taxonomy, not a per-entity table), so the
    broadcast hint is safe and saves the shuffle at any SF."""
    joined = (
        po.filter(F.col("prd_end_dt").isNull())
        .alias("po")
        .join(F.broadcast(pc.alias("pc")), F.col("po.cat_id") == F.col("pc.id"), "left")
    )
    return joined.select(
            F.col("po.prd_id").alias("product_id"),
            F.col("po.prd_key").alias("product_number"),
            F.col("po.prd_nm").alias("product_name"),
            F.col("po.prd_line").alias("product_line"),
            F.col("po.cat_id").alias("category_id"),
            F.col("pc.cat").alias("category"),
            F.col("pc.subcat").alias("sub_category"),
            F.col("pc.maintenance").alias("maintenance"),
            F.col("po.prd_cost").alias("product_cost"),
            F.col("po.prd_start_dt").alias("start_date"),
    ).withColumn(
        "product_key",
        F.row_number().over(Window.orderBy("product_number", "start_date")),
    )


def load_dim_products(wh: Warehouse, batch_id: str) -> int:
    """tools.load_dim_products_v1.sql:55-86 — current versions only
    (prd_end_dt IS NULL), category join, row_number surrogate key."""
    return wh.rebuild_batch(
        ("silver", "crm_prd_info"),
        "gold",
        "dim_products",
        batch_id,
        lambda: dim_products_plan(
            wh.read_batch("silver", "crm_prd_info", batch_id),
            wh.read_batch("silver", "erp_px_cat_g1v2", batch_id),
        ),
    )


def fact_sales_plan(sd: DataFrame, pr: DataFrame, cs: DataFrame) -> DataFrame:
    """Pure plan for fact_sales.

    Customer/product dims scale with the business — leave join
    strategy to AQE (broadcast while small, shuffled hash beyond
    autoBroadcastJoinThreshold) instead of forcing a broadcast that
    breaks at scale."""
    return (
        sd.join(
            pr,
            sd["sls_prd_key"] == pr["product_number"],
            "left",
        )
        .join(cs, sd["sls_cust_id"] == cs["customer_id"], "left")
        .select(
            F.col("sls_ord_num").alias("order_number"),
            F.coalesce(F.col("customer_key"), F.lit(-1)).alias("customer_key"),
            F.coalesce(F.col("product_key"), F.lit(-1)).alias("product_key"),
            F.col("sls_order_dt").alias("order_date"),
            F.col("sls_ship_dt").alias("shipping_date"),
            F.col("sls_due_dt").alias("due_date"),
            F.col("sls_sales").alias("sales"),
            F.col("sls_quantity").alias("quantity"),
            F.col("sls_price").alias("price"),
        )
    )


def load_fact_sales(wh: Warehouse, batch_id: str) -> int:
    """tools.load_fact_sales_v1.sql:55-82 — surrogate-key lookups with
    COALESCE(-1) unknown-member fallback."""
    return wh.rebuild_batch(
        ("silver", "crm_sales_details"),
        "gold",
        "fact_sales",
        batch_id,
        lambda: fact_sales_plan(
            wh.read_batch("silver", "crm_sales_details", batch_id),
            wh.read_batch("gold", "dim_products", batch_id).select(
                "product_key", "product_number"
            ),
            wh.read_batch("gold", "dim_customers", batch_id).select(
                "customer_key", "customer_id"
            ),
        ),
    )


INTEGRATIONS: dict[str, Callable[[Warehouse, str], int]] = {
    "load_dim_customers": load_dim_customers,
    "load_dim_products": load_dim_products,
    "load_fact_sales": load_fact_sales,
}

# fact -> required dims, mirroring tools.integration_dependencies
# (reference gold_integration.py:152-212): the fact runs only if every
# dependency succeeded for this batch.
DEPENDENCIES: dict[str, tuple[str, ...]] = {
    "load_fact_sales": ("load_dim_customers", "load_dim_products"),
}
