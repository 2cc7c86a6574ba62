"""Per-layer metrics of the traced run.

`layer_metrics` reduces the tracer's spans and the Spark counters of
their job groups to one fixed set of named values (`PER_LAYER`), each
per timed op unless its unit says otherwise.  A layer the workload
never calls reports 0.
"""

from __future__ import annotations

SILVER_PROCS = (
    "load_crm_cust_info", "load_crm_prd_info", "load_crm_sales_details",
    "load_erp_cust_az12", "load_erp_loc_a101", "load_erp_px_cat_g1v2",
)
GOLD_PROCS = ("load_dim_customers", "load_dim_products", "load_fact_sales")
MVS = (
    "mv_sales_monthly_productline", "mv_sales_customer_country",
    "mv_customer_lifetime_value", "mv_running_sales_customer",
    "mv_top3_products_month_country", "mv_customer_churn",
    "mv_customer_order_gap", "mv_sales_rollup_product",
    "mv_delayed_orders_chain",
)
OPERATOR_MODULES = ("analytics", "windows", "tpch", "tpch2", "recursive", "reconcile")

# (name, unit); every value is per op except ratios and session.*
PER_LAYER = (
    ("sources.read_s", "s"),
    ("sources.validate_s", "s"),
    ("sources.jobs", "count"),
    ("sources.rows_read", "rows"),
    ("sources.files_failed", "count"),
    ("plans.ingest.self_s", "s"),
    ("plans.ingest.files_loaded", "count"),
    ("plans.warehouse.write_s", "s"),
    ("plans.warehouse.writes", "count"),
    ("plans.warehouse.rows_written", "rows"),
    ("plans.warehouse.bytes_written", "bytes"),
    ("plans.warehouse.files_written", "count"),
    ("plans.warehouse.read_s", "s"),
    ("plans.warehouse.stored_bytes_per_input_byte", "ratio"),
    ("plans.silver.self_s", "s"),
    *((f"plans.silver.{p}_s", "s") for p in SILVER_PROCS),
    ("plans.gold.self_s", "s"),
    *((f"plans.gold.{p}_s", "s") for p in GOLD_PROCS),
    ("plans.gold.skipped", "count"),
    ("plans.mv.self_s", "s"),
    *((f"plans.mv.{m}_s", "s") for m in MVS),
    ("plans.runlog.append_s", "s"),
    ("plans.runlog.appends", "count"),
    ("plans.pipeline.self_s", "s"),
    ("operators.build_s", "s"),
    ("operators.exec_s", "s"),
    *((f"operators.{m}.exec_s", "s") for m in OPERATOR_MODULES),
    ("spark.jobs_per_op", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_busy_s", "s"),
    ("spark.core_util", "ratio"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.input_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.gc_s", "s"),
    ("session.build_s", "s"),
    ("session.warmup_s", "s"),
    ("jvm.jit_cpu_s", "s"),
    ("trace.op_s", "s"),
    ("trace.overhead_s", "s"),
    ("trace.overhead_frac", "ratio"),
)


def _sum(spans: dict, key: str, pred) -> float:
    return sum(d[key] for name, d in spans.items() if pred(name))


def layer_metrics(
    spans: dict,
    counts: dict,
    spark_of,
    n_ops: int,
    wall_s: float,
    cores: int,
    extra: dict,
) -> dict[str, float]:
    """`spans`: Tracer.by_name(); `counts`: Tracer.counts;
    `spark_of(groups)`: summed Spark counters of those job groups;
    `extra`: the workload's own ratios plus session.*, jvm.* and trace.*."""
    per = 1.0 / n_ops
    is_ = lambda p: (lambda n: n == p)  # noqa: E731
    under = lambda p: (lambda n: n.startswith(p))  # noqa: E731

    def total(pred) -> float:
        return _sum(spans, "total_s", pred) * per

    def self_(pred) -> float:
        return _sum(spans, "self_s", pred) * per

    def groups(pred) -> list[str]:
        return [g for n, d in spans.items() if pred(n) for g in d["groups"]]

    def cnt(key: str) -> float:
        return counts.get(key, 0) * per

    out = {
        "sources.read_s": total(is_("sources.read")),
        "sources.validate_s": total(is_("sources.validate")),
        "sources.jobs": spark_of(groups(under("sources.")))["jobs"] * per,
        "sources.rows_read": cnt("sources.rows_read"),
        "sources.files_failed": cnt("sources.files_failed"),
        "plans.ingest.self_s": self_(is_("plans.ingest")),
        "plans.ingest.files_loaded": cnt("plans.ingest.files_loaded"),
        "plans.warehouse.write_s": total(is_("plans.warehouse.write")),
        "plans.warehouse.writes": cnt("plans.warehouse.writes"),
        "plans.warehouse.rows_written": cnt("plans.warehouse.rows_written"),
        "plans.warehouse.bytes_written": cnt("plans.warehouse.bytes_written"),
        "plans.warehouse.files_written": cnt("plans.warehouse.files_written"),
        "plans.warehouse.read_s": total(is_("plans.warehouse.read")),
        "plans.silver.self_s": self_(under("plans.silver.")),
        "plans.gold.self_s": self_(under("plans.gold.")),
        "plans.gold.skipped": cnt("plans.gold.skipped"),
        "plans.mv.self_s": self_(under("plans.mv.")),
        "plans.runlog.append_s": total(is_("plans.runlog.append")),
        "plans.runlog.appends": spans.get("plans.runlog.append", {"n": 0})["n"] * per,
        "plans.pipeline.self_s": self_(is_("plans.pipeline"))
        + self_(is_("plans.clients")),
        "operators.build_s": total(under("operators.build.")),
        "operators.exec_s": total(under("operators.exec.")),
    }
    for p in SILVER_PROCS:
        out[f"plans.silver.{p}_s"] = total(is_(f"plans.silver.{p}"))
    for p in GOLD_PROCS:
        out[f"plans.gold.{p}_s"] = total(is_(f"plans.gold.{p}"))
    for m in MVS:
        out[f"plans.mv.{m}_s"] = total(is_(f"plans.mv.{m}"))
    for m in OPERATOR_MODULES:
        out[f"operators.{m}.exec_s"] = total(is_(f"operators.exec.{m}"))

    sp = spark_of(groups(lambda n: True))
    busy = sp["executor_run_ms"] / 1000
    out.update({
        "spark.jobs_per_op": sp["jobs"] * per,
        "spark.tasks": sp["tasks"] * per,
        "spark.executor_busy_s": busy * per,
        "spark.core_util": busy / (wall_s * cores),
        "spark.shuffle_write_bytes": sp["shuffle_write_bytes"] * per,
        "spark.shuffle_read_bytes": sp["shuffle_read_bytes"] * per,
        "spark.input_bytes": sp["input_bytes"] * per,
        "spark.spill_bytes": sp["spill_bytes"] * per,
        "spark.gc_s": sp["gc_ms"] / 1000 * per,
    })
    out.update(extra)
    return {name: float(out.get(name, 0.0)) for name, _ in PER_LAYER}
