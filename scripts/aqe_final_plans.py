"""Capture AQE *final* (post-execution) plans for same-key self-join
gates, so an exchange-reuse rationale is shown, not asserted (default:
rj2_interval_overlap).

Static `.explain()` shows `AdaptiveSparkPlan isFinalPlan=false` and can
never contain `ReusedExchange` nodes injected by AQE at runtime.
Executing the gate into the noop sink does not help either, because
the write wraps its own QueryExecution.  So the script runs
`collect()` on the gate's own DataFrame (same plan, small results at
these SFs) and then prints the now-final adaptive plan.

Usage: python scripts/aqe_final_plans.py [sf_dir] [gate ...]
Writes plans/r11/<gate>_aqe_final.txt
"""

from __future__ import annotations

import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GATES = ["rj2_interval_overlap"]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    gates = sys.argv[2:] or GATES

    from python_sql_datawarehouse_project_spark.session import build_session
    from python_sql_datawarehouse_project_spark import registry

    spark = build_session(app_name="aqe_final_plans")
    spark.sparkContext.setLogLevel("ERROR")
    queries = registry.queries()

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        "r11",
    )
    os.makedirs(out_dir, exist_ok=True)

    for name in gates:
        spark.sparkContext.setJobDescription(f"aqe_final: {name}")
        df = queries[name](spark, sf_dir)
        n = len(df.collect())  # executes df's own QueryExecution
        # executedPlan is now the mutated AdaptiveSparkPlan
        # (isFinalPlan=true); capture the formatted string.
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_aqe_final.txt")
        with open(path, "w") as f:
            f.write(f"-- rows collected: {n}\n")
            f.write(plan)
        reused = plan.count("ReusedExchange")
        exchanges = plan.count("Exchange")
        final = "isFinalPlan=true" in plan
        print(
            f"{name}: rows={n} final={final} "
            f"Exchange~{exchanges} ReusedExchange={reused} -> {path}"
        )

    spark.stop()


if __name__ == "__main__":
    main()
