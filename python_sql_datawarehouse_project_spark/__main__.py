"""CLI dispatch — the reference's entry-point contract on Spark.

Reference: `python batch_processing.py <client> <mode>` parses
(client, mode) and, with NO arguments, runs `start` for every client
in tools.client_reference (batch_processing.py:1276-1296).  Here:

    python -m python_sql_datawarehouse_project_spark <client> [mode]
    python -m python_sql_datawarehouse_project_spark            # all clients

Modes: start | restart | reprocessing (plans/clients.py documents the
mapping onto the batch-overwrite model).  The warehouse root comes
from --root (default ./warehouse_data) and holds the client registry
JSON plus each client's isolated warehouse/log directories.

One driver program replaces the reference's five subprocess launches
per file and its manifest-file IPC rendezvous: every step is a
DataFrame transformation inside this session (SURVEY.md §3.1).
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m python_sql_datawarehouse_project_spark",
        description="Run the medallion batch pipeline for one or all clients.",
    )
    ap.add_argument("client", nargs="?", help="client schema; omit for all")
    ap.add_argument(
        "mode",
        nargs="?",
        default="start",
        choices=("start", "restart", "reprocessing"),
    )
    ap.add_argument("--root", default="warehouse_data")
    ap.add_argument(
        "--mv-mode",
        default="full",
        choices=("full", "incremental"),
        help="MV refresh strategy: 'full' recomputes every MV over "
        "the named batch (reference refresh_mode='FULL'); "
        "'incremental' folds the new gold batch into each "
        "maintainable MV's state (plans/mv_incremental.py — the "
        "at-scale path), yielding full-history refresh "
        "semantics: identical to 'full' on a single-batch "
        "warehouse, full-history once more batches exist "
        "(incremental == full-history recompute is pytest-pinned "
        "bitwise).  Both run the same MV definitions (plans/mv.py)",
    )
    ap.add_argument(
        "--gate",
        help="run ONE registry gate (analytics/tpch/text/... query) "
        "against --sf-dir instead of the client pipeline",
    )
    ap.add_argument(
        "--sf-dir",
        help="parquet table directory for --gate (required with it)",
    )
    ap.add_argument(
        "--list-gates",
        action="store_true",
        help="print every registry gate key and exit (no Spark session)",
    )
    ap.add_argument(
        "--oracle-check",
        action="store_true",
        help="replay EVERY registry gate (or just --gate) against its "
        "DuckDB oracle at --sf-dir and print one OK/FAIL line each — "
        "the driver's correctness gate, runnable at any scale factor",
    )
    ap.add_argument(
        "--hashed-big",
        action="store_true",
        help="with --oracle-check: compare registry.HASHED_AT_SCALE "
        "gates via the in-engine hashed compare (count + md5 hash-sum "
        "on both sides) instead of materializing rows driver-side — "
        "the sf>=1 big-output path; such gates are marked 'hashed' in "
        "the OK/FAIL line and the JSON record",
    )
    ap.add_argument(
        "--json-out",
        help="with --oracle-check: also write the per-gate results as "
        "JSON (CORRECTNESS_r*.json shape: rows/schema/hash booleans "
        "per key) so the sweep leaves a verifiable artifact, e.g. "
        "ORACLECHECK_r06.json",
    )
    ap.add_argument("--show", type=int, default=20, help="rows to print")
    args = ap.parse_args(argv)

    if args.list_gates or args.oracle_check or args.gate:
        from . import registry  # no Spark session needed

        gates = registry.queries()
        if args.list_gates:
            for k in gates:
                print(k)
            return 0
        if not args.sf_dir:
            flag = "--oracle-check" if args.oracle_check else "--gate"
            ap.error(f"{flag} requires --sf-dir")
        if args.gate and args.gate not in gates:
            ap.error(f"unknown gate {args.gate!r} (see --list-gates)")

    from .plans.clients import ClientRegistry, process_client, run_all_clients
    from .session import build_session

    spark = build_session(app_name="python_sql_datawarehouse_project_spark-cli")
    if args.oracle_check:
        from .testing import compare, compare_hashed

        oracles = registry.oracles()
        names = [args.gate] if args.gate else sorted(gates)
        n_fail = 0
        records: dict[str, dict] = {}
        for name in names:
            hashed = args.hashed_big and name in registry.HASHED_AT_SCALE
            cmp_fn = compare_hashed if hashed else compare
            try:
                r = cmp_fn(name, gates[name], oracles[name], spark, args.sf_dir)
                ok = r.ok
                detail = "" if ok else " " + "; ".join(r.mismatches[:3])
                records[name] = {
                    "rows_match": r.spark_rows == r.oracle_rows,
                    "schema_match": r.columns_match and r.types_match,
                    "hash_match": r.values_match,
                    "spark_rows": r.spark_rows,
                    "oracle_rows": r.oracle_rows,
                    "err": None if ok else "; ".join(r.mismatches[:3]),
                }
                if hashed:
                    records[name]["hashed"] = True
            except Exception as ex:  # noqa: BLE001 — report and continue
                ok, detail = False, f" {type(ex).__name__}: {ex}"[:200]
                records[name] = {
                    "rows_match": False,
                    "schema_match": False,
                    "hash_match": False,
                    "spark_rows": None,
                    "oracle_rows": None,
                    "err": f"{type(ex).__name__}: {ex}"[:300],
                }
            n_fail += 0 if ok else 1
            tag = " [hashed]" if hashed else ""
            print(("OK  " if ok else "FAIL") + f" {name}{tag}{detail}", flush=True)
        print(f"oracle-check: {len(names) - n_fail}/{len(names)} OK")
        if args.json_out:
            import json

            records["__meta__"] = {
                "sf_dir": args.sf_dir,
                "n_ok": len(names) - n_fail,
                "n_total": len(names),
            }
            with open(args.json_out, "w") as f:
                json.dump(records, f, indent=1)
        return 1 if n_fail else 0
    if args.gate:
        gates[args.gate](spark, args.sf_dir).show(args.show, truncate=False)
        return 0
    registry = ClientRegistry(args.root)
    if args.client is None:
        results = run_all_clients(spark, registry, mv_mode=args.mv_mode)
    else:
        results = [
            process_client(
                spark, registry, args.client, args.mode, mv_mode=args.mv_mode
            )
        ]
    for r in results:
        statuses = {
            step: {
                t: ("SUCCESS" if s[0] else "FAILED")
                for t, s in layers.items()
            }
            for step, layers in r.results.items()
        }
        print(f"{r.client_schema} {r.batch_id}: {statuses}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
