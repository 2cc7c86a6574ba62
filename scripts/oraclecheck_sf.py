"""Scale-factor parity sweep: replay the registry against DuckDB at
an arbitrary SF directory, with the declared scale policy applied
automatically: registry.HASHED_AT_SCALE gates go through
testing.compare_hashed (in-engine count + md5 hash-sum on both sides;
no driver-side rows).

Round-10 harness upgrades (VERDICT r9 #1/#2 — the hours-long sf10
sweeps needed the health instrumentation bench.py already had, plus
crash containment after the r9 JVM death took 31 gates as collateral):

  * per-gate noise attribution: the same interleaved cpu probes and
    `suspect_gates` bracketing logic as bench.py (shared code —
    bench._suspect_gates, pinned by tests/test_bench_attribution.py
    and tests/test_sweep_telemetry.py), recorded in __meta__ so a
    543 s gate can be attributed to the box or the code from
    the artifact alone.
  * memory telemetry: a sampling thread records the peak java RSS per
    gate (every record carries rss_peak_mb); optional --gc-log writes
    a JVM unified-logging GC trace and __meta__ carries its summary
    (pause counts, max heap before/after GC).
  * crash containment: a gate whose failure killed the JVM (liveness
    probe after every exception) costs ONE red record — the harness
    relaunches a fresh session and the sweep continues.  Rebuilds are
    listed in __meta__.jvm_rebuilds.
  * inter-gate hygiene: gc.collect() after every gate drops the
    py4j references that keep dead localCheckpoint blocks alive
    JVM-side; clearCache() every 10 gates bounds block-manager
    accumulation across a 127-gate run (the r9 death's suspected
    mechanism — heap pressure mounting across one long-lived JVM).
  * the sweep JVM's heap is SPARK_GRAFT_DRIVER_MEM (default 8g);
    __meta__.driver_mem records it.

Writes the ORACLECHECK_sf1_r*.json artifact shape: one record per
gate plus a __meta__ block declaring exactly what was skipped and
why, so the artifact is self-describing.

Usage:
    python scripts/oraclecheck_sf.py --sf-dir /root/repo/.scratch/sf1 \
        --json-out ORACLECHECK_sf1_r07.json
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import re
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# Per-gate session-conf overrides, set before the gate and restored
# after — for gates whose AT-SCALE run needs a non-default engine
# knob that must not leak into the rest of the sweep.
GATE_CONF_OVERRIDES = {
    # ~7M chain rows at sf1, ~70M at sf10 (the 1,000,000 default
    # aborts at sf1): give the working-table 200M headroom (the limit
    # is a row-count guardrail, not memory — 3.5 GB heap measured at
    # sf1's 7M rows).
    "q43_recursive_sql": {"spark.sql.cteRecursionRowLimit": "200000000"},
}

PROBE_EVERY = 10  # gates between interleaved cpu probes


def _attribution(names: list[str], timeline: list[list]) -> list[str]:
    """suspect_gates for THIS sweep's gate order: same bracketing
    logic as the sf0.1 bench (shared function, one set of pinned
    semantics — tests/test_bench_attribution.py)."""
    import bench

    return bench._suspect_gates(names, timeline)


def _java_rss_mb() -> int:
    """Total resident set of every java process on the box, MiB.
    In local mode the sweep owns the only JVM; a concurrent run would
    inflate this, which is exactly what the telemetry should show."""
    total_kb = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() != "java":
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, ValueError):
            continue
    return total_kb // 1024


class _RssSampler(threading.Thread):
    """Background peak-RSS tracker; take_peak() returns the max since
    the previous take and re-seeds with the current value."""

    def __init__(self, interval: float = 1.0):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = _java_rss_mb()
        self._stop = threading.Event()

    def run(self) -> None:
        while not self._stop.wait(self.interval):
            v = _java_rss_mb()
            if v > self.peak:
                self.peak = v

    def take_peak(self) -> int:
        p = max(self.peak, _java_rss_mb())
        self.peak = _java_rss_mb()
        return p

    def stop(self) -> None:
        self._stop.set()


_GC_PAUSE = re.compile(r"(\d+)M->(\d+)M\((\d+)M\)")


def _gc_summary(path: str) -> dict:
    """Digest a JVM unified-logging GC trace (-Xlog:gc*) into the
    numbers a reviewer needs: pause counts, Full-GC count, max heap
    before/after collection.  Tolerant of absent/partial files (the
    JVM may have died mid-line — that is the interesting case)."""
    out = {
        "n_pauses": 0,
        "n_full_gc": 0,
        "max_heap_before_mb": 0,
        "max_heap_after_mb": 0,
    }
    try:
        with open(path, errors="replace") as f:
            for line in f:
                m = _GC_PAUSE.search(line)
                # each pause logs a start line (no heap figures) and a
                # completion line (NNNM->NNNM(NNNNM)); count completions
                if m and "Pause" in line:
                    if "Pause Full" in line:
                        out["n_full_gc"] += 1
                    out["n_pauses"] += 1
                    out["max_heap_before_mb"] = max(
                        out["max_heap_before_mb"], int(m.group(1))
                    )
                    out["max_heap_after_mb"] = max(
                        out["max_heap_after_mb"], int(m.group(2))
                    )
    except OSError:
        return {"error": f"gc log unreadable: {path}"}
    return out


def _jvm_alive(spark) -> bool:
    try:
        spark.range(1).count()
        return True
    except Exception:  # noqa: BLE001 — any failure means "treat as dead"
        return False


def _fresh_session(old_spark, extra_conf: dict[str, str]):
    """Relaunch after a JVM death: drop pyspark's cached singletons so
    build_session starts a NEW gateway + JVM instead of handing back
    the corpse.  Crash containment for the sweep — one gate red, not
    every gate after it (the r9 failure mode)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from python_sql_datawarehouse_project_spark.session import build_session

    try:
        old_spark.stop()
    except Exception:  # noqa: BLE001 — the JVM is already gone
        pass
    SparkContext._active_spark_context = None
    SparkContext._gateway = None
    SparkContext._jvm = None
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None
    spark = build_session(app_name="oraclecheck-sf", extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--json-out")
    ap.add_argument(
        "--only",
        help="comma-separated gate subset (operational reruns)",
    )
    ap.add_argument(
        "--exclude",
        help="comma-separated extra skips, recorded in __meta__ as "
        "skipped_operator (use with a measured reason in the notes)",
    )
    ap.add_argument(
        "--gc-log",
        help="write a JVM unified GC trace here (-Xlog:gc*) and put "
        "its summary in __meta__.gc_summary",
    )
    args = ap.parse_args()

    from python_sql_datawarehouse_project_spark import registry
    from python_sql_datawarehouse_project_spark.session import build_session
    from python_sql_datawarehouse_project_spark.testing import (
        compare,
        compare_hashed,
    )

    extra_conf: dict[str, str] = {}
    if args.gc_log:
        extra_conf["spark.driver.extraJavaOptions"] = (
            f"-Xlog:gc*:file={args.gc_log}:time,uptime"
        )
    spark = build_session(app_name="oraclecheck-sf", extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    gates, oracles = registry.queries(), registry.oracles()
    extra = sorted(
        k for k in (args.exclude or "").split(",") if k and k in gates
    )
    names = [k for k in sorted(gates) if k not in extra]
    if args.only:
        only = {k for k in args.only.split(",") if k}
        unknown = only - set(gates)
        if unknown:
            ap.error(f"unknown gates in --only: {sorted(unknown)}")
        # --only is an explicit operator request: it overrides
        # --exclude instead of intersecting with its survivors —
        # otherwise `--only X --exclude X` silently runs zero gates and
        # exits 0 looking green (ADVICE r7).
        overridden = sorted(only & set(extra))
        if overridden:
            print(
                f"oracle-check: --only overrides --exclude for {overridden}",
                file=sys.stderr,
            )
        names = sorted(only)

    def _probe() -> float:
        t0 = time.perf_counter()
        spark.range(0, 50_000_000, 1, 32).selectExpr(
            "sum(xxhash64(id)) AS h"
        ).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    sampler = _RssSampler()
    sampler.start()
    _probe_warmup = True  # discard the first, cold probe (JIT/noop
    # init makes it 10x a warmed one — it would spuriously flag the
    # first gate block as suspect)
    timeline: list[list] = []  # [gate_name, probe_sec, gate_index]
    jvm_rebuilds: list[str] = []

    n_fail = 0
    records: dict[str, dict] = {}

    def _meta() -> dict:
        return {
            "sf_dir": args.sf_dir,
            "n_ok": sum(
                1
                for k, r in records.items()
                if k != "__meta__" and not r.get("err")
            ),
            "n_total": len(names),
            # a targeted run (--only) is NOT a full sweep — record the
            # requested scope so the artifact self-describes
            "only": sorted(args.only.split(",")) if args.only else None,
            "hashed_gates": sorted(
                k for k in names if k in registry.HASHED_AT_SCALE
            ),
            "skipped_operator": extra,
            "calib_timeline": timeline,
            "suspect_gates": _attribution(names, timeline),
            "jvm_rebuilds": jvm_rebuilds,
            "gc_summary": _gc_summary(args.gc_log) if args.gc_log else None,
            "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
            "note": "hashed gates compared via in-engine count+md5 "
            "hash-sum (testing.compare_hashed); "
            "suspect_gates = probe-bracketed noise attribution "
            "(bench._suspect_gates), rss_peak_mb = peak java RSS "
            "during the gate",
        }

    for i, name in enumerate(names):
        if i % PROBE_EVERY == 0:
            if _probe_warmup:
                _probe()
                _probe_warmup = False
            timeline.append([name, _probe(), i])
        hashed = name in registry.HASHED_AT_SCALE
        cmp_fn = compare_hashed if hashed else compare
        overrides = GATE_CONF_OVERRIDES.get(name, {})
        saved = {k: spark.conf.get(k) for k in overrides}
        for k, v in overrides.items():
            spark.conf.set(k, v)
        t0 = time.perf_counter()
        try:
            r = cmp_fn(name, gates[name], oracles[name], spark, args.sf_dir)
            ok = r.ok
            rec = {
                # On compare_hashed's early schema-mismatch return both
                # counts are -1 sentinels; don't record a vacuous
                # rows_match=true for a gate whose counts were never
                # computed (ADVICE r7).
                "rows_match": r.spark_rows >= 0 and r.spark_rows == r.oracle_rows,
                "schema_match": r.columns_match and r.types_match,
                "hash_match": r.values_match,
                "spark_rows": r.spark_rows,
                "oracle_rows": r.oracle_rows,
                "err": None if ok else "; ".join(r.mismatches[:3]),
            }
        except Exception as ex:  # noqa: BLE001 — report and continue
            ok = False
            rec = {
                "rows_match": False,
                "schema_match": False,
                "hash_match": False,
                "spark_rows": None,
                "oracle_rows": None,
                "err": f"{type(ex).__name__}: {ex}"[:300],
            }
            if not _jvm_alive(spark):
                # crash containment: this gate killed the JVM — record
                # it, relaunch, and keep the sweep alive (r9's death
                # during a since-deleted streaming session gate took the
                # 30 gates after it as ConnectionRefusedError collateral)
                rec["jvm_died"] = True
                jvm_rebuilds.append(name)
                print(f"JVM DEATH during {name}; relaunching", flush=True)
                spark = _fresh_session(spark, extra_conf)
                saved = {}  # conf overrides died with the old session
        for k, v in saved.items():
            spark.conf.set(k, v)
        if hashed:
            rec["hashed"] = True
        if overrides:
            rec["conf_overrides"] = overrides
        rec["sec"] = round(time.perf_counter() - t0, 1)
        rec["rss_peak_mb"] = sampler.take_peak()
        records[name] = rec
        n_fail += 0 if ok else 1
        # drop py4j refs so the JVM can clean dead localCheckpoint /
        # broadcast blocks; bound block-manager growth across the run
        gc.collect()
        if i % PROBE_EVERY == PROBE_EVERY - 1:
            try:
                spark.catalog.clearCache()
            except Exception:  # noqa: BLE001 — hygiene must not kill the sweep
                pass
        if args.json_out:
            # checkpoint after every gate: a killed run (wedged gate,
            # host reboot) keeps its completed records
            with open(args.json_out, "w") as f:
                json.dump({**records, "__meta__": _meta()}, f, indent=1)
        tag = " [hashed]" if hashed else ""
        print(
            ("OK  " if ok else "FAIL")
            + f" {name}{tag} ({rec['sec']}s, rss {rec['rss_peak_mb']}M)"
            + ("" if ok else f" {rec['err']}"),
            flush=True,
        )
    # trailing sentinel: the last block needs a probe on BOTH sides
    timeline.append(["__end__", _probe(), len(names)])
    sampler.stop()
    print(f"oracle-check: {len(names) - n_fail}/{len(names)} OK")
    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump({**records, "__meta__": _meta()}, f, indent=1)
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
