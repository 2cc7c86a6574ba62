"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Execution is forced with the JVM-side noop sink (no collect, no
Python-side row traffic) so timings measure the real plan: scan +
shuffle + agg/window, the same work a cluster would do per partition.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _host_calibration(spark) -> dict[str, float]:
    """Fixed, data-independent micro-benchmarks that measure THIS
    box, not this repo: a codegen/CPU probe (hash-fold over a
    synthetic range) and a shuffle probe (hash repartition + agg of
    the same range).  Rounds 4/5 spent a whole adjudication cycle
    separating host re-anchors (1.3x box drift) from code
    regressions; these two numbers give every future BENCH_r*.json a
    denominator so per-gate ratios can be host-normalized without
    re-running old code.  min-of-3 so a GC pause or page-cache miss
    in one rep doesn't skew the anchor.
    """
    out: dict[str, float] = {}
    probes = {
        # 100M-row hash fold: whole-stage codegen straight-line speed.
        "cpu_sec": lambda: spark.range(0, 100_000_000, 1, 32)
        .selectExpr("sum(xxhash64(id)) AS h"),
        # 10M rows through a 32-way hash exchange: shuffle write/read
        # + partial/final agg — the path every groupBy/join pays.
        "shuffle_sec": lambda: spark.range(0, 10_000_000, 1, 32)
        .selectExpr("id % 97 AS k", "id")
        .groupBy("k")
        .agg({"id": "sum"}),
    }
    for name, build in probes.items():
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            reps.append(time.perf_counter() - t0)
        out[name] = round(min(reps), 3)
    return out


NOISY_FACTOR = 1.5  # band width: probe > 1.5x trailing median = noisy


def _trailing_probe_band() -> dict[str, float]:
    """Median of the trailing BENCH_HISTORY calibration probes, keyed
    by probe kind — the denominator the noisy-host gate compares this
    run's probes against (VERDICT r6 #4: BENCH_r06's committed 404.8 s
    run was a 2.6x-shuffle-noise host artifact that needed judge-side
    forensics; with a recorded band the artifact self-certifies)."""
    import statistics

    here = os.path.dirname(os.path.abspath(__file__))
    vals: dict[str, list[float]] = {"cpu_sec": [], "shuffle_sec": []}
    try:
        with open(os.path.join(here, _HISTORY)) as f:
            hist = json.load(f)
    except (OSError, ValueError):
        return {}
    for entry in hist[-10:]:
        for k, v in (entry.get("host_calibration") or {}).items():
            for kind in vals:
                if k.endswith(kind) and isinstance(v, (int, float)):
                    vals[kind].append(v)
    return {
        k: round(statistics.median(v), 3) for k, v in vals.items() if v
    }


def _over_band(calib: dict[str, float], band: dict[str, float]) -> list[str]:
    return [
        k
        for k in ("cpu_sec", "shuffle_sec")
        if band.get(k) and calib.get(k, 0.0) > NOISY_FACTOR * band[k]
    ]


def _suspect_gates(
    sorted_names: list[str], timeline: list[list]
) -> list[str]:
    """Per-gate noise attribution (VERDICT r8 #2): the run-level
    noisy-host gate can pass while a mid-run contention window skews a
    few heavy gates (r8's driver run: dd7 2.7x its close time under
    `noisy_host: false`).  The timeline probes interleave the gate
    loop, so an elevated probe brackets the gates measured near it:
    flag every gate in the block BEFORE and the block AFTER each
    elevated probe.  A future reader discounts `suspect_gates` instead
    of mis-reading them as regressions — and trusts the rest.

    `timeline` entries are [gate_name, probe_sec, gate_index] with a
    final ["__end__", sec, n_gates] sentinel so the last block has a
    trailing neighbor.  Elevated = > 2x the run's own median probe AND
    > 0.4 s absolute (single unwarmed probes jitter 1.5-2x healthy;
    the real catches were 3.7-24x — same calibration as the run-level
    outlier criterion, applied locally)."""
    import statistics

    if len(timeline) < 2:
        return []
    vals = [p for _, p, _ in timeline]
    med = statistics.median(vals)
    thr = max(2 * med, 0.4)
    bounds = [idx for _, _, idx in timeline]  # ascending gate indices
    suspects: set[str] = set()
    for j, (_, p, _) in enumerate(timeline):
        if p <= thr:
            continue
        lo = bounds[j - 1] if j > 0 else bounds[j]
        hi = bounds[j + 1] if j + 1 < len(bounds) else bounds[j]
        suspects.update(sorted_names[lo:hi])
    return sorted(suspects)


def _steal_suspects(
    timings: dict[str, float],
    gate_steal: dict[str, int],
    cpus: int | None = None,
) -> list[str]:
    """Gates whose wall time overlapped a hypervisor steal storm:
    stolen ticks during the gate exceed 10% of the gate's available
    cpu ticks (cpus * USER_HZ(100) * wall_sec) AND the gate took >1 s.
    Complements _suspect_gates — the interleaved probes bracket
    *blocks*, so a storm contained within one gate's wall time is
    invisible to them; the per-gate steal delta sees exactly that
    case.  Thresholds calibrated on the two observed incidents (r10
    baseline runs: sim2 66.9 s / 40,785 ticks = 19% of available,
    cs1 41.2 s / 17,118 = 13%; every honest gate measured <10%):
    >10% of the gate's available cpu ticks (cpus * USER_HZ(100) *
    wall_sec) AND >500 ticks absolute AND >1 s wall.  The tick count
    UNDERSTATES the damage — a storm also brings hypervisor-level
    cache/membw contention the counter cannot see — so the fraction
    bar is deliberately below the observed catastrophic range."""
    if cpus is None:
        from python_sql_datawarehouse_project_spark.session import core_budget

        cpus = core_budget()
    out = []
    for name, ticks in gate_steal.items():
        wall = timings.get(name, 0.0)
        if wall > 1.0 and ticks > 500 and ticks > 0.10 * cpus * 100 * wall:
            out.append(name)
    return sorted(out)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from python_sql_datawarehouse_project_spark.session import build_session

    spark = build_session(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    from python_sql_datawarehouse_project_spark import registry

    queries = registry.queries()

    timings: dict[str, float] = {}
    # Warm the JVM, the Python/Arrow worker pool and every table's
    # parquet footer + page cache once, so per-query numbers measure
    # execution, not first-touch initialization.
    from python_sql_datawarehouse_project_spark.catalog import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).write.format("noop").mode("overwrite").save()
    next(iter(queries.values()))(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    # Calibrate AFTER the warm-up block: measured cold (right after
    # session build) the probes carry first-noop-commit + codegen
    # compile noise and swing 3x between sessions; hot they anchor.
    # A second calibration after the gate loop brackets the run —
    # this box has shown contiguous multi-minute sick windows (one
    # alphabetical span of gates 5-24x slow while the rest measured
    # 0.97x), and start/end anchors make that diagnosable from the
    # JSON alone.  The noisy-host GATE: when the start probe exceeds
    # the trailing-median band, warn and re-measure once (sick windows
    # are transient); if still over, the run proceeds but the JSON is
    # stamped noisy_host so the close artifact carries its own health
    # certificate instead of needing cross-run forensics.
    band = _trailing_probe_band()
    calib = _host_calibration(spark)
    if _over_band(calib, band):
        print(
            f"bench: start calibration {calib} exceeds {NOISY_FACTOR}x "
            f"trailing-median band {band}; re-measuring once",
            file=sys.stderr,
        )
        time.sleep(5)
        retry = _host_calibration(spark)
        calib = {k: min(calib[k], retry[k]) for k in calib}
    noisy_reasons = [f"start_{k}" for k in _over_band(calib, band)]

    # In-loop probe: one 0.1-0.2 s cpu-probe sample every PROBE_EVERY
    # gates.  The bracketing calibrations miss mid-run sick windows
    # (observed: a contiguous alphabetical span of gates 5-24x slow
    # while start/end probes both measured healthy); the timeline
    # localizes them to a gate range — and `suspect_gates` (below)
    # names the bracketed gates — so a reviewer discounts that span
    # instead of the whole run.  Every 10 gates ≈ 20 probes ≈ 4 s of
    # overhead on a ~270 s run, bought back the first time a heavy
    # gate's +170% is correctly attributed to the box.
    PROBE_EVERY = 10

    def _probe() -> float:
        t0 = time.perf_counter()
        spark.range(0, 50_000_000, 1, 32).selectExpr(
            "sum(xxhash64(id)) AS h"
        ).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    def _steal_ticks() -> int:
        """Cumulative hypervisor-steal ticks (field 8 of /proc/stat's
        aggregate cpu line).  Zero-cost per-gate bracketing for the
        noise class the interleaved probes MISS: a steal storm shorter
        than the 10-gate probe gap inflates exactly one gate 10-45x
        while every bracketing probe measures healthy (observed twice
        on this box: sim7 57.7 s with a 0.203 s probe two gates later;
        sim2 68.3 s in the very next run, both ~1.5-6 s re-measured at
        idle).  On bare metal the field is absent -> 0 -> attribution
        silently off."""
        try:
            with open("/proc/stat") as f:
                parts = f.readline().split()
            return int(parts[8]) if len(parts) > 8 else 0
        except (OSError, ValueError, IndexError):
            return 0

    total = 0.0
    calib_timeline: list[list] = []  # [gate_name, probe_sec, gate_index]
    gate_steal: dict[str, int] = {}  # gate -> stolen ticks during it
    sorted_names = sorted(queries)
    for i, name in enumerate(sorted_names):
        if i % PROBE_EVERY == 0:
            calib_timeline.append([name, _probe(), i])
        s0 = _steal_ticks()
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        timings[name] = round(dt, 3)
        total += dt
        steal = _steal_ticks() - s0
        if steal:
            gate_steal[name] = steal
    # trailing sentinel: the last block needs a probe on BOTH sides
    calib_timeline.append(["__end__", _probe(), len(sorted_names)])
    suspect_gates = _suspect_gates(sorted_names, calib_timeline)
    steal_suspects = _steal_suspects(timings, gate_steal)
    suspect_gates = sorted(set(suspect_gates) | set(steal_suspects))

    # Steal re-measure policy (VERDICT r10 #4): a steal-flagged gate's
    # number is known-corrupted (observed 10-45x inflations), so re-run
    # exactly those gates ONCE at end-of-run and report BOTH samples.
    # ADDITIVE only: `queries`/`value` keep the original single-shot
    # methodology (cross-round comparability), `gate_steal_ticks` keeps
    # the original storm evidence, and `steal_retry` carries the second
    # sample with its own steal delta so a reader can see whether the
    # retry itself was clean.
    steal_retry: dict[str, dict] = {}
    for name in steal_suspects:
        s0 = _steal_ticks()
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        steal_retry[name] = {
            "sec": round(time.perf_counter() - t0, 3),
            "steal_ticks": _steal_ticks() - s0,
        }

    end_calib = _host_calibration(spark)
    noisy_reasons += [f"end_{k}" for k in _over_band(end_calib, band)]
    # In-run sick window: the timeline probes are all the same fixed
    # job, so an outlier sample brackets a mid-run degradation the
    # start/end anchors missed.  Criterion is deliberately coarser
    # than the bracketing one: single unwarmed ~0.2 s probes jitter
    # 1.5-2x on a healthy box (measured 0.211-0.377 s on the idle r7
    # close run), while the real catches were 3.7-24x — so flag only
    # a >3x-median outlier that is also >1 s absolute.
    import statistics

    probe_vals = [p for _, p, _ in calib_timeline]
    if probe_vals:
        med = statistics.median(probe_vals)
        if max(probe_vals) > 3 * med and max(probe_vals) > 1.0:
            noisy_reasons.append(
                f"timeline_outlier_{med}_{max(probe_vals)}"
            )
    calib = {
        **{f"start_{k}": v for k, v in calib.items()},
        **{f"end_{k}": v for k, v in end_calib.items()},
    }
    _warn_regressions(timings)
    _record_history(timings, sf, calib, noisy_reasons, steal_retry)

    print(
        json.dumps(
            {
                "metric": "total_query_wall_seconds",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "host_calibration": calib,
                "calib_band": band,
                "noisy_host": bool(noisy_reasons),
                "noisy_host_reasons": noisy_reasons,
                "calib_timeline": calib_timeline,
                "suspect_gates": suspect_gates,
                "gate_steal_ticks": gate_steal,
                "steal_suspect_gates": steal_suspects,
                "steal_retry": steal_retry,
            }
        )
    )


_HISTORY = "BENCH_HISTORY.json"


def _record_history(
    timings: dict[str, float],
    sf,
    calib: dict | None = None,
    noisy_reasons: list[str] | None = None,
    steal_retry: dict[str, dict] | None = None,
) -> None:
    """Append this run's per-query timings to BENCH_HISTORY.json (a
    list of runs, newest last).  The driver's BENCH_r*.json wrappers
    truncate stdout and may drop the queries map, so the repo keeps
    its own per-query record for cross-round comparison."""
    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(here, _HISTORY)
    try:
        with open(path) as f:
            hist = json.load(f)
    except (OSError, ValueError):
        hist = []
    entry: dict = {"sf": sf, "queries": timings}
    if calib:
        entry["host_calibration"] = calib
    if noisy_reasons:
        entry["noisy_host_reasons"] = noisy_reasons
    if steal_retry:
        entry["steal_retry"] = steal_retry
    hist.append(entry)
    hist = hist[-20:]  # bounded
    try:
        with open(path, "w") as f:
            json.dump(hist, f, indent=1)
    except OSError:
        pass


def _warn_regressions(timings: dict[str, float], factor: float = 1.5) -> None:
    """Compare per-query times against the newest prior record —
    BENCH_HISTORY.json (repo-kept, always has the queries map) or a
    driver BENCH_r*.json — and warn (stderr, never the JSON line) on
    >factor slowdowns.  Warn-only: single-sample local numbers swing
    up to ~2x with box noise (PERF.md)."""
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    old: dict[str, float] = {}
    src = _HISTORY
    try:
        with open(os.path.join(here, _HISTORY)) as f:
            hist = json.load(f)
        if hist:
            old = hist[-1].get("queries", {})
    except (OSError, ValueError):
        pass
    if not old:
        prior = sorted(glob.glob(os.path.join(here, "BENCH_r*.json")))
        if not prior:
            return
        src = os.path.basename(prior[-1])
        try:
            with open(prior[-1]) as f:
                old = json.load(f).get("queries", {})
        except (OSError, ValueError):
            return
    for name, t in sorted(timings.items()):
        ref = old.get(name)
        if ref and ref > 0.05 and t > factor * ref:
            print(
                f"bench: REGRESSION {name}: {t:.3f}s vs {ref:.3f}s "
                f"in {src} ({t / ref:.2f}x)",
                file=sys.stderr,
            )


if __name__ == "__main__":
    main()
