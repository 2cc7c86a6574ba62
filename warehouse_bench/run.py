"""Warehouse benchmark: one workload, one process, one JSON result.

Run from the repository root (Spark's Python workers import the
package from their working directory):

    python3 warehouse_bench/run.py --workload batch_load --seed 1 \\
        --seconds 15 --trace 0

Phases: generate every input from --seed (not timed); setup (JVM start,
`build_session`, a warm-up job, the workload's own warm-up), timed as
`setup_s`; a closed loop of ops for --seconds, finishing the round of
ops it is in (a workload's round is one op or a fixed deck of ops) and
running at least the workload's `min_ops`, at most its `max_ops`;
output checks; metrics.
The last stdout line is one JSON object with `correct`, `attempted`,
`failed` and `metrics`.  --trace 0 reports the end-to-end metrics;
--trace 1 wraps the layer entry points in spans and reports the
per-layer metrics instead, and writes every span to
.bench_out/trace-<workload>-seed<seed>.json.

Everything the run writes (warehouse, indexes, Spark local and
warehouse dirs, temp files) lives under .bench_work/ and is removed at
exit; nothing tracked is written.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.getcwd()
PKG = "python_sql_datawarehouse_project_spark"
# The driver heap, fixed at its maximum from the start (-Xms): a heap the
# JVM grows by GC timing moved peak_rss_mb by up to 30% from run to run.
# A smaller heap slows batch_load with GC.
HEAP = "1536m"


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # as /proc truncates them


def _stat_ticks(path: str) -> tuple[str, int, int]:
    """(name, parent pid, user + system ticks incl. reaped children)."""
    with open(path) as f:
        stat = f.read()
    fields = stat[stat.rindex(")") + 2 :].split()
    name = stat[stat.index("(") + 1 : stat.rindex(")")]
    return name, int(fields[1]), sum(int(x) for x in fields[11:15])


def _cpu_s() -> tuple[float, float]:
    """(CPU seconds, user + system, of this process and every process
    under it: the JVM, its Python workers and the children they have
    reaped; the part of them spent in the JVM's JIT compiler threads).
    Time the hypervisor steals from the machine is in neither."""
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                _, parent[int(d)], ticks[int(d)] = _stat_ticks(f"/proc/{d}/stat")
            except OSError:
                continue  # the process has just ended
    me, total, jit = os.getpid(), 0, 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p != me:
            continue
        total += t
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                name, _, tt = _stat_ticks(f"/proc/{pid}/task/{tid}/stat")
                if name in JIT_THREADS:
                    jit += tt
        except OSError:
            continue
    hz = os.sysconf("SC_CLK_TCK")
    return total / hz, jit / hz


def _hygiene(work: str) -> None:
    """Environment the package reads at import / JVM launch."""
    cores = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        cores = len(os.sched_getaffinity(0))
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (the launcher's too) keeps its temp files there, and
    # writes no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(
            f"error: no {PKG}/ in {ROOT}; run from the repository root",
            file=sys.stderr,
        )
        return 2
    sys.path[0] = ROOT  # the package root, not this script's directory
    from warehouse_bench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _hygiene(work)
    try:
        result = run(WORKLOADS[args.workload], args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there
    print(json.dumps(result))
    return 0


def run(workload_cls, args, work: str) -> dict:
    wl = workload_cls(args.seed, work)
    tg = time.perf_counter()
    wl.generate()

    t0 = time.perf_counter()
    from python_sql_datawarehouse_project_spark.session import build_session

    spark = build_session(
        app_name=f"warehouse-bench-{wl.name}",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # compiler threads that live as long as the JVM, so that
            # the CPU they spent never leaves the JIT count when one ends
            "spark.driver.extraJavaOptions": (
                f"-Xms{HEAP} -XX:-UseDynamicNumberOfCompilerThreads"
            ),
        },
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    t1 = time.perf_counter()
    spark.range(0, 100_000, 1, 4).selectExpr("sum(id)").collect()
    t2 = time.perf_counter()
    wl.setup(spark)
    setup_s = time.perf_counter() - t0

    tracer = collector = None
    if args.trace:
        from warehouse_bench.sparkstats import Collector
        from warehouse_bench.spans import Patch, Tracer

        collector = Collector(sc)
        collector.harvest()  # setup's jobs are not an op's
        tracer = Tracer(sc)
        patch = Patch()
        wl.trace_layers(tracer, patch)

    lat: list[float] = []
    cpu: list[float] = []  # CPU seconds per op, JIT compiler threads excluded
    jit: list[float] = []
    failed: set[int] = set()
    start = time.perf_counter()
    while len(lat) < wl.max_ops and (
        time.perf_counter() - start < args.seconds
        or len(lat) < wl.min_ops
        or len(lat) % wl.round_ops
    ):  # a started round of ops is finished
        i = len(lat)
        c0, j0 = _cpu_s()
        t = time.perf_counter()
        try:
            if tracer is not None:
                tracer.op = i
                with tracer.span("op"):
                    wl.op(i)
                tracer.op = None
            else:
                wl.op(i)
        except Exception:  # a failed op is counted, not fatal
            print(f"op {i} failed:\n{traceback.format_exc()}", file=sys.stderr)
            failed.add(i)
        lat.append(time.perf_counter() - t)
        c1, j1 = _cpu_s()
        cpu.append((c1 - c0) - (j1 - j0))
        jit.append(j1 - j0)
        if collector is not None:
            collector.harvest()  # between ops, outside their latency
    wall_s = sum(lat)
    n = len(lat)

    if tracer is not None:
        patch.undo()
    tc = time.perf_counter()
    setup_bad, per_op = wl.check(n)
    check_s = time.perf_counter() - tc
    for msg in setup_bad:
        print(f"setup check: {msg}", file=sys.stderr)
    for i, msgs in sorted(per_op.items()):
        for msg in msgs:
            print(f"op {i} check: {msg}", file=sys.stderr)
        if msgs:
            failed.add(i)

    if tracer is None:
        rss_kb = _vm_hwm_kb("self") + _vm_hwm_kb(
            sc._jvm.java.lang.ProcessHandle.current().pid()
        )
        metrics = {
            "setup_s": (setup_s, "s"),
            "rows_per_cpu_s": (wl.rows_per(cpu), "rows/cpu_s"),
            "peak_rss_mb": (rss_kb / 1024, "MB"),
        }
    else:
        metrics = traced_metrics(
            wl, tracer, collector, n, wall_s, sum(jit), t1 - t0, t2 - t1
        )
        _write_trace(wl, args.seed, tracer, collector)
    _stop(spark)

    print(
        f"{wl.name}: {n} ops ({len(failed)} failed), samples per metric: {n}; "
        f"generate {t0 - tg:.1f} s, setup {setup_s:.1f} s, "
        f"ops {wall_s:.1f} s, checks {check_s:.1f} s; "
        f"op p50 {statistics.median(lat):.3f} s; "
        f"rows_per_s (wall) {wl.rows_per(lat):.1f}; "
        f"CPU s in ops {sum(cpu):.1f} + JIT {sum(jit):.1f}; "
        f"op latencies (s): {' '.join(f'{x:.2f}' for x in lat)}",
        file=sys.stderr,
    )
    return {
        "correct": not setup_bad and not failed,
        "attempted": n,
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _stop(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for the JVM to exit
    (its Python workers end with it)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def traced_metrics(
    wl, tracer, collector, n, wall_s, jit_s, build_s, warmup_s
) -> dict:
    from warehouse_bench.layers import PER_LAYER, layer_metrics

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    extra = {
        "session.build_s": build_s,
        "session.warmup_s": warmup_s,
        "jvm.jit_cpu_s": jit_s / n,
        "trace.op_s": wall_s / n,
        "trace.overhead_s": tracer.overhead_s / n,
        "trace.overhead_frac": tracer.overhead_s / (wall_s - tracer.overhead_s),
        **wl.extra(),
    }
    values = layer_metrics(
        tracer.by_name(), tracer.counts, collector.total, n, wall_s, cores, extra
    )
    units = dict(PER_LAYER)
    return {k: (v, units[k]) for k, v in values.items()}


def _write_trace(wl, seed: int, tracer, collector) -> None:
    out = os.path.join(ROOT, ".bench_out")
    os.makedirs(out, exist_ok=True)
    by_name = tracer.by_name()
    layers = {
        name: {
            "n": d["n"],
            "total_s": d["total_s"],
            "self_s": d["self_s"],
            "spark": collector.total(set(d["groups"])),
        }
        for name, d in sorted(by_name.items())
    }
    spans = [
        [s.sid, s.name, s.parent, s.op, s.start, s.end] for s in tracer.spans
    ]
    with open(os.path.join(out, f"trace-{wl.name}-seed{seed}.json"), "w") as f:
        json.dump(
            {"layers": layers, "counts": tracer.counts,
             "spans": ["sid name parent op start end".split(), *spans]},
            f,
        )


if __name__ == "__main__":
    sys.exit(main())
