"""Alternating A/B pairs of the warehouse benchmark from two checkouts.

Runs `python3 warehouse_bench/run.py --workload W --seed S --seconds N
--trace 0` in a parent checkout and a change checkout, one run at a
time, pair after pair: pair p uses seed --seed-start + p and runs the
parent first when p is even, the change first when p is odd.  Each run
records its end-to-end metrics, `failed`, `attempted`, wall seconds and
the machine's /proc/stat steal share over the run; a run that printed
no result line or reported `failed` > 0 also keeps the end of its
stderr, where the benchmark prints its failed checks.  The JSON file is
rewritten after every run, so an interrupted set keeps what it ran.

    python3 scripts/ab_pairs.py --parent ../parent --change . \\
        --workload query_mix --pairs 10 --out BENCH_AB_x.json

For each workload and end-to-end metric of BENCHMARK.json the summary
gives each side's median and quartiles, the change's relative
difference, the pairs the change won out of every pair run (a tie, or
a pair where either side printed no value, is not a win) and the
parent's own spread, with a verdict:
  runs_failed   some run of the workload exited non-zero, printed no
                result line or reported `failed` > 0; this verdict
                goes to every metric of the workload;
  gain          the change won at least 9 of 10 pairs and the medians
                differ, in its favour, by more than the parent's
                interquartile distance;
  regression    the change's median is worse by more than the bound;
  unresolved    within the bound, but the parent's own max-min spread
                exceeds the bound and not every change run beats every
                parent run;
  within bound  otherwise.
Both checkouts should be clean trees of their commits (e.g. made with
`git archive`); the benchmark code itself is taken from each.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cpu_jiffies() -> tuple[int, int]:
    """(all, steal) jiffies of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    cmd = [
        sys.executable, "warehouse_bench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    total0, steal0 = _cpu_jiffies()
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    wall = time.perf_counter() - t0
    total1, steal1 = _cpu_jiffies()
    row = {
        "wall": round(wall, 1),
        "steal": round((steal1 - steal0) / max(total1 - total0, 1), 4),
        "rc": proc.returncode,
    }
    try:
        result = json.loads(proc.stdout.strip().splitlines()[-1])
    except (IndexError, json.JSONDecodeError):
        row["stderr_tail"] = proc.stderr[-2000:]
        return row
    if result["failed"]:
        # keep the `setup check:`, `op N check:` and `op N failed:` lines
        row["stderr_tail"] = proc.stderr[-2000:]
    row["failed"] = result["failed"]
    row["attempted"] = result["attempted"]
    row.update({k: m["value"] for k, m in result["metrics"].items()})
    return row


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def _run_failed(r: dict) -> bool:
    """Non-zero exit, no result line, or a failed operation."""
    return r["rc"] != 0 or "failed" not in r or r["failed"] > 0


def summarize(runs: list[dict], metrics: list[dict]) -> dict:
    """Per metric: medians, quartiles, pair wins, spread and verdict."""
    out = {"failed": [r.get("failed") for r in runs]}
    # a pair counts once both of its runs exist, whatever they printed
    ran = [
        p for p in sorted({r["pair"] for r in runs})
        if {r["side"] for r in runs if r["pair"] == p} == {"parent", "change"}
    ]
    if not ran:
        return out
    any_failed = any(_run_failed(r) for r in runs)
    for m in metrics:
        name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
        side = {
            s: {r["pair"]: r[name] for r in runs if r["side"] == s and name in r}
            for s in ("parent", "change")
        }
        par = [side["parent"][p] for p in ran if p in side["parent"]]
        chg = [side["change"][p] for p in ran if p in side["change"]]
        if not par or not chg:
            out[name] = {"bound": bound, "verdict": "runs_failed"}
            continue
        pq1, pmed, pq3 = _quartiles(par)
        cq1, cmed, cq3 = _quartiles(chg)
        sign = -1 if lower else 1  # positive = the change is better
        rel = (cmed - pmed) / pmed
        wins = sum(
            p in side["parent"] and p in side["change"]
            and sign * (side["change"][p] - side["parent"][p]) > 0
            for p in ran
        )
        spread = (max(par) - min(par)) / pmed
        dominates = (max(chg) < min(par)) if lower else (min(chg) > max(par))
        if any_failed:
            verdict = "runs_failed"
        elif wins >= 0.9 * len(ran) and sign * (cmed - pmed) > pq3 - pq1:
            verdict = "gain"
        elif -sign * rel > bound:
            verdict = "regression"
        elif spread > bound and not dominates:
            verdict = "unresolved"
        else:
            verdict = "within bound"
        out[name] = {
            "parent_median": round(pmed, 3),
            "parent_q1": round(pq1, 3),
            "parent_q3": round(pq3, 3),
            "change_median": round(cmed, 3),
            "change_q1": round(cq1, 3),
            "change_q3": round(cq3, 3),
            "change_vs_parent": round(rel, 4),
            "bound": bound,
            "change_better_pairs": f"{wins}/{len(ran)}",
            "parent_spread_maxmin": round(spread, 3),
            "parent_iqr_rel": round((pq3 - pq1) / pmed, 3),
            "verdict": verdict,
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="parent commit's checkout")
    ap.add_argument("--change", required=True, help="change's checkout")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed-start", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--out", required=True, help="BENCH_AB_*.json to write")
    ap.add_argument("--what", default="", help="description stored in the file")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    doc = {"what": args.what, "runs": {}, "summary": {}}
    for w in args.workload:
        runs = doc["runs"][w] = []
        for p in range(args.pairs):
            seed = args.seed_start + p
            order = ("parent", "change") if p % 2 == 0 else ("change", "parent")
            for s in order:
                row = run_once(getattr(args, s), w, seed, args.seconds)
                runs.append({"pair": p, "side": s, "seed": seed, "first": order[0], **row})
                print(json.dumps(runs[-1]), file=sys.stderr, flush=True)
                doc["summary"][w] = summarize(runs, metrics)
                with open(args.out, "w") as f:
                    json.dump(doc, f, indent=1)
    for w, summary in doc["summary"].items():
        print(f"{w}: failed per run {summary['failed']}")
        for name, s in summary.items():
            if name == "failed":
                continue
            if "parent_median" not in s:
                print(f"  {name}: -> {s['verdict']}")
                continue
            print(
                f"  {name}: parent {s['parent_median']} "
                f"[{s['parent_q1']}, {s['parent_q3']}]  change "
                f"{s['change_median']} [{s['change_q1']}, {s['change_q3']}]  "
                f"{s['change_vs_parent']:+.1%}  wins {s['change_better_pairs']}  "
                f"parent spread {s['parent_spread_maxmin']}  -> {s['verdict']}"
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())
