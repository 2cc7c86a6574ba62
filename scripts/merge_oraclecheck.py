"""Merge split oracle-check artifacts into one self-describing file.

An operational rerun (crash, deliberate kill, host contention) leaves
the sweep in N partial artifacts — the harness checkpoints after
every gate, so nothing re-runs, but the judge-facing file must be ONE
artifact whose __meta__ covers all segments.  Gate records are
disjoint by construction (each segment ran a disjoint --only set);
metas are kept per-segment under __meta__.segments with the union
counts recomputed.

Usage:
    python scripts/merge_oraclecheck.py OUT part1.json part2.json [...]
"""

from __future__ import annotations

import json
import sys


def main() -> None:
    out_path, *parts = sys.argv[1:]
    records: dict[str, dict] = {}
    segments = []
    for p in parts:
        with open(p) as f:
            d = json.load(f)
        meta = d.pop("__meta__")
        overlap = set(records) & set(d)
        if overlap:
            raise SystemExit(f"overlapping gate records: {sorted(overlap)}")
        records.update(d)
        segments.append({"file": p, **meta})
    hashed = sorted(
        {g for s in segments for g in s.get("hashed_gates", []) if g in records}
    )
    merged_meta = {
        "sf_dir": segments[0]["sf_dir"],
        "n_ok": sum(1 for r in records.values() if not r.get("err")),
        "n_total": len(records),
        "hashed_gates": hashed,
        "suspect_gates": sorted(
            {g for s in segments for g in s.get("suspect_gates", [])}
        ),
        "jvm_rebuilds": [g for s in segments for g in s.get("jvm_rebuilds", [])],
        "driver_mem": segments[-1].get("driver_mem"),
        "gc_summary": segments[-1].get("gc_summary"),
        "segments": segments,
        "note": (
            "merged artifact (scripts/merge_oraclecheck.py): per-segment "
            "metas under 'segments' carry each run's probe timeline / "
            "suspect_gates / gc digest; gate records are disjoint unions"
        ),
    }
    with open(out_path, "w") as f:
        json.dump({**records, "__meta__": merged_meta}, f, indent=1)
    print(
        f"merged {len(parts)} segments -> {out_path}: "
        f"{merged_meta['n_ok']}/{merged_meta['n_total']} OK"
    )


if __name__ == "__main__":
    main()
