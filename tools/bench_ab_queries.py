"""Targeted interleaved A/B for INDIVIDUAL registry queries — HEAD vs a
pinned older checkout, with same-host alternating reps instead of
cross-round raw numbers.

Usage:
    git clone -q . /tmp/oldcode && git -C /tmp/oldcode checkout <commit>
    python tools/bench_ab_queries.py --old /tmp/oldcode \
        --queries q_knn_pq,q_dedup_minhash_lsh [--runs 3] [--out ab.json]

Each rep runs the side's OWN ``tools/measure_query.py --reps 2
--no-noop`` in a fresh subprocess (own JVM, cwd = that checkout), so
each side warms the tables and times each query best-of-2 with its own
code, and the old checkout needs no file from HEAD. Both sides read
$SPARK_GRAFT_SF_DIR, or measure_query.py's default when it is unset.
Reps alternate old,new,old,new,... so any load drift hits both sides
equally; the verdict compares per-side MINIMA (the interleaved-minima
protocol the r12 pagerank-drift investigation validated: interleaved
minima agreed to 0.5% while same-side spread was 2.4x on this host
class) and reports the medians next to them. ``--out`` also writes the
verdict with every raw rep to a JSON file. Whole-benchmark
parent-vs-change runs are perfbench's job (``python3 perfbench/run.py
--workload analytics``, once per checkout).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(cwd: str, names: list[str]) -> dict[str, float]:
    """Best-of-2 seconds per query from one run of ``cwd``'s own
    measure_query.py."""
    out = subprocess.run(
        [sys.executable, "tools/measure_query.py", *names, "--reps", "2", "--no-noop"],
        cwd=cwd,
        capture_output=True,
        text=True,
        check=True,
    )
    rows = [json.loads(line) for line in out.stdout.splitlines() if line.startswith("{")]
    return {r["name"]: r["min"] for r in rows}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3, help="reps per side")
    ap.add_argument("--old", required=True, help="older checkout path")
    ap.add_argument("--queries", required=True, help="comma-separated names")
    ap.add_argument("--out", default=None, help="also write the verdict JSON here")
    args = ap.parse_args()

    names = args.queries.split(",")
    results: dict[str, list[dict[str, float]]] = {"old": [], "new": []}
    for i in range(args.runs):
        for side, cwd in (("old", args.old), ("new", REPO)):
            r = run_once(cwd, names)
            results[side].append(r)
            print(f"[{i + 1}/{args.runs}] {side}: {r}", flush=True)

    verdict: dict = {"runs_per_side": args.runs, "per_query": {}}
    for n in names:
        mins = {s: min(r[n] for r in results[s]) for s in results}
        meds = {s: statistics.median(r[n] for r in results[s]) for s in results}
        verdict["per_query"][n] = {
            "old_min": mins["old"],
            "new_min": mins["new"],
            "new_over_old": round(mins["new"] / max(mins["old"], 1e-9), 3),
            "old_median": meds["old"],
            "new_median": meds["new"],
            "old_all": [r[n] for r in results["old"]],
            "new_all": [r[n] for r in results["new"]],
        }
    print(json.dumps({"ab_verdict": verdict}))
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"ab_verdict": verdict}, f, indent=1)


if __name__ == "__main__":
    main()
