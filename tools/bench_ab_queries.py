"""Targeted interleaved A/B for INDIVIDUAL registry queries — HEAD vs a
pinned older checkout (r13 judge #2: settle the knn_pq / minhash-lsh
contended-window drift from BENCH_r12 with same-session alternating
reps instead of cross-round raw numbers).

Usage:
    git clone -q . /tmp/oldcode && git -C /tmp/oldcode checkout <commit>
    python tools/bench_ab_queries.py --old /tmp/oldcode \
        --queries q_knn_pq,q_dedup_minhash_lsh [--runs 3] [--out ab.json]

Each rep is a fresh subprocess (own JVM) that warms the tables, times
each query best-of-2, and brackets itself with the same multi-process
FNV canary bench.py uses. Reps alternate old,new,old,new,... so any
load drift hits both sides equally; the verdict compares per-side
MINIMA (the interleaved-minima protocol the r12 pagerank-drift
investigation validated: interleaved minima agreed to 0.5% while
same-side spread was 2.4x on this host class) and reports the medians
next to them. ``--out`` also writes the verdict with every raw rep to a
JSON file. Whole-benchmark parent-vs-change runs are perfbench's job
(``python3 perfbench/run.py --workload analytics``, once per checkout).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs inside each subprocess with cwd = the side's checkout; imports the
# SIDE's engine code. Kept self-contained so the old checkout needs no
# file from HEAD.
INNER = r"""
import json, os, sys, time
sys.path.insert(0, os.getcwd())
from etl_pipeline_spark.session import get_spark
from etl_pipeline_spark.catalog import load_tables
from etl_pipeline_spark.queries.base import all_specs

names = sys.argv[1].split(",")
sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark("ab_queries")
for df in load_tables(spark, sf).values():
    df.count()
specs = all_specs()


def mt_canary():
    import subprocess as sp
    code = ("h=0\n"
            "for i in range(10_000_000):\n"
            "    h=((h^i)*1099511628211)&0xFFFFFFFFFFFFFFFF\n")
    t0 = time.perf_counter()
    procs = [sp.Popen([sys.executable, "-c", code]) for _ in range(8)]
    for p in procs:
        p.wait()
    return round(time.perf_counter() - t0, 3)


c0 = mt_canary()
out = {}
for n in names:
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        specs[n].fn(spark, sf).count()
        best = min(best, time.perf_counter() - t0)
    out[n] = round(best, 3)
c1 = mt_canary()
print(json.dumps({"queries": out, "mt_begin": c0, "mt_end": c1,
                  "mt_canary_sec": min(c0, c1)}))
"""


def run_once(cwd: str, queries: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", INNER, queries],
        cwd=cwd,
        capture_output=True,
        text=True,
        env={**os.environ, "SPARK_GRAFT_SF_DIR": os.environ.get(
            "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")},
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3, help="reps per side")
    ap.add_argument("--old", required=True, help="older checkout path")
    ap.add_argument("--queries", required=True, help="comma-separated names")
    ap.add_argument("--out", default=None, help="also write the verdict JSON here")
    args = ap.parse_args()

    results: dict[str, list[dict]] = {"old": [], "new": []}
    for i in range(args.runs):
        for side, cwd in (("old", args.old), ("new", REPO)):
            r = run_once(cwd, args.queries)
            results[side].append(r)
            print(f"[{i + 1}/{args.runs}] {side}: {r['queries']} "
                  f"canary={r['mt_canary_sec']}", flush=True)

    names = args.queries.split(",")
    verdict: dict = {"runs_per_side": args.runs, "per_query": {}}
    for n in names:
        mins = {s: min(r["queries"][n] for r in results[s]) for s in results}
        meds = {s: statistics.median(r["queries"][n] for r in results[s]) for s in results}
        ratio = round(mins["new"] / max(mins["old"], 1e-9), 3)
        verdict["per_query"][n] = {
            "old_min": mins["old"],
            "new_min": mins["new"],
            "new_over_old": ratio,
            "old_median": meds["old"],
            "new_median": meds["new"],
            "old_all": [r["queries"][n] for r in results["old"]],
            "new_all": [r["queries"][n] for r in results["new"]],
        }
    verdict["canaries"] = {
        s: [r["mt_canary_sec"] for r in results[s]] for s in results
    }
    print(json.dumps({"ab_verdict": verdict}))
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"ab_verdict": verdict}, f, indent=1)


if __name__ == "__main__":
    main()
