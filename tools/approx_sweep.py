"""Mechanical sf0.1 sweep of the approximate/hash-family queries.

Both r11 knee bugs (md5-LSH banded above the fixture floor, SimHash
radius past its pigeonhole guarantee) were INVISIBLE at the driver's
sf0.01 gate and only surfaced at sf0.1 — and the sweep that caught them
was run by hand. This tool makes that sweep part of round-close (r11
verdict #4):

- the family is selected MECHANICALLY: by tag (any registered query
  tagged approx / approx-exactly-checked / lsh / minhash / simhash /
  sketch / bloom / cms) PLUS any query whose oracle SQL uses the
  saturating integer-grid quantizer (detected by its FLOOR(LEAST(
  GREATEST pattern) — r12 added the second class after this sweep
  caught a float32 half-up boundary divergence in a grid oracle
  (q_embedding_dim_profile) that the sf0.01 gate could not see. New
  operators join the sweep at registration, not by memory;
- results go to tools/approx_sweep.json together with each family
  query's fingerprint (query_fingerprint) at sweep time;
- tests/test_recall_gate.py fails the suite when the artifact is
  missing, not green, or stale (any family query's live fingerprint
  differs from the one recorded at sweep time — i.e. the operator
  changed after its last sf0.1 sweep).

Re-run it whenever a family query changes:

    python tools/approx_sweep.py [--sf-dir /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import hashlib
import inspect
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ARTIFACT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "approx_sweep.json")
FAMILY_TAGS = {
    "approx",
    "approx-exactly-checked",
    "lsh",
    "minhash",
    "simhash",
    "sketch",
    "bloom",
    "cms",
}


# Structural signatures of oracles that fold floats through an
# engine-sensitive grid — exactly the class where a float32 boundary
# component can diverge cross-engine and only at higher SFs (r12 find):
#  - sat_quantize_sql: FLOOR(LEAST(GREATEST(... integer grid
#  - stable_round_sql: TRY_CAST(... AS REAL) float32 snap past the sane
#    region (r13 advisor: q_embedding_centroid_health was excluded from
#    the sweep because only the sat pattern was matched)
GRID_ORACLE_PATTERNS = ("FLOOR(LEAST(GREATEST", "AS REAL), CASE WHEN")


def query_fingerprint(spec) -> str:
    """sha256 over the query fn's source text + oracle SQL (or '-')."""
    src = inspect.getsource(spec.fn)
    return hashlib.sha256((src + "\x00" + (spec.oracle or "-")).encode()).hexdigest()


def family_queries() -> dict:
    from etl_pipeline_spark.queries.base import all_specs

    return {
        n: s
        for n, s in all_specs().items()
        if FAMILY_TAGS & set(s.tags)
        or (s.oracle and any(p in s.oracle for p in GRID_ORACLE_PATTERNS))
    }


def run_sweep(sf_dir: str) -> dict:
    from tools.check_oracle import check_query, open_oracle

    from etl_pipeline_spark.session import get_spark

    fam = family_queries()
    spark = get_spark("approx_sweep")
    con = open_oracle(sf_dir)
    results = {}
    for name in sorted(fam):
        r = check_query(spark, con, fam[name], sf_dir)
        results[name] = {**r, "fingerprint": query_fingerprint(fam[name])}
        print(f"{r['status']:<5} {name}: {r['rows']} rows [{r['secs']}s]"
              + (f" {r['detail']}" if r["status"] == "FAIL" else ""),
              flush=True)
    ok = sum(1 for r in results.values() if r["status"] == "ok")
    fail = sum(1 for r in results.values() if r["status"] == "FAIL")
    report = {
        "sf_dir": sf_dir,
        "n_family": len(fam),
        "n_ok": ok,
        "n_rows_only": len(fam) - ok - fail,
        "n_fail": fail,
        "all_ok": fail == 0,
        "results": results,
    }
    with open(ARTIFACT, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    print(f"\n{ok} ok, {report['n_rows_only']} rows-only, {fail} FAIL "
          f"-> {ARTIFACT}")
    return report


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()
    if not os.path.isdir(args.sf_dir):
        print(f"fixture dir {args.sf_dir} missing — sweep not run")
        return 2
    return 0 if run_sweep(args.sf_dir)["all_ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
