"""Dump formatted physical plans for the bench queries into PLANS.md —
the evidence behind the scale claims (pushdown reaching the scans,
broadcasts chosen for dimensions, TakeOrdered for top-k, AQE nodes).

    python tools/dump_plans.py
    python tools/dump_plans.py --out-dir plans/text --suffix after q_a q_b

With query names, each query is executed (collected) and its final
adaptive plan is written to ``<out-dir>/<name>_<suffix>.txt`` instead.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import BENCH_QUERIES, SCALE_QUERIES
from etl_pipeline_spark.queries.base import all_specs
from etl_pipeline_spark.session import get_spark

# Round-3 representatives beyond the bench set: plan evidence for the
# shuffle-free chunker, the single-exchange aggregate families, the
# pre-aggregated full-outer reconcile, and the sketch-merge rollup.
EXTRA_QUERIES = [
    "q_doc_chunking",
    "q_agg_regression",
    "q_join_full_outer_reconcile",
    "q_kll_quantile_merge",
    # round-4 session-2 representatives: broadcast bit-table screening,
    # shuffle-free ADC scoring, partial-top-k weighted sampling, and the
    # inverted-index sparse similarity join
    "q_bloom_decontaminate",
    "q_weighted_sample",
    "q_tfidf_nearest_docs",
    "q_dq_outlier_mad",
    # round-4 session-5 representatives: broadcast-centroid semantic
    # dedup, the binned (equi-join) interval join, the join-free windowed
    # attribution, oriented wedge-join triangles, and the heap-selected
    # association rules
    "q_semdedup_clusters",
    "q_interval_window_join",
    "q_attribution_last_touch",
    "q_triangle_count",
    "q_market_basket_rules",
    # session-5 late: O(n) change-point localization, sort+prefix-min
    # skyline (vs the quadratic NOT-EXISTS oracle)
    "q_changepoint_mean_shift",
    "q_skyline_parts",
    # session-6 representatives: grid-blocked DBSCAN equi-join, the
    # window-only Lindley balance, LOO target encoding (broadcast prior),
    # vocabulary-sized WordPiece UDF stage, iterative integer PageRank
    "q_dbscan_classify",
    "q_clamped_running_balance",
    "q_target_encoding",
    "q_wordpiece_tokenize",
    "q_pagerank",
    # closing wave: two-table grid spatial join, multi-pass blocked ER,
    # weighted DAG walk, staircase FIFO join
    "q_spatial_radius_join",
    "q_entity_resolution_fs",
    "q_bom_explosion",
    "q_fifo_allocation",
]


def formatted_plan(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def trim(plan: str, max_lines: int = 40) -> str:
    # keep the operator tree + the scan details; drop per-operator detail
    # sections beyond the scans
    lines = plan.splitlines()
    tree_end = next(
        (i for i, l in enumerate(lines) if l.startswith("(1) ")), len(lines)
    )
    tree = lines[:tree_end]
    scans = [
        l
        for l in lines[tree_end:]
        if re.search(r"PushedFilters|ReadSchema|Location.*parquet|^\(\d+\) Scan", l)
    ]
    out = tree[:max_lines] + ["", "-- scan details --"] + scans[:12]
    return "\n".join(out)


def dump_executed(spark, specs, names, sf: str, out_dir: str, suffix: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = specs[name].fn(spark, sf)
        df.collect()  # same Dataset => its formatted plan is the final one
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(formatted_plan(df))
        print(f"wrote {path}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--out-dir", default=os.path.join(REPO, "plans"))
    ap.add_argument("--suffix", default="after")
    args = ap.parse_args()
    spark = get_spark("plans")
    specs = all_specs()
    sf = "/root/testdata/sf0.1"
    if args.names:
        dump_executed(spark, specs, args.names, sf, args.out_dir, args.suffix)
        return
    parts = [
        "# PLANS — physical plans of the bench queries (sf0.1, local[32])",
        "",
        "Generated by `python tools/dump_plans.py`. What to look for:",
        "`PushedFilters`/`ReadSchema` prove scan-level pushdown and pruning;",
        "`BroadcastHashJoin ... BuildRight` proves dimension broadcasts;",
        "`TakeOrderedAndProject` proves heap-based top-k (no global sort);",
        "`AdaptiveSparkPlan` marks runtime re-planning (AQE).",
        "",
    ]
    # Iterative fixpoint queries run eager checkpoints while they are
    # built, so their final plan is a bare `Scan ExistingRDD`. Record
    # the plans the build executes and render the largest one that
    # shuffles: the per-round join/aggregate shape that repeats at scale
    # (the temp-view commands of the table loads shuffle nothing).
    from plan_audit import recorded_plans

    for name in BENCH_QUERIES + SCALE_QUERIES + EXTRA_QUERIES:
        with recorded_plans(spark) as built:
            df = specs[name].fn(spark, sf)
        parts += [f"## {name}", "", "```", trim(formatted_plan(df)), "```", ""]
        rounds = [p.toString() for p in built]
        rounds = [p for p in rounds if "Exchange" in p]
        if rounds:
            largest = max(rounds, key=lambda p: len(p.splitlines()))
            parts += [
                f"Largest of the {len(rounds)} shuffling plans its build executed:",
                "",
                "```",
                trim(largest),
                "```",
                "",
            ]
    # fold in the measured skew comparison (tools/skew_compare.py) so the
    # evidence survives PLANS.md regeneration
    skew = os.path.join(REPO, "SKEW_COMPARE.md")
    if os.path.exists(skew):
        with open(skew) as f:
            parts += [f.read()]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(parts))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
