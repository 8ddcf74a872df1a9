"""AQE skew-join vs manual salting — measured comparison (r4, VERDICT #3).

Builds an extreme single-key skew case from the events fixture (90% of
rows share one synthetic key, each row carrying a 128-char payload so
shuffle bytes are real), materializes both sides to parquet ONCE (so the
timings measure the join, not row generation), then joins four ways:

  A. sort-merge join, AQE skew-split ON (engine default)
  B. sort-merge join, AQE skew-split OFF (the unmitigated baseline)
  C. salted_join (operators/skew.py), AQE skew-split OFF
  D. broadcast join allowed (the engine's actual default plan shape)

The consumer aggregates over the payload column — a count()-only consumer
lets Catalyst prune the payload out of the join and the skew disappears
with it (observed: the first draft of this tool measured exactly that).

Writes SKEW_COMPARE.md; tools/dump_plans.py folds it into PLANS.md so the
evidence survives plan regeneration.

Run: python tools/skew_compare.py [sf_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from etl_pipeline_spark.catalog import load_tables
from etl_pipeline_spark.operators.skew import hybrid_skew_join, salted_join
from etl_pipeline_spark.session import get_spark

INFLATE = 20
N_SALTS = 8
SCRATCH = f"{REPO}/.scratch/skew_compare"

# AQE's skew detector defaults to 256 MB partitions — far above any local
# fixture. These thresholds scale the detector to the test data; a real
# cluster keeps the defaults.
SKEW_CONFS = {
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512k",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
}


def materialize_sides(spark, sf_dir):
    """Big side: events x INFLATE, 90% of rows on key 'hot', 128 chars of
    hash payload per row. Dimension: one row per key. Written to scratch
    parquet so every variant times the same physical inputs."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    big = (
        events.crossJoin(spark.range(INFLATE).select(F.col("id").alias("rep")))
        .withColumn(
            "skew_key",
            F.when(F.col("event_id") % 10 != 0, F.lit("hot")).otherwise(F.col("event_type")),
        )
        .withColumn(
            "payload",
            F.concat(*[F.md5(F.concat_ws("-", "event_id", "rep", F.lit(j))) for j in range(4)]),
        )
        .select("skew_key", "event_id", "rep", "payload")
    )
    big.write.mode("overwrite").parquet(f"{SCRATCH}/big")
    big_r = spark.read.parquet(f"{SCRATCH}/big")
    big_r.select("skew_key").distinct().withColumn(
        "dim_payload", F.md5("skew_key")
    ).write.mode("overwrite").parquet(f"{SCRATCH}/dim")
    return big_r, spark.read.parquet(f"{SCRATCH}/dim")


def run_variant(spark, big, dim, label, skew_on, use_salt, allow_broadcast, use_hybrid=False):
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", str(skew_on).lower())
    spark.conf.set(
        "spark.sql.autoBroadcastJoinThreshold", "64m" if allow_broadcast else "-1"
    )
    for k, v in SKEW_CONFS.items():
        spark.conf.set(k, v)
    best, plan, rows = float("inf"), "", 0
    for _ in range(3):  # best-of-3: shared-host noise
        if use_hybrid:
            joined = hybrid_skew_join(big, dim, "skew_key", hot_threshold=100_000)
        elif use_salt:
            joined = salted_join(big, dim, "skew_key", n_salts=N_SALTS)
        else:
            joined = big.join(dim, "skew_key")
        # aggregate over payload so the join carries the wide column
        out = joined.select(
            F.count(F.lit(1)).alias("n"), F.sum(F.length("payload")).alias("b")
        )
        t0 = time.perf_counter()
        rows = out.collect()[0]["n"]
        best = min(best, time.perf_counter() - t0)
        plan = out._jdf.queryExecution().executedPlan().toString()
    return {"label": label, "sec": round(best, 2), "rows": rows, "plan": plan}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("skew_compare")
    big, dim = materialize_sides(spark, sf_dir)
    results = [
        run_variant(spark, big, dim, "A: SMJ + AQE skew-split ON", True, False, False),
        run_variant(spark, big, dim, "B: SMJ, skew-split OFF (unmitigated)", False, False, False),
        run_variant(spark, big, dim, "C: salted_join (8 salts), skew-split OFF", False, True, False),
        run_variant(spark, big, dim, "C2: hybrid_skew_join (hot keys broadcast), skew-split OFF", False, False, False, use_hybrid=True),
        run_variant(spark, big, dim, "D: broadcast allowed (engine default)", True, False, True),
    ]
    a, b, c, c2, d = results
    assert len({r["rows"] for r in results}) == 1, "variant row counts differ"
    skew_marker = "skew=true" in a["plan"]

    def plan_snip(p, n=14):
        lines = [l for l in p.splitlines() if l.strip()][:n]
        return "\n".join(lines)

    md = [
        "## AQE skew-join vs manual salting (measured)",
        "",
        f"Generated by `python tools/skew_compare.py {sf_dir}`. Single-key skew:",
        f"events x{INFLATE} ({a['rows']:,} joined rows), 90% of rows on one join key,",
        "128-char payloads, inputs parquet-materialized once; dimension join with",
        "broadcast disabled to force the shuffle path (variants A-C). Best of 3.",
        "",
        "| variant | wall-clock (s) | plan evidence |",
        "|---|---|---|",
        f"| {a['label']} | {a['sec']} | SortMergeJoin `skew=true`: {skew_marker} |",
        f"| {b['label']} | {b['sec']} | hot partition on one reducer |",
        f"| {c['label']} | {c['sec']} | join on (key, salt), {N_SALTS}-way split |",
        f"| {c2['label']} | {c2['sec']} | hot slice broadcast: {'BroadcastHashJoin' in c2['plan']} |",
        f"| {d['label']} | {d['sec']} | BroadcastHashJoin: {'BroadcastHashJoin' in d['plan']} |",
        "",
        "**Reading**: with a broadcastable dimension the engine's default plan",
        "(D) sidesteps the skewed shuffle entirely — broadcast is the first-line",
        "fix and session.py keeps it on. When both sides are genuinely big (A-C),",
        "AQE's runtime skew split recovers most of the salting win with zero",
        "code, so `salted_join` stays the deterministic fallback for the cases",
        "AQE cannot split. Those cases are real and were hit empirically while",
        "building this comparison (each silently disables the split):",
        "",
        "- a consumer that doesn't read the wide column lets Catalyst prune it",
        "  out of the join — the skew disappears with it (this tool's first",
        "  draft measured exactly that);",
        "- OptimizeSkewedJoin pattern-matches SMJ(Sort(Shuffle),Sort(Shuffle)):",
        "  any operator between the Sort and the shuffle stage — e.g. the final",
        "  HashAggregate of a .distinct()-derived dimension — breaks the match.",
        "  Skewed joins whose inputs are aggregations keep needing salting;",
        "- the split unit is a per-mapper shuffle block, so a single-mapper",
        "  shuffle (small files coalesced by openCostInBytes) cannot split.",
        "",
        "AQE's 256 MB default detector threshold was scaled to the fixture",
        "(1m/512k/factor 2) — a cluster keeps the defaults.",
        "",
        "### Executed plan, variant A (AQE split)",
        "",
        "```",
        plan_snip(a["plan"]),
        "```",
        "",
        "### Executed plan, variant C (salted)",
        "",
        "```",
        plan_snip(c["plan"]),
        "```",
        "",
    ]
    with open(os.path.join(REPO, "SKEW_COMPARE.md"), "w") as f:
        f.write("\n".join(md))
    for r in results:
        print(f"{r['label']}: {r['sec']}s rows={r['rows']}")
    print(f"skew=true in A plan: {skew_marker}; wrote SKEW_COMPARE.md")
    shutil.rmtree(SCRATCH, ignore_errors=True)


if __name__ == "__main__":
    main()
