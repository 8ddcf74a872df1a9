"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints one JSON line:
  {"metric": "headline_queries_wall_clock", "value": N, "unit": "sec",
   "queries": {...}, "scale_value": N, "scale_queries": {...},
   "pagerank_phases": {...}, "sf": ...}

Each query's figure is its best of two count() reps, after a full-table
warm-up. Raw wall times depend on the host; compare two checkouts with
interleaved runs on one host instead: ``tools/bench_ab_queries.py`` per
query, ``python3 perfbench/run.py`` for the benchmark of record.

Query set: the flagship scan-agg, the join-heavy TPC-H-style queries,
windows, and one of each extension family (dedup / text / similarity) —
the mix a 100 TB training-data pipeline would run. Expensive quadratic
diagnostics (pairwise jaccard) are excluded by design: their scale path
is MinHash-LSH, benchmarked separately.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "q01_pricing_summary",
    "q06_revenue_delta",
    "q03_order_revenue_topk",
    "q05_nation_revenue",
    "q_join_outer_order_counts",
    "q_join_semi_big_orders",
    "q_window_rank_orders",
    "q_window_tumbling_events",
    "q_etl_clean_cast_filter",
    "q_dedup_exact",
    "q_text_quality_score",
    "q_knn_bruteforce_cosine",
]

# Second reported group (round 3+): the scale-representative composites.
# Kept OUT of the frozen core set above so round-over-round deltas on
# "value" stay comparable; reported separately as scale_value/scale_queries.
SCALE_QUERIES = [
    "q_dedup_minhash_lsh",
    "q_training_data_prep",
    "q_lm_bigram_score",
    "q_knn_pq",
    # session-5 families: graph wedge join, hashed linear scoring
    "q_triangle_count",
    "q_hashed_linear_score",
    # session-6: iterative integer PageRank over the co-purchase graph
    "q_pagerank",
    # r8 session-2: Gopher repetition rules (map-side n-gram stream)
    "q_text_gopher_repetition",
    # r13: DOULION sampled census (exact + sampled wedge joins side by side)
    "q_triangle_census_sampled",
    # r14: WCC census (iterative min-label fixpoint + structural verdict)
    "q_connected_components",
]


def warm_tables(spark, sf_dir: str) -> None:
    """Warm the JVM, parquet footers AND the data pages: a full count()
    per table pulls every file through the OS page cache, so timed
    queries measure execution, not disk state. (limit(1) warmed only
    footers — measured r9: after another job's spill churn evicted the
    cache, the core set read 24.3 s vs 7.2 s one run later.)"""
    from etl_pipeline_spark.catalog import load_tables

    for df in load_tables(spark, sf_dir).values():
        df.count()


def time_queries(spark, sf_dir: str, names, reps: int) -> dict[str, list[float]]:
    """Wall seconds of each of ``reps`` count() runs per query.

    Reps run rep-major: every query's rep 1, then every query's rep 2.
    The JVM's JIT and codegen warm-up then falls in the first round, and
    a best-of-reps figure leaves it out for every query; in query-major
    order both reps of the first queries ran before the JVM was warm.

    count() forces full execution without driver-side row transfer.
    After every rep the session's RDD blocks are released, so no rep
    inherits the dead checkpoint blocks of earlier ones (r14: they
    accumulated against the heap the scale set runs in)."""
    from etl_pipeline_spark.queries.base import all_specs
    from etl_pipeline_spark.session import release_session_blocks

    specs = all_specs()
    timings: dict[str, list[float]] = {name: [] for name in names}
    for _ in range(reps):
        for name in names:
            t0 = time.perf_counter()
            specs[name].fn(spark, sf_dir).count()
            timings[name].append(round(time.perf_counter() - t0, 3))
            release_session_blocks(spark)
    return timings


def _pagerank_phases(spark, sf_dir: str) -> dict[str, float]:
    """Edge-build vs iterate attribution for q_pagerank (r8 judge
    finding #5): both best-of-two reps pay the full co-purchase edge
    build, so iteration-phase regressions hide inside it. Phase 1
    materializes the persisted edge frame; phase 2 runs the power
    iterations against the warm cache (the second pagerank_edges call
    plan-matches the cached frame, so no rebuild)."""
    from etl_pipeline_spark.catalog import load_tables
    from etl_pipeline_spark.queries.analytics_ml import (
        pagerank_edges,
        pagerank_ranks_lazy,
    )

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    t0 = time.perf_counter()
    edges = pagerank_edges(li)
    edges.count()
    t_edges = time.perf_counter() - t0
    out, edges2 = pagerank_ranks_lazy(li)
    t1 = time.perf_counter()
    out.count()
    t_iter = time.perf_counter() - t1
    edges2.unpersist()
    edges.unpersist()
    return {"edge_build": round(t_edges, 3), "iterate": round(t_iter, 3)}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from etl_pipeline_spark.session import get_spark

    spark = get_spark("bench")
    warm_tables(spark, sf_dir)

    def best_of_2(names: list[str]) -> dict[str, float]:
        return {n: min(r) for n, r in time_queries(spark, sf_dir, names, 2).items()}

    core = best_of_2(BENCH_QUERIES)
    scale = best_of_2(SCALE_QUERIES)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    print(json.dumps({
        "metric": "headline_queries_wall_clock",
        "value": round(sum(core.values()), 3),
        "unit": "sec",
        "queries": core,
        "scale_value": round(sum(scale.values()), 3),
        "scale_queries": scale,
        "pagerank_phases": _pagerank_phases(spark, sf_dir),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }))


if __name__ == "__main__":
    main()
