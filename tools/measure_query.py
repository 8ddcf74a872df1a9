"""Focused per-query measurement in one Spark session.

Warms the tables and times N count() reps per query with bench.py's own
``warm_tables`` / ``time_queries``, then adds one noop-sink rep (guide
§1.4 — full-column materialization, no driver transfer) and optionally
writes .explain("formatted") to a file. To compare two checkouts, run
``tools/bench_ab_queries.py``, which runs this tool in each of them.

Usage:
    python tools/measure_query.py q_pagerank q_connected_components \
        [--reps 3] [--no-noop] [--plans-dir plans/r14] [--suffix before]

Prints one JSON line per query:
    {"name": ..., "reps": [..], "min": .., "noop": ..}
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default=None)
    ap.add_argument("--no-noop", action="store_true")
    args = ap.parse_args()

    from bench import time_queries, warm_tables
    from etl_pipeline_spark.queries.base import all_specs
    from etl_pipeline_spark.session import get_spark, release_session_blocks

    spark = get_spark("measure")
    specs = all_specs()
    warm_tables(spark, args.sf_dir)

    for name in args.names:
        fn = specs[name].fn
        spark.sparkContext.setJobDescription(f"measure:{name}")
        reps = time_queries(spark, args.sf_dir, [name], args.reps)[name]
        noop = None
        if not args.no_noop:
            t0 = time.perf_counter()
            fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            noop = round(time.perf_counter() - t0, 3)
            release_session_blocks(spark)
        if args.plans_dir:
            suffix = f"_{args.suffix}" if args.suffix else ""
            path = os.path.join(args.plans_dir, f"{name}{suffix}.txt")
            with open(path, "w") as fh:
                fh.write(fn(spark, args.sf_dir)._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                ))
        spark.sparkContext.setJobDescription(None)
        print(json.dumps({"name": name, "reps": reps, "min": min(reps), "noop": noop}), flush=True)


if __name__ == "__main__":
    main()
