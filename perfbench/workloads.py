"""The three workloads. Each exposes the same steps, which run.py drives:

- ``make_inputs``: build the inputs from the seed (never timed);
- ``setup``: make the fresh session ready for work (timed as set-up);
- ``warm_up``: untimed work before the measured window; for the query
  workloads this is the oracle check of every query;
- ``prepare_pass`` / ``run_pass``: one closed-loop pass, timed;
- ``final_check``: correctness after the window (never timed).

Query lists are fixed here, not taken from bench.py, so a rewrite of
bench.py cannot change what this benchmark measures.
"""

from __future__ import annotations

import glob as globlib
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import check_oracle
import gen_covid
import gen_tables
from etl_pipeline_spark.catalog import TABLES, load_tables, table_path
from etl_pipeline_spark.pipelines import covid, orchestration
from etl_pipeline_spark.pipelines.orchestration import run_validated_ingest
from etl_pipeline_spark.quality import checks
from etl_pipeline_spark.queries.base import all_specs
from etl_pipeline_spark.session import release_session_blocks
from etl_pipeline_spark.sources import readers, sinks
from etl_pipeline_spark.sources.sinks import create_database_if_not_exists

# bench.py's BENCH_QUERIES as of this benchmark's definition.
ANALYTICS = (
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
)
CORPUS_PREP = (
    "q_tfidf_top_terms",
    "q_tfidf_nearest_docs",
    "q_bm25_top_terms",
    "q_dedup_minhash_lsh",
    "q_wordpiece_tokenize",
)
# Fixture scale and seed of the query workloads: their inputs are fixed,
# whatever --seed says (the seed drives only the ingest generator).
TABLES_SF = 0.02
TABLES_SEED = 42


@dataclass
class PassRecord:
    wall: float
    ok: bool
    ops: dict[str, float] = field(default_factory=dict)
    rows: int = 0
    extra: dict[str, float] = field(default_factory=dict)
    host: dict[str, float] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)


class QueryWorkload:
    """Build every query of a fixed list from the registry and run it
    into a ``noop`` sink, releasing session blocks after each."""

    WARMUP_PASSES = 1
    MIN_PASSES = 3

    def __init__(self, name: str, queries: tuple[str, ...], inputs: tuple[str, ...]):
        self.name, self.queries, self.inputs = name, queries, inputs
        self.specs = all_specs()

    def make_inputs(self, run_dir: str, seed: int) -> None:
        self.sf_dir = os.path.join(run_dir, "tables")
        gen_tables.write_tables(self.sf_dir, TABLES_SF, TABLES_SEED)
        self.rows_per_pass = sum(
            pq.read_metadata(table_path(self.sf_dir, t)).num_rows for t in self.inputs
        )

    def setup(self, spark) -> None:
        dfs = load_tables(spark, self.sf_dir)
        for t in self.inputs:
            dfs[t].count()

    def warm_up(self, spark, tracer) -> tuple[int, int, dict]:
        """Check every query against its DuckDB oracle. This first pass
        over the queries doubles as the warm-up."""
        con = check_oracle.open_oracle(self.sf_dir)
        out, failed = {}, 0
        try:
            for q in self.queries:
                r = check_oracle.check_query(spark, con, self.specs[q], self.sf_dir)
                release_session_blocks(spark)
                out[q] = {"status": r["status"], "rows": r["rows"], "secs": r["secs"]}
                if r["status"] != "ok":
                    failed += 1
                    out[q]["detail"] = r["detail"][:500]
        finally:
            con.close()
        # the noop-sink path the passes time is still cold after the
        # check (collect path); untimed passes take the steep part of the
        # warm-up slope out of the window
        warm = [self.run_pass(spark, tracer, -1) for _ in range(self.WARMUP_PASSES)]
        return len(self.queries) + len(warm), failed + sum(not w.ok for w in warm), {
            "oracle": out, "warmup_passes_s": [w.wall for w in warm],
        }

    def prepare_pass(self, i: int) -> None:
        pass

    def run_pass(self, spark, tracer, i: int) -> PassRecord:
        rec = PassRecord(wall=0.0, ok=True, rows=self.rows_per_pass)
        t_pass = time.perf_counter()
        for q in self.queries:
            t0 = time.perf_counter()
            try:
                with tracer.span("op", q):
                    with tracer.span("queries.build", q):
                        df = self.specs[q].fn(spark, self.sf_dir)
                    if tracer.active:
                        with tracer.span("spark.plan", q):
                            df._jdf.queryExecution().executedPlan()
                    with tracer.span("spark.run", q):
                        df.write.format("noop").mode("overwrite").save()
                    del df
                    release_session_blocks(spark)
            except Exception as exc:  # counted, and the pass is not timed
                rec.ok = False
                rec.errors.append(f"{q}: {type(exc).__name__}: {str(exc)[:300]}")
                release_session_blocks(spark)
            rec.ops[q] = time.perf_counter() - t0
        rec.wall = time.perf_counter() - t_pass
        return rec

    def final_check(self, spark) -> tuple[int, int, dict]:
        return 0, 0, {}


class IngestWorkload:
    """Land one seeded batch of covid-shaped CSV files per pass and run
    the validated ingest on it: file gate, PERMISSIVE CSV read,
    transform with quarantine, two table overwrites, audit append and
    count reconciliation."""

    name = "etl_ingest"
    BATCH_ROWS = 200_000  # chosen from measured runs; see README "Batch size"
    FILES = 4
    WARMUP_BATCHES = 5
    MIN_PASSES = 7
    DATABASE = "etl"

    def make_inputs(self, run_dir: str, seed: int) -> None:
        self.in_dir = os.path.join(run_dir, "landing")
        self.warehouse = os.path.join(run_dir, "warehouse")
        self.rng = np.random.default_rng(seed)
        self.n_batches = 0
        self.batch = self._land()

    def _land(self) -> gen_covid.Batch:
        path = os.path.join(self.in_dir, f"batch_{self.n_batches:04d}")
        self.n_batches += 1
        return gen_covid.write_batch(path, self.rng, self.BATCH_ROWS, self.FILES)

    def setup(self, spark) -> None:
        create_database_if_not_exists(spark, self.DATABASE)
        files = sorted(globlib.glob(self.batch.path_glob))
        spark.read.option("header", "true").csv(files).count()

    def warm_up(self, spark, tracer) -> tuple[int, int, dict]:
        walls, failed = [], 0
        for i in range(self.WARMUP_BATCHES):
            if i:
                self.prepare_pass(i)
            rec = self.run_pass(spark, tracer, i)
            walls.append(rec.wall)
            failed += not rec.ok
        return self.WARMUP_BATCHES, failed, {"warmup_batches_s": walls}

    def prepare_pass(self, i: int) -> None:
        self.batch = self._land()

    def _warehouse_files(self) -> set[str]:
        return {
            os.path.join(d, f) for d, _, fs in os.walk(self.warehouse) for f in fs
            if not f.startswith((".", "_"))
        }

    def run_pass(self, spark, tracer, i: int) -> PassRecord:
        b = self.batch
        before = self._warehouse_files() if tracer.active else set()
        rec = PassRecord(wall=0.0, ok=True, rows=b.rows)
        t0 = time.perf_counter()
        try:
            with tracer.span("op", os.path.basename(os.path.dirname(b.path_glob))):
                res = run_validated_ingest(spark, b.path_glob, database=self.DATABASE)
                release_session_blocks(spark)
        except Exception as exc:
            rec.wall = time.perf_counter() - t0
            rec.ok = False
            rec.errors.append(f"{type(exc).__name__}: {str(exc)[:300]}")
            release_session_blocks(spark)
            return rec
        rec.wall = time.perf_counter() - t0
        quarantined = sum(b.quarantined.values())
        rec.ok = (
            res.input_rows == b.rows
            and res.output_rows == b.clean
            and res.quarantined_rows == quarantined
            and res.parse_failures == b.malformed
            and res.output_rows + res.quarantined_rows + res.parse_failures == res.input_rows
        )
        if not rec.ok:
            rec.errors.append(f"reconciliation: got {res}, planted {b}")
        if tracer.active:
            rec.extra["sinks.files_written"] = float(len(self._warehouse_files() - before))
            rec.extra["pipelines.quarantine_frac"] = (
                (res.quarantined_rows + res.parse_failures) / res.input_rows
            )
        return rec

    def final_check(self, spark) -> tuple[int, int, dict]:
        """Read the loaded tables back: the last batch's clean and
        quarantine rows by reject reason, and one audit row per batch."""
        b, db = self.batch, self.DATABASE
        try:
            clean = spark.table(f"{db}.covid_clean").count()
            reasons = {
                r["reject_reason"]: r["count"]
                for r in spark.table(f"{db}.covid_quarantine").groupBy("reject_reason").count().collect()
            }
            audits = spark.table(f"{db}.covid_audit_log").count()
        except Exception as exc:  # e.g. no batch ever loaded the tables
            return 1, 1, {"readback": {"error": f"{type(exc).__name__}: {str(exc)[:300]}"}}
        ok = clean == b.clean and reasons == b.quarantined and audits == self.n_batches
        detail = {"clean": clean, "quarantine": reasons, "audit_rows": audits,
                  "planted_clean": b.clean, "planted_quarantine": b.quarantined,
                  "batches": self.n_batches}
        return 1, int(not ok), {"readback": detail}


def make(name: str):
    return {
        "analytics": lambda: QueryWorkload(name, ANALYTICS, TABLES),
        "corpus_prep": lambda: QueryWorkload(name, CORPUS_PREP, ("documents",)),
        "etl_ingest": IngestWorkload,
    }[name]()


def install_tracing(tracer) -> None:
    """Wrap the engine's public functions the workloads reach."""
    from etl_pipeline_spark import catalog, session

    def blocks(span, n):
        span.counts["blocks"] = float(n)

    tracer.patch(catalog, "load_tables", "catalog.load_tables")
    tracer.patch(session, "release_session_blocks", "session.release", blocks)
    tracer.patch(checks, "file_gate", "quality.file_gate")
    tracer.patch(readers, "read_csv_with_schema", "sources.read_csv")
    tracer.patch(sinks, "overwrite_table", "sinks.write")
    tracer.patch(sinks, "append_table", "sinks.write")
    tracer.patch(covid, "transform_covid", "pipelines.transform_covid")
    tracer.patch(covid, "run_covid_pipeline", "pipelines.run_covid_pipeline")
    tracer.patch(orchestration, "run_validated_ingest", "pipelines.run_validated_ingest")
