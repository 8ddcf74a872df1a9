"""The catalog's parquet schema cache: a repeat load of an unchanged file
starts no Spark job, a replaced file or a changed inference conf is
inferred again, every load is a new DataFrame, and non-local URIs are
never cached. Also pins that building the headline analytics queries
starts no job once their tables are loaded, and that the Python workers
import the engine from any working directory."""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
from conftest import SF_SMOKE, jobs_started
from pyspark.sql import functions as F

from etl_pipeline_spark import catalog
from etl_pipeline_spark.catalog import load_tables, table_path
from etl_pipeline_spark.queries.base import all_specs

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# perfbench's ANALYTICS workload (bench.py's headline queries).
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


def write_table(sf_dir, name, table):
    path = table_path(str(sf_dir), name)
    pq.write_table(table, path + ".tmp")
    os.replace(path + ".tmp", path)


def test_repeat_load_starts_no_job(spark, tmp_path):
    write_table(tmp_path, "t", pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}))
    with jobs_started(spark) as first:
        s1 = load_tables(spark, str(tmp_path), ("t",))["t"].schema
    with jobs_started(spark) as second:
        df = load_tables(spark, str(tmp_path), ("t",))["t"]
    assert len(first) >= 1  # the uncached inference is a job
    assert second == []
    assert df.schema == s1
    assert sorted(df.collect()) == [(1, "a"), (2, "b"), (3, "c")]


def test_replaced_file_is_inferred_again(spark, tmp_path):
    write_table(tmp_path, "t", pa.table({"k": [1, 2]}))
    load_tables(spark, str(tmp_path), ("t",))
    write_table(tmp_path, "t", pa.table({"id": [7], "name": ["x"], "w": [0.5]}))
    df = load_tables(spark, str(tmp_path), ("t",))["t"]
    assert df.columns == ["id", "name", "w"]
    assert [tuple(r) for r in df.collect()] == [(7, "x", 0.5)]


def test_changed_inference_conf_is_inferred_again(spark, tmp_path):
    write_table(tmp_path, "t", pa.table({"b": pa.array([b"hi"], pa.binary())}))
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert load_tables(spark, str(tmp_path), ("t",))["t"].dtypes == [("b", "binary")]
        spark.conf.set(key, "true")
        with jobs_started(spark) as jobs:
            df = load_tables(spark, str(tmp_path), ("t",))["t"]
        assert len(jobs) >= 1
        assert df.dtypes == [("b", "string")]
        assert df.collect()[0]["b"] == "hi"
    finally:
        spark.conf.set(key, old)


def test_self_join_of_two_loads_is_not_trivial(spark, tmp_path):
    write_table(tmp_path, "t", pa.table({"k": [1, 2, 3], "v": [10, 20, 30]}))
    a = load_tables(spark, str(tmp_path), ("t",))["t"]
    b = load_tables(spark, str(tmp_path), ("t",))["t"].filter(F.col("k") >= 2)
    joined = a.join(b, a["k"] == b["k"]).select(a["k"], b["v"])
    assert sorted(joined.collect()) == [(2, 20), (3, 30)]


def test_non_local_uri_is_not_cached(spark, tmp_path):
    write_table(tmp_path, "t", pa.table({"k": [1]}))
    uri = "file://" + str(tmp_path)
    load_tables(spark, uri, ("t",))
    with jobs_started(spark) as jobs:
        df = load_tables(spark, uri, ("t",))["t"]
    assert len(jobs) >= 1
    assert df.collect()[0]["k"] == 1
    assert table_path(uri, "t") not in catalog._SCHEMAS
    for root in ("gs://bucket/sf", "s3a://bucket/sf", "hdfs://nn/sf"):
        assert catalog._file_signature(table_path(root, "t")) is None


def test_building_analytics_queries_starts_no_job(spark):
    load_tables(spark, SF_SMOKE)
    specs = all_specs()
    with jobs_started(spark) as jobs:
        for q in ANALYTICS:
            specs[q].fn(spark, SF_SMOKE)
    assert jobs == []


def test_pandas_udf_query_from_another_working_directory(tmp_path):
    script = (
        "import sys\n"
        f"sys.path.insert(0, {REPO_ROOT!r})\n"
        "from etl_pipeline_spark.queries.base import all_specs\n"
        "from etl_pipeline_spark.session import get_spark\n"
        "spark = get_spark('cwd-probe', shuffle_partitions=2)\n"
        f"n = all_specs()['q_wordpiece_tokenize'].fn(spark, {SF_SMOKE!r}).count()\n"
        "print('rows', n)\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ModuleNotFoundError" not in proc.stderr
    assert int(proc.stdout.split("rows")[-1]) > 0
