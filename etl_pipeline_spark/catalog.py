"""Table catalog: load the shared parquet fixtures as DataFrames/views.

The reference treats a SQL warehouse as its catalog (BigQuery datasets/
tables, airflow.py:57-101); here the catalog is Spark's own — parquet
scans registered as temp views so every operator can be expressed over
``spark.table(name)`` / SQL. Parquet scans get predicate pushdown and
column pruning from Catalyst for free.

Schema inference on a parquet path launches a Spark job that reads
footers, and every query function calls ``load_tables``. So the catalog
keeps, per local path, the inferred schema together with the file's
identity (inode, size and mtime of a file; name, size and mtime of each
entry of a flat directory) and the session's parquet inference confs.
While both still match, a later load passes that schema to the reader
and starts no job; when either differs the path is inferred again and
its entry overwritten. Only schemas are kept: every load builds a new
DataFrame with fresh attribute ids, and no data or result is cached.
Non-local URIs (``gs://``, ``s3a://``, ``hdfs://``) are always inferred.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The embeddings table's DECLARED ingest contract (TESTDATA.md: fixed
# dim-64 float vectors). q_dq_embedding_contract measures violations of
# it (NULL vectors, dimension drift); every downstream ANN / clustering
# consumer admits only conforming rows through `embedding_door` — a NULL
# or 70-dim vector must degrade one row, never kill a zip_with /
# list_dot_product over the other 100 TB.
EMB_DIM = 64

# DuckDB twin of the same door, for oracle SQL interpolation.
def emb_door_sql(col: str = "embedding") -> str:
    return f"({col} IS NOT NULL AND LEN({col}) = {EMB_DIM})"


EMB_DOOR_SQL = emb_door_sql()


def embedding_door(df: DataFrame, dim: int = EMB_DIM) -> DataFrame:
    """Admit only contract-conforming embedding rows (non-NULL, declared
    dimension). The drift rows this drops are exactly what
    q_dq_embedding_contract counts — consumers enforce the contract, the
    gate reports on it."""
    return df.filter(F.col("embedding").isNotNull() & (F.size("embedding") == dim))


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Session confs the engine's correctness depends on, applied defensively
# on every load: the harness may hand us a vanilla SparkSession (without
# session.py's settings), and both confs are runtime-settable.
# - nanosAsLong: events.parquet is TIMESTAMP(NANOS), unreadable otherwise
# - UTC timezone: timestamp formatting/arithmetic must match the oracle
_REQUIRED_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
}


def ensure_session_confs(spark: SparkSession) -> None:
    for k, v in _REQUIRED_CONFS.items():
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)


# Session confs that change the schema Spark infers from a parquet file.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

# path -> (file signature, inference confs, inferred schema); one entry
# per path, overwritten when its key no longer matches.
_SCHEMAS: dict[str, tuple[tuple, tuple, T.StructType]] = {}


def _file_signature(path: str) -> tuple | None:
    """Identity of a local parquet file or flat directory, or None when
    the path is a URI, cannot be stat-ed, or holds subdirectories."""
    if "://" in path:
        return None
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return (st.st_ino, st.st_size, st.st_mtime_ns)
        entries = []
        with os.scandir(path) as it:
            for e in it:
                if e.is_dir():
                    return None
                est = e.stat()
                entries.append((e.name, est.st_size, est.st_mtime_ns))
        return tuple(sorted(entries))
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, reusing the schema inferred for the
    same file version under the same inference confs."""
    sig = _file_signature(path)
    if sig is None:
        return spark.read.parquet(path)
    confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == sig and hit[1] == confs:
        return spark.read.schema(hit[2]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (sig, confs, df.schema)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Read each fixture table and register it as a temp view.

    Views make the SQL and DataFrame surfaces equivalent — the same
    Catalyst plan either way.

    Each local table's inferred schema is remembered, keyed by the file's
    identity and the session's parquet inference confs, so a repeat load
    of an unchanged file starts no Spark job; replacing the file or
    changing one of those confs makes the next load infer again. Each
    call still returns new DataFrames, and no data is cached.
    """
    ensure_session_confs(spark)
    out: dict[str, DataFrame] = {}
    for name in names:
        df = _read_parquet(spark, table_path(sf_dir, name))
        df = _normalize_timestamps(df)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def scan_bytes(df: DataFrame) -> int | None:
    """Total on-disk bytes of a file-backed DataFrame's source files,
    or None when the source is not file-backed (or sizes are not
    stat-able). Shared by the small-file parallelism guard below and
    the cost-based operator-path selections (e.g. the training
    pipeline's exact-vs-LSH near-dup prune)."""
    try:
        files = df.inputFiles()
        if not files:
            return None
        return sum(
            os.path.getsize(f[len("file:") :] if f.startswith("file:") else f)
            for f in files
        )
    except Exception:
        return None


def scan_parallel(df: DataFrame, spark: SparkSession, key: str = "doc_id") -> DataFrame:
    """Small-file parallelism guard for CPU-heavy per-row projections
    (shingling, hashing, tokenization): a test-SF fixture is often ONE
    parquet row-group, so the scan yields a single split and a 32-core
    session runs the whole projection in one task. When the scan's
    split count is well under the session parallelism, hash-repartition
    on `key` (deterministic — never round-robin, which would reorder
    float accumulations) so the expensive expressions above it
    parallelize. At production scale the scan already yields thousands
    of splits and this returns the input unchanged — the repartition
    cost (one shuffle of the raw rows) is only ever paid where the
    input is small enough for it to be trivial.

    The split estimate comes from source-file metadata (sum of file
    sizes vs maxPartitionBytes), not df.rdd.getNumPartitions() — the
    RDD conversion compiles the whole plan and costs ~0.3 s of driver
    time per call, which out-weighed the gain on sub-second queries.
    """
    target = spark.sparkContext.defaultParallelism
    total = scan_bytes(df)
    if total is None:
        return df
    try:
        n_files = len(df.inputFiles())
        raw = str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
        units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
        low = raw.lower().rstrip("b")
        if low and low[-1] in units:
            max_split = int(low[:-1]) * units[low[-1]]
        else:
            max_split = int(low)
    except Exception:
        return df
    est_splits = max(n_files, -(-total // max_split))
    if est_splits * 2 <= target:
        return df.repartition(target, key)
    return df


# Timestamp columns whose physical parquet encoding has varied across
# fixture generations; the engine contract is a plain session-UTC TIMESTAMP
# either way:
# - TIMESTAMP(NANOS) (pandas ns precision): with
#   spark.sql.legacy.parquet.nanosAsLong they arrive as long epoch-nanos;
#   integer-div by 1000 (``div`` — a double division would lose precision
#   at int64 magnitudes) restores a proper micros timestamp. The fixtures
#   carry no sub-microsecond components, so this is lossless.
# - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads it as
#   TIMESTAMP_NTZ, which unix_micros/watermarks reject; with the session
#   timezone pinned to UTC a cast to TIMESTAMP is a bit-identical
#   reinterpretation and matches DuckDB's naive read of the same files.
_TS_COLUMNS = {"ts"}


def _normalize_timestamps(df: DataFrame) -> DataFrame:
    for field in df.schema.fields:
        if field.name not in _TS_COLUMNS:
            continue
        if isinstance(field.dataType, T.LongType):
            df = df.withColumn(
                field.name, F.timestamp_micros(F.expr(f"{field.name} div 1000"))
            )
        elif isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast(T.TimestampType()))
    return df
