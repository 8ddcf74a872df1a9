"""SparkSession bootstrap tuned for the local test harness.

At cluster scale the same settings hold: AQE on (runtime re-planning,
skew-join splitting, partition coalescing), explicit shuffle-partition
sizing, Arrow enabled for the few Pandas-UDF code paths, UTC session
timezone so timestamp semantics match the oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Local cores the session runs on; unset means every CPU this process
# may use.
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
DEFAULT_SHUFFLE_PARTITIONS = CPUS

# Directory holding the etl_pipeline_spark package. Python workers get it
# on their path, so pandas UDFs import the engine whatever the working
# directory.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "etl_pipeline_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Settings chosen for scale-readiness, not just local runs:
    - AQE + skew-join handling: runtime re-plan is the first line of
      defense against skewed keys at 100 TB.
    - ``spark.sql.shuffle.partitions`` matched to available parallelism
      locally; a real cluster would size this to ~2-3x total cores (or
      rely on AQE coalescing from a high initial value).
    - Arrow enabled so the Pandas-UDF slow paths batch via Arrow.
    - UTC timezone: deterministic timestamp semantics across engines.
    - The package's parent directory on the Python workers' path, ahead
      of any ``spark.executorEnv.PYTHONPATH`` passed in ``extra_conf``.
    - PySpark's DataFrame call-site capture off
      (``spark.python.sql.dataFrameDebugging.enabled``). With it on,
      every ``functions.*`` and DataFrame call pays 3-4 extra py4j round
      trips and an ``import IPython`` attempt to record its Python call
      site; building bench.py's 12 headline queries took 1111 ms with
      it and 715 ms without (medians of 10 interleaved reps, 4 cores).
      Lost: the "was called from file:line" part of a DataFrame error's
      context. Error classes and messages are unchanged.
    """
    n = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    extra_conf = dict(extra_conf or {})
    worker_path = extra_conf.pop("spark.executorEnv.PYTHONPATH", "")
    builder = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Some fixture parquet files carry TIMESTAMP(NANOS) (pandas ns
        # precision), which Spark rejects by default; read them as long
        # nanos and let the catalog convert losslessly to micros.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(p for p in (_PACKAGE_ROOT, worker_path) if p),
        )
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_session_blocks(spark: SparkSession) -> int:
    """Unpersist every lingering RDD block (lazy localCheckpoints,
    persists) and clear the SQL cache. Returns the number of RDDs
    released.

    Why this exists (r7, measured): a long-lived session running many
    checkpoint-heavy queries back-to-back accumulates their lazily
    checkpointed blocks — the 14th sf10-scale document query in one
    8 GB JVM OOMed and poisoned the session (checkpoint blocks are NOT
    recomputable: `Block rdd_N does not exist` cascades), while every
    query passed in a fresh JVM. Batch runners (soaks, sweeps, fuzz
    harnesses) should call this between queries; a cluster deployment
    with per-job sessions never hits it, which is why it lives in the
    harness surface rather than inside the queries.

    PRECONDITION — no live references to prior query results. This
    unpersists EVERY persistent RDD, including the lazily
    localCheckpointed blocks of DataFrames a caller still holds;
    checkpoint blocks are NOT recomputable, so touching such a
    DataFrame afterwards fails with the same `Block rdd_N does not
    exist` cascade this function exists to prevent. Callers must drop
    (or fully consume into plain Python values) every DataFrame from
    earlier queries before calling — the soak harnesses hold only
    counts across calls, which is the model to follow.

    An empty map is checked with ``isEmpty()`` first: iterating a Java
    collection ends on a ``NoSuchElementException`` that PySpark converts
    through a chain of py4j ``is_instance_of`` calls, which made the
    common no-block call 17 ms instead of 0.3 ms."""
    persistent = spark.sparkContext._jsc.getPersistentRDDs()
    rdds = [] if persistent.isEmpty() else list(persistent.values())
    for rdd in rdds:
        rdd.unpersist()
    spark.catalog.clearCache()
    return len(rdds)


def local_frame(spark: SparkSession, columns: dict[str, list], schema: str) -> DataFrame:
    """Driver-local DataFrame from column lists, built through Arrow.

    ``createDataFrame(<python list>)`` plans as a Python-worker RDD scan
    (``Scan ExistingRDD``): every execution starts Python tasks. A
    ``pyarrow.Table`` plans as a ``LocalTableScan`` that runs in the JVM.
    Measured on a 4-core host, ``collect()`` of a one-row frame took a
    median 0.44 s from a list and 0.05 s from Arrow. ``schema`` is a DDL
    string; columns are cast to it, so empty lists give a typed empty
    frame and tz-aware datetimes keep their instant."""
    import pyarrow as pa

    return spark.createDataFrame(pa.table(columns), schema)


def cloud_storage_conf(
    provider: str,
    *,
    anonymous: bool = False,
    endpoint: str | None = None,
    extra: dict[str, str] | None = None,
) -> dict[str, str]:
    """Spark conf for reading ``s3a://`` or ``gs://`` paths — the cloud
    half of the reference's object-store surface (its pipelines read
    ``gs://`` buckets throughout), expressed as standard public Hadoop
    connector settings. Pass the result as ``get_spark(extra_conf=...)``:

        spark = get_spark(extra_conf=cloud_storage_conf("s3"))
        df = spark.read.parquet("s3a://bucket/table/")

    Credentials intentionally come from the environment (instance
    profile / workload identity / standard env vars via the providers
    chain), never from code. ``anonymous=True`` switches to unsigned
    access for public buckets; ``endpoint`` points S3A at an
    S3-compatible store (MinIO, R2). The returned dict is pure config —
    wiring is unit-testable offline; actually reading a bucket
    additionally needs the connector jars on the classpath
    (hadoop-aws / gcs-connector), noted in the keys below.
    """
    if provider in ("s3", "s3a"):
        conf = {
            # jars: org.apache.hadoop:hadoop-aws + matching aws-java-sdk
            "spark.hadoop.fs.s3a.impl": "org.apache.hadoop.fs.s3a.S3AFileSystem",
            "spark.hadoop.fs.s3a.aws.credentials.provider": (
                "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider"
                if anonymous
                else "org.apache.hadoop.fs.s3a.auth.IAMInstanceCredentialsProvider,"
                "com.amazonaws.auth.EnvironmentVariableCredentialsProvider"
            ),
            # committers: directory staging avoids the O(files) rename
            # penalty of the classic FileOutputCommitter on object stores
            "spark.hadoop.fs.s3a.committer.name": "directory",
            "spark.hadoop.mapreduce.outputcommitter.factory.scheme.s3a": (
                "org.apache.hadoop.fs.s3a.commit.S3ACommitterFactory"
            ),
            "spark.hadoop.fs.s3a.connection.maximum": "96",
            "spark.hadoop.fs.s3a.fast.upload": "true",
        }
        if endpoint:
            conf["spark.hadoop.fs.s3a.endpoint"] = endpoint
            conf["spark.hadoop.fs.s3a.path.style.access"] = "true"
    elif provider in ("gs", "gcs"):
        conf = {
            # jars: com.google.cloud.bigdataoss:gcs-connector (hadoop3 shaded)
            "spark.hadoop.fs.gs.impl": (
                "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFileSystem"
            ),
            "spark.hadoop.fs.AbstractFileSystem.gs.impl": (
                "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFS"
            ),
            # ADC: metadata server / GOOGLE_APPLICATION_CREDENTIALS
            "spark.hadoop.google.cloud.auth.service.account.enable": "true",
            "spark.hadoop.fs.gs.status.parallel.enable": "true",
        }
        if anonymous:
            conf["spark.hadoop.google.cloud.auth.null.enable"] = "true"
            conf["spark.hadoop.google.cloud.auth.service.account.enable"] = "false"
    else:
        raise ValueError(f"unknown provider {provider!r}: use 's3' or 'gs'")
    conf.update(extra or {})
    return conf
