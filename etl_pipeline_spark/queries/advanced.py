"""Advanced relational surface, batch 2 — as-of join, grouping sets,
RANGE window frames, first/last/nth, ordered string aggregation,
deterministic hash sampling, posexplode, union-by-name with missing
columns. Fills the remaining SURVEY.md §2.5-2.7 / custom-operator rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_pipeline_spark.catalog import EMB_DOOR_SQL, emb_door_sql, load_tables
from etl_pipeline_spark.functions.grid import exact_sum
from etl_pipeline_spark.queries.base import query


@query(
    "q_asof_last_signup",
    oracle="""
    SELECT event_id, user_id, event_type,
           epoch_us(MAX(CASE WHEN event_type = 'signup' THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           )) AS last_signup_us
    FROM events
    """,
    tags=("asof", "window", "custom-op"),
)
def q_asof_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (an operator Spark lacks natively), expressed as a
    composition of built-ins (SURVEY custom-op preference (a)): for every
    event, the most recent at-or-before 'signup' of the same user — a
    running filtered-max window instead of a per-row lookup join.

    Scale: one shuffle on user_id; state is one timestamp per partition
    row — strictly better than the sort-merge-with-lookback an as-of
    join would otherwise need. (DuckDB's native ASOF JOIN is the oracle's
    alternative spelling; the window form is used for both here.)
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    last_signup = F.max(F.when(F.col("event_type") == "signup", F.unix_micros(F.col("ts")))).over(w)
    return e.select("event_id", "user_id", "event_type", last_signup.alias("last_signup_us"))


@query(
    "q_grouping_sets_revenue",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL')  AS returnflag,
           COALESCE(l_linestatus, 'ALL')  AS linestatus,
           ROUND((CAST(SUM(CAST(ROUND((l_extendedprice) * 100) AS DECIMAL(38,0))) AS DOUBLE) / 100), 2) AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    tags=("agg", "grouping-sets"),
)
def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube): per-flag, per-status,
    and grand-total rows in one pass."""
    load_tables(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, 'ALL')  AS returnflag,
               COALESCE(l_linestatus, 'ALL')  AS linestatus,
               ROUND((CAST(SUM(CAST(ROUND((l_extendedprice) * 100) AS DECIMAL(38,0))) AS DOUBLE) / 100), 2) AS sum_price
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "q_window_range_frame",
    oracle="""
    SELECT o_orderkey,
           ROUND(o_totalprice, 2) AS totalprice,
           COUNT(*) OVER (
               ORDER BY o_totalprice
               RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW
           ) AS n_within_1000
    FROM orders
    WHERE o_custkey < 50
    """,
    tags=("window", "range-frame"),
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (value-based) window frame — peers counted by price distance,
    not row position. Unpartitioned global ordering kept small by the
    filter; at scale a partition key bounds the sort. (SQL form: the
    DataFrame ``rangeBetween`` API only accepts integer offsets through
    py4j, so fractional-capable RANGE frames go through Spark SQL.)"""
    load_tables(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderkey,
               ROUND(o_totalprice, 2) AS totalprice,
               COUNT(*) OVER (
                   ORDER BY o_totalprice
                   RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW
               ) AS n_within_1000
        FROM orders
        WHERE o_custkey < 50
        """
    )


@query(
    "q_window_range_frame_partitioned",
    oracle="""
    SELECT o_custkey,
           o_orderkey,
           ROUND(o_totalprice, 2) AS totalprice,
           COUNT(*) OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice
               RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW
           ) AS n_within_1000
    FROM orders
    WHERE o_custkey < 500
    """,
    tags=("window", "range-frame", "partitioned", "new-r3"),
)
def q_window_range_frame_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-scoped twin of q_window_range_frame: the same value-based
    RANGE frame, but PARTITION BY o_custkey bounds each sort to one
    customer's orders — no single-partition WindowExec, so the plan holds
    at any scale (the global variant needs its selective filter to stay
    viable; this one needs nothing). Plan-asserted partitioned in
    tests/test_plan_assertions.py."""
    load_tables(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_custkey,
               o_orderkey,
               ROUND(o_totalprice, 2) AS totalprice,
               COUNT(*) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice
                   RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW
               ) AS n_within_1000
        FROM orders
        WHERE o_custkey < 500
        """
    )


@query(
    "q_window_first_last_nth",
    oracle="""
    SELECT DISTINCT o_custkey,
           FIRST_VALUE(o_orderkey) OVER w AS first_order,
           LAST_VALUE(o_orderkey)  OVER w AS last_order,
           NTH_VALUE(o_orderkey, 2) OVER w AS second_order
    FROM orders
    WHERE o_custkey < 200
    WINDOW w AS (
        PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    )
    """,
    tags=("window", "first-last"),
)
def q_window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value/nth_value over a full-partition frame —
    deterministic because the frame is UNBOUNDED..UNBOUNDED and the
    ordering is total (orderkey tie-break)."""
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return (
        o.filter(F.col("o_custkey") < 200)
        .select(
            "o_custkey",
            F.first("o_orderkey").over(w).alias("first_order"),
            F.last("o_orderkey").over(w).alias("last_order"),
            F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
        )
        .distinct()
    )


@query(
    "q_ordered_string_agg",
    oracle="""
    SELECT n_regionkey AS regionkey,
           STRING_AGG(n_name, ',' ORDER BY n_name) AS nations,
           COUNT(*) AS n_nations
    FROM nation
    GROUP BY n_regionkey
    """,
    tags=("agg", "collect"),
)
def q_ordered_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: collect_list is unordered in a
    distributed engine, so determinism comes from array_sort before the
    join — equivalent to STRING_AGG(... ORDER BY)."""
    n = load_tables(spark, sf_dir, ("nation",))["nation"]
    return n.groupBy(F.col("n_regionkey").alias("regionkey")).agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
        F.count("*").alias("n_nations"),
    )


@query(
    "q_sample_hash_10pct",
    oracle="""
    SELECT COUNT(*) AS n_sampled,
           ROUND(AVG(o_totalprice), 2) AS avg_price
    FROM orders
    WHERE SUBSTR(MD5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('0', '1')
    """,
    tags=("sample",),
)
def q_sample_hash_10pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~12.5% hash sample (first md5 nibble in {0,1}) — the
    reproducible, engine-portable alternative to df.sample(), which draws
    from engine-specific RNG streams. Hash sampling also survives
    re-partitioning and incremental loads (same rows always sampled)."""
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    nibble = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1)
    return o.filter(nibble.isin("0", "1")).agg(
        F.count("*").alias("n_sampled"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
    )


@query(
    "q_posexplode_tokens",
    oracle="""
    SELECT doc_id, i - 1 AS pos, STRING_SPLIT(text, ' ')[i] AS token
    FROM documents, UNNEST(GENERATE_SERIES(1, LEN(STRING_SPLIT(text, ' ')))) AS t(i)
    WHERE doc_id < 20
    """,
    tags=("explode", "S4"),
)
def q_posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode (UDTF surface, SURVEY §2.10): token stream with
    positions — the row-per-element form the JSON-array source (S4)
    needs after a multiLine read."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return (
        d.filter(F.col("doc_id") < 20)
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token"))
        .select("doc_id", F.col("pos").cast("long").alias("pos"), "token")
    )


@query(
    "q_union_by_name_missing",
    oracle="""
    SELECT party_key, acctbal, segment FROM (
        SELECT c_custkey AS party_key, ROUND(c_acctbal, 2) AS acctbal,
               c_mktsegment AS segment
        FROM customer WHERE c_acctbal > 9990
        UNION ALL
        SELECT s_suppkey AS party_key, ROUND(s_acctbal, 2) AS acctbal,
               CAST(NULL AS VARCHAR) AS segment
        FROM supplier WHERE s_acctbal > 9990
    )
    """,
    tags=("setop", "union-by-name"),
)
def q_union_by_name_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName(allowMissingColumns=True): schema-mismatched sources
    conformed by name, absent columns null-filled — the schema-drift-safe
    union for evolving sources."""
    t = load_tables(spark, sf_dir, ("customer", "supplier"))
    c = t["customer"].filter(F.col("c_acctbal") > 9990).select(
        F.col("c_custkey").alias("party_key"),
        F.round("c_acctbal", 2).alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )
    s = t["supplier"].filter(F.col("s_acctbal") > 9990).select(
        F.col("s_suppkey").alias("party_key"),
        F.round("s_acctbal", 2).alias("acctbal"),
    )
    return c.unionByName(s, allowMissingColumns=True)


@query(
    "q_embedding_norms",
    oracle="""
    SELECT vec_id, label,
           CAST(LEN(embedding) AS BIGINT) AS n_dims,
           ROUND(SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 4)
               AS l2_norm,
           ROUND(list_max(list_transform(embedding::DOUBLE[], x -> ABS(x))), 4)
               AS max_abs
    FROM embeddings
    WHERE embedding IS NOT NULL
    """,
    tags=("similarity", "X3", "array"),
)
def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector hygiene stats (norm, max component) — the pre-flight checks
    of an embedding pipeline, as pure array expressions.

    Off-dimension (drift) vectors stay IN — n_dims is one of the hygiene
    columns — but a NULL vector has no norm on either engine, so only
    NULL rows are dropped (full-door consumers use embedding_door)."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"].filter(
        F.col("embedding").isNotNull()
    )
    emb_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(emb_d, emb_d, lambda x, y: x * y), F.lit(0.0), lambda a, v: a + v
    )
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").cast("long").alias("n_dims"),
        F.round(F.sqrt(dot), 4).alias("l2_norm"),
        F.round(F.array_max(F.transform(emb_d, lambda x: F.abs(x))), 4).alias("max_abs"),
    )


# Block-matrix kNN (operators/similarity.py): Pandas-UDF numpy path whose
# exact results must equal the pure-expression brute force — same oracle.
from etl_pipeline_spark.operators.similarity import knn_block_matrix  # noqa: E402
from etl_pipeline_spark.queries.similarity import N_QUERIES, TOP_K  # noqa: E402


@query(
    "q_knn_block_matrix",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
        WHERE vec_id < {N_QUERIES} AND {EMB_DOOR_SQL}
    ),
    scored AS (
        SELECT q.q_id, e.vec_id AS neighbor_id, e.label AS neighbor_label,
               ROUND(
                 list_dot_product(q.q_emb::DOUBLE[], e.embedding::DOUBLE[]) /
                 (SQRT(list_dot_product(q.q_emb::DOUBLE[], q.q_emb::DOUBLE[])) *
                  SQRT(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))),
                 4) AS cos_sim
        FROM q, embeddings e
        WHERE e.vec_id <> q.q_id AND {emb_door_sql('e.embedding')}
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id ASC
        ) AS rnk
        FROM scored
    )
    SELECT q_id, neighbor_id, neighbor_label, cos_sim, rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """,
    tags=("similarity", "X3", "pandas-udf"),
    doc=knn_block_matrix.__doc__ or "",
)
def q_knn_block_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn_block_matrix(spark, sf_dir, n_queries=N_QUERIES, top_k=TOP_K)


# IVF ANN (operators/ivf.py): deterministic coarse-quantized search whose
# full pipeline — centroids, cell routing, in-cell exact top-k — the
# DuckDB oracle reproduces.
from etl_pipeline_spark.operators.ivf import IVF_ORACLE, ivf_topk  # noqa: E402

query(
    "q_knn_ivf",
    oracle=IVF_ORACLE,
    tags=("similarity", "X3", "ivf", "ann"),
    doc=ivf_topk.__doc__ or "IVF-style ANN with nprobe=2 over label cells.",
)(ivf_topk)


@query(
    "q_window_sliding_events",
    oracle="""
    WITH offsets AS (SELECT UNNEST([0, 1]) AS k),
    assigned AS (
        SELECT DATE_TRUNC('hour', e.ts) - TO_HOURS(o.k) AS wstart,
               e.value
        FROM events e CROSS JOIN offsets o
        WHERE e.ts >= DATE_TRUNC('hour', e.ts) - TO_HOURS(o.k)
          AND e.ts <  DATE_TRUNC('hour', e.ts) - TO_HOURS(o.k) + INTERVAL 2 HOUR
    )
    SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n_events, ROUND((CAST(SUM(CAST(ROUND((value) * 100) AS DECIMAL(38,0))) AS DOUBLE) / 100), 2) AS sum_value
    FROM assigned
    GROUP BY wstart
    """,
    tags=("window", "streaming", "sliding"),
)
def q_window_sliding_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (2h window, 1h slide): every event lands
    in two overlapping frames — Spark's window(ts, '2 hours', '1 hour')
    operator; the oracle reproduces the assignment by exploding the two
    hour-aligned candidate starts per event (§2.9)."""
    e = load_tables(spark, sf_dir, ("events",))["events"]
    return (
        e.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(exact_sum(F.col("value"), 2), 2).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "q_session_windows_batch",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) > 300000000 OR LAG(ts) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) IS NULL THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id, ts, event_id,
               CAST(SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS session_id
        FROM flagged
    )
    SELECT user_id, session_id,
           epoch_us(MIN(ts)) AS session_start_us,
           epoch_us(MAX(ts)) AS session_end_us,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
    tags=("window", "streaming", "session", "gaps-islands"),
)
def q_session_windows_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (5-minute inactivity gap) in batch form — the
    gaps-and-islands pattern: flag gap-starts with LAG, number sessions
    with a running sum, aggregate per island. Semantically the batch twin
    of session_window()/streaming sessionization (§2.9), and fully
    oracle-checkable.

    Gap test and session bounds are in epoch MICROseconds on both engines:
    ``cast(ts as long)`` truncates to seconds, so a 300.4 s gap would read
    as "same session" while the oracle's interval compare says "new" —
    and raw timestamp output hashes differently under the driver's
    ns-preserving DuckDB fetch than under Spark's µs truncation."""
    e = load_tables(spark, sf_dir, ("events",))["events"]
    worder = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    us = F.unix_micros(F.col("ts"))
    prev_us = F.lag(us).over(worder)
    new_session = (prev_us.isNull() | (us - prev_us > 300_000_000)).cast("long")
    sessions = e.select(
        "user_id",
        us.alias("ts_us"),
        "event_id",
        F.sum(new_session).over(
            worder.rowsBetween(W.unboundedPreceding, W.currentRow)
        ).alias("session_id"),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
        F.count("*").alias("n_events"),
    )


@query(
    "q_embedding_quantization",
    oracle="""
    WITH q AS (
        SELECT vec_id, label,
               list_max(list_transform(embedding::DOUBLE[], x -> ABS(x))) / 127.0 AS scale
        FROM embeddings
    ),
    err AS (
        SELECT e.vec_id, e.label, q.scale,
               list_sum(list_transform(
                   e.embedding::DOUBLE[],
                   x -> POW(x - FLOOR(x / q.scale + 0.5) * q.scale, 2)
               )) / LEN(e.embedding) AS mse
        FROM embeddings e JOIN q ON e.vec_id = q.vec_id
    )
    SELECT vec_id, label,
           ROUND(scale, 6)       AS int8_scale,
           ROUND(mse * 1e6, 4)   AS mse_ppm
    FROM err
    """,
    tags=("similarity", "X3", "quantization"),
)
def q_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization accounting: per-vector scale
    (max|x|/127) and reconstruction MSE of round-trip quantization — the
    pre-flight check before shipping a quantized ANN index. Rounding is an
    explicit FLOOR(x/scale + 0.5) so both engines quantize identically
    (library 'round' functions disagree on half-way ties)."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    emb_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(emb_d, lambda x: F.abs(x))) / 127.0
    with_scale = e.select("vec_id", "label", emb_d.alias("emb"), scale.alias("scale"))
    # try_divide: the all-zeros vector has scale 0 — its round-trip MSE
    # is undefined (NULL, matching DuckDB's x/0 -> NULL inside the list
    # transform), not an ANSI DIVIDE_BY_ZERO job kill (r8 find)
    sq_err = F.aggregate(
        F.transform(
            F.col("emb"),
            lambda x: F.pow(
                x - F.floor(F.try_divide(x, F.col("scale")) + 0.5) * F.col("scale"),
                F.lit(2),
            ),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return with_scale.select(
        "vec_id",
        "label",
        F.round("scale", 6).alias("int8_scale"),
        F.round(sq_err / F.size("emb") * 1e6, 4).alias("mse_ppm"),
    )


@query(
    "q_approx_aggregates",
    # Self-verifying form (round 2): sketch estimates are engine-specific
    # by design, so the query emits its own error-bound verdicts computed
    # against the exact aggregates inside Spark; the oracle recomputes the
    # exact side and asserts the verdicts are all true. A sketch drifting
    # outside its contract (HLL++ rsd=2% given 3 sigma; KLL accuracy=10000
    # given 0.5% rank error on price) fails the hash.
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           TRUE AS hll_within_3rsd,
           TRUE AS median_within_rank_band
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "approx", "sketch"),
)
def q_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based aggregates — the 100 TB substitutes for exact distinct
    counts and percentiles: approx_count_distinct (HyperLogLog++) and
    approx_percentile (KLL-style), each verified in-query against its exact
    twin so the result is oracle-checkable despite engine-specific sketch
    internals."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median"),
        F.expr("percentile_cont(0.45) WITHIN GROUP (ORDER BY l_extendedprice)").alias("p45"),
        F.expr("percentile_cont(0.55) WITHIN GROUP (ORDER BY l_extendedprice)").alias("p55"),
    )
    hll_ok = (
        F.abs(F.col("approx_parts") - F.col("exact_parts"))
        <= 3 * 0.02 * F.col("exact_parts") + F.lit(1)
    )
    med_ok = F.col("approx_median").between(F.col("p45"), F.col("p55"))
    return agg.select(
        "l_returnflag",
        "exact_parts",
        hll_ok.alias("hll_within_3rsd"),
        med_ok.alias("median_within_rank_band"),
    )


@query(
    "q_hll_sketch_union",
    # Same self-verifying pattern as q_approx_aggregates: the sketch bytes
    # are engine-specific, so the query asserts its own error bound
    # in-engine and the oracle recomputes the exact side + TRUE verdicts.
    oracle="""
    SELECT n.n_regionkey AS n_regionkey,
           COUNT(*) AS exact_customers,
           TRUE AS hll_union_within_tol
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_regionkey
    """,
    tags=("agg", "approx", "sketch", "mergeable"),
)
def q_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Apache DataSketches via hll_sketch_agg /
    hll_union_agg) — the 100 TB distinct-count pattern the scalar
    approx_count_distinct can't do: build per-nation sketch PARTIALS once,
    then re-aggregate them to any coarser grain (here region) by sketch
    UNION without touching the raw data again. At scale the partials are a
    few KB per group and live in a rollup table; every downstream
    distinct-count over any group-by subset is a driver-light merge.

    Exact twin: custkeys are unique, so per-region COUNT(*) is the true
    distinct count. Default lgConfigK=12 gives rsd ~1.6%; the verdict
    allows 3 sigma (+2 absolute for tiny groups)."""
    t = load_tables(spark, sf_dir, ("customer", "nation"))
    per_nation = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_regionkey", "n_nationkey")
        .agg(
            F.hll_sketch_agg("c_custkey").alias("sketch"),
            F.count("*").alias("exact_in_nation"),
        )
    )
    per_region = per_nation.groupBy("n_regionkey").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est"),
        F.sum("exact_in_nation").alias("exact_customers"),
    )
    tol_ok = (
        F.abs(F.col("est") - F.col("exact_customers"))
        <= 3 * 0.016 * F.col("exact_customers") + F.lit(2)
    )
    return per_region.select(
        "n_regionkey",
        F.col("exact_customers").cast("long").alias("exact_customers"),
        tol_ok.alias("hll_union_within_tol"),
    )


@query(
    "q_unpivot_balance_metrics",
    oracle="""
    WITH wide AS (
        SELECT c_mktsegment,
               ROUND(MIN(c_acctbal), 2) AS min_bal,
               ROUND(AVG(c_acctbal), 2) AS avg_bal,
               ROUND(MAX(c_acctbal), 2) AS max_bal
        FROM customer GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, metric, value FROM (
        SELECT c_mktsegment, 'min_bal' AS metric, min_bal AS value FROM wide
        UNION ALL
        SELECT c_mktsegment, 'avg_bal', avg_bal FROM wide
        UNION ALL
        SELECT c_mktsegment, 'max_bal', max_bal FROM wide
    )
    """,
    tags=("unpivot", "melt"),
)
def q_unpivot_balance_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (the inverse of pivot): wide per-segment balance
    metrics into (segment, metric, value) long form via DataFrame.unpivot
    — the oracle spells it as the portable UNION ALL."""
    c = load_tables(spark, sf_dir, ("customer",))["customer"]
    wide = c.groupBy("c_mktsegment").agg(
        F.round(F.min("c_acctbal"), 2).alias("min_bal"),
        F.round(F.avg("c_acctbal"), 2).alias("avg_bal"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
    )
    return wide.unpivot(
        ids=["c_mktsegment"],
        values=["min_bal", "avg_bal", "max_bal"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@query(
    "q_funnel_conversion",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup'   THEN ts END) AS t_signup,
               MIN(CASE WHEN event_type = 'click'    THEN ts END) AS t_click,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events GROUP BY user_id
    ),
    staged AS (
        SELECT user_id,
               CASE
                 WHEN t_signup IS NOT NULL AND t_click > t_signup
                      AND t_purchase > t_click THEN 'signup>click>purchase'
                 WHEN t_signup IS NOT NULL AND t_click > t_signup THEN 'signup>click'
                 WHEN t_signup IS NOT NULL THEN 'signup'
                 ELSE 'no_signup'
               END AS funnel_stage
        FROM firsts
    )
    SELECT funnel_stage, COUNT(*) AS n_users
    FROM staged GROUP BY funnel_stage
    """,
    tags=("events", "funnel", "analytics"),
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis: users' furthest ordered stage
    (signup -> later click -> later purchase), computed from per-type
    first-occurrence timestamps — one shuffle on user_id, conditional-min
    aggregation, no self-joins."""
    e = load_tables(spark, sf_dir, ("events",))["events"]
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    stage = (
        F.when(
            F.col("t_signup").isNotNull()
            & (F.col("t_click") > F.col("t_signup"))
            & (F.col("t_purchase") > F.col("t_click")),
            "signup>click>purchase",
        )
        .when(
            F.col("t_signup").isNotNull() & (F.col("t_click") > F.col("t_signup")),
            "signup>click",
        )
        .when(F.col("t_signup").isNotNull(), "signup")
        .otherwise("no_signup")
    )
    return (
        firsts.select(stage.alias("funnel_stage"))
        .groupBy("funnel_stage")
        .agg(F.count("*").alias("n_users"))
    )


@query(
    "q_retention_cohorts",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, CAST(MIN(DATE_TRUNC('day', ts)) AS DATE) AS cohort_day
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_day,
               DATE_DIFF('day', f.cohort_day, CAST(DATE_TRUNC('day', e.ts) AS DATE))
                   AS day_offset
        FROM events e JOIN first_seen f ON e.user_id = f.user_id
    )
    SELECT cohort_day, day_offset, COUNT(*) AS n_active
    FROM activity
    WHERE day_offset <= 7
    GROUP BY cohort_day, day_offset
    """,
    tags=("events", "retention", "analytics"),
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users grouped by first-seen day, counted
    as active per day-offset within the first week — the standard cohort
    triangle, one agg for cohorts + one distinct-join pass."""
    e = load_tables(spark, sf_dir, ("events",))["events"]
    first_seen = e.groupBy("user_id").agg(
        F.min(F.date_trunc("day", F.col("ts"))).cast("date").alias("cohort_day")
    )
    activity = (
        e.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(
                F.date_trunc("day", F.col("ts")).cast("date"), F.col("cohort_day")
            ).alias("day_offset"),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count("*").alias("n_active"))
    )


@query(
    "q_window_distribution_ranks",
    oracle="""
    SELECT o_orderkey,
           NTILE(4) OVER w                      AS quartile,
           ROUND(PERCENT_RANK() OVER w, 4)      AS pct_rank,
           ROUND(CUME_DIST() OVER w, 4)         AS cume,
           DENSE_RANK() OVER (
               ORDER BY CAST(FLOOR(o_totalprice / 100000) AS BIGINT) DESC
           )                                     AS price_band_rank
    FROM orders
    WHERE o_custkey < 40
    WINDOW w AS (ORDER BY o_totalprice ASC, o_orderkey ASC)
    """,
    tags=("window", "ranking"),
)
def q_window_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-ranking functions: NTILE quartiles, percent_rank,
    cume_dist, and dense_rank over a derived banding — completing the
    ranking-function family (§2.5)."""
    load_tables(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderkey,
               NTILE(4) OVER w                      AS quartile,
               ROUND(PERCENT_RANK() OVER w, 4)      AS pct_rank,
               ROUND(CUME_DIST() OVER w, 4)         AS cume,
               DENSE_RANK() OVER (
                   ORDER BY CAST(FLOOR(o_totalprice / 100000) AS BIGINT) DESC
               )                                     AS price_band_rank
        FROM orders
        WHERE o_custkey < 40
        WINDOW w AS (ORDER BY o_totalprice ASC, o_orderkey ASC)
        """
    )


@query(
    "q_window_distribution_ranks_partitioned",
    oracle="""
    SELECT o_custkey,
           o_orderkey,
           NTILE(4) OVER w                  AS quartile,
           ROUND(PERCENT_RANK() OVER w, 4)  AS pct_rank,
           ROUND(CUME_DIST() OVER w, 4)     AS cume
    FROM orders
    WHERE o_custkey < 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice ASC, o_orderkey ASC)
    """,
    tags=("window", "ranking", "partitioned", "new-r3"),
)
def q_window_distribution_ranks_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-scoped twin of q_window_distribution_ranks: NTILE /
    percent_rank / cume_dist computed within each customer's own orders
    (PARTITION BY o_custkey) — the distribution-rank semantics without the
    global single-partition sort, scaling with customer cardinality.
    Plan-asserted partitioned in tests/test_plan_assertions.py."""
    load_tables(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_custkey,
               o_orderkey,
               NTILE(4) OVER w                  AS quartile,
               ROUND(PERCENT_RANK() OVER w, 4)  AS pct_rank,
               ROUND(CUME_DIST() OVER w, 4)     AS cume
        FROM orders
        WHERE o_custkey < 200
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice ASC, o_orderkey ASC)
        """
    )


@query(
    "q_scalar_dates_extended",
    oracle="""
    SELECT o_orderkey,
           LAST_DAY(CAST(o_orderdate AS DATE))                        AS month_end,
           CAST(o_orderdate + INTERVAL 3 MONTH AS DATE)               AS plus_3_months,
           ROUND(DATE_DIFF('day', CAST(o_orderdate AS DATE),
                           DATE '2000-01-01') / 30.4375, 2)           AS approx_months_to_y2k,
           EXTRACT(QUARTER FROM o_orderdate)                          AS qtr,
           EXTRACT(DOW FROM o_orderdate)                              AS dow_sun0,
           CAST(EXTRACT(EPOCH FROM o_orderdate) AS BIGINT)            AS epoch_s
    FROM orders
    WHERE o_orderkey < 300
    """,
    tags=("scalar", "F6", "F12", "dates"),
)
def q_scalar_dates_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended date family: last_day, add_months, quarter, day-of-week
    (normalized to DuckDB's Sunday=0 convention — Spark's dayofweek is
    Sunday=1), and epoch seconds."""
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    return o.filter(F.col("o_orderkey") < 300).select(
        "o_orderkey",
        F.last_day(F.col("o_orderdate").cast("date")).alias("month_end"),
        F.add_months(F.col("o_orderdate").cast("date"), 3).alias("plus_3_months"),
        F.round(
            F.datediff(F.lit("2000-01-01").cast("date"), F.col("o_orderdate").cast("date"))
            / 30.4375,
            2,
        ).alias("approx_months_to_y2k"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
        (F.dayofweek("o_orderdate") - 1).cast("long").alias("dow_sun0"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    )


@query(
    "q_timeseries_gapfill",
    oracle="""
    WITH bounds AS (
        SELECT event_type,
               DATE_TRUNC('hour', MIN(ts)) AS h_min,
               DATE_TRUNC('hour', MAX(ts)) AS h_max
        FROM events GROUP BY event_type
    ),
    grid AS (
        SELECT b.event_type, t.h AS hour
        FROM bounds b, UNNEST(GENERATE_SERIES(b.h_min, b.h_max, INTERVAL 1 HOUR)) AS t(h)
    ),
    actual AS (
        SELECT event_type, DATE_TRUNC('hour', ts) AS hour, COUNT(*) AS n
        FROM events GROUP BY event_type, DATE_TRUNC('hour', ts)
    )
    SELECT g.event_type,
           strftime(g.hour, '%Y-%m-%d %H:%M:%S') AS hour,
           COALESCE(a.n, 0) AS n_events,
           CASE WHEN a.n IS NULL THEN TRUE ELSE FALSE END AS gap_filled
    FROM grid g LEFT JOIN actual a
      ON g.event_type = a.event_type AND g.hour = a.hour
    """,
    tags=("timeseries", "gapfill", "custom-op"),
)
def q_timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill — an operator Spark lacks natively (SURVEY
    custom-op preference (a): composition of built-ins): densify each
    event_type's hourly series between its first and last event, zero-
    filling missing hours and flagging them. The dense grid is generated
    with sequence() + explode from per-group bounds — no driver loop, no
    UDF.

    Scale: bounds is one tiny aggregate (rows = event types); the grid
    explode is proportional to OUTPUT size (hours x types), not input;
    the left join shuffles on (type, hour) — both sides already
    aggregated. This is the continuous-aggregate densification a
    dashboard/rollup layer runs at any scale.
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    hour = F.date_trunc("hour", F.col("ts"))
    bounds = e.groupBy("event_type").agg(
        F.min(hour).alias("h_min"), F.max(hour).alias("h_max")
    )
    grid = bounds.select(
        "event_type",
        F.explode(
            F.sequence("h_min", "h_max", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    actual = e.groupBy("event_type", hour.alias("hour")).agg(F.count("*").alias("n"))
    return (
        grid.join(actual, ["event_type", "hour"], "left_outer")
        .select(
            "event_type",
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.col("n").isNull().alias("gap_filled"),
        )
    )


@query(
    "q_udaf_trimmed_mean",
    oracle="""
    WITH q AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.1) AS lo,
               quantile_cont(l_extendedprice, 0.9) AS hi
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           ROUND(AVG(l.l_extendedprice), 2) AS trimmed_mean_price,
           CAST(COUNT(*) AS BIGINT)         AS n_kept
    FROM lineitem l JOIN q ON l.l_returnflag = q.l_returnflag
    WHERE l.l_extendedprice BETWEEN q.lo AND q.hi
    GROUP BY l.l_returnflag
    """,
    tags=("udaf", "pandas-udf", "agg"),
)
def q_udaf_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate as a GROUPED_AGG Pandas UDAF — the §2.10 UDF
    flavor beyond mapInPandas/applyInPandasWithState: per-group 10-90%
    trimmed mean of extended price, computed vectorized in Arrow batches.
    pandas' linear-interpolation quantile matches DuckDB quantile_cont,
    so the oracle replays the trim exactly.

    Scale: grouped-agg pandas UDAFs get a full shuffle of the group's
    values (no partial aggregation) — acceptable for bounded groups like
    returnflag; for high-cardinality keys prefer the two-pass built-in
    percentile_approx + filtered AVG, which keeps map-side combine.
    """
    from etl_pipeline_spark.operators.udafs import trimmed_count_10_90, trimmed_mean_10_90

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    return li.groupBy("l_returnflag").agg(
        F.round(trimmed_mean_10_90("l_extendedprice"), 2).alias("trimmed_mean_price"),
        trimmed_count_10_90("l_extendedprice").alias("n_kept"),
    )


@query(
    "q_ratio_to_report",
    oracle="""
    WITH nat AS (
        SELECT n.n_regionkey AS regionkey, n.n_name AS nation,
               ROUND((CAST(SUM(CAST(ROUND((o.o_totalprice) * 100) AS DECIMAL(38,0))) AS DOUBLE) / 100), 2) AS nation_total
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY n.n_regionkey, n.n_name
    )
    SELECT regionkey, nation, nation_total,
           ROUND(nation_total / SUM(nation_total) OVER (PARTITION BY regionkey), 4)
               AS region_share,
           ROUND(nation_total / SUM(nation_total) OVER (), 4) AS global_share
    FROM nat
    """,
    tags=("window", "ratio-to-report", "agg"),
)
def q_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report — a window OVER an aggregate (each nation's share
    of its region's and of global order value): the grouped total feeds
    two windowed sums with no second scan of the fact table.

    Scale: the expensive part is the grouped aggregate (one fact
    shuffle); the share windows then run over nation-level rows (tiny).
    The region partition window shuffles only those aggregate rows; the
    global window coalesces them to one partition — both bounded by
    |nations|, never by |orders|.
    """
    t = load_tables(spark, sf_dir, ("customer", "nation", "orders"))
    nat = (
        t["customer"]
        .join(F.broadcast(t["nation"]), t["customer"].c_nationkey == t["nation"].n_nationkey)
        .join(t["orders"], t["orders"].o_custkey == t["customer"].c_custkey)
        .groupBy(F.col("n_regionkey").alias("regionkey"), F.col("n_name").alias("nation"))
        .agg(
            F.round(exact_sum(F.col("o_totalprice"), 2), 2).alias("nation_total")
        )
    )
    w_region = W.partitionBy("regionkey")
    w_global = W.partitionBy()
    return nat.select(
        "regionkey",
        "nation",
        "nation_total",
        F.round(F.col("nation_total") / F.sum("nation_total").over(w_region), 4).alias(
            "region_share"
        ),
        F.round(F.col("nation_total") / F.sum("nation_total").over(w_global), 4).alias(
            "global_share"
        ),
    )


@query(
    "q_scd2_user_values",
    oracle="""
    SELECT user_id,
           STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           STRFTIME(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                    '%Y-%m-%d %H:%M:%S')     AS valid_to,
           ROUND(value, 2)                   AS value,
           CASE WHEN LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN TRUE ELSE FALSE END     AS is_current
    FROM events
    WHERE event_type = 'purchase'
    """,
    tags=("window", "scd2", "dimension"),
)
def q_scd2_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build — turn a change stream into
    validity intervals: each user's purchase event opens a version row
    valid from its timestamp until the next purchase (LEAD), the last
    version flagged current with an open end. This is the standard
    dimension-table construction a warehouse runs from CDC feeds.

    Scale: one shuffle on user_id for the LEAD window — per-user
    partitions are change-stream sized (bounded), never corpus-sized. A
    continuously-maintained SCD2 would run the same plan per batch over
    the delta plus each key's current row.
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return (
        e.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
            F.date_format(nxt, "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
            F.round("value", 2).alias("value"),
            nxt.isNull().alias("is_current"),
        )
    )


@query(
    "q_kll_quantile_merge",
    # Self-verifying sketch pattern (see q_approx_aggregates): sketch
    # bytes are engine-specific, so Spark computes its own rank-band
    # verdict against the exact percentile twins and the oracle
    # recomputes the exact side + TRUE verdicts.
    oracle="""
    SELECT n.n_regionkey AS n_regionkey,
           COUNT(*) AS exact_customers,
           -- 3 decimals: medians of 2-decimal data are exact at 3dp (midpoint
           -- interpolation), so 3dp rounding never lands on a tie boundary
           ROUND(QUANTILE_CONT(c.c_acctbal, 0.5), 3) AS exact_median_bal,
           TRUE AS kll_median_within_band
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_regionkey
    """,
    tags=("agg", "approx", "sketch", "mergeable", "quantile"),
)
def q_kll_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketches (Apache DataSketches KLL via
    kll_sketch_agg_double / kll_merge_agg_double) — the 100 TB
    percentile pattern exact sorts can't do: build per-nation sketch
    PARTIALS once, re-aggregate them to any coarser grain (here region)
    by sketch-merge without touching raw data again, then read any
    quantile off the merged sketch. The rollup-table twin of
    q_hll_sketch_union, for distributions instead of distinct counts.

    Verdict: the default-k KLL normalized rank error is ~1.7%, so the
    merged median estimate must land between the exact 45th and 55th
    percentiles of the region's balance distribution (3x margin).
    """
    t = load_tables(spark, sf_dir, ("customer", "nation"))
    joined = t["customer"].join(
        F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey")
    )
    per_nation = joined.groupBy("n_regionkey", "n_nationkey").agg(
        F.kll_sketch_agg_double("c_acctbal").alias("sketch"),
        F.count("*").alias("n_in_nation"),
    )
    merged = per_nation.groupBy("n_regionkey").agg(
        F.expr(
            "kll_sketch_get_quantile_double(kll_merge_agg_double(sketch), 0.5)"
        ).alias("est_median"),
        F.sum("n_in_nation").alias("exact_customers"),
    )
    exact = joined.groupBy("n_regionkey").agg(
        F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY c_acctbal)").alias("exact_median"),
        F.expr("percentile_cont(0.45) WITHIN GROUP (ORDER BY c_acctbal)").alias("p45"),
        F.expr("percentile_cont(0.55) WITHIN GROUP (ORDER BY c_acctbal)").alias("p55"),
    )
    out = merged.join(exact, "n_regionkey")
    band_ok = F.col("est_median").between(F.col("p45"), F.col("p55"))
    return out.select(
        "n_regionkey",
        F.col("exact_customers").cast("long").alias("exact_customers"),
        F.round("exact_median", 3).alias("exact_median_bal"),
        band_ok.alias("kll_median_within_band"),
    )


@query(
    "q_theta_set_ops",
    # Self-verifying sketch pattern: theta sketch bytes are
    # engine-specific; Spark asserts its own error-bound verdicts against
    # exact set counts and the oracle recomputes the exact side + TRUEs.
    oracle="""
    WITH a AS (SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'),
    b AS (SELECT DISTINCT o_custkey FROM orders
          WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
    SELECT (SELECT COUNT(*) FROM a) AS exact_1996,
           (SELECT COUNT(*) FROM b) AS exact_1997,
           (SELECT COUNT(*) FROM (SELECT * FROM a UNION SELECT * FROM b)) AS exact_union,
           (SELECT COUNT(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b)) AS exact_both,
           (SELECT COUNT(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b)) AS exact_only_1996,
           TRUE AS union_within_tol,
           TRUE AS intersection_within_tol,
           TRUE AS difference_within_tol
    """,
    tags=("agg", "approx", "sketch", "set-ops"),
)
def q_theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta sketches (Apache DataSketches) — distinct-set ALGEBRA at
    sketch cost, the operation HLL fundamentally can't do: estimate the
    union, intersection, and difference of the 1996 vs 1997 active
    customer sets from two per-slice sketches, no re-scan of the raw
    data. At 100 TB this answers "how many customers overlap between any
    two segments" from a sketch rollup table in milliseconds.

    Verdicts: all three estimates (union, intersection, difference) are
    checked against the exact counts with one uniform band — 6% relative
    plus 2 absolute (the absolute slack keeps tiny sets from failing on
    integer-granularity noise). Union error is typically much tighter
    (~2%-class at default lgK); intersection/difference error grows with
    the Jaccard distance of the operands, which is why the shared band is
    sized for the worst of the three rather than differentiated.
    """
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    # Half-open year bounds, identical to the sketch CASE expressions and
    # the DuckDB oracle — an inclusive between(..., '23:59:59') would
    # silently drop sub-second timestamps from the exact side only.
    y96 = (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")) & (
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    )
    y97 = (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")) & (
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    sketches = o.agg(
        F.expr(
            "theta_sketch_agg(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01' "
            "AND o_orderdate < TIMESTAMP '1997-01-01' THEN o_custkey END)"
        ).alias("sk_a"),
        F.expr(
            "theta_sketch_agg(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01' "
            "AND o_orderdate < TIMESTAMP '1998-01-01' THEN o_custkey END)"
        ).alias("sk_b"),
        F.countDistinct(F.when(y96, F.col("o_custkey"))).alias("exact_1996"),
        F.countDistinct(F.when(y97, F.col("o_custkey"))).alias("exact_1997"),
    )
    ests = sketches.select(
        "exact_1996",
        "exact_1997",
        F.expr("theta_sketch_estimate(theta_union(sk_a, sk_b))").alias("est_union"),
        F.expr("theta_sketch_estimate(theta_intersection(sk_a, sk_b))").alias("est_both"),
        F.expr("theta_sketch_estimate(theta_difference(sk_a, sk_b))").alias("est_only_a"),
    )
    # exact set counts for the verdicts (one distinct-pair aggregate)
    keys = o.select(
        "o_custkey",
        F.max(y96.cast("int")).over(W.partitionBy("o_custkey")).alias("in_a"),
        F.max(y97.cast("int")).over(W.partitionBy("o_custkey")).alias("in_b"),
    ).distinct()
    exact = keys.agg(
        F.sum(((F.col("in_a") == 1) | (F.col("in_b") == 1)).cast("long")).alias("exact_union"),
        F.sum(((F.col("in_a") == 1) & (F.col("in_b") == 1)).cast("long")).alias("exact_both"),
        F.sum(((F.col("in_a") == 1) & (F.col("in_b") == 0)).cast("long")).alias(
            "exact_only_1996"
        ),
    )
    out = ests.crossJoin(exact)
    tol = lambda est, ex, rel: F.abs(F.col(est) - F.col(ex)) <= rel * F.col(ex) + 2  # noqa: E731
    return out.select(
        "exact_1996",
        "exact_1997",
        "exact_union",
        "exact_both",
        F.col("exact_only_1996").cast("long").alias("exact_only_1996"),
        tol("est_union", "exact_union", 0.06).alias("union_within_tol"),
        tol("est_both", "exact_both", 0.06).alias("intersection_within_tol"),
        tol("est_only_a", "exact_only_1996", 0.06).alias("difference_within_tol"),
    )


RFM_TILES = 4


@query(
    "q_rfm_segments",
    oracle=f"""
    WITH base AS (
        SELECT o_custkey,
               MAX(o_orderdate)  AS last_order,
               COUNT(*)          AS frequency,
               ROUND(SUM(o_totalprice), 2) AS monetary
        FROM orders GROUP BY o_custkey
    ),
    anchor AS (SELECT MAX(o_orderdate) AS maxd FROM orders),
    scored AS (
        SELECT b.o_custkey,
               DATE_DIFF('day', b.last_order, a.maxd) AS recency_days,
               b.frequency, b.monetary,
               NTILE({RFM_TILES}) OVER (ORDER BY DATE_DIFF('day', b.last_order, a.maxd), b.o_custkey) AS r_score,
               NTILE({RFM_TILES}) OVER (ORDER BY b.frequency DESC, b.o_custkey) AS f_score,
               NTILE({RFM_TILES}) OVER (ORDER BY b.monetary DESC, b.o_custkey) AS m_score
        FROM base b CROSS JOIN anchor a
    )
    SELECT r_score, f_score, m_score,
           COUNT(*) AS n_customers,
           ROUND(AVG(monetary), 2) AS avg_monetary,
           ROUND(AVG(recency_days), 2) AS avg_recency_days
    FROM scored
    GROUP BY r_score, f_score, m_score
    """,
    tags=("agg", "window", "segmentation"),
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic recency/frequency/monetary customer
    quartiling, as segment-level counts: each customer scored 1-4 on days
    since last order, order count, and lifetime spend (quartile 1 = best),
    then grouped into the 4x4x4 segment grid marketing/analytics reads.
    NTILE ties broken by custkey so both engines build identical tiles;
    monetary is rounded before tiling (exact-decimal sum order hazard).

    Scale: one grouped aggregate over orders (shuffle on custkey), a
    1-row anchor broadcast, three global NTILEs — the scale trap here is
    the global sort per NTILE; the cluster form computes quartile
    boundaries from the grouped table (tiny relative to orders) or uses
    the two-pass boundary broadcast, and the segment grid is invariant.
    """
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    base = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    anchor = o.agg(F.max("o_orderdate").alias("maxd"))
    scored = (
        base.crossJoin(F.broadcast(anchor))
        .withColumn("recency_days", F.datediff("maxd", "last_order"))
        .withColumn(
            "r_score",
            F.ntile(RFM_TILES).over(W.orderBy(F.col("recency_days"), F.col("o_custkey"))),
        )
        .withColumn(
            "f_score",
            F.ntile(RFM_TILES).over(W.orderBy(F.col("frequency").desc(), F.col("o_custkey"))),
        )
        .withColumn(
            "m_score",
            F.ntile(RFM_TILES).over(W.orderBy(F.col("monetary").desc(), F.col("o_custkey"))),
        )
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_customers"),
        F.round(F.avg("monetary"), 2).alias("avg_monetary"),
        F.round(F.avg("recency_days"), 2).alias("avg_recency_days"),
    )


_LATERAL_SQL = """
    SELECT c.c_custkey,
           l.o_orderkey,
           ROUND(l.o_totalprice, 2) AS totalprice,
           CAST(l.o_orderdate AS DATE) AS orderdate
    FROM {customer} c,
    LATERAL (
        SELECT o_orderkey, o_totalprice, o_orderdate
        FROM {orders} o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2
    ) l
    WHERE c.c_acctbal > 9000
"""


@query(
    "q_lateral_top_orders",
    oracle=_LATERAL_SQL.format(customer="customer", orders="orders"),
    tags=("sql-surface", "lateral", "topk"),
)
def q_lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (SQL:2016 lateral derived table): each
    high-balance customer's two most expensive orders, expressed as a
    per-row dependent subquery with ORDER BY ... LIMIT — the form BI tools
    and migrated warehouse SQL emit. Catalyst decorrelates it into the
    same join+window plan the DataFrame top-k uses, so supporting the
    SYNTAX costs nothing at scale; deterministic via the orderkey
    tie-break.

    Scale: decorrelation rewrites the per-customer LIMIT into a
    partitioned rank filter — one shuffle on custkey, no per-row
    re-execution. Same plan family as q_window_rank_orders.
    """
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    t["customer"].createOrReplaceTempView("v_lat_customer")
    t["orders"].createOrReplaceTempView("v_lat_orders")
    return spark.sql(_LATERAL_SQL.format(customer="v_lat_customer", orders="v_lat_orders"))


_SPINE_SQL = """
    WITH RECURSIVE spine(month_start, hi) AS (
        SELECT CAST(DATE_TRUNC('month', MIN(o_orderdate)) AS DATE),
               CAST(DATE_TRUNC('month', MAX(o_orderdate)) AS DATE)
        FROM {orders}
        UNION ALL
        SELECT CAST(month_start + INTERVAL '1' MONTH AS DATE), hi
        FROM spine WHERE month_start < hi
    ),
    monthly AS (
        SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM {orders}
        GROUP BY CAST(DATE_TRUNC('month', o_orderdate) AS DATE)
    )
    SELECT s.month_start,
           COALESCE(m.n_orders, 0) AS n_orders,
           COALESCE(m.revenue, 0.0) AS revenue
    FROM spine s LEFT JOIN monthly m ON s.month_start = m.month_start
"""


@query(
    "q_recursive_month_spine",
    oracle=_SPINE_SQL.format(orders="orders"),
    tags=("sql-surface", "recursive-cte", "gapfill"),
)
def q_recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE, Spark 4.x): generate the complete
    month spine between the first and last order date, then left-join the
    monthly order aggregate — the calendar-dimension/gap-filling pattern
    that keeps zero-activity months in the report (the sequence()-based
    twin is q_timeseries_gapfill; this one exercises the recursive SQL
    surface warehouse migrations expect). Acyclic recursion, so Spark's
    UNION ALL-only recursive CTE restriction is satisfied; both engines
    iterate to the identical spine.

    Scale: the recursion produces one row per month (tiny, driver-side
    growth only in iteration count, bounded by the date range); the heavy
    side is the one grouped aggregate over orders. The spine broadcasts
    into the join at any corpus size.
    """
    t = load_tables(spark, sf_dir, ("orders",))
    t["orders"].createOrReplaceTempView("v_spine_orders")
    return spark.sql(_SPINE_SQL.format(orders="v_spine_orders")).select(
        "month_start", "n_orders", "revenue"
    )


@query(
    "q_event_transitions",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    ),
    pairs AS (
        SELECT event_type AS from_type, next_type AS to_type
        FROM ordered WHERE next_type IS NOT NULL
    ),
    totals AS (
        SELECT from_type, COUNT(*) AS n_from FROM pairs GROUP BY from_type
    )
    SELECT p.from_type, p.to_type,
           COUNT(*) AS n_transitions,
           ROUND(CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(t.n_from), 4) AS prob
    FROM pairs p JOIN totals t ON p.from_type = t.from_type
    GROUP BY p.from_type, p.to_type
    """,
    tags=("window", "behavioral", "markov"),
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: for each
    consecutive event pair within a user's timeline (LEAD over ts with
    event_id tie-break), the transition count and conditional probability
    P(next | current) — the clickstream model behind next-action
    prediction features and funnel-anomaly alerts.

    Scale: one shuffle on user_id for the LEAD window (per-user
    partitions, bounded), then a bounded aggregate on the (from, to) type
    grid; the per-from totals broadcast back. Nothing scales with more
    than the event count.
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select("user_id", "event_type", F.lead("event_type").over(w).alias("next_type"))
        .filter(F.col("next_type").isNotNull())
        .select(F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type"))
    )
    totals = pairs.groupBy("from_type").agg(F.count("*").alias("n_from"))
    return (
        pairs.groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n_transitions"))
        .join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            F.round(F.col("n_transitions").cast("double") / F.col("n_from"), 4).alias("prob"),
        )
    )


# --- Markov stationary distribution (power iteration) -----------------------

MARKOV_ITERS = 3


def _markov_pi_sql() -> str:
    """Unrolled power-iteration CTE chain shared by the oracle."""
    base = """
    ordered AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    ),
    pairs AS (
        SELECT event_type AS from_type, next_type AS to_type
        FROM ordered WHERE next_type IS NOT NULL
    ),
    totals AS (
        SELECT from_type, COUNT(*) AS n_from FROM pairs GROUP BY from_type
    ),
    trans AS (
        SELECT p.from_type, p.to_type,
               CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(t.n_from) AS prob
        FROM pairs p JOIN totals t ON p.from_type = t.from_type
        GROUP BY p.from_type, p.to_type
    ),
    pi0 AS (
        SELECT event_type AS type,
               CAST(1.0 AS DOUBLE) / (SELECT COUNT(DISTINCT event_type) FROM events) AS p
        FROM (SELECT DISTINCT event_type FROM events)
    )"""
    steps = "".join(
        f""",
    pi{t + 1} AS (
        SELECT tr.to_type AS type,
               list_reduce(LIST(pi.p * tr.prob ORDER BY tr.from_type), (a, b) -> a + b) AS p
        FROM trans tr JOIN pi{t} pi ON pi.type = tr.from_type
        GROUP BY tr.to_type
    )"""
        for t in range(MARKOV_ITERS)
    )
    return base + steps


@query(
    "q_markov_stationary",
    # Power iteration is floating-point-order-sensitive, so each step
    # sums its terms with an ORDERED left fold (LIST(.. ORDER BY
    # from_type) + list_reduce in DuckDB; array_sort + aggregate in
    # Spark) — both engines fold the identical term sequence, making the
    # iterate bit-reproducible before the final ROUND.
    oracle=f"""
    WITH {_markov_pi_sql()}
    SELECT p3.type AS event_type,
           ROUND(p3.p, 6) AS stationary_prob,
           ROUND(ABS(p3.p - p2.p), 6) AS step_delta
    FROM pi{MARKOV_ITERS} p3 JOIN pi{MARKOV_ITERS - 1} p2 ON p3.type = p2.type
    """,
    tags=("behavioral", "markov", "iterative", "graph"),
)
def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate stationary distribution of the user-behavior Markov
    chain: {ITERS} synchronous power-iteration steps from the uniform
    vector over the q_event_transitions matrix, reporting each event
    type's stationary mass and the last-step delta (the convergence
    monitor a PageRank-style job exposes). This is the iterative-job
    pattern — the same loop shape as connected components
    (operators/cluster.py) applied to a dense stochastic matrix.

    Scale: the transition matrix is |types|^2 and BROADCASTS; each
    iteration is a broadcast join + bounded aggregate over the vector,
    so iterating at 100 TB costs |types| rows per step after the single
    event-stream pass that builds the matrix. Sum order inside each
    step is pinned (sorted fold) so results are engine- and
    partitioning-independent.
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select("user_id", "event_type", F.lead("event_type").over(w).alias("next_type"))
        .filter(F.col("next_type").isNotNull())
        .select(F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type"))
    )
    totals = pairs.groupBy("from_type").agg(F.count("*").alias("n_from"))
    trans = (
        pairs.groupBy("from_type", "to_type")
        .agg(F.count("*").alias("c"))
        .join(F.broadcast(totals), "from_type")
        .select("from_type", "to_type", (F.col("c").cast("double") / F.col("n_from")).alias("prob"))
    )
    # 1-row count joined in lazily: query construction stays job-free
    # (the lazy-builder discipline from the dedup module).
    n_types = e.agg(F.countDistinct("event_type").alias("n_types"))
    pi = (
        e.select("event_type").distinct()
        .crossJoin(F.broadcast(n_types))
        .select(F.col("event_type").alias("type"), (F.lit(1.0) / F.col("n_types")).alias("p"))
    )

    def step(pi_t: DataFrame) -> DataFrame:
        terms = trans.join(F.broadcast(pi_t), trans["from_type"] == pi_t["type"]).select(
            "to_type",
            F.struct(F.col("from_type"), (F.col("p") * F.col("prob")).alias("term")).alias("ft"),
        )
        return (
            terms.groupBy("to_type")
            .agg(F.array_sort(F.collect_list("ft")).alias("fts"))
            .select(
                F.col("to_type").alias("type"),
                F.aggregate(
                    F.transform("fts", lambda s: s["term"]),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ).alias("p"),
            )
        )

    prev = pi
    for _ in range(MARKOV_ITERS):
        prev, pi = pi, step(pi)
    return pi.alias("p3").join(
        prev.select(F.col("type").alias("type2"), F.col("p").alias("p_prev")),
        F.col("type") == F.col("type2"),
    ).select(
        F.col("type").alias("event_type"),
        F.round("p", 6).alias("stationary_prob"),
        F.round(F.abs(F.col("p") - F.col("p_prev")), 6).alias("step_delta"),
    )


q_markov_stationary.__doc__ = q_markov_stationary.__doc__.format(ITERS=MARKOV_ITERS)


# --- Interval analytics: sweep-line concurrency + binned overlap join -------

IV_BASE_SEC = 60  # every event interval lasts at least a minute
IV_WINDOW_US = 21600 * 1_000_000  # 6-hour maintenance windows

_IV_SQL = f"""
    SELECT event_id, event_type, value,
           EPOCH_US(ts) AS s_us,
           EPOCH_US(ts) + (CAST(FLOOR(LEAST(GREATEST(value * 60, -{IV_BASE_SEC}.0),
                                            1000000.0)) AS BIGINT)
                           + {IV_BASE_SEC}) * 1000000 AS e_us
    FROM events
"""


def _intervals(e: DataFrame) -> DataFrame:
    """Half-open event intervals [s_us, e_us) in epoch micros: start = ts,
    duration = floor(value*60) + base seconds, with the scaled value
    CLAMPED to [-base, 1e6] before flooring — an adversarial 1e18 value
    would otherwise overflow the micros multiply under ANSI (job kill),
    and a negative value would put the end before the start; clamped,
    the worst cases are an empty interval and an ~11.6-day one, in both
    engines identically (FLOOR on both sides — the old TRUNC twin
    disagreed with floor on fractional negatives). Integer micros
    everywhere, so bin and overlap arithmetic is exact in both engines."""
    s_us = F.unix_micros(F.col("ts"))
    dur_us = (
        F.floor(
            F.least(
                F.greatest(F.col("value") * 60, F.lit(-float(IV_BASE_SEC))),
                F.lit(1000000.0),
            )
        ).cast("long")
        + IV_BASE_SEC
    ) * 1_000_000
    return e.select(
        "event_id", "event_type", "value", s_us.alias("s_us"), (s_us + dur_us).alias("e_us")
    )


@query(
    "q_interval_concurrency",
    oracle=f"""
    WITH iv AS ({_IV_SQL}),
    pts AS (
        SELECT event_type, s_us AS t, 1 AS delta FROM iv
        UNION ALL
        SELECT event_type, e_us AS t, -1 AS delta FROM iv
    ),
    net AS (
        SELECT event_type, t, CAST(SUM(delta) AS BIGINT) AS net
        FROM pts GROUP BY event_type, t
    ),
    run AS (
        SELECT event_type, t,
               SUM(net) OVER (
                   PARTITION BY event_type ORDER BY t ROWS UNBOUNDED PRECEDING
               ) AS running
        FROM net
    ),
    mx AS (SELECT event_type, MAX(running) AS max_concurrent FROM run GROUP BY event_type)
    SELECT r.event_type,
           CAST(m.max_concurrent AS BIGINT) AS max_concurrent,
           CAST(MIN(r.t) AS BIGINT) AS first_peak_us
    FROM run r JOIN mx m
      ON r.event_type = m.event_type AND r.running = m.max_concurrent
    GROUP BY r.event_type, m.max_concurrent
    """,
    tags=("interval", "sweep-line", "window", "custom-op"),
)
def q_interval_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per event type via the sweep-line trick: each
    interval emits a +1 at its start and a -1 at its end; deltas at the
    same instant are NETTED (so concurrency is sampled after applying
    all of an instant's starts and ends — a total, deterministic order),
    and a running sum over the netted points yields the active-interval
    count, reported as its per-type maximum and the first instant that
    attains it. This is how "max concurrent sessions/connections/jobs"
    is computed without expanding intervals into per-second rows.

    Scale: 2 rows per interval, one (type, t) aggregate, one window
    partitioned by type ordered by time — the window state is a single
    counter, and the partition key caps skew at the per-type event
    volume. A 100 TB sweep needs no more memory than any running-total
    window; types with huge timelines can sub-partition by day and
    seed each day with the prior day's closing sum (the standard
    prefix-sum split).
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    iv = _intervals(e)
    pts = iv.select(
        "event_type", F.col("s_us").alias("t"), F.lit(1).alias("delta")
    ).unionAll(iv.select("event_type", F.col("e_us").alias("t"), F.lit(-1).alias("delta")))
    net = pts.groupBy("event_type", "t").agg(F.sum("delta").alias("net"))
    w = (
        W.partitionBy("event_type")
        .orderBy("t")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    run = net.select("event_type", "t", F.sum("net").over(w).alias("running"))
    mx = run.groupBy("event_type").agg(F.max("running").alias("max_concurrent"))
    return (
        run.join(mx, "event_type")
        .filter(F.col("running") == F.col("max_concurrent"))
        .groupBy("event_type", "max_concurrent")
        .agg(F.min("t").alias("first_peak_us"))
        .select("event_type", "max_concurrent", "first_peak_us")
    )


@query(
    "q_interval_window_join",
    # Oracle states the SEMANTICS as a naive range join (overlap
    # predicate against every window); the Spark side implements the
    # scalable BINNED form and must produce identical results.
    oracle=f"""
    WITH iv AS ({_IV_SQL}),
    b AS (SELECT MIN(s_us) AS lo, MAX(e_us) AS hi FROM iv),
    w AS (
        SELECT UNNEST(GENERATE_SERIES(lo // {IV_WINDOW_US}, (hi - 1) // {IV_WINDOW_US})) AS wbin
        FROM b
    )
    SELECT strftime(make_timestamp(wbin * {IV_WINDOW_US}), '%Y-%m-%d %H:%M:%S') AS w_start,
           COUNT(iv.event_id) AS n_events,
           ROUND(COALESCE((CAST(SUM(CAST(ROUND(LEAST(GREATEST(iv.value * 100,
                                                              -1000000000000.0),
                                                     1000000000000.0))
                                         AS DECIMAL(38,0)))
                           AS DOUBLE) / 100), 0), 2) AS sum_value
    FROM w LEFT JOIN iv
      ON iv.s_us < (wbin + 1) * {IV_WINDOW_US} AND iv.e_us > wbin * {IV_WINDOW_US}
    GROUP BY wbin
    """,
    tags=("interval", "range-join", "binned", "custom-op"),
)
def q_interval_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join against a 6-hour maintenance-window grid,
    implemented as a BINNED equi-join: each interval explodes into the
    window bins it touches and joins on the bin key — turning a
    non-equi range join (which Spark would execute as a broadcast
    nested loop) into a plain shuffled equi-join. Bins equal the window
    grid here, so bin membership IS the overlap predicate; with a
    coarser predicate a residual filter after the equi-join finishes
    the job (the q_join_range_value_buckets pattern). Empty windows are
    kept via the left join from the generated grid.

    Scale: rows-per-interval = touched bins (duration/bin, small by
    construction); the join shuffles on uniformly-distributed time
    bins, so no skew and no quadratic blowup — this is THE standard
    time-interval join at warehouse scale. The window grid derives from
    a 1-row min/max aggregate, lazily cross-joined (no driver action).
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    iv = _intervals(e)
    bounds = iv.agg(F.min("s_us").alias("lo"), F.max("e_us").alias("hi"))
    windows = bounds.select(
        F.explode(
            F.sequence(
                F.expr(f"lo div {IV_WINDOW_US}"), F.expr(f"(hi - 1) div {IV_WINDOW_US}")
            )
        ).alias("wbin")
    )
    binned = iv.select(
        "event_id",
        "value",
        F.explode(
            F.sequence(
                F.expr(f"s_us div {IV_WINDOW_US}"), F.expr(f"(e_us - 1) div {IV_WINDOW_US}")
            )
        ).alias("wbin"),
    )
    return (
        windows.join(binned, "wbin", "left")
        .groupBy("wbin")
        .agg(
            F.count("event_id").alias("n_events"),
            # order-independent integer-cents sum (the _exact_sum
            # pattern) with a ±1e12-cent clamp: a plain double SUM's
            # last ulp depends on summation order once an adversarial
            # 1e18 value lands in the window, and even the exact DECIMAL
            # sum diverges at the final DECIMAL->DOUBLE conversion when
            # the total needs >53 bits — clamped, the total stays
            # double-exact and clean values are untouched (r8 find)
            F.round(
                F.coalesce(
                    F.sum(
                        F.round(
                            F.least(
                                F.greatest(F.col("value") * 100, F.lit(-1.0e12)),
                                F.lit(1.0e12),
                            )
                        ).cast("decimal(38,0)")
                    )
                    .cast("double")
                    / 100,
                    F.lit(0.0),
                ),
                2,
            ).alias("sum_value"),
        )
        .select(
            F.date_format(
                F.timestamp_micros(F.col("wbin") * IV_WINDOW_US), "yyyy-MM-dd HH:mm:ss"
            ).alias("w_start"),
            "n_events",
            "sum_value",
        )
    )


# --- Z-order clustering locality --------------------------------------------

from etl_pipeline_spark.operators.zorder import Z_BITS, zorder_key, zorder_sql  # noqa: E402

ZP_BITS = 8  # prefix bits used as the clustering/pruning unit


@query(
    "q_zorder_locality",
    oracle=f"""
    WITH keyed AS (
        SELECT {zorder_sql("(o_custkey % 256)", "CAST(FLOOR(o_totalprice * 256 / 600000) AS BIGINT)")}
                   AS z_key,
               (o_custkey % 256) AS a,
               CAST(FLOOR(o_totalprice * 256 / 600000) AS BIGINT) AS b
        FROM orders
    )
    SELECT z_key >> {2 * Z_BITS - ZP_BITS} AS z_prefix,
           COUNT(*) AS n_orders,
           CAST(MIN(a) AS BIGINT) AS min_a, CAST(MAX(a) AS BIGINT) AS max_a,
           CAST(MIN(b) AS BIGINT) AS min_b, CAST(MAX(b) AS BIGINT) AS max_b,
           CAST(MAX(a) - MIN(a) AS BIGINT) AS a_span,
           CAST(MAX(b) - MIN(b) AS BIGINT) AS b_span
    FROM keyed GROUP BY 1
    """,
    tags=("zorder", "data-skipping", "layout", "custom-op"),
)
def q_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering audit over orders keyed by (customer bucket,
    price band): per z-key prefix (the clustering/pruning unit of
    operators/zorder.py), the row count and the min/max span of EACH
    dimension. The spans are bounded by construction (a prefix fixes
    the top bits of both dimensions), which is exactly the property
    that makes one clustered layout prune two-dimensional predicates —
    the audit a lakehouse runs before adopting a z-order layout.

    Scale: a narrow per-row bit expression plus one aggregate on the
    256-prefix grid. The write-side counterpart (write_zordered /
    read_box with a static covering-prefix IN list, planning-time
    PartitionFilters) is exercised in tests/test_zorder.py.
    """
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    a = F.col("o_custkey") % 256
    b = F.floor(F.col("o_totalprice") * 256 / 600000).cast("long")
    keyed = o.select(
        zorder_key(a, b).alias("z_key"), a.alias("a"), b.alias("b")
    )
    return (
        keyed.groupBy(F.shiftright("z_key", 2 * Z_BITS - ZP_BITS).alias("z_prefix"))
        .agg(
            F.count("*").alias("n_orders"),
            F.min("a").alias("min_a"),
            F.max("a").alias("max_a"),
            F.min("b").alias("min_b"),
            F.max("b").alias("max_b"),
            (F.max("a") - F.min("a")).alias("a_span"),
            (F.max("b") - F.min("b")).alias("b_span"),
        )
    )


# --- Truncated EWMA smoothing ------------------------------------------------

EWMA_WIN = 16  # exact window: alpha decay over the last 16 events
EWMA_ALPHA = 0.5  # power of two => every weight is IEEE-exact


@query(
    "q_ewma_smoothing",
    # alpha = 0.5 makes every weight 2^-k (exact); the weighted sum is an
    # ORDERED fold over the frame list (oldest -> newest in both
    # engines), and the denominator's geometric closed form 2 - 2^-(n-1)
    # is exactly what the sequential fold of exact binary fractions
    # produces — so the smoothed value is bit-reproducible pre-ROUND.
    oracle=f"""
    WITH framed AS (
        SELECT user_id, event_id, value,
               LIST(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN {EWMA_WIN - 1} PRECEDING AND CURRENT ROW
               ) AS l
        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    )
    SELECT user_id, event_id, value,
           ROUND(
             list_reduce(
                 list_transform(GENERATE_SERIES(1, LEN(l)), i -> l[i] * POW(0.5, LEN(l) - i)),
                 (a, b) -> a + b
             ) / (2 - POW(0.5, LEN(l) - 1)),
             4) AS ewma
    FROM framed
    """,
    tags=("window", "timeseries", "ewma", "custom-op"),
)
def q_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each user's event values,
    TRUNCATED to the last {WIN} events — the recursive EWMA
    s_t = alpha*x_t + (1-alpha)*s_(t-1) re-expressed as a bounded-frame
    weighted sum so it runs as a plain window aggregate instead of a
    sequential recurrence (the residual tail the truncation drops is
    <= 2^-{WIN} of the mass — below the output rounding). Smoothing,
    anomaly baselines, and rate limiters all consume this shape.

    Scale: one window shuffle on user_id; per-row state is the
    {WIN}-element frame list regardless of timeline length — a recurrence
    would serialize the whole partition, the truncated form stays a
    streaming frame aggregate. Weights are powers of two and the fold
    order is pinned, so results don't depend on partitioning or engine.
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    # exclude NULL ts (unorderable; engines disagree on NULL sort
    # position) and NULL value (nothing to smooth; an all-NULL frame
    # made the closed-form denominator 0 -> ANSI crash) on both sides
    e = e.filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(EWMA_WIN - 1), W.currentRow)
    )
    framed = e.select(
        "user_id", "event_id", "value", F.collect_list("value").over(w).alias("l")
    )
    n = F.size("l")
    num = F.aggregate(
        F.transform("l", lambda x, i: x * F.pow(F.lit(0.5), n - 1 - i)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    den = F.lit(2.0) - F.pow(F.lit(0.5), n - 1)
    return framed.select(
        "user_id", "event_id", "value", F.round(num / den, 4).alias("ewma")
    )


q_ewma_smoothing.__doc__ = q_ewma_smoothing.__doc__.format(WIN=EWMA_WIN)


# --- Last-touch attribution --------------------------------------------------

ATTR_WINDOW_US = 3600 * 1_000_000  # 1-hour lookback


@query(
    "q_attribution_last_touch",
    # Oracle states the semantics as the naive form (join every purchase
    # to all prior same-user touches in the window, keep the latest);
    # Spark computes the same thing with a single IGNORE-NULLS window —
    # no self-join — and must agree.
    oracle=f"""
    WITH ev AS (
        SELECT event_id, user_id, event_type, value, EPOCH_US(ts) AS us FROM events
    ),
    p AS (SELECT * FROM ev WHERE event_type = 'purchase'),
    lt AS (
        SELECT p.event_id AS pid, p.value AS pval, t.event_type AS touch_type,
               ROW_NUMBER() OVER (
                   PARTITION BY p.event_id ORDER BY t.us DESC, t.event_id DESC
               ) AS rn
        FROM p LEFT JOIN ev t
          ON t.user_id = p.user_id AND t.event_type <> 'purchase'
         AND (t.us < p.us OR (t.us = p.us AND t.event_id < p.event_id))
         AND t.us >= p.us - {ATTR_WINDOW_US}
    )
    SELECT COALESCE(touch_type, 'direct') AS touch_type,
           COUNT(*) AS n_purchases,
           ROUND(SUM(pval), 2) AS attributed_value
    FROM lt WHERE rn = 1 GROUP BY 1
    """,
    tags=("behavioral", "attribution", "window", "asof"),
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: each purchase credits the most
    recent non-purchase event by the same user within the preceding
    hour (else the 'direct' bucket), reported as purchase counts and
    attributed value per touch channel. The classic marketing /
    conversion-funnel join, which is really a per-user as-of lookup.

    Scale: implemented WITHOUT a self-join — one user_id window pass
    carries the last non-purchase (ignore-nulls last over preceding
    rows) to every purchase row, then the 1-hour recency gate is a
    per-row comparison; if the latest touch is stale, every touch is.
    Cost is the user-partitioned sort the timeline queries already pay,
    versus the naive purchase x touch join the oracle spells out.
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    ev = e.select(
        "event_id", "user_id", "event_type", "value", F.unix_micros("ts").alias("us")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(
            F.col("event_type") != "purchase",
            F.struct(F.col("us").alias("tus"), F.col("event_type").alias("ttype")),
        ),
        ignorenulls=True,
    ).over(w)
    attributed = (
        ev.withColumn("touch", touch)
        .filter(F.col("event_type") == "purchase")
        .select(
            "value",
            F.when(
                F.col("touch").isNotNull()
                & (F.col("touch.tus") >= F.col("us") - ATTR_WINDOW_US),
                F.col("touch.ttype"),
            )
            .otherwise("direct")
            .alias("touch_type"),
        )
    )
    return attributed.groupBy("touch_type").agg(
        F.count("*").alias("n_purchases"),
        F.round(F.sum("value"), 2).alias("attributed_value"),
    )
