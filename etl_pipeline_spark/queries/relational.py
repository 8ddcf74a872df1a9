"""Relational surface — SURVEY.md §2.3 (J1-J6), §2.4 (A1/A5), §2.5-2.7.

The reference delegates all relational work to BigQuery (airflow.py:104-122);
this engine *is* the warehouse, so the full join/agg/window/sort/set-op
surface is built here on stock Catalyst. Every query is expressed
declaratively (DataFrame API or SQL) so predicate pushdown, column pruning,
join selection (broadcast vs sort-merge) and AQE apply untouched.

Scale notes are in each docstring: which side broadcasts, where the
shuffle lands, and why the plan survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_pipeline_spark.catalog import load_tables
from etl_pipeline_spark.functions.grid import exact_sum, exact_sum_sql
from etl_pipeline_spark.queries.base import query
from etl_pipeline_spark.session import local_frame


def _r2(c):
    return F.round(c, 2)


# ---------------------------------------------------------------------------
# Aggregations (A1/A5) and sorts
# ---------------------------------------------------------------------------


@query(
    "q01_pricing_summary",
    # money sums/avgs via exact integer-scaled decimal sums (see
    # exact_sum): immune to summation-order .xx5 rounding ties
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
           ROUND({exact_sum_sql('l_extendedprice', 2)}, 2)                 AS sum_base_price,
           ROUND({exact_sum_sql('l_extendedprice * (1 - l_discount)', 4)}, 2) AS sum_disc_price,
           ROUND({exact_sum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)}, 2) AS sum_charge,
           ROUND(AVG(l_quantity), 2)                                        AS avg_qty,
           ROUND({exact_sum_sql('l_extendedprice', 2)} / COUNT(*), 2)      AS avg_price,
           ROUND({exact_sum_sql('l_discount', 2)} / COUNT(*), 2)           AS avg_disc,
           COUNT(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "A5", "flagship"),
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style pricing summary: scan-filter-agg on the fact table.

    Scale: single shuffle on low-cardinality (flag,status) keys with full
    map-side partial aggregation; the shipdate filter and 7-column
    projection push down into the parquet scan.
    """
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _r2(F.sum("l_quantity")).alias("sum_qty"),
            _r2(exact_sum(F.col("l_extendedprice"), 2)).alias("sum_base_price"),
            _r2(exact_sum(disc_price, 4)).alias("sum_disc_price"),
            _r2(exact_sum(disc_price * (1 + F.col("l_tax")), 6)).alias("sum_charge"),
            _r2(F.avg("l_quantity")).alias("avg_qty"),
            _r2(exact_sum(F.col("l_extendedprice"), 2) / F.count("*")).alias("avg_price"),
            _r2(exact_sum(F.col("l_discount"), 2) / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q06_revenue_delta",
    oracle=f"""
    SELECT ROUND({exact_sum_sql('l_extendedprice * l_discount', 4)}, 2) AS revenue_delta,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("agg", "P5", "pushdown"),
)
def q06_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6-style selective filter + global agg (A1 global count is the
    ``n_rows`` column; SURVEY A1 <- dataflow_transform.py:192-195).

    Scale: all four predicates and the 4-column projection reach the
    parquet reader (PushedFilters); the aggregate is a 1-row partial+final
    combine — no data shuffle at all.
    """
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _r2(exact_sum(F.col("l_extendedprice") * F.col("l_discount"), 4)).alias(
                "revenue_delta"
            ),
            F.count("*").alias("n_rows"),
        )
    )


@query(
    "q_agg_stats_acctbal",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*)                       AS n_customers,
           COUNT(DISTINCT c_nationkey)    AS n_nations,
           ROUND(MIN(c_acctbal), 2)       AS min_bal,
           ROUND(MAX(c_acctbal), 2)       AS max_bal,
           ROUND(AVG(c_acctbal), 2)       AS avg_bal,
           ROUND(STDDEV_SAMP(c_acctbal), 2) AS sd_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
    tags=("agg", "A5"),
)
def q_agg_stats_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped multi-statistic aggregate incl. exact distinct count.

    Scale: countDistinct triggers a two-phase expand+agg; keys are
    5 segments so the final shuffle is trivial regardless of input size.
    """
    c = load_tables(spark, sf_dir, ("customer",))["customer"]
    return c.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.countDistinct("c_nationkey").alias("n_nations"),
        _r2(F.min("c_acctbal")).alias("min_bal"),
        _r2(F.max("c_acctbal")).alias("max_bal"),
        _r2(F.avg("c_acctbal")).alias("avg_bal"),
        _r2(F.stddev_samp("c_acctbal")).alias("sd_bal"),
    )


@query(
    "q_rollup_returns",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           ROUND(SUM(l_quantity), 2)     AS sum_qty,
           COUNT(*)                      AS cnt
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg", "A5", "rollup"),
)
def q_rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (flag -> flag+status -> grand total).

    Scale: Spark expands rollup into a grouping-set union before the
    shuffle; partial aggregation still applies per grouping set.
    """
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(_r2(F.sum("l_quantity")).alias("sum_qty"), F.count("*").alias("cnt"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "cnt",
        )
    )


@query(
    "q_cube_orders",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL')   AS orderstatus,
           COALESCE(o_orderpriority, 'ALL') AS orderpriority,
           ROUND((CAST(SUM(CAST(ROUND((o_totalprice) * 100) AS DECIMAL(38,0))) AS DOUBLE) / 100), 2)      AS sum_price,
           COUNT(*)                         AS cnt
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "A5", "cube"),
)
def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over status x priority — all 4 grouping sets."""
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(_r2(exact_sum(F.col("o_totalprice"), 2)).alias("sum_price"), F.count("*").alias("cnt"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "sum_price",
            "cnt",
        )
    )


@query(
    "q_conditional_split_counts",
    oracle="""
    SELECT COUNT(*)                                                    AS total_orders,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F')                 AS delivered_count,
           COUNT(*) FILTER (WHERE o_orderstatus <> 'F')                AS other_status_count,
           ROUND((CAST(SUM(CAST(ROUND((CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END) * 100) AS DECIMAL(38,0))) AS DOUBLE) / 100), 2) AS delivered_value
    FROM orders
    """,
    tags=("agg", "A2", "P6"),
)
def q_conditional_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The README food-orders split-and-count (SURVEY P6/A2, README.md:35-36):
    delivered vs other-status totals, as conditional aggregates over one scan
    (o_orderstatus='F' stands in for 'delivered').

    Scale: one scan, no shuffle beyond the 1-row combine — strictly better
    than the reference's two-branch recompute.
    """
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    delivered = F.col("o_orderstatus") == "F"
    return o.agg(
        F.count("*").alias("total_orders"),
        F.count(F.when(delivered, 1)).alias("delivered_count"),
        F.count(F.when(~delivered, 1)).alias("other_status_count"),
        _r2(exact_sum(F.when(delivered, F.col("o_totalprice")).otherwise(F.lit(0.0)), 2)).alias("delivered_value"),
    )


@query(
    "q_pivot_qty_by_status",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_open,
           ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_filled
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "pivot"),
)
def q_pivot_qty_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot via fixed-domain conditional aggregation (portable form of
    ``groupBy().pivot()``; same Catalyst plan for an explicit value list)."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    return li.groupBy("l_returnflag").agg(
        _r2(F.sum(F.when(F.col("l_linestatus") == "O", F.col("l_quantity")))).alias("qty_open"),
        _r2(F.sum(F.when(F.col("l_linestatus") == "F", F.col("l_quantity")))).alias("qty_filled"),
    )


@query(
    "q_distinct_nation_segments",
    oracle="""
    SELECT DISTINCT c_nationkey, c_mktsegment
    FROM customer
    WHERE c_acctbal > 0
    """,
    tags=("distinct",),
)
def q_distinct_nation_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT projection (dedup-as-operator, SURVEY §2.6/X1 built-in)."""
    c = load_tables(spark, sf_dir, ("customer",))["customer"]
    return c.filter(F.col("c_acctbal") > 0).select("c_nationkey", "c_mktsegment").distinct()


# ---------------------------------------------------------------------------
# Joins (J1-J6)
# ---------------------------------------------------------------------------


@query(
    "q03_order_revenue_topk",
    oracle=f"""
    SELECT l.l_orderkey AS orderkey,
           ROUND({exact_sum_sql('l.l_extendedprice * (1 - l.l_discount)', 4)}, 2) AS revenue,
           CAST(o.o_orderdate AS DATE) AS orderdate
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, orderkey ASC
    LIMIT 10
    """,
    tags=("join", "J1", "topk"),
)
def q03_order_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-style: 3-way equi-join, grouped revenue, global top-10.

    Scale: customer (filtered to one segment) broadcasts; orders-lineitem
    is the one real shuffle join on orderkey. Top-k is TakeOrdered —
    per-partition heaps, no global sort. Tie-break on orderkey keeps the
    limit deterministic.
    """
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    cut = F.lit("1998-03-15").cast("timestamp")
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = t["orders"].filter(F.col("o_orderdate") < cut).select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = t["lineitem"].filter(F.col("l_shipdate") > cut).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.col("o_orderdate").cast("date").alias("orderdate"),
        )
        .agg(
            _r2(exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)).alias(
                "revenue"
            )
        )
        .select("orderkey", "revenue", "orderdate")
        .orderBy(F.col("revenue").desc(), F.col("orderkey").asc())
        .limit(10)
    )


@query(
    "q05_nation_revenue",
    oracle=f"""
    SELECT n.n_name AS nation,
           ROUND({exact_sum_sql('l.l_extendedprice * (1 - l.l_discount)', 4)}, 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    """,
    tags=("join", "J1", "J4"),
)
def q05_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-style 6-way join: local-supplier revenue per nation.

    Scale: region/nation/supplier are dimension tables -> explicit
    broadcast (J4); only customer-orders and orders-lineitem shuffle, and
    AQE can convert those too when the filtered side shrinks enough.
    """
    t = load_tables(
        spark, sf_dir, ("customer", "orders", "lineitem", "supplier", "nation", "region")
    )
    r = t["region"].filter(F.col("r_name").isin("ASIA", "EUROPE"))
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    return (
        t["lineitem"]
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(t["supplier"]),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            _r2(exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)).alias(
                "revenue"
            )
        )
    )


@query(
    "q_join_outer_order_counts",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT OUTER JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    ) AS per_cust
    GROUP BY c_count
    """,
    tags=("join", "J2"),
)
def q_join_outer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13-style left outer join + double aggregation: order-count
    distribution including zero-order customers (the outer-ness matters).

    Scale: shuffle join on custkey, then a cheap re-agg on the tiny
    c_count domain. r14 optimization round — aggregate before the
    shuffle (guide §2.3): orders are counted per custkey FIRST, so the
    custkey exchange feeding the join carries one map-side-combined
    (custkey, count) row per customer instead of every order row; the
    left join then re-attaches the counts with COALESCE 0 for
    zero-order customers — by construction identical to
    COUNT(o_orderkey) over the row-level outer join, because o_orderkey
    is never NULL on a matched order row.
    """
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    o_counts = (
        t["orders"]
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("c_count"))
    )
    per_cust = (
        t["customer"]
        .join(o_counts, t["customer"].c_custkey == o_counts.o_custkey, "left_outer")
        .select(F.coalesce(F.col("c_count"), F.lit(0)).alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "q_join_semi_big_orders",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
    )
    GROUP BY o.o_orderpriority
    """,
    tags=("join", "J3"),
)
def q_join_semi_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): orders having at least one big lineitem —
    TPC-H-Q4 shape. Semi-join avoids duplicating order rows per match."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    big = t["lineitem"].filter(F.col("l_quantity") > 45).select("l_orderkey")
    return (
        t["orders"]
        .join(big, t["orders"].o_orderkey == big.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "q_join_anti_idle_customers",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS n_idle
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_mktsegment
    """,
    tags=("join", "J3"),
)
def q_join_anti_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): customers with no urgent orders, per
    segment."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    return (
        t["customer"]
        .join(
            t["orders"].filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey"),
            t["customer"].c_custkey == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_idle"))
    )


@query(
    "q_join_cross_region_nation",
    oracle="""
    SELECT r.r_name AS region_name, n.n_name AS nation_name
    FROM region r CROSS JOIN nation n
    """,
    tags=("join", "J6"),
)
def q_join_cross_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join of two dimension tables (J6) — 5x25 pairs; legitimate
    only because both sides are tiny (broadcast NL join)."""
    t = load_tables(spark, sf_dir, ("region", "nation"))
    return t["region"].crossJoin(t["nation"]).select(
        F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name")
    )


@query(
    "q_join_range_value_buckets",
    oracle="""
    SELECT b.bucket, COUNT(*) AS n_events, ROUND((CAST(SUM(CAST(ROUND((e.value) * 100) AS DECIMAL(38,0))) AS DOUBLE) / 100), 2) AS sum_value
    FROM events e
    JOIN (VALUES ('low', 0.0, 25.0), ('mid', 25.0, 75.0), ('high', 75.0, 1e18))
         AS b(bucket, lo, hi)
      ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.bucket
    """,
    tags=("join", "J5"),
)
def q_join_range_value_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range join (J5): events against a bucket-boundary table on a
    non-equi predicate.

    Scale: the build side is a constant-size boundary list -> broadcast
    nested-loop, which is O(n * buckets) and embarrassingly parallel; no
    shuffle of the fact side.
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    buckets = local_frame(
        spark,
        {"bucket": ["low", "mid", "high"], "lo": [0.0, 25.0, 75.0], "hi": [25.0, 75.0, 1e18]},
        "bucket string, lo double, hi double",
    )
    return (
        e.join(F.broadcast(buckets), (e.value >= buckets.lo) & (e.value < buckets.hi))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_events"), _r2(exact_sum(F.col("value"), 2)).alias("sum_value"))
    )


_SALT_BUCKETS = 8


@query(
    "q_join_salted_skew",
    oracle="""
    WITH dim AS (
        SELECT DISTINCT event_type, LENGTH(event_type) * 1.5 AS weight
        FROM events
    )
    -- weighted value summed as exact integer thousandths (value has 2
    -- decimals, weight 1: products are exact 3-decimal values), half-up
    -- rounded to 2dp in integer math: ROUND(SUM(double), 2) flips on
    -- true .xx5 ties whose double representation depends on sum order
    SELECT e.event_type,
           COUNT(*) AS n_events,
           FLOOR((SUM(CAST(ROUND(LEAST(GREATEST(e.value * d.weight * 1000,
                                                -1000000000000.0),
                                       1000000000000.0)) AS BIGINT)) + 5) / 10) / 100.0
               AS weighted_value
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY e.event_type
    """,
    tags=("join", "skew", "salting"),
)
def q_join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join on a pathologically skewed key: events.event_type has
    only 5 distinct values, so a plain shuffle join sends each key's
    entire fact volume to one reducer. The salted form spreads each key
    across _SALT_BUCKETS partitions — fact rows get salt =
    pmod(xxhash64(event_id), S) (row-derived, NOT value-derived: salting
    on a value column would re-concentrate equal rows), the dim side is
    replicated S times, and the join key becomes (event_type, salt).

    The oracle is the UNSALTED join — salting must be a pure physical
    rewrite with identical semantics. At this fixture size the dim would
    broadcast; the shuffle_hash hint forces the shuffle path so the
    technique is the one actually exercised. Use when the dim is too big
    to broadcast AND AQE's skew-join split (enabled in session.py) isn't
    available or the skew is in a single key value.
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    dim = (
        e.select("event_type")
        .distinct()
        .withColumn("weight", F.length("event_type") * F.lit(1.5))
    )
    salted_fact = e.withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(_SALT_BUCKETS))
    )
    salted_dim = dim.crossJoin(
        spark.range(_SALT_BUCKETS).select(F.col("id").alias("salt"))
    )
    # clamp to ±1e12 milli-units before the BIGINT cast (same bound in
    # the oracle): an adversarial 1e18 value otherwise CAST_OVERFLOWs
    # and kills the job under ANSI; the clean range tops out ~2.7e6
    milli = F.round(
        F.least(
            F.greatest(F.col("value") * F.col("weight") * 1000, F.lit(-1.0e12)),
            F.lit(1.0e12),
        )
    ).cast("long")
    return (
        salted_fact.join(salted_dim.hint("shuffle_hash"), ["event_type", "salt"])
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            (F.floor((F.sum(milli) + 5) / 10) / 100.0).alias("weighted_value"),
        )
    )


# ---------------------------------------------------------------------------
# Window functions (§2.5), sorts/limits (§2.6)
# ---------------------------------------------------------------------------


@query(
    "q_window_rank_orders",
    oracle="""
    SELECT o_orderpriority, o_orderkey, ROUND(o_totalprice, 2) AS totalprice, rnk
    FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey ASC
               ) AS rnk
        FROM orders
    )
    WHERE rnk <= 3
    """,
    tags=("window", "topk"),
)
def q_window_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via ROW_NUMBER with deterministic tie-break —
    the standard 'top 3 orders per priority class' pattern.

    Scale: one shuffle on the partition key; with AQE, skewed priority
    classes split. For huge groups, pre-aggregate or use a per-partition
    heap (TakeOrdered per key) — here group counts are bounded.
    """
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "o_orderpriority",
            "o_orderkey",
            _r2(F.col("o_totalprice")).alias("totalprice"),
            "rnk",
        )
    )


@query(
    "q_window_running_spend",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate ASC, o_orderkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS running_spend
    FROM orders
    WHERE o_custkey < 100
    """,
    tags=("window",),
)
def q_window_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) sum per customer with an explicit ROWS frame."""
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        o.filter(F.col("o_custkey") < 100)
        .select(
            "o_custkey",
            "o_orderkey",
            _r2(F.sum("o_totalprice").over(w)).alias("running_spend"),
        )
    )


@query(
    "q_window_lag_events",
    oracle="""
    SELECT user_id, event_id,
           ROUND(value - LAG(value) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC
           ), 2) AS delta,
           LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC
           ) AS next_type
    FROM events
    """,
    tags=("window",),
)
def q_window_lag_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG/LEAD across each user's event stream (session-delta pattern)."""
    e = load_tables(spark, sf_dir, ("events",))["events"]
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return e.select(
        "user_id",
        "event_id",
        _r2(F.col("value") - F.lag("value").over(w)).alias("delta"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@query(
    "q_topk_expensive_orders",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS totalprice,
           CAST(o_orderdate AS DATE) AS o_orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
    tags=("sort", "topk"),
)
def q_topk_expensive_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY + LIMIT — Spark plans TakeOrderedAndProject
    (per-partition heaps, no full sort), the right top-k at any scale."""
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select(
            "o_orderkey",
            _r2(F.col("o_totalprice")).alias("totalprice"),
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
        )
    )


# ---------------------------------------------------------------------------
# Set operations (§2.7)
# ---------------------------------------------------------------------------


@query(
    "q_setop_union_parties",
    oracle="""
    SELECT party_key, party_kind FROM (
        SELECT c_custkey AS party_key, 'customer' AS party_kind FROM customer
        WHERE c_acctbal > 9000
        UNION ALL
        SELECT s_suppkey AS party_key, 'supplier' AS party_kind FROM supplier
        WHERE s_acctbal > 9000
    )
    """,
    tags=("setop",),
)
def q_setop_union_parties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two conformed projections (unionByName)."""
    t = load_tables(spark, sf_dir, ("customer", "supplier"))
    c = t["customer"].filter(F.col("c_acctbal") > 9000).select(
        F.col("c_custkey").alias("party_key"), F.lit("customer").alias("party_kind")
    )
    s = t["supplier"].filter(F.col("s_acctbal") > 9000).select(
        F.col("s_suppkey").alias("party_key"), F.lit("supplier").alias("party_kind")
    )
    return c.unionByName(s)


@query(
    "q_setop_intersect_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
    tags=("setop",),
)
def q_setop_intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics): nations present on both sides."""
    t = load_tables(spark, sf_dir, ("customer", "supplier"))
    return (
        t["customer"].select(F.col("c_nationkey").alias("nationkey"))
        .intersect(t["supplier"].select(F.col("s_nationkey").alias("nationkey")))
    )


@query(
    "q_setop_except_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal < 0
    EXCEPT
    SELECT s_nationkey FROM supplier WHERE s_acctbal < 0
    """,
    tags=("setop",),
)
def q_setop_except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): nations with negative-balance customers but no
    negative-balance suppliers. ``subtract`` is Spark's EXCEPT DISTINCT."""
    t = load_tables(spark, sf_dir, ("customer", "supplier"))
    return (
        t["customer"].filter(F.col("c_acctbal") < 0)
        .select(F.col("c_nationkey").alias("nationkey"))
        .subtract(
            t["supplier"].filter(F.col("s_acctbal") < 0)
            .select(F.col("s_nationkey").alias("nationkey"))
        )
    )


# ---------------------------------------------------------------------------
# Event-time windows (§2.9 batch analog; the streaming form with watermarks
# lives in etl_pipeline_spark/streaming and is exercised by pytest)
# ---------------------------------------------------------------------------


@query(
    "q_window_tumbling_events",
    oracle="""
    SELECT strftime(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*)                AS n_events,
           ROUND((CAST(SUM(CAST(ROUND((value) * 100) AS DECIMAL(38,0))) AS DOUBLE) / 100), 2)    AS sum_value
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY DATE_TRUNC('hour', ts), event_type
    """,
    tags=("window", "streaming", "event-time"),
)
def q_window_tumbling_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window aggregation via the same
    ``window()`` operator Structured Streaming uses (epoch-aligned, so the
    window start equals date_trunc('hour')). In streaming this plan gains a
    watermark and incremental state — identical semantics (§2.9)."""
    e = load_tables(spark, sf_dir, ("events",))["events"]
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), _r2(exact_sum(F.col("value"), 2)).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "q_join_full_outer_reconcile",
    oracle="""
    WITH recent_orders AS (
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    ),
    -- revenue in exact integer 1/10000ths: price and discount each have
    -- 2 decimals, so every product is an exact 4-decimal value — summing
    -- it as an integer and half-up rounding to cents IN INTEGER MATH is
    -- deterministic, where ROUND(double, 2) flips on true .xx50 ties
    -- whose double representation differs by summation order
    shipped AS (
        SELECT l_orderkey,
               FLOOR((SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
                      + 50) / 100) AS shipped_cents
        FROM lineitem
        GROUP BY l_orderkey
    ),
    joined AS (
        SELECT o.o_orderkey, o.o_totalprice, s.l_orderkey, s.shipped_cents,
               CASE WHEN o.o_orderkey IS NULL THEN 'ledger_only'
                    WHEN s.l_orderkey IS NULL THEN 'book_only'
                    ELSE 'both' END AS match_status
        FROM recent_orders o
        FULL OUTER JOIN shipped s ON o.o_orderkey = s.l_orderkey
    )
    SELECT match_status,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(COALESCE(o_totalprice, 0) * 100) AS BIGINT)) AS DOUBLE) / 100
               AS book_total,
           CAST(SUM(COALESCE(shipped_cents, 0)) AS DOUBLE) / 100 AS ledger_total
    FROM joined
    GROUP BY match_status
    """,
    tags=("join", "J2", "full-outer", "reconciliation"),
)
def q_join_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-system reconciliation via FULL OUTER join — the audit query
    every warehouse runs between two systems of record: the recent order
    book (headers from 1997 on) against the full shipment ledger
    (lineitem revenue per order). Rows classify as ``both`` (in both
    systems), ``book_only`` (ordered but nothing shipped), or
    ``ledger_only`` (shipments whose header falls outside the book's
    window), with per-class row counts and money totals.

    Scale: the ledger side pre-aggregates per orderkey BEFORE the join
    (shuffle on uniform orderkey), so the full-outer joins two
    one-row-per-key sides — no row explosion; the final 3-row aggregate
    is map-side combined. Money is carried as exact integer 1/10000ths
    through the per-order sum (price x discount products are exact
    4-decimal values) and half-up rounded to cents in integer math —
    ROUND(double, 2) would flip on true .xx50 ties whose double
    representation depends on summation order.
    """
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    recent = t["orders"].filter(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    ).select("o_orderkey", "o_totalprice")
    e4 = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000).cast("long")
    shipped = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.floor((F.sum(e4) + 50) / 100).alias("shipped_cents"))
    )
    joined = recent.join(shipped, recent.o_orderkey == shipped.l_orderkey, "full_outer")
    status = (
        F.when(F.col("o_orderkey").isNull(), F.lit("ledger_only"))
        .when(F.col("l_orderkey").isNull(), F.lit("book_only"))
        .otherwise(F.lit("both"))
    )
    book_cents = F.round(F.coalesce(F.col("o_totalprice"), F.lit(0.0)) * 100).cast("long")
    return (
        joined.select(
            status.alias("match_status"),
            book_cents.alias("book_cents"),
            F.coalesce("shipped_cents", F.lit(0)).alias("ledger_cents"),
        )
        .groupBy("match_status")
        .agg(
            F.count("*").alias("n_orders"),
            (F.sum("book_cents").cast("double") / 100).alias("book_total"),
            (F.sum("ledger_cents").cast("double") / 100).alias("ledger_total"),
        )
    )
