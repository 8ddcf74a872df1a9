"""Advanced relational surface, batch 3 — split from advanced.py to keep
files under the ~2,000-LoC registry guideline: graph motifs (triangle
counting), market-basket association rules, A/B experiments (t-test,
proportions), referential-integrity DQ, cohort LTV, skyline, top paths,
table profiling, rolling actives, funnels + time-to-convert, seasonal
profiles/forecast eval, multi-touch attribution, mean-shift
changepoints, PCA power iteration, winsorized/robust stats, audience
flags, ship-latency percentiles, as-of-with-tolerance, and
time-weighted averages. House determinism rules (queries/base.py)
apply unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_pipeline_spark.catalog import EMB_DOOR_SQL, embedding_door, load_tables
from etl_pipeline_spark.queries.advanced import ATTR_WINDOW_US
from etl_pipeline_spark.functions.grid import MONEY_ABS_MAX, sat_cents, sat_quantize, sat_quantize_sql
from etl_pipeline_spark.queries.base import query


# --- Triangle counting on the co-purchase graph ------------------------------

TRI_SUPPORT = 2  # parts must co-occur in >= this many orders to form an edge


@query(
    "q_triangle_count",
    oracle=f"""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= {TRI_SUPPORT}
    ),
    deg AS (
        SELECT k, COUNT(*) AS d FROM (
            SELECT u AS k FROM edges UNION ALL SELECT v FROM edges
        ) GROUP BY k
    ),
    tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM edges e1
        JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT COUNT(*) FROM deg)                          AS n_vertices,
           (SELECT COUNT(*) FROM edges)                        AS n_edges,
           (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) FROM deg) AS n_wedges,
           (SELECT CAST(n_triangles AS BIGINT) FROM tri)       AS n_triangles,
           ROUND(3.0 * (SELECT n_triangles FROM tri) /
                 (SELECT SUM(d * (d - 1) / 2) FROM deg), 6)    AS global_clustering
    """,
    tags=("graph", "triangle", "join", "custom-op"),
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph (edges = part pairs
    co-ordered in >= {SUP} orders): vertex/edge/wedge/triangle counts and
    the global clustering coefficient — the connectivity profile behind
    related-item recommendations and community detection, and the classic
    distributed-graph benchmark beyond connected components
    (operators/cluster.py).

    Scale: edges are canonically oriented u < v, so each triangle is
    enumerated exactly once by the wedge join (e1 ⨝ e2 on the middle
    vertex) closed by a hash semi-probe (e3). Wedge volume — the real
    cost — is sum(d^2); at 100 TB the standard mitigations apply
    unchanged: orient by DEGREE instead of id (caps wedge fan-out at
    sqrt-degree), cap or sample hub vertices, and pre-filter edges by
    support as done here (support >= {SUP} drops the accidental-co-order
    noise that makes retail graphs dense). Edge source: the lazy
    checkpoint is KEPT here after an r10 A/B — the persisted
    repartitioned frame that won for q_node_clustering at sf10 measured
    25-30% SLOWER for this query at sf0.1 (warm 1.4-1.8 s vs
    1.8-2.1 s), where the extra repartition+persist is never amortized;
    the single-result census reads the frame five times either way and
    the checkpoint materializes it once just the same.
    """
    from etl_pipeline_spark.queries.analytics_ml import co_purchase_edges

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    edges = co_purchase_edges(li, TRI_SUPPORT).localCheckpoint(eager=False)
    return triangle_census(edges)


def orient_edges_by_degree(
    edges: DataFrame, deg: DataFrame | None = None, checkpoint: bool = True
) -> DataFrame:
    """Re-orient an undirected (canonical u < v) edge frame from the
    lower-(degree, id) endpoint to the higher — the Chiba-Nishizeki
    wedge-mass cap shared by the exact census below and the DOULION
    sampled census (queries/graph_sampling.py). ``deg`` is the (k, d)
    degree frame if the caller already built it. Returns a lazily
    checkpointed frame (read multiple times by every wedge join);
    ``checkpoint=False`` hands back the raw plan so a caller that owns
    its own materialization (e.g. sampled_triangles' DISK_ONLY persist
    at billion-edge scale, where two MEMORY_AND_DISK block sets OOMed
    an 8 GB heap — r13 sf50 leg) doesn't double-store the frame."""
    if deg is None:
        deg = (
            edges.select(F.col("u").alias("k"))
            .unionAll(edges.select(F.col("v").alias("k")))
            .groupBy("k")
            .agg(F.count("*").alias("d"))
        )
    du = deg.select(F.col("k").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("k").alias("v"), F.col("d").alias("dv"))
    keyed = edges.join(du, "u").join(dv, "v")
    fwd = F.struct("du", "u") < F.struct("dv", "v")
    out = keyed.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("u"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("v"),
    )
    return out.localCheckpoint(eager=False) if checkpoint else out


def triangle_census(edges: DataFrame, orient_by_degree: bool = False) -> DataFrame:
    """The census over a CANONICALLY ORIENTED (u < v) undirected edge
    frame — extracted from q_triangle_count so the scale soak can run it
    on the stamped parquet edge frames (tools/scale_soak.py
    --sf50-graph; a directed both-ways frame filters u < v to recover
    this form exactly). Caller owns the frame's persistence; the census
    reads it five times.

    ``orient_by_degree`` (r12) wires the mitigation the q_triangle_count
    docstring previously only NAMED: re-orient every edge from its
    lower-(degree, id) endpoint to the higher one before the wedge
    join. Any acyclic orientation enumerates each triangle exactly once
    (the triangle's three edges form one length-2 path from its
    smallest endpoint under the order), so n_triangles is INVARIANT —
    equivalence-pinned on fixtures — while the wedge join's row count
    drops from sum(d^2) to the out-degree form bounded by O(m^1.5)
    (Chiba-Nishizeki): under the degree order every out-degree is at
    most ~sqrt(2m), because a node of degree d only points to
    neighbors of degree >= d and there can be at most 2m/d of those.
    The id order has no such bound — one high-degree hub whose
    neighbors carry larger ids contributes d^2 wedges. The degree/id
    re-orientation is one extra edge-sized broadcast-degree join, so
    the default stays id-order for the small fixtures and the scale
    soak turns it on. n_vertices/n_edges/n_wedges read the UNDIRECTED
    structure and are orientation-independent by construction."""
    deg = (
        edges.select(F.col("u").alias("k"))
        .unionAll(edges.select(F.col("v").alias("k")))
        .groupBy("k")
        .agg(F.count("*").alias("d"))
    )
    oriented = orient_edges_by_degree(edges, deg) if orient_by_degree else edges
    e1 = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = oriented.select(F.col("u").alias("y"), F.col("v").alias("z"))
    e3 = oriented.select(F.col("u").alias("x"), F.col("v").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"]).agg(F.count("*").alias("n_triangles"))
    stats = deg.agg(
        F.count("*").alias("n_vertices"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges"),
    )
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    return (
        stats.crossJoin(n_edges)
        .crossJoin(tri)
        .select(
            "n_vertices",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6).alias(
                "global_clustering"
            ),
        )
    )


q_triangle_count.__doc__ = q_triangle_count.__doc__.format(SUP=TRI_SUPPORT)


# --- Market-basket association rules -----------------------------------------

MB_MIN_PAIR = 2  # pair must co-occur in >= this many orders
MB_TOPK = 15


@query(
    "q_market_basket_rules",
    oracle=f"""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
    cnt AS (SELECT l_partkey, COUNT(*) AS c FROM items GROUP BY l_partkey),
    pair AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS cuv
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= {MB_MIN_PAIR}
    ),
    rules AS (
        SELECT u AS antecedent, v AS consequent, cuv, cu.c AS ca, cv.c AS cc
        FROM pair JOIN cnt cu ON cu.l_partkey = pair.u
                  JOIN cnt cv ON cv.l_partkey = pair.v
        UNION ALL
        SELECT v, u, cuv, cv.c, cu.c
        FROM pair JOIN cnt cu ON cu.l_partkey = pair.u
                  JOIN cnt cv ON cv.l_partkey = pair.v
    )
    SELECT antecedent, consequent,
           CAST(cuv AS BIGINT) AS n_both,
           ROUND(CAST(cuv AS DOUBLE) / n.n_orders, 6) AS support,
           ROUND(CAST(cuv AS DOUBLE) / ca, 6)         AS confidence,
           ROUND(CAST(cuv AS DOUBLE) * n.n_orders / (ca * cc), 4) AS lift
    FROM rules CROSS JOIN n
    ORDER BY lift DESC, antecedent ASC, consequent ASC
    LIMIT {MB_TOPK}
    """,
    tags=("graph", "association-rules", "market-basket", "custom-op"),
)
def q_market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over order baskets: for directed part
    pairs co-ordered at least {MIN} times, the support, confidence, and
    lift of "antecedent => consequent", top-{K} by lift — the
    related-item recommendation table, and the metric layer over the
    same co-occurrence graph the triangle census walks.

    Scale: pair counts come from the shared map-side co-occurrence core
    (co_occurrence_pairs — one shuffle of the item list, streamed
    2-combinations, no order-keyed self-join); item marginals and the
    order total are dimension-sized broadcasts; the top-k is a
    TakeOrderedAndProject. All ratios derive from exact integer counts,
    so both engines rank identically.
    """
    from etl_pipeline_spark.queries.analytics_ml import co_occurrence_pairs

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    items = li.select("l_orderkey", "l_partkey").distinct().localCheckpoint(eager=False)
    n = items.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    cnt = items.groupBy("l_partkey").agg(F.count("*").alias("c"))
    pair = co_occurrence_pairs(li, MB_MIN_PAIR, "cuv")
    enriched = (
        pair.join(F.broadcast(cnt.select(F.col("l_partkey").alias("u"), F.col("c").alias("ca"))), "u")
        .join(F.broadcast(cnt.select(F.col("l_partkey").alias("v"), F.col("c").alias("cc"))), "v")
    )
    rules = enriched.select(
        F.col("u").alias("antecedent"), F.col("v").alias("consequent"),
        "cuv", "ca", "cc",
    ).unionAll(
        enriched.select(
            F.col("v").alias("antecedent"), F.col("u").alias("consequent"),
            "cuv", F.col("cc").alias("ca"), F.col("ca").alias("cc"),
        )
    )
    return (
        rules.crossJoin(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            F.col("cuv").alias("n_both"),
            F.round(F.col("cuv").cast("double") / F.col("n_orders"), 6).alias("support"),
            F.round(F.col("cuv").cast("double") / F.col("ca"), 6).alias("confidence"),
            F.round(
                F.col("cuv").cast("double") * F.col("n_orders") / (F.col("ca") * F.col("cc")), 4
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), F.col("antecedent").asc(), F.col("consequent").asc())
        .limit(MB_TOPK)
    )


q_market_basket_rules.__doc__ = q_market_basket_rules.__doc__.format(MIN=MB_MIN_PAIR, K=MB_TOPK)


# --- Welch two-sample t-test -------------------------------------------------


@query(
    "q_ab_test_ttest",
    oracle="""
    WITH assigned AS (
        SELECT event_type, value,
               CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm
        FROM events
    ),
    arms AS (
        SELECT event_type, arm, COUNT(*) AS n, AVG(value) AS m, VAR_SAMP(value) AS s2
        FROM assigned GROUP BY event_type, arm
    ),
    wide AS (
        SELECT a.event_type,
               a.n AS n_a, a.m AS m_a, a.s2 AS s2_a,
               b.n AS n_b, b.m AS m_b, b.s2 AS s2_b
        FROM arms a JOIN arms b
          ON a.event_type = b.event_type AND a.arm = 'A' AND b.arm = 'B'
    )
    SELECT event_type,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           ROUND(m_a, 4) AS mean_a, ROUND(m_b, 4) AS mean_b,
           ROUND((m_a - m_b) / SQRT(s2_a / n_a + s2_b / n_b), 4) AS t_stat,
           ROUND(POW(s2_a / n_a + s2_b / n_b, 2) /
                 (POW(s2_a / n_a, 2) / (n_a - 1) + POW(s2_b / n_b, 2) / (n_b - 1)),
                 2) AS welch_df,
           CASE WHEN ABS((m_a - m_b) / SQRT(s2_a / n_a + s2_b / n_b)) > 1.96
                THEN 1 ELSE 0 END AS significant
    FROM wide
    """,
    tags=("statistics", "ab-test", "agg"),
)
def q_ab_test_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-test per event type, arms assigned by user
    parity: sample sizes, means, the t statistic, Welch-Satterthwaite
    degrees of freedom, and a 5%-level verdict — the experiment-readout
    query every A/B platform runs, next to the KS drift and MAD outlier
    checks in the statistical-DQ family.

    Scale: one map-combinable aggregate on the (type, arm) grid; the
    t arithmetic is per-group scalar expressions on the tiny result.
    Nothing beyond the aggregate touches row volume.
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    assigned = e.select(
        "event_type",
        "value",
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("arm"),
    )
    arms = assigned.groupBy("event_type", "arm").agg(
        F.count("*").alias("n"), F.avg("value").alias("m"), F.var_samp("value").alias("s2")
    )
    a = arms.filter(F.col("arm") == "A").select(
        "event_type", F.col("n").alias("n_a"), F.col("m").alias("m_a"), F.col("s2").alias("s2_a")
    )
    b = arms.filter(F.col("arm") == "B").select(
        "event_type", F.col("n").alias("n_b"), F.col("m").alias("m_b"), F.col("s2").alias("s2_b")
    )
    # try_divide: singleton or constant arms (se 0, n-1 = 0) yield NULL
    # like DuckDB's double division — not an ANSI DIVIDE_BY_ZERO kill
    se2 = F.col("s2_a") / F.col("n_a") + F.col("s2_b") / F.col("n_b")
    t = F.try_divide(F.col("m_a") - F.col("m_b"), F.sqrt(se2))
    df = F.try_divide(
        F.pow(se2, 2),
        F.try_divide(F.pow(F.col("s2_a") / F.col("n_a"), 2), F.col("n_a") - 1)
        + F.try_divide(F.pow(F.col("s2_b") / F.col("n_b"), 2), F.col("n_b") - 1),
    )
    return a.join(b, "event_type").select(
        "event_type",
        "n_a",
        "n_b",
        F.round("m_a", 4).alias("mean_a"),
        F.round("m_b", 4).alias("mean_b"),
        F.round(t, 4).alias("t_stat"),
        F.round(df, 2).alias("welch_df"),
        F.when(F.abs(t) > 1.96, 1).otherwise(0).alias("significant"),
    )


# --- Referential-integrity audit ---------------------------------------------

_RI_RELATIONS = [
    # (label, child table, child key, parent table, parent key)
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("events.user_id->customer", "events", "user_id", "customer", "c_custkey"),
]


def _ri_oracle() -> str:
    parts = []
    for label, ct, ck, pt, pk in _RI_RELATIONS:
        parts.append(f"""
    SELECT '{label}' AS relation,
           (SELECT COUNT(*) FROM {ct}) AS n_child_rows,
           (SELECT COUNT(*) FROM {ct} c
             WHERE NOT EXISTS (SELECT 1 FROM {pt} p WHERE p.{pk} = c.{ck}))
               AS n_orphan_rows,
           (SELECT COUNT(*) FROM {pt}) AS n_parent_rows,
           (SELECT COUNT(*) FROM {pt} p
             WHERE NOT EXISTS (SELECT 1 FROM {ct} c WHERE c.{ck} = p.{pk}))
               AS n_unreferenced_parents""")
    return "\n    UNION ALL\n".join(parts)


@query(
    "q_dq_referential_integrity",
    oracle=_ri_oracle(),
    tags=("dq", "referential-integrity", "anti-join"),
)
def q_dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across every foreign-key relation in
    the star schema: child row counts, orphaned children (FK with no
    parent — the hard violation a load gate must block on), parent
    counts, and unreferenced parents (the soft signal: dimensions
    nothing points at). One standing query instead of six ad-hoc
    anti-join notebooks; the DQ family's relational complement to the
    statistical checks (KS/MAD/Benford).

    Scale: each relation costs one left-anti join per direction, both
    on the FK key; dimension sides broadcast. Orphan checks at 100 TB
    run on exactly this plan — anti-join against a broadcast dimension
    is a map-side filter.
    """
    tables = load_tables(
        spark, sf_dir,
        ("lineitem", "orders", "part", "supplier", "customer", "nation", "events"),
    )
    rows = []
    for label, ct, ck, pt, pk in _RI_RELATIONS:
        child = tables[ct].select(F.col(ck).alias("k"))
        parent = tables[pt].select(F.col(pk).alias("k"))
        n_child = child.agg(F.count("*").alias("n_child_rows"))
        n_orphan = child.join(F.broadcast(parent.distinct()), "k", "left_anti").agg(
            F.count("*").alias("n_orphan_rows")
        )
        n_parent = parent.agg(F.count("*").alias("n_parent_rows"))
        n_unref = parent.join(child.distinct(), "k", "left_anti").agg(
            F.count("*").alias("n_unreferenced_parents")
        )
        rows.append(
            n_child.crossJoin(n_orphan)
            .crossJoin(n_parent)
            .crossJoin(n_unref)
            .select(
                F.lit(label).alias("relation"),
                "n_child_rows",
                "n_orphan_rows",
                "n_parent_rows",
                "n_unreferenced_parents",
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# --- Cohort lifetime value ----------------------------------------------------


@query(
    "q_cohort_ltv",
    # Revenue is folded in integer CENTS (half-up quantization) so the
    # cumulative window sum is order-independent and exact in both
    # engines; division back to currency happens only at the edge, and
    # the per-user LTV rounds via explicit FLOOR(x+0.5) — cents/users
    # rationals land on exact .00005 halves where library ROUNDs diverge.
    oracle="""
    WITH ev AS (
        SELECT user_id, event_type, CAST(ts AS DATE) AS d,
               CAST(FLOOR(LEAST(GREATEST((value) * 100.0 + 0.5, -1000000000000.0), 1000000000000.0)) AS BIGINT) AS cents
        FROM events
    ),
    cohorts AS (SELECT user_id, MIN(d) AS cohort_day FROM ev GROUP BY user_id),
    sizes AS (SELECT cohort_day, COUNT(*) AS cohort_users FROM cohorts GROUP BY cohort_day),
    cells AS (
        SELECT c.cohort_day, DATEDIFF('day', c.cohort_day, e.d) AS age_days,
               COUNT(DISTINCT e.user_id) AS active_users,
               CAST(SUM(CASE WHEN e.event_type = 'purchase' THEN e.cents ELSE 0 END) AS BIGINT)
                   AS rev_cents
        FROM ev e JOIN cohorts c ON e.user_id = c.user_id
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT cohort_day, age_days, active_users, rev_cents,
               SUM(rev_cents) OVER (
                   PARTITION BY cohort_day ORDER BY age_days
                   ROWS UNBOUNDED PRECEDING
               ) AS cum_cents
        FROM cells
    )
    SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
           c.age_days,
           CAST(c.active_users AS BIGINT) AS active_users,
           ROUND(c.rev_cents / 100.0, 2) AS revenue,
           ROUND(c.cum_cents / 100.0, 2) AS cum_revenue,
           FLOOR(c.cum_cents * 100.0 / s.cohort_users + 0.5) / 10000.0 AS ltv_per_user
    FROM cum c JOIN sizes s ON c.cohort_day = s.cohort_day
    """,
    tags=("behavioral", "cohort", "ltv", "window"),
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users cohorted by first-seen day;
    for each (cohort, age-in-days) cell the active users, purchase
    revenue, cumulative revenue, and cumulative LTV per cohort user —
    the retention table's revenue twin, and the curve a data platform
    publishes to compare acquisition cohorts.

    Scale: one shuffle to find first-seen per user, one aggregate on the
    bounded (cohort, age) grid, one running-sum window per cohort over
    at most the observation span in days. Money folds as integer cents,
    so cumulative sums are exact and engine-independent at any scale.
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    ev = e.select(
        "user_id",
        "event_type",
        F.to_date("ts").alias("d"),
        sat_cents(F.col("value")).alias("cents"),
    )
    cohorts = ev.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    sizes = cohorts.groupBy("cohort_day").agg(F.count("*").alias("cohort_users"))
    cells = (
        ev.join(F.broadcast(cohorts), "user_id")
        .groupBy("cohort_day", F.datediff("d", "cohort_day").alias("age_days"))
        .agg(
            F.countDistinct("user_id").alias("active_users"),
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("cents")).otherwise(0)
            ).alias("rev_cents"),
        )
    )
    w = (
        W.partitionBy("cohort_day")
        .orderBy("age_days")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = cells.withColumn("cum_cents", F.sum("rev_cents").over(w))
    return cum.join(F.broadcast(sizes), "cohort_day").select(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        "age_days",
        "active_users",
        F.round(F.col("rev_cents") / 100.0, 2).alias("revenue"),
        F.round(F.col("cum_cents") / 100.0, 2).alias("cum_revenue"),
        (
            F.floor(F.col("cum_cents") * 100.0 / F.col("cohort_users") + 0.5) / 10000.0
        ).alias("ltv_per_user"),
    )


# --- Skyline (Pareto frontier) -----------------------------------------------


@query(
    "q_skyline_parts",
    # Oracle is the naive NOT-EXISTS dominance check (quadratic, the
    # SEMANTICS); Spark computes the same frontier with the sort +
    # prefix-min algorithm (n log n) and must agree exactly. Dominance:
    # q <= p on both axes and strictly < on at least one; equal points
    # do not dominate each other, so duplicates of a frontier point all
    # survive.
    oracle="""
    SELECT p.p_partkey, p.p_retailprice AS price, p.p_size AS size
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_retailprice <= p.p_retailprice AND q.p_size <= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size)
    )
    """,
    tags=("skyline", "pareto", "window", "custom-op"),
)
def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dimensional skyline of the part catalog (minimize price AND
    size): the Pareto-optimal parts no other part beats on both axes —
    the multi-criteria "best offers" operator behind product search and
    query-optimization literature benchmarks.

    Scale: instead of the oracle's quadratic dominance join, the
    frontier falls out of sort + prefix-min: per distinct price, the min
    size; a running strict-min over lower prices; a price group
    survives iff its min size undercuts every cheaper group's, and its
    survivors are the rows AT that min size. The window runs over
    DISTINCT PRICES (catalog-bounded, orders of magnitude below row
    count); at 100 TB the same prefix-min splits into per-range minima +
    a broadcast prefix combine — the standard distributed-scan
    decomposition, no quadratic stage anywhere.
    """
    p = load_tables(spark, sf_dir, ("part",))["part"]
    grp = p.groupBy(F.col("p_retailprice").alias("price")).agg(
        F.min("p_size").alias("m")
    )
    w = W.orderBy("price").rowsBetween(W.unboundedPreceding, -1)
    keep = (
        grp.withColumn("prev_min", F.min("m").over(w))
        .filter(F.col("prev_min").isNull() | (F.col("m") < F.col("prev_min")))
        .select("price", "m")
    )
    return (
        p.join(
            F.broadcast(keep),
            (F.col("p_retailprice") == F.col("price")) & (F.col("p_size") == F.col("m")),
        )
        .select("p_partkey", "price", F.col("p_size").alias("size"))
    )


# --- Sequential path mining --------------------------------------------------

PATHS_TOPK = 10


@query(
    "q_top_paths",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type, 1) OVER w AS t2,
               LEAD(event_type, 2) OVER w AS t3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    paths AS (
        SELECT event_type || '>' || t2 || '>' || t3 AS path
        FROM seq WHERE t3 IS NOT NULL
    )
    SELECT path, COUNT(*) AS n_occurrences
    FROM paths GROUP BY path
    ORDER BY n_occurrences DESC, path ASC
    LIMIT {PATHS_TOPK}
    """,
    tags=("behavioral", "sequence-mining", "window"),
)
def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common 3-step behavior paths across user timelines (sliding
    trigram of event types per user) — the sequence-mining table behind
    Sankey funnels and next-action models, one level up from the
    pairwise q_event_transitions matrix.

    Scale: the double LEAD shares ONE user-partitioned sort (same
    window spec), the path aggregate keys on a |types|^3-bounded
    domain, and the top-k is heap selection. Longer paths are the same
    plan with more LEADs — state stays per-row.
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    return (
        seq.select(
            F.concat_ws(">", "event_type", "t2", "t3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("path").asc())
        .limit(PATHS_TOPK)
    )


# --- Column profiler ---------------------------------------------------------

_PROFILE_COLS = [
    # (name, kind): kind drives which min/max slot is populated
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_totalprice", "num"),
    ("o_orderstatus", "txt"),
    ("o_orderpriority", "txt"),
    ("o_orderdate", "date"),
]


def _profile_oracle() -> str:
    parts = []
    for name, kind in _PROFILE_COLS:
        if kind == "num":
            mn, mx = f"ROUND(MIN({name}), 2)", f"ROUND(MAX({name}), 2)"
            mt, xt = "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"
        elif kind == "txt":
            mn, mx = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
            mt, xt = f"MIN({name})", f"MAX({name})"
        else:  # date
            mn, mx = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
            mt, xt = (
                f"strftime(MIN(CAST({name} AS DATE)), '%Y-%m-%d')",
                f"strftime(MAX(CAST({name} AS DATE)), '%Y-%m-%d')",
            )
        parts.append(f"""
    SELECT '{name}' AS col_name,
           COUNT({name}) AS n_nonnull,
           COUNT(DISTINCT {name}) AS n_distinct,
           {mn} AS min_num, {mx} AS max_num,
           {mt} AS min_txt, {xt} AS max_txt
    FROM orders""")
    return "\n    UNION ALL\n".join(parts)


@query(
    "q_table_profile",
    oracle=_profile_oracle(),
    tags=("dq", "profiling", "agg"),
)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass-per-column data profile of the orders table — non-null
    and distinct counts plus typed min/max (numeric, text, and ISO-date
    slots) — the Deequ/profiler summary a platform materializes before
    writing expectations. Doubles stay numeric and dates render as ISO
    strings so the profile is engine-portable (raw double->string
    formatting is not).

    Scale: each column profile is one map-combinable aggregate;
    COUNT(DISTINCT) becomes approx_count_distinct/HLL at 100 TB (the
    sketch substitution q_approx_aggregates demonstrates) without
    changing the report's shape.
    """
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    rows = []
    for name, kind in _PROFILE_COLS:
        base = [
            F.count(name).alias("n_nonnull"),
            F.countDistinct(name).alias("n_distinct"),
        ]
        if kind == "num":
            base += [
                F.round(F.min(name), 2).cast("double").alias("min_num"),
                F.round(F.max(name), 2).cast("double").alias("max_num"),
                F.lit(None).cast("string").alias("min_txt"),
                F.lit(None).cast("string").alias("max_txt"),
            ]
        elif kind == "txt":
            base += [
                F.lit(None).cast("double").alias("min_num"),
                F.lit(None).cast("double").alias("max_num"),
                F.min(name).alias("min_txt"),
                F.max(name).alias("max_txt"),
            ]
        else:
            base += [
                F.lit(None).cast("double").alias("min_num"),
                F.lit(None).cast("double").alias("max_num"),
                F.date_format(F.min(F.col(name).cast("date")), "yyyy-MM-dd").alias("min_txt"),
                F.date_format(F.max(F.col(name).cast("date")), "yyyy-MM-dd").alias("max_txt"),
            ]
        rows.append(o.agg(*base).select(F.lit(name).alias("col_name"), "*"))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# --- Rolling distinct active users -------------------------------------------

ROLL_DAYS = 7


@query(
    "q_rolling_active_users",
    # Oracle is the naive day-grid range join with COUNT(DISTINCT); the
    # Spark side uses the scalable explode-into-covered-days form.
    oracle=f"""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    grid AS (SELECT DISTINCT d FROM ud)
    SELECT strftime(g.d, '%Y-%m-%d') AS day,
           COUNT(DISTINCT u.user_id) AS rolling_{ROLL_DAYS}d_users
    FROM grid g JOIN ud u
      ON u.d <= g.d AND u.d > g.d - {ROLL_DAYS}
    GROUP BY g.d
    """,
    tags=("window", "distinct", "rolling", "custom-op"),
)
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling {N}-day distinct active users per day — the DAU/WAU
    metric. COUNT(DISTINCT) over a sliding frame is NOT expressible as
    a window aggregate (distinctness doesn't decompose), so the
    scalable form explodes each (user, active-day) pair into the <=
    {N} window-end days it covers and counts distinct users per day —
    turning an unbounded-state window into a plain bounded-fan-out
    aggregate. Reported only for days present in the data (the oracle's
    grid), matching the naive range join the oracle spells out.

    Scale: fan-out is exactly {N} rows per (user, day) pair after the
    first distinct — corpus-independent; both shuffles key on uniform
    (user, day) / day grids. The (user, day) distinct is the only
    corpus-sized pass. HLL sketches per day replace the exact distinct
    at 100 TB (mergeable across days — q_hll_sketch_union) with the
    same fan-out shape.
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    ud = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    grid = ud.select("d").distinct()
    covered = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), ROLL_DAYS - 1))
        ).alias("day"),
    )
    return (
        covered.join(grid.select(F.col("d").alias("day")), "day", "left_semi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias(f"rolling_{ROLL_DAYS}d_users"))
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), f"rolling_{ROLL_DAYS}d_users")
    )


q_rolling_active_users.__doc__ = q_rolling_active_users.__doc__.format(N=ROLL_DAYS)


# --- Funnel latency -----------------------------------------------------------


@query(
    "q_funnel_time_to_convert",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN EPOCH_US(ts) END) AS first_signup,
               MIN(CASE WHEN event_type = 'purchase' THEN EPOCH_US(ts) END) AS first_purchase
        FROM events GROUP BY user_id
    ),
    conv AS (
        SELECT user_id, (first_purchase - first_signup) / 3600000000.0 AS hours
        FROM firsts
        WHERE first_signup IS NOT NULL AND first_purchase > first_signup
    )
    SELECT COUNT(*) AS n_converted,
           ROUND(MIN(hours), 4) AS min_hours,
           ROUND(MEDIAN(hours), 4) AS median_hours,
           ROUND(QUANTILE_CONT(hours, 0.9), 4) AS p90_hours,
           ROUND(MAX(hours), 4) AS max_hours
    FROM conv
    """,
    tags=("behavioral", "funnel", "latency", "percentile"),
)
def q_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup-to-first-purchase latency distribution: for users whose
    first purchase follows their first signup, the conversion-delay
    min/median/p90/max in hours — the time-dimension companion to
    q_funnel_conversion's rate table.

    Scale: one conditional-min aggregate per user (map-combinable),
    then percentiles over the converted-user set; at 100 TB the exact
    percentile becomes the KLL sketch (q_kll_quantile_merge) on the
    same per-user latencies. Epoch-microsecond integer arithmetic keeps
    the hours exact until the final rounding.
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    firsts = e.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.unix_micros("ts"))
        ).alias("first_signup"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))
        ).alias("first_purchase"),
    )
    conv = firsts.filter(
        F.col("first_signup").isNotNull()
        & (F.col("first_purchase") > F.col("first_signup"))
    ).select(
        ((F.col("first_purchase") - F.col("first_signup")) / 3600000000.0).alias("hours")
    )
    return conv.agg(
        F.count("*").alias("n_converted"),
        F.round(F.min("hours"), 4).alias("min_hours"),
        F.round(F.median("hours"), 4).alias("median_hours"),
        F.round(F.percentile("hours", 0.9), 4).alias("p90_hours"),
        F.round(F.max("hours"), 4).alias("max_hours"),
    )


# --- Seasonal hour-of-day profile --------------------------------------------


@query(
    "q_seasonal_hour_profile",
    oracle="""
    WITH cells AS (
        -- avg from integer cents with explicit half-up: tiny groups put
        -- the mean on exact .00005 halves where library ROUNDs diverge
        SELECT event_type, CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour_of_day,
               COUNT(*) AS n_events,
               FLOOR(SUM(CAST(FLOOR(LEAST(GREATEST((value) * 100.0 + 0.5, -1000000000000.0), 1000000000000.0)) AS BIGINT)) * 100.0 / COUNT(*) + 0.5)
                   / 10000.0 AS avg_value
        FROM events GROUP BY 1, 2
    ),
    peaks AS (
        SELECT event_type, MAX(n_events) AS peak_n FROM cells GROUP BY event_type
    )
    SELECT c.event_type, c.hour_of_day, c.n_events, c.avg_value,
           CASE WHEN c.n_events = p.peak_n THEN 1 ELSE 0 END AS is_peak_hour
    FROM cells c JOIN peaks p ON c.event_type = p.event_type
    """,
    tags=("behavioral", "timeseries", "seasonality"),
)
def q_seasonal_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality profile per event type — volume and mean
    value per hour with the peak hour flagged — the baseline table that
    anomaly detection and capacity planning normalize against (a day
    with traffic far off its hour profile trips the KS drift check).

    Scale: one aggregate on the types x 24 grid plus a broadcast of the
    per-type peaks. Nothing scales beyond the event count's single pass.
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    cents = sat_cents(F.col("value"))
    cells = e.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hour_of_day")
    ).agg(
        F.count("*").alias("n_events"),
        (F.floor(F.sum(cents) * 100.0 / F.count("*") + 0.5) / 10000.0).alias("avg_value"),
    )
    peaks = cells.groupBy("event_type").agg(F.max("n_events").alias("peak_n"))
    return cells.join(F.broadcast(peaks), "event_type").select(
        "event_type",
        "hour_of_day",
        "n_events",
        "avg_value",
        F.when(F.col("n_events") == F.col("peak_n"), 1).otherwise(0).alias("is_peak_hour"),
    )


# --- Seasonal-baseline forecast backtest (MASE) ------------------------------


@query(
    "q_seasonal_forecast_eval",
    # Backtest of the hour-profile forecaster: predict the LAST day's
    # hourly counts per type from the average over all prior days,
    # score MAE against the actuals on the full 24-hour grid (absent
    # hours are zero), and scale by the naive previous-day forecast
    # (MASE). All errors reduce to integer sums — |total - actual*n| and
    # |prev - actual| — so the metrics are exact until the final ROUND.
    oracle="""
    WITH ev AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h
        FROM events
    ),
    bounds AS (
        SELECT MAX(d) AS test_day,
               COUNT(DISTINCT CASE WHEN d < (SELECT MAX(d) FROM ev) THEN d END) AS n_train_days
        FROM ev
    ),
    grid AS (
        SELECT t.event_type, g.h
        FROM (SELECT DISTINCT event_type FROM ev) t,
             (SELECT UNNEST(GENERATE_SERIES(0, 23)) AS h) g
    ),
    train AS (
        SELECT e.event_type, e.h, COUNT(*) AS tc
        FROM ev e, bounds b WHERE e.d < b.test_day GROUP BY e.event_type, e.h
    ),
    prev AS (
        SELECT e.event_type, e.h, COUNT(*) AS pc
        FROM ev e, bounds b WHERE e.d = b.test_day - 1 GROUP BY e.event_type, e.h
    ),
    actual AS (
        SELECT e.event_type, e.h, COUNT(*) AS ac
        FROM ev e, bounds b WHERE e.d = b.test_day GROUP BY e.event_type, e.h
    ),
    cells AS (
        SELECT g.event_type,
               COALESCE(t.tc, 0) AS tc, COALESCE(p.pc, 0) AS pc, COALESCE(a.ac, 0) AS ac,
               b.n_train_days AS n
        FROM grid g
        LEFT JOIN train t ON g.event_type = t.event_type AND g.h = t.h
        LEFT JOIN prev p ON g.event_type = p.event_type AND g.h = p.h
        LEFT JOIN actual a ON g.event_type = a.event_type AND g.h = a.h
        CROSS JOIN bounds b
    )
    SELECT event_type,
           ROUND(SUM(ABS(tc - ac * n)) / (24.0 * ANY_VALUE(n)), 4) AS mae_model,
           ROUND(SUM(ABS(pc - ac)) / 24.0, 4) AS mae_naive,
           ROUND(CAST(SUM(ABS(tc - ac * n)) AS DOUBLE) /
                 (ANY_VALUE(n) * NULLIF(SUM(ABS(pc - ac)), 0)), 4) AS mase
    FROM cells GROUP BY event_type
    """,
    tags=("timeseries", "forecast", "evaluation", "statistics"),
)
def q_seasonal_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest with MASE: the hour-of-day profile
    (q_seasonal_hour_profile's shape, trained on all days before the
    last) predicts the final day's hourly event counts; the report
    scores model MAE against the naive previous-day forecast per event
    type. MASE < 1 means seasonality beats persistence — the go/no-go
    every baseline forecaster must clear before anything fancier ships.

    Scale: three bounded (type, hour) aggregates off one event pass, a
    24 x types grid join, and integer-exact error sums (|total -
    actual*n_days| avoids materializing fractional predictions). The
    backtest at 100 TB slides the same query across days.
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    ev = e.select(
        "event_type", F.to_date("ts").alias("d"), F.hour("ts").cast("long").alias("h")
    ).localCheckpoint(eager=False)
    mx = ev.agg(F.max("d").alias("test_day"))
    bounds = (
        ev.crossJoin(F.broadcast(mx))
        .select("d", "test_day")
        .filter(F.col("d") < F.col("test_day"))
        .agg(F.countDistinct("d").alias("n_train_days"))
        .crossJoin(F.broadcast(mx))
    )
    types = ev.select("event_type").distinct()
    hours = types.sparkSession.range(0, 24).select(F.col("id").alias("h"))
    grid = types.crossJoin(F.broadcast(hours))
    wb = ev.crossJoin(F.broadcast(bounds))
    train = (
        wb.filter(F.col("d") < F.col("test_day"))
        .groupBy("event_type", "h")
        .agg(F.count("*").alias("tc"))
    )
    prev = (
        wb.filter(F.col("d") == F.date_sub("test_day", 1))
        .groupBy("event_type", "h")
        .agg(F.count("*").alias("pc"))
    )
    actual = (
        wb.filter(F.col("d") == F.col("test_day"))
        .groupBy("event_type", "h")
        .agg(F.count("*").alias("ac"))
    )
    cells = (
        grid.join(train, ["event_type", "h"], "left")
        .join(prev, ["event_type", "h"], "left")
        .join(actual, ["event_type", "h"], "left")
        .crossJoin(F.broadcast(bounds.select("n_train_days")))
        .select(
            "event_type",
            F.coalesce("tc", F.lit(0)).alias("tc"),
            F.coalesce("pc", F.lit(0)).alias("pc"),
            F.coalesce("ac", F.lit(0)).alias("ac"),
            F.col("n_train_days").alias("n"),
        )
    )
    return cells.groupBy("event_type").agg(
        F.round(F.sum(F.abs(F.col("tc") - F.col("ac") * F.col("n"))) / (24.0 * F.first("n")), 4).alias("mae_model"),
        F.round(F.sum(F.abs(F.col("pc") - F.col("ac"))) / 24.0, 4).alias("mae_naive"),
        F.round(
            F.sum(F.abs(F.col("tc") - F.col("ac") * F.col("n"))).cast("double")
            / (F.first("n") * F.nullif(F.sum(F.abs(F.col("pc") - F.col("ac"))), F.lit(0))),
            4,
        ).alias("mase"),
    )


# --- Multi-touch attribution --------------------------------------------------


@query(
    "q_attribution_multi_touch",
    # Linear multi-touch with EXACT cent allocation: every non-purchase
    # touch strictly before the purchase and within the 1-hour window
    # shares the purchase's integer cents by the largest-remainder rule
    # (floor(cents/n) each; the earliest cents-mod-n touches get the
    # extra cent) — how billing systems split money, and what keeps the
    # whole query integer-exact (a naive value/n split produces exact
    # half-cent credits where engine ROUNDs diverge — measured).
    # Purchases with no touch credit 'direct'.
    oracle=f"""
    WITH ev AS (
        SELECT event_id, user_id, event_type,
               CAST(FLOOR(LEAST(GREATEST((value) * 100.0 + 0.5, -1000000000000.0), 1000000000000.0)) AS BIGINT) AS cents,
               EPOCH_US(ts) AS us
        FROM events
    ),
    p AS (SELECT * FROM ev WHERE event_type = 'purchase'),
    touches AS (
        SELECT p.event_id AS pid, p.cents AS pcents, t.event_type AS touch_type,
               COUNT(*) OVER (PARTITION BY p.event_id) AS n_touches,
               ROW_NUMBER() OVER (
                   PARTITION BY p.event_id ORDER BY t.us, t.event_id
               ) - 1 AS k
        FROM p JOIN ev t
          ON t.user_id = p.user_id AND t.event_type <> 'purchase'
         AND t.us < p.us AND t.us >= p.us - {ATTR_WINDOW_US}
    ),
    credited AS (
        SELECT touch_type,
               pcents // n_touches +
               CASE WHEN k < pcents % n_touches THEN 1 ELSE 0 END AS credit_cents
        FROM touches
        UNION ALL
        SELECT 'direct', p.cents FROM p
        WHERE NOT EXISTS (SELECT 1 FROM touches t WHERE t.pid = p.event_id)
    )
    SELECT touch_type,
           COUNT(*) AS n_credits,
           ROUND(CAST(SUM(credit_cents) AS BIGINT) / 100.0, 2) AS attributed_value
    FROM credited GROUP BY touch_type
    """,
    tags=("behavioral", "attribution", "window", "multi-touch"),
)
def q_attribution_multi_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch revenue attribution: a purchase's cents split
    across ALL of the user's non-purchase touches in the preceding hour
    by the largest-remainder rule (the fairness-over-recency
    counterpart to q_attribution_last_touch), with untouched purchases
    crediting 'direct'. Money stays integer cents end to end, so the
    split conserves every purchase exactly and the report is
    engine-independent.

    Scale: the touch set per purchase comes from ONE user-partitioned
    window with a RANGE frame over epoch-micros — per-row state is the
    hour's touches (rate-bounded), and no purchase x touch self-join
    exists anywhere in the plan. The explode fans out exactly
    n_touches rows per purchase, which the naive join pays anyway.
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    ev = e.select(
        "event_id",
        "user_id",
        "event_type",
        sat_cents(F.col("value")).alias("cents"),
        F.unix_micros("ts").alias("us"),
    )
    w = W.partitionBy("user_id").orderBy("us").rangeBetween(-ATTR_WINDOW_US, -1)
    touches = F.collect_list(
        F.when(
            F.col("event_type") != "purchase",
            F.struct(F.col("us"), F.col("event_id"), F.col("event_type").alias("t")),
        )
    ).over(w)
    purchases = (
        ev.withColumn("touches", touches)
        .filter(F.col("event_type") == "purchase")
        .select(
            "cents",
            F.array_sort("touches").alias("touches"),
            F.size("touches").alias("n_touches"),
        )
    )
    credited = purchases.filter(F.col("n_touches") > 0).select(
        "cents",
        "n_touches",
        F.posexplode("touches").alias("k", "touch"),
    ).select(
        F.col("touch.t").alias("touch_type"),
        (
            F.floor(F.col("cents") / F.col("n_touches")).cast("long")
            + F.when(F.col("k") < F.col("cents") % F.col("n_touches"), 1).otherwise(0)
        ).alias("credit_cents"),
    ).unionByName(
        purchases.filter(F.col("n_touches") == 0).select(
            F.lit("direct").alias("touch_type"), F.col("cents").alias("credit_cents")
        )
    )
    return credited.groupBy("touch_type").agg(
        F.count("*").alias("n_credits"),
        F.round(F.sum("credit_cents") / 100.0, 2).alias("attributed_value"),
    )


# --- Change-point detection (single mean shift) ------------------------------


@query(
    "q_changepoint_mean_shift",
    # Binary-segmentation step 1, exact arithmetic: per event type, every
    # event boundary is a candidate split; prefix sums of integer cents
    # give both segment means, and the score |meanL - meanR| weighted by
    # the balanced size factor sqrt(nL*nR/n) picks the strongest shift.
    # All candidate scores derive from the same integers in the same
    # per-row formula, so both engines compute bit-identical doubles and
    # the argmax (score DESC, ts ASC) agrees without rounding tricks.
    oracle="""
    WITH ev AS (
        SELECT event_type, event_id, EPOCH_US(ts) AS us,
               CAST(FLOOR(LEAST(GREATEST((value) * 100.0 + 0.5, -1000000000000.0), 1000000000000.0)) AS BIGINT) AS cents
        FROM events WHERE ts IS NOT NULL
    ),
    pre AS (
        SELECT event_type, event_id, us,
               SUM(cents) OVER w AS pref_cents,
               ROW_NUMBER() OVER w AS k,
               SUM(cents) OVER (PARTITION BY event_type) AS tot_cents,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM ev
        WINDOW w AS (PARTITION BY event_type ORDER BY us, event_id
                     ROWS UNBOUNDED PRECEDING)
    ),
    scored AS (
        SELECT event_type, us, k, n,
               pref_cents / (100.0 * k) AS mean_left,
               (tot_cents - pref_cents) / (100.0 * (n - k)) AS mean_right,
               ABS(pref_cents / (100.0 * k) - (tot_cents - pref_cents) / (100.0 * (n - k)))
                 * SQRT(CAST(k AS DOUBLE) * (n - k) / n) AS score
        FROM pre WHERE k < n
    ),
    best AS (
        SELECT event_type, us, k, n, mean_left, mean_right, score,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY score DESC, us ASC
               ) AS rn
        FROM scored
    )
    SELECT event_type,
           CAST(us AS BIGINT) AS split_us,
           CAST(k AS BIGINT) AS n_left,
           CAST(n - k AS BIGINT) AS n_right,
           ROUND(mean_left, 4) AS mean_left,
           ROUND(mean_right, 4) AS mean_right,
           ROUND(score, 4) AS shift_score
    FROM best WHERE rn = 1
    """,
    tags=("timeseries", "changepoint", "statistics", "custom-op"),
)
def q_changepoint_mean_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point detection per event type: the event boundary
    that maximizes the size-weighted mean shift |mean_left - mean_right|
    * sqrt(nL*nR/n) — the first step of binary segmentation, which is
    how a monitoring pipeline localizes "when did this metric change".
    Iterating on each side finds further breaks with the same plan.

    Scale: one per-type ordered window builds prefix sums (integer
    cents — exact), every row scores its own split in closed form, and
    a per-type argmax picks the break: no per-candidate scan, O(n)
    total. The prefix-sum window splits by day with carried offsets at
    100 TB like every running-total here.
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    # NULL ts rows are excluded on both sides: they cannot be placed in
    # the time order, and the engines disagree on NULL sort position
    # (Spark NULLS FIRST asc vs DuckDB NULLS LAST) — r8 wave-2 find
    ev = e.filter(F.col("ts").isNotNull()).select(
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("us"),
        sat_cents(F.col("value")).alias("cents"),
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("us", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wp = W.partitionBy("event_type")
    pre = ev.select(
        "event_type",
        "us",
        F.sum("cents").over(w).alias("pref_cents"),
        F.row_number().over(
            W.partitionBy("event_type").orderBy("us", "event_id")
        ).alias("k"),
        F.sum("cents").over(wp).alias("tot_cents"),
        F.count("*").over(wp).alias("n"),
    )
    mean_l = F.col("pref_cents") / (100.0 * F.col("k"))
    mean_r = (F.col("tot_cents") - F.col("pref_cents")) / (100.0 * (F.col("n") - F.col("k")))
    score = F.abs(mean_l - mean_r) * F.sqrt(
        F.col("k").cast("double") * (F.col("n") - F.col("k")) / F.col("n")
    )
    scored = pre.filter(F.col("k") < F.col("n")).select(
        "event_type", "us", "k", "n",
        mean_l.alias("mean_left"), mean_r.alias("mean_right"), score.alias("score"),
    )
    wr = W.partitionBy("event_type").orderBy(F.col("score").desc(), F.col("us").asc())
    return (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("us").alias("split_us"),
            F.col("k").alias("n_left"),
            (F.col("n") - F.col("k")).alias("n_right"),
            F.round("mean_left", 4).alias("mean_left"),
            F.round("mean_right", 4).alias("mean_right"),
            F.round("score", 4).alias("shift_score"),
        )
    )


# --- Strict three-step funnel -------------------------------------------------

FUNNEL3_STEPS = ("signup", "click", "purchase")


@query(
    "q_funnel_three_step",
    # Strict ordering: step 2 must be the user's first click AFTER their
    # first signup; step 3 the first purchase AFTER that click. The
    # composite order key rebases epoch micros to 2023-11 and packs a
    # bounded id component so it stays inside int64 in BOTH engines
    # (raw us * 1e7 overflowed — caught by ANSI mode).
    oracle="""
    WITH ev AS (
        SELECT user_id, event_type,
               (EPOCH_US(ts) - 1700000000000000) * 1000000 + event_id % 1000000 AS k
        FROM events
    ),
    s1 AS (
        SELECT user_id, MIN(k) AS k1
        FROM ev WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.k) AS k2
        FROM ev e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.k > s1.k1
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.k) AS k3
        FROM ev e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.k > s2.k2
        GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(DISTINCT user_id) FROM ev) AS n_users,
           (SELECT COUNT(*) FROM s1) AS n_signup,
           (SELECT COUNT(*) FROM s2) AS n_then_click,
           (SELECT COUNT(*) FROM s3) AS n_then_purchase,
           ROUND((SELECT COUNT(*) FROM s3) /
                 CAST(NULLIF((SELECT COUNT(*) FROM s1), 0) AS DOUBLE), 4)
               AS full_conversion
    """,
    tags=("behavioral", "funnel", "sequence"),
)
def q_funnel_three_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-sequence three-step funnel (signup -> then click -> then
    purchase): users counted at each stage only if the NEXT step
    strictly follows their previous step's first occurrence — the
    product-analytics funnel where step order matters, not just step
    membership (contrast q_funnel_conversion's any-order pairs).

    Scale: three conditional-min aggregates keyed on user_id — each
    stage reuses the previous stage's (small) first-occurrence table as
    a broadcast; the event stream is scanned per stage with a pushed
    type filter. The composite us*1e7+event_id key keeps ordering total
    and integer-exact.
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    ev = e.select(
        "user_id",
        "event_type",
        (
            (F.unix_micros("ts") - 1_700_000_000_000_000) * 1_000_000
            + F.col("event_id") % 1_000_000
        ).alias("k"),
    ).localCheckpoint(eager=False)
    s1 = ev.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("k").alias("k1")
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(F.broadcast(s1), "user_id")
        .filter(F.col("k") > F.col("k1"))
        .groupBy("user_id")
        .agg(F.min("k").alias("k2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(s2), "user_id")
        .filter(F.col("k") > F.col("k2"))
        .groupBy("user_id")
        .agg(F.min("k").alias("k3"))
    )
    n_users = ev.agg(F.countDistinct("user_id").alias("n_users"))
    c1 = s1.agg(F.count("*").alias("n_signup"))
    c2 = s2.agg(F.count("*").alias("n_then_click"))
    c3 = s3.agg(F.count("*").alias("n_then_purchase"))
    return (
        n_users.crossJoin(c1).crossJoin(c2).crossJoin(c3)
        .select(
            "n_users",
            "n_signup",
            "n_then_click",
            "n_then_purchase",
            F.round(
                F.col("n_then_purchase") / F.nullif(F.col("n_signup"), F.lit(0)).cast("double"),
                4,
            ).alias("full_conversion"),
        )
    )


# --- PCA top component via integer power iteration ----------------------------

PCA_ITERS = 3
PCA_QUANT = 10000  # embedding quantization grid
PCA_VGRID = 1000  # iterate quantization grid


def _pca_oracle() -> str:
    """Unrolled integer power iteration over the Gram operator, shared
    construction with the Spark side: s_i = q_i . u (exact int), numer_a
    = sum_i q_ia * s_i (exact int), u' = floor(numer/max|numer|*grid+.5)."""
    base = f"""
    q AS (
        SELECT vec_id,
               LIST({sat_quantize_sql("val", PCA_QUANT)} ORDER BY pos) AS qv
        FROM (
            SELECT vec_id, g AS pos, embedding[g]::DOUBLE AS val
            FROM embeddings, UNNEST(GENERATE_SERIES(1, LEN(embedding))) t(g)
            WHERE {EMB_DOOR_SQL}
        ) GROUP BY vec_id
    ),
    u0 AS (
        SELECT LIST(CAST({PCA_VGRID} AS BIGINT) ORDER BY g) AS uv
        FROM UNNEST(GENERATE_SERIES(1, 64)) t(g)
    )"""
    steps = ""
    prev = "u0"
    for t in range(PCA_ITERS):
        steps += f""",
    s{t} AS (
        SELECT q.vec_id, q.qv, list_dot_product(q.qv, {prev}.uv) AS s
        FROM q CROSS JOIN {prev}
    ),
    n{t} AS (
        SELECT pos, CAST(SUM(qv[pos] * s) AS BIGINT) AS numer
        FROM s{t}, UNNEST(GENERATE_SERIES(1, 64)) t(pos)
        GROUP BY pos
    ),
    m{t} AS (SELECT MAX(ABS(numer)) AS mx FROM n{t}),
    u{t + 1} AS (
        SELECT LIST(CAST(FLOOR(CAST(numer AS DOUBLE) / mx * {PCA_VGRID} + 0.5) AS BIGINT)
                    ORDER BY pos) AS uv
        FROM n{t} CROSS JOIN m{t}
    )"""
        prev = f"u{t + 1}"
    return base + steps


@query(
    "q_pca_top_component",
    # Every iterate is integer-exact: dot products and the per-dimension
    # accumulations are sums of bounded BIGINTs (order-free), and the
    # rescale divides exact integers (identical doubles in both engines)
    # before an explicit half-up floor. Only the final Rayleigh/loading
    # outputs touch order-sensitive double sums, and those carry ROUND.
    oracle=f"""
    WITH {_pca_oracle()},
    sf AS (
        SELECT q.vec_id, list_dot_product(q.qv, u.uv) AS s,
               list_dot_product(q.qv, q.qv) AS qq
        FROM q CROSS JOIN u{PCA_ITERS} u
    ),
    uu AS (SELECT list_dot_product(uv, uv) AS udot, uv FROM u{PCA_ITERS}),
    lam AS (
        SELECT SUM(CAST(s AS DOUBLE) * s) / ANY_VALUE(uu.udot) AS lam_raw,
               SUM(CAST(s AS DOUBLE) * s) / ANY_VALUE(uu.udot) / SUM(CAST(qq AS DOUBLE))
                   AS explained
        FROM sf CROSS JOIN uu
    )
    SELECT g AS dim,
           ROUND(uu.uv[g] / SQRT(uu.udot), 4) AS loading,
           ROUND(lam.lam_raw / ({PCA_QUANT}.0 * {PCA_QUANT}), 4) AS lambda_top,
           ROUND(lam.explained, 4) AS explained_ratio
    FROM uu CROSS JOIN lam, UNNEST(GENERATE_SERIES(1, 64)) t(g)
    """,
    tags=("similarity", "X3", "pca", "iterative", "linear-algebra"),
)
def q_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by {N} power-
    iteration steps against the Gram operator — WITHOUT materializing
    the Gram matrix: each step is one corpus pass computing s_i = q_i.u
    then one bounded per-dimension accumulation sum_i q_ia*s_i (the
    matrix-free matvec). Embeddings and iterates live on integer grids,
    so every iterate is bit-identical across engines and partitionings;
    the output is the 64 loadings plus the Rayleigh eigenvalue and the
    explained-variance ratio — the dominant-direction health check
    (anisotropy / collapsed-embedding detection) next to
    q_embedding_centroid_health.

    Scale: per step, one narrow pass (s is a per-row fold) and a
    64-group aggregate of exact integers; the iterate broadcasts. That
    is the textbook distributed power iteration, and the integer
    formulation removes the floating-point nondeterminism that
    otherwise makes iterative linear algebra unreproducible across
    cluster sizes.
    """
    e = embedding_door(load_tables(spark, sf_dir, ("embeddings",))["embeddings"])
    q = e.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: sat_quantize(x, PCA_QUANT)
        ).alias("qv"),
    ).localCheckpoint(eager=False)
    idot = lambda x, y: F.aggregate(  # integer dot product  # noqa: E731
        F.zip_with(x, y, lambda p, r: p * r), F.lit(0).cast("long"), lambda acc, v: acc + v
    )
    u = spark.range(1).select(
        F.transform(F.sequence(F.lit(1), F.lit(64)), lambda _: F.lit(PCA_VGRID).cast("long")).alias("uv")
    )
    for _ in range(PCA_ITERS):
        s = q.crossJoin(F.broadcast(u)).select(
            "qv", idot(F.col("qv"), F.col("uv")).alias("s")
        )
        numer = (
            s.select(F.posexplode("qv").alias("pos0", "qa"), "s")
            .groupBy("pos0")
            .agg(F.sum(F.col("qa") * F.col("s")).alias("numer"))
        )
        mx = numer.agg(F.max(F.abs("numer")).alias("mx"))
        u = (
            numer.crossJoin(F.broadcast(mx))
            .select(
                "pos0",
                F.floor(F.col("numer").cast("double") / F.col("mx") * PCA_VGRID + 0.5)
                .cast("long")
                .alias("u"),
            )
            .groupBy()
            .agg(F.array_sort(F.collect_list(F.struct("pos0", "u"))).alias("pu"))
            .select(F.transform("pu", lambda st: st["u"]).alias("uv"))
            # truncate lineage per step: the iterate is 1 row x 64 longs, but
            # without this each step's plan embeds the whole prior chain
            # (718 nodes at 3 iterations, r5 PLAN_AUDIT) — checkpointing
            # keeps the per-step plan constant-depth, value-identical.
            .localCheckpoint(eager=False)
        )
    sf = q.crossJoin(F.broadcast(u)).select(
        idot(F.col("qv"), F.col("uv")).alias("s"),
        idot(F.col("qv"), F.col("qv")).alias("qq"),
    )
    uu = u.select("uv", idot(F.col("uv"), F.col("uv")).alias("udot"))
    lam = (
        sf.crossJoin(F.broadcast(uu.select("udot")))
        .agg(
            (F.sum(F.col("s").cast("double") * F.col("s")) / F.first("udot")).alias("lam_raw"),
            (
                F.sum(F.col("s").cast("double") * F.col("s"))
                / F.first("udot")
                / F.sum(F.col("qq").cast("double"))
            ).alias("explained"),
        )
    )
    dims = uu.select(
        F.posexplode(F.col("uv")).alias("pos0", "ua"), F.col("udot")
    ).select((F.col("pos0") + 1).alias("dim"), "ua", "udot")
    return dims.crossJoin(F.broadcast(lam)).select(
        "dim",
        F.round(F.try_divide(F.col("ua"), F.sqrt(F.col("udot"))), 4).alias("loading"),
        F.round(F.col("lam_raw") / (float(PCA_QUANT) * PCA_QUANT), 4).alias("lambda_top"),
        F.round("explained", 4).alias("explained_ratio"),
    )


# --- Two-proportion z-test ----------------------------------------------------


@query(
    "q_ab_test_proportions",
    # Conversion-rate counterpart of q_ab_test_ttest: arms by user
    # parity, "conversion" = value over the global median (a per-arm
    # proportion); pooled two-proportion z with the 1.96 verdict. All
    # inputs are integer counts; the median threshold is computed once
    # and is exact-rational, so both engines classify identically.
    oracle="""
    WITH med AS (SELECT MEDIAN(value) AS m FROM events),
    assigned AS (
        SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
               CASE WHEN value > (SELECT m FROM med) THEN 1 ELSE 0 END AS conv
        FROM events
    ),
    arms AS (
        SELECT arm, COUNT(*) AS n, CAST(SUM(conv) AS BIGINT) AS x
        FROM assigned GROUP BY arm
    ),
    wide AS (
        SELECT a.n AS n_a, a.x AS x_a, b.n AS n_b, b.x AS x_b
        FROM arms a JOIN arms b ON a.arm = 'A' AND b.arm = 'B'
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, x_a,
           CAST(n_b AS BIGINT) AS n_b, x_b,
           ROUND(CAST(x_a AS DOUBLE) / n_a, 6) AS rate_a,
           ROUND(CAST(x_b AS DOUBLE) / n_b, 6) AS rate_b,
           ROUND((CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b) /
                 SQRT((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b)) *
                      (1 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b)) *
                      (1.0 / n_a + 1.0 / n_b)), 4) AS z_stat,
           CASE WHEN ABS((CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b) /
                 SQRT((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b)) *
                      (1 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b)) *
                      (1.0 / n_a + 1.0 / n_b))) > 1.96
                THEN 1 ELSE 0 END AS significant
    FROM wide
    """,
    tags=("statistics", "ab-test", "proportions"),
)
def q_ab_test_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test readout: arms by user parity, conversion
    defined as an above-median event value, pooled-proportion z
    statistic with the 5%-level verdict — the conversion-rate
    experiment table beside the means-based Welch readout
    (q_ab_test_ttest).

    Scale: a global median (KLL sketch at 100 TB) broadcast as a
    threshold, then one (arm) aggregate of integer counts; the z
    arithmetic is a scalar epilogue.
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    med = e.agg(F.median("value").alias("m"))
    assigned = e.crossJoin(F.broadcast(med)).select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("arm"),
        F.when(F.col("value") > F.col("m"), 1).otherwise(0).alias("conv"),
    )
    arms = assigned.groupBy("arm").agg(
        F.count("*").alias("n"), F.sum("conv").alias("x")
    )
    a = arms.filter(F.col("arm") == "A").select(
        F.col("n").alias("n_a"), F.col("x").alias("x_a")
    )
    b = arms.filter(F.col("arm") == "B").select(
        F.col("n").alias("n_b"), F.col("x").alias("x_b")
    )
    w = a.crossJoin(b)
    p_a = F.col("x_a").cast("double") / F.col("n_a")
    p_b = F.col("x_b").cast("double") / F.col("n_b")
    pool = (F.col("x_a") + F.col("x_b")).cast("double") / (F.col("n_a") + F.col("n_b"))
    # try_divide: a degenerate pool (all successes / all failures) must
    # yield NULL like DuckDB's double division, not an ANSI crash
    z = F.try_divide(
        p_a - p_b,
        F.sqrt(pool * (1 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))),
    )
    return w.select(
        "n_a", "x_a", "n_b", "x_b",
        F.round(p_a, 6).alias("rate_a"),
        F.round(p_b, 6).alias("rate_b"),
        F.round(z, 4).alias("z_stat"),
        F.when(F.abs(z) > 1.96, 1).otherwise(0).alias("significant"),
    )


# --- Winsorized robust statistics ---------------------------------------------


@query(
    "q_winsorized_stats",
    # Clamp thresholds are exact percentiles (identical interpolated
    # doubles in both engines over the same inputs); clamped values fold
    # to integer cents with explicit half-up before averaging, so the
    # robust mean is exact until the final edge division.
    oracle=f"""
    WITH th AS (
        SELECT event_type,
               QUANTILE_CONT(value, 0.05) AS lo,
               QUANTILE_CONT(value, 0.95) AS hi
        FROM events GROUP BY event_type
    ),
    clamped AS (
        SELECT e.event_type,
               {sat_quantize_sql("LEAST(GREATEST(e.value, t.lo), t.hi)", 100, MONEY_ABS_MAX)}
                   AS cents
        FROM events e JOIN th t ON e.event_type = t.event_type
    )
    SELECT c.event_type,
           COUNT(*) AS n_events,
           ROUND(ANY_VALUE(t.lo), 2) AS p05,
           ROUND(ANY_VALUE(t.hi), 2) AS p95,
           FLOOR(SUM(c.cents) * 100.0 / COUNT(*) + 0.5) / 10000.0 AS winsorized_mean
    FROM clamped c JOIN th t ON c.event_type = t.event_type
    GROUP BY c.event_type
    """,
    tags=("statistics", "robust", "winsorize", "dq"),
)
def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5/95 winsorized mean per event type: values clamp to the exact
    5th/95th percentiles before averaging — the robust central estimate
    that tolerates heavy tails without discarding rows (trimming's
    gentler sibling; compare q_udaf_trimmed_mean, which drops instead
    of clamping).

    Scale: thresholds per group come from the percentile pass (KLL
    sketch at 100 TB) and broadcast; the clamp is a narrow expression
    and the mean folds integer cents — one extra map pass over the
    column, no new shuffle shape.
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    th = e.groupBy("event_type").agg(
        F.percentile("value", 0.05).alias("lo"),
        F.percentile("value", 0.95).alias("hi"),
    )
    clamped = e.join(F.broadcast(th), "event_type").select(
        "event_type",
        "lo",
        "hi",
        # sat_quantize: a tiny group's p95 can itself be an adversarial
        # extreme, so the winsorize clamp alone doesn't bound the cents
        sat_quantize(
            F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")),
            100,
            MONEY_ABS_MAX,
        ).alias("cents"),
    )
    return clamped.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.first("lo"), 2).alias("p05"),
        F.round(F.first("hi"), 2).alias("p95"),
        (F.floor(F.sum("cents") * 100.0 / F.count("*") + 0.5) / 10000.0).alias(
            "winsorized_mean"
        ),
    )


# --- Audience membership flags ------------------------------------------------


@query(
    "q_audience_flags",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_customers,
           CAST(SUM(CASE WHEN o.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS has_orders,
           CAST(SUM(CASE WHEN e.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS has_events,
           CAST(SUM(CASE WHEN o.k IS NOT NULL AND e.k IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS has_both,
           CAST(SUM(CASE WHEN o.k IS NULL AND e.k IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS inactive
    FROM customer c
    LEFT JOIN (SELECT DISTINCT o_custkey AS k FROM orders) o ON c.c_custkey = o.k
    LEFT JOIN (SELECT DISTINCT user_id AS k FROM events) e ON c.c_custkey = e.k
    GROUP BY c.c_mktsegment
    """,
    tags=("behavioral", "segmentation", "anti-join"),
)
def q_audience_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience segmentation by cross-table membership: per market
    segment, how many customers have orders, have events, have both,
    or are fully inactive — the multi-source membership matrix behind
    audience builders and reactivation campaigns, computed as two
    distinct-key left joins folded into existence flags (no exploding
    fact join).

    Scale: each membership source reduces to its DISTINCT key set
    first (fact-sized pass, key-sized output) and then joins
    broadcast-style against the dimension; flags aggregate on the
    bounded segment grid.
    """
    t = load_tables(spark, sf_dir, ("customer", "orders", "events"))
    ok = t["orders"].select(F.col("o_custkey").alias("k")).distinct().withColumn("has_o", F.lit(1))
    ek = t["events"].select(F.col("user_id").alias("k")).distinct().withColumn("has_e", F.lit(1))
    flags = (
        t["customer"]
        .join(F.broadcast(ok), t["customer"]["c_custkey"] == ok["k"], "left")
        .drop("k")
        .join(F.broadcast(ek), t["customer"]["c_custkey"] == ek["k"], "left")
        .drop("k")
        .select(
            "c_mktsegment",
            F.coalesce("has_o", F.lit(0)).alias("has_o"),
            F.coalesce("has_e", F.lit(0)).alias("has_e"),
        )
    )
    return flags.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.sum("has_o").alias("has_orders"),
        F.sum("has_e").alias("has_events"),
        F.sum(F.col("has_o") * F.col("has_e")).alias("has_both"),
        F.sum((1 - F.col("has_o")) * (1 - F.col("has_e"))).alias("inactive"),
    )


# --- Order-to-ship latency percentiles ---------------------------------------


@query(
    "q_ship_latency_percentiles",
    oracle="""
    WITH lat AS (
        SELECT o.o_orderpriority,
               DATEDIFF('day', CAST(o.o_orderdate AS DATE), MAX(CAST(l.l_shipdate AS DATE)))
                   AS days_to_full_ship
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
    )
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(QUANTILE_CONT(days_to_full_ship, 0.5), 1) AS p50_days,
           ROUND(QUANTILE_CONT(days_to_full_ship, 0.9), 1) AS p90_days,
           ROUND(QUANTILE_CONT(days_to_full_ship, 0.99), 1) AS p99_days,
           CAST(MAX(days_to_full_ship) AS BIGINT) AS max_days
    FROM lat GROUP BY o_orderpriority
    """,
    tags=("relational", "latency", "percentile", "sla"),
)
def q_ship_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-complete-shipment latency SLA table: days from order
    date to the LAST line item's ship date, summarized per priority as
    p50/p90/p99/max — the fulfillment-SLA readout, and the pattern for
    any "time to fully complete a multi-part job" metric. Latencies are
    integer day differences, so the percentile inputs are exact.

    Scale: one (order) aggregate for the completion date, one bounded
    (priority) aggregate of percentiles (KLL at 100 TB); the join
    shuffles on the order key it would shuffle on anyway.
    """
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    lat = (
        t["orders"]
        .join(t["lineitem"], t["orders"]["o_orderkey"] == t["lineitem"]["l_orderkey"])
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(
            F.datediff(
                F.max(F.col("l_shipdate").cast("date")), F.col("o_orderdate").cast("date")
            ).alias("days_to_full_ship")
        )
    )
    return lat.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.percentile("days_to_full_ship", 0.5), 1).alias("p50_days"),
        F.round(F.percentile("days_to_full_ship", 0.9), 1).alias("p90_days"),
        F.round(F.percentile("days_to_full_ship", 0.99), 1).alias("p99_days"),
        F.max("days_to_full_ship").alias("max_days"),
    )


# --- Tolerance-bounded bidirectional as-of join -------------------------------

ASOF_TOL_US = 1800 * 1_000_000  # 30-minute tolerance


@query(
    "q_asof_tolerance",
    # pandas merge_asof parity: for each purchase, the nearest same-user
    # 'view' BACKWARD and FORWARD, each only within the 30-minute
    # tolerance (else null) — plus which direction won. Windows carry
    # the neighbors (ignore-nulls last/first over prior/following rows);
    # the oracle spells the same thing as naive min/max lookups.
    oracle=f"""
    WITH ev AS (
        SELECT event_id, user_id, event_type, EPOCH_US(ts) AS us FROM events
    ),
    p AS (SELECT * FROM ev WHERE event_type = 'purchase'),
    bwd AS (
        SELECT p.event_id AS pid, MAX(v.us) AS b_us
        FROM p JOIN ev v
          ON v.user_id = p.user_id AND v.event_type = 'view'
         AND (v.us < p.us OR (v.us = p.us AND v.event_id < p.event_id))
         AND v.us >= p.us - {ASOF_TOL_US}
        GROUP BY p.event_id
    ),
    fwd AS (
        SELECT p.event_id AS pid, MIN(v.us) AS f_us
        FROM p JOIN ev v
          ON v.user_id = p.user_id AND v.event_type = 'view'
         AND (v.us > p.us OR (v.us = p.us AND v.event_id > p.event_id))
         AND v.us <= p.us + {ASOF_TOL_US}
        GROUP BY p.event_id
    )
    SELECT p.event_id,
           CAST(p.us - b.b_us AS BIGINT) AS backward_gap_us,
           CAST(f.f_us - p.us AS BIGINT) AS forward_gap_us,
           CASE
             WHEN b.b_us IS NULL AND f.f_us IS NULL THEN 'none'
             WHEN f.f_us IS NULL THEN 'backward'
             WHEN b.b_us IS NULL THEN 'forward'
             WHEN p.us - b.b_us <= f.f_us - p.us THEN 'backward'
             ELSE 'forward'
           END AS nearest_direction
    FROM p
    LEFT JOIN bwd b ON p.event_id = b.pid
    LEFT JOIN fwd f ON p.event_id = f.pid
    """,
    tags=("asof", "window", "custom-op", "temporal"),
)
def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-bounded bidirectional AS-OF lookup (pandas merge_asof
    with direction='nearest' semantics, decomposed): for each purchase,
    the gap to the nearest same-user 'view' backward and forward within
    a 30-minute tolerance, and which direction is nearer (ties prefer
    backward, merge_asof's rule). The missing-side nulls are part of
    the contract — a purchase with no view inside the window reports
    'none'.

    Scale: ONE user-partitioned sort serves both directions —
    ignore-nulls last over preceding rows and first over following
    rows — versus the oracle's two naive join+aggregate passes; state
    per row is one timestamp per direction. The tolerance is a per-row
    comparison after the window, exactly like q_attribution_last_touch.
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    ev = e.select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    base = W.partitionBy("user_id").orderBy("us", "event_id")
    wb = base.rowsBetween(W.unboundedPreceding, -1)
    wf = base.rowsBetween(1, W.unboundedFollowing)
    view_us = F.when(F.col("event_type") == "view", F.col("us"))
    b_us = F.last(view_us, ignorenulls=True).over(wb)
    f_us = F.first(view_us, ignorenulls=True).over(wf)
    p = (
        ev.withColumn("b_us", b_us)
        .withColumn("f_us", f_us)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            F.when(
                F.col("b_us").isNotNull() & (F.col("b_us") >= F.col("us") - ASOF_TOL_US),
                F.col("us") - F.col("b_us"),
            ).alias("backward_gap_us"),
            F.when(
                F.col("f_us").isNotNull() & (F.col("f_us") <= F.col("us") + ASOF_TOL_US),
                F.col("f_us") - F.col("us"),
            ).alias("forward_gap_us"),
        )
    )
    return p.select(
        "event_id",
        "backward_gap_us",
        "forward_gap_us",
        F.when(
            F.col("backward_gap_us").isNull() & F.col("forward_gap_us").isNull(), "none"
        )
        .when(F.col("forward_gap_us").isNull(), "backward")
        .when(F.col("backward_gap_us").isNull(), "forward")
        .when(F.col("backward_gap_us") <= F.col("forward_gap_us"), "backward")
        .otherwise("forward")
        .alias("nearest_direction"),
    )


# --- Time-weighted average ----------------------------------------------------


@query(
    "q_time_weighted_average",
    # TWAP: each observation holds until the next one, so its weight is
    # that duration. Weights are integer MILLISECONDS and values integer
    # cents, so the weighted sum is exact (microsecond weights would
    # overflow int64 at sf1); the plain mean sits beside it to show the
    # sampling-bias correction.
    oracle="""
    WITH seq AS (
        SELECT event_type,
               CAST(FLOOR(LEAST(GREATEST((value) * 100.0 + 0.5, -1000000000000.0), 1000000000000.0)) AS BIGINT) AS cents,
               (LEAD(EPOCH_US(ts)) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
               ) - EPOCH_US(ts)) // 1000 AS hold_ms
        FROM events
    ),
    held AS (SELECT * FROM seq WHERE hold_ms IS NOT NULL AND hold_ms > 0)
    SELECT event_type,
           COUNT(*) AS n_intervals,
           CAST(SUM(hold_ms) AS BIGINT) AS total_ms,
           -- HUGEINT accumulation (Spark: DECIMAL(38,0)): a saturated
           -- 1e12-cent value times a multi-day hold overflows BIGINT
           FLOOR(SUM(CAST(cents AS HUGEINT) * hold_ms) * 100.0 / SUM(hold_ms) + 0.5) / 10000.0
               AS twap,
           FLOOR(SUM(cents) * 100.0 / COUNT(*) + 0.5) / 10000.0 AS plain_mean
    FROM held GROUP BY event_type
    """,
    tags=("timeseries", "twap", "window", "custom-op"),
)
def q_time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event type (TWAP): each
    observation is weighted by how long it "held" until the next one —
    the correct average for irregularly-sampled state (prices, gauge
    metrics, inventory levels), where the plain mean over-counts bursts
    of rapid updates. Both averages are reported so the sampling bias
    is visible.

    Scale: one LEAD window per type (the timeline sort every
    sequential-op here shares) and one integer-exact aggregate —
    millisecond weights times cent values accumulate in DECIMAL(38,0)
    (saturated 1e12-cent poison values times multi-day holds pass
    int64). At 100 TB the window splits by day with carried
    boundary rows, like every timeline operator in this repo.
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    seq = e.select(
        "event_type",
        sat_cents(F.col("value")).alias("cents"),
        F.expr(
            "(lead(unix_micros(ts)) OVER (PARTITION BY event_type ORDER BY ts, event_id)"
            " - unix_micros(ts)) div 1000"
        ).alias("hold_ms"),
    )
    held = seq.filter(F.col("hold_ms").isNotNull() & (F.col("hold_ms") > 0))
    return held.groupBy("event_type").agg(
        F.count("*").alias("n_intervals"),
        F.sum("hold_ms").alias("total_ms"),
        (
            # DECIMAL(38,0) accumulation (oracle: HUGEINT): saturated
            # 1e12-cent values times multi-day holds overflow BIGINT
            F.floor(
                F.sum(F.col("cents").cast("decimal(38,0)") * F.col("hold_ms"))
                * 100.0
                / F.sum("hold_ms")
                + 0.5
            )
            / 10000.0
        ).alias("twap"),
        (F.floor(F.sum("cents") * 100.0 / F.count("*") + 0.5) / 10000.0).alias("plain_mean"),
    )


# --- Per-node clustering coefficient + degree assortativity ------------------


@query(
    "q_node_clustering",
    oracle=f"""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS MATERIALIZED (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= {TRI_SUPPORT}
    ),
    deg AS (
        SELECT k, COUNT(*) AS d FROM (
            SELECT u AS k FROM edges UNION ALL SELECT v FROM edges
        ) GROUP BY k
    ),
    tri AS (
        SELECT e1.u AS x, e1.v AS y, e2.v AS z
        FROM edges e1
        JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    node_tris AS (
        SELECT k, COUNT(*) AS t FROM (
            SELECT x AS k FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri
        ) GROUP BY k
    )
    SELECT CAST(deg.k AS BIGINT) AS node,
           CAST(deg.d AS BIGINT) AS degree,
           CAST(COALESCE(nt.t, 0) AS BIGINT) AS n_triangles,
           ROUND(CASE WHEN deg.d >= 2
                      THEN 2.0 * COALESCE(nt.t, 0) / (deg.d * (deg.d - 1))
                      ELSE 0.0 END, 6) AS clustering
    FROM deg LEFT JOIN node_tris nt ON nt.k = deg.k
    """,
    tags=("graph", "triangle", "clustering", "custom-op"),
)
def q_node_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the co-purchase graph:
    2·T_v / (d_v·(d_v−1)) with T_v the triangles through v — the
    node-level refinement of q_triangle_count's global coefficient
    (Watts-Strogatz local clustering). Nodes of degree < 2 report 0.

    Exchange budget AND wedge volume (r10, same-session sf10 A/B of
    three forms x2 reps): the id-ORIENTED census (wedges x<y<z, each
    triangle enumerated once, corners unioned) is kept — a
    center-per-closed-wedge variant enumerates the full C(d,2) wedges
    per center and measured ~1.5x slower; and the edge source is the
    HALF-SIZE canonical frame itself, source-partitioned and PERSISTED
    (not the 2x-row directed pagerank_edges, whose build cost this
    query never amortizes: directed 23.4/24.2 s vs this form's
    24.4/20.5 s vs the r9 lazily-checkpointed form's 35.1/22.5 s). The
    e2 wedge leg joins on the persisted partitioning key (no
    exchange); e1, the closure semi-join, and the corner count
    exchange wedge- or node-sized streams only.
    """
    from etl_pipeline_spark.queries.analytics_ml import co_purchase_edges

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    # canonical (u < v) half-size frame, source-partitioned + persisted
    und = co_purchase_edges(li, TRI_SUPPORT).repartition(F.col("u")).persist()
    deg = (
        und.select(F.col("u").alias("k"))
        .unionAll(und.select(F.col("v").alias("k")))
        .groupBy("k")
        .agg(F.count("*").alias("d"))
    )
    # oriented wedge census: x < y < z by construction, each triangle
    # enumerated exactly once; e2's join key IS the edge partitioning key
    e1 = und.select(F.col("v").alias("y"), F.col("u").alias("x"))
    e2 = und.select(F.col("u").alias("y"), F.col("v").alias("z"))
    tri = (
        e1.join(e2, "y")
        .join(
            und.select(F.col("u").alias("x"), F.col("v").alias("z")),
            ["x", "z"],
            "left_semi",
        )
    )
    corners = (
        tri.select(F.col("x").alias("k"))
        .unionAll(tri.select(F.col("y").alias("k")))
        .unionAll(tri.select(F.col("z").alias("k")))
        .groupBy("k")
        .agg(F.count("*").alias("t"))
    )
    out = deg.join(corners, "k", "left").select(
        F.col("k").cast("long").alias("node"),
        F.col("d").cast("long").alias("degree"),
        F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("n_triangles"),
        F.round(
            F.when(
                F.col("d") >= 2,
                2.0
                * F.coalesce(F.col("t"), F.lit(0))
                / (F.col("d") * (F.col("d") - 1)),
            ).otherwise(0.0),
            6,
        ).alias("clustering"),
    )
    out = out.localCheckpoint(eager=True)
    und.unpersist()
    return out


@query(
    "q_degree_assortativity",
    # Newman (2002) degree-correlation coefficient: Pearson r of the
    # endpoint degrees over every ordered edge. Every sum is an exact
    # BIGINT (degrees are small ints), so the one double expression at
    # the end evaluates from identical integers on both engines.
    oracle=f"""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    und AS MATERIALIZED (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= {TRI_SUPPORT}
    ),
    edges AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
    deg AS (SELECT u AS k, COUNT(*) AS d FROM edges GROUP BY 1),
    pairs AS (
        SELECT du.d AS x, dv.d AS y
        FROM edges e JOIN deg du ON du.k = e.u JOIN deg dv ON dv.k = e.v
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM pairs
    )
    SELECT m AS n_ordered_edges,
           ROUND((m * sxy - sx * sx) /
                 SQRT((m * sxx - sx * sx) * (m * sxx - sx * sx * 1.0)), 6)
               AS assortativity
    FROM s
    """,
    tags=("graph", "assortativity", "custom-op"),
)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph (Newman 2002):
    Pearson correlation of endpoint degrees over all ordered edges —
    positive means hubs attach to hubs, negative means hub-and-spoke.
    Symmetrized edges make the x and y marginals identical, so the
    denominator is the x-variance term squared under the root; every
    accumulated sum is exact integer, leaving one deterministic double
    expression.

    Scale: reuses the shared source-partitioned PERSISTED edge frame
    (pagerank_edges — TRI_SUPPORT == PR_SUPPORT, so it is the same edge
    set), so the degree count and the x-side join both reuse the edge
    partitioning and only the y-side join re-exchanges the attached
    stream once; the final aggregate is map-combined (one row per
    partition). The r9 sf10 soak measured the old lazily-checkpointed
    form (unknown partitioning, three full edge shuffles at a fixed
    width) at 12.7x/decade — this form exists because of that number.
    """
    from etl_pipeline_spark.queries.analytics_ml import pagerank_edges

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    edges = pagerank_edges(li)
    deg = edges.groupBy(F.col("u").alias("k")).agg(F.count("*").alias("d"))
    pairs = (
        edges.join(deg.select(F.col("k").alias("u"), F.col("d").alias("x")), "u")
        .join(deg.select(F.col("k").alias("v"), F.col("d").alias("y")), "v")
        .select("x", "y")
    )
    s = pairs.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    out = s.select(
        F.col("m").alias("n_ordered_edges"),
        F.round(
            (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sx"))
            / F.sqrt(
                (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx") * F.lit(1.0))
            ),
            6,
        ).alias("assortativity"),
    )
    out = out.localCheckpoint(eager=True)
    edges.unpersist()
    return out


# --- Adamic-Adar link prediction ----------------------------------------------

AA_TOPK = 50
AA_SCALE = 1_000_000


@query(
    "q_link_prediction_aa",
    # Adamic-Adar (2003): score each NON-adjacent pair by the sum over
    # common neighbors of 1/ln(degree) — frequent co-neighbors matter
    # less when they are hubs. Per-neighbor terms quantize to integer
    # micro-units before the per-pair sum, so scores are order-free
    # exact; a common neighbor is adjacent to both endpoints, so its
    # degree is >= 2 and ln never hits zero.
    oracle=f"""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    und AS MATERIALIZED (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= {TRI_SUPPORT}
    ),
    edges AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
    deg AS (SELECT u AS k, COUNT(*) AS d FROM edges GROUP BY 1),
    wedges AS (
        SELECT e1.v AS x, e1.u AS y, e2.v AS z
        FROM edges e1 JOIN edges e2 ON e2.u = e1.u AND e1.v < e2.v
    ),
    cand AS (
        SELECT w.x, w.z,
               COUNT(*) AS n_common,
               CAST(SUM(CAST(ROUND({AA_SCALE} / LN(d.d)) AS BIGINT)) AS BIGINT)
                   AS aa_micro
        FROM wedges w
        JOIN deg d ON d.k = w.y
        LEFT JOIN und ON und.u = w.x AND und.v = w.z
        WHERE und.u IS NULL
        GROUP BY w.x, w.z
    )
    SELECT CAST(x AS BIGINT) AS part_a,
           CAST(z AS BIGINT) AS part_b,
           CAST(n_common AS BIGINT) AS n_common,
           aa_micro
    FROM cand
    ORDER BY aa_micro DESC, part_a, part_b
    LIMIT {AA_TOPK}
    """,
    tags=("graph", "link-prediction", "custom-op"),
)
def q_link_prediction_aa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the co-purchase graph: for every
    non-adjacent part pair, sum 1/ln(degree) over their common
    neighbors (hub co-neighbors count less) and return the {K}
    highest-scoring predicted links — the classic related-item
    candidate generator next to q_item_cf_similar's co-occurrence
    cosine. Per-neighbor terms quantize to integer micro-units before
    the pair sum, so scores are exact across engines and partitionings.

    Scale: wedges enumerate per middle vertex (x < z dedupes each pair
    once per neighbor), so the cost is sum(d^2) exactly like the
    triangle census, and the same hub mitigations apply (degree caps,
    support prefilter). Exchange budget (r9): the shared PERSISTED
    source-partitioned edge frame (pagerank_edges — same support) feeds
    both wedge legs, whose join key IS the source key, so the wedge
    join, the degree count, and the degree re-attach all reuse one edge
    partitioning — only the (x, z) pair aggregate shuffles. The
    existing-edge exclusion is an anti-join on the narrow (u, v) key;
    top-k plans as TakeOrderedAndProject.
    """
    from etl_pipeline_spark.queries.analytics_ml import pagerank_edges

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    edges = pagerank_edges(li)
    und = edges.filter(F.col("u") < F.col("v"))
    deg = edges.groupBy(F.col("u").alias("k")).agg(F.count("*").alias("d"))
    e1 = edges.select(F.col("u").alias("y"), F.col("v").alias("x"))
    e2 = edges.select(F.col("u").alias("y"), F.col("v").alias("z"))
    wedges = e1.join(e2, "y").filter(F.col("x") < F.col("z"))
    term = F.round(F.lit(AA_SCALE) / F.log(F.col("d"))).cast("long")
    scored = (
        wedges.join(deg.withColumnRenamed("k", "y"), "y")
        .join(
            und.select(F.col("u").alias("x"), F.col("v").alias("z")),
            ["x", "z"],
            "left_anti",
        )
        .groupBy("x", "z")
        .agg(
            F.count("*").alias("n_common"),
            F.sum(term).cast("long").alias("aa_micro"),
        )
    )
    out = scored.select(
        F.col("x").cast("long").alias("part_a"),
        F.col("z").cast("long").alias("part_b"),
        F.col("n_common").cast("long").alias("n_common"),
        "aa_micro",
    ).orderBy(F.desc("aa_micro"), "part_a", "part_b").limit(AA_TOPK)
    out = out.localCheckpoint(eager=True)
    edges.unpersist()
    return out


q_link_prediction_aa.__doc__ = q_link_prediction_aa.__doc__.format(K=AA_TOPK)
