"""Sampled graph-motif estimation — DOULION triangle census.

Exact triangle counting's cost is wedge mass (sum of oriented
out-degree^2), which is DENSITY-driven: the support-2 co-purchase census
is trivial at every tested SF, but the support-1 graph's wedge stream
burned >48x its parquet bytes in scratch before the r12 sf10 attempt was
killed (BASELINE.md). DOULION (Tsourakakis, Kang, Miller, Faloutsos —
KDD'09, public) is the standard fix: keep each edge independently with
probability p, count triangles on the sparsified graph, scale by p^-3.
Wedge mass falls by p^2 and the estimate is unbiased with variance
~T(p^-3 - 1) plus a shared-edge covariance term; at the corpus sizes
where exact counting is infeasible, T is large and the relative error
~sqrt((p^-3 - 1)/T) is tiny.

House determinism rule: the coin flip is a HASH, not an RNG — an edge is
kept iff the first hex nibble of md5("u:v") is below KEEP_NIBBLES, the
same construction q_leakage_safe_split uses (training_pipeline.py). Both
engines materialize the IDENTICAL sampled graph, so the DuckDB oracle
checks the estimator end-to-end exactly (no tolerance band, no waiver) —
while the in-row 3-sigma verdict documents that the estimate is also
CLOSE to the exact census it replaces.

Reference parity note: the reference pipeline (826 LoC of Beam/Airflow
orchestration) has no graph analytics; this is part of the mandated
large-scale-training-pipeline extension surface, same family as
q_triangle_count (advanced_behavioral.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_spark.catalog import load_tables
from etl_pipeline_spark.queries.advanced_behavioral import TRI_SUPPORT
from etl_pipeline_spark.queries.base import query

# Keep an edge iff md5("u:v")'s first nibble < KEEP_NIBBLES, i.e.
# p = KEEP_NIBBLES/16. The registry query uses 8 (p = 1/2): the scale
# factor p^-3 = 8 is an exact integer, so every output column stays
# integer-exact across engines. A denser graph can sample harder (4 ->
# p = 1/4, wedge mass cut 16x, scale 64) through sampled_triangles.
DOULION_KEEP_NIBBLES = 8


def doulion_keep(u: Column, v: Column, keep_nibbles: int) -> Column:
    """Deterministic per-edge coin: first md5 nibble of "u:v" as int."""
    nib = F.conv(
        F.substring(F.md5(F.concat_ws(":", u, v)), 1, 1), 16, 10
    ).cast("int")
    return nib < keep_nibbles


def doulion_keep_sql(u: str, v: str, keep_nibbles: int) -> str:
    """DuckDB twin of :func:`doulion_keep`."""
    return (
        f"(INSTR('0123456789abcdef', SUBSTR(MD5(CAST({u} AS VARCHAR) "
        f"|| ':' || CAST({v} AS VARCHAR)), 1, 1)) - 1) < {keep_nibbles}"
    )


def sampled_triangles(edges: DataFrame, keep_nibbles: int) -> DataFrame:
    """One-row frame: sampled-edge count, sampled triangle count, and the
    DOULION estimate scaled by (16/keep)^3. ``edges`` must be canonically
    oriented (u < v); caller owns persistence. The wedge join runs on the
    SPARSIFIED frame, so its row count — the cost that walls exact
    counting on dense graphs — is p^2 of the exact census's."""
    assert 16 % keep_nibbles == 0, "scale p^-3 must stay integer-exact"
    scale = (16 // keep_nibbles) ** 3
    s = edges.filter(doulion_keep(F.col("u"), F.col("v"), keep_nibbles))
    s = s.localCheckpoint(eager=False)  # read 4x below; materialize once
    e1 = s.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = s.select(F.col("u").alias("y"), F.col("v").alias("z"))
    e3 = s.select(F.col("u").alias("x"), F.col("v").alias("z"))
    tri = (
        e1.join(e2, "y")
        .join(e3, ["x", "z"])
        .agg(F.count("*").alias("n_triangles_sampled"))
    )
    n = s.agg(F.count("*").alias("n_edges_sampled"))
    return n.crossJoin(tri).select(
        "n_edges_sampled",
        "n_triangles_sampled",
        (F.col("n_triangles_sampled") * scale)
        .cast("long")
        .alias("est_triangles"),
    )


def oriented_wedge_mass(edges: DataFrame) -> DataFrame:
    """One-row preflight for any wedge-join launch: the EXACT number of
    wedge rows the degree-oriented join will emit (sum over nodes of
    out-degree-choose-2 under the (degree, id) orientation) next to the
    undirected wedge count sum(d(d-1)/2). One cheap aggregate over the
    edge frame — the pre-launch estimate SCALING.md §15 prescribes so a
    disk-infeasible census is rejected from the degree histogram instead
    of discovered via ENOSPC at 87% host disk (the r12 support-1 kill).
    Columns: n_edges, n_wedges_undirected, n_wedges_oriented; the
    oriented count is the shuffle-row volume to provision for."""
    deg = (
        edges.select(F.col("u").alias("k"))
        .unionAll(edges.select(F.col("v").alias("k")))
        .groupBy("k")
        .agg(F.count("*").alias("d"))
    )
    du = deg.select(F.col("k").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("k").alias("v"), F.col("d").alias("dv"))
    fwd = F.struct("du", "u") < F.struct("dv", "v")
    src = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"))
    )
    outdeg = src.groupBy("src").agg(F.count("*").alias("od"))
    return (
        outdeg.agg(
            F.sum(F.col("od") * (F.col("od") - 1) / 2)
            .cast("long")
            .alias("n_wedges_oriented")
        )
        .crossJoin(edges.agg(F.count("*").alias("n_edges")))
        .crossJoin(
            deg.agg(
                F.sum(F.col("d") * (F.col("d") - 1) / 2)
                .cast("long")
                .alias("n_wedges_undirected")
            )
        )
        .select("n_edges", "n_wedges_undirected", "n_wedges_oriented")
    )


@query(
    "q_wedge_mass_preflight",
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
    ori AS (
        SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
                    THEN e.u ELSE e.v END AS src
        FROM edges e JOIN deg du ON du.k = e.u JOIN deg dv ON dv.k = e.v
    ),
    od AS (SELECT src, COUNT(*) AS od FROM ori GROUP BY src)
    SELECT (SELECT COUNT(*) FROM edges)                           AS n_edges,
           (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) FROM deg) AS n_wedges_undirected,
           (SELECT CAST(SUM(od * (od - 1) / 2) AS BIGINT) FROM od) AS n_wedges_oriented
    """,
    tags=("graph", "triangle", "preflight", "custom-op"),
)
def q_wedge_mass_preflight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The census launch preflight as a first-class query: the EXACT
    wedge-row volume the degree-oriented triangle join would emit on the
    co-purchase graph, next to the undirected wedge count — the one
    cheap aggregate SCALING.md §15 prescribes running BEFORE any wedge
    join, so a disk-infeasible census (the r12 support-1 kill: >68 GB of
    wedge spill discovered via ENOSPC at 87% host disk) is rejected from
    the degree histogram instead. n_wedges_oriented x ~32 bytes is the
    shuffle provisioning number; at 100 TB this query is the difference
    between a capacity plan and an outage.

    Scale: two edge-sized shuffles (degree fold, oriented-source fold)
    and a broadcast-sized degree join — linear in |E| regardless of how
    quadratic the census it gates would be.
    """
    from etl_pipeline_spark.queries.analytics_ml import co_purchase_edges

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    edges = co_purchase_edges(li, TRI_SUPPORT).localCheckpoint(eager=False)
    return oriented_wedge_mass(edges)


@query(
    "q_triangle_census_sampled",
    oracle=f"""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= {TRI_SUPPORT}
    ),
    sampled AS (
        SELECT u, v FROM edges
        WHERE {doulion_keep_sql('u', 'v', DOULION_KEEP_NIBBLES)}
    ),
    tri AS (
        SELECT COUNT(*) AS t FROM edges e1
        JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    stri AS (
        SELECT COUNT(*) AS t FROM sampled e1
        JOIN sampled e2 ON e2.u = e1.v
        JOIN sampled e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT COUNT(*) FROM edges)                     AS n_edges,
           (SELECT COUNT(*) FROM sampled)                   AS n_edges_sampled,
           (SELECT CAST(t AS BIGINT) FROM tri)              AS n_triangles_exact,
           (SELECT CAST(t AS BIGINT) FROM stri)             AS n_triangles_sampled,
           (SELECT CAST(t * 8 AS BIGINT) FROM stri)         AS est_triangles,
           ABS((SELECT t * 8 FROM stri) - (SELECT t FROM tri))
                                                            AS abs_err,
           CASE WHEN (SELECT t FROM tri) > 0 THEN
             ABS((SELECT t * 8 FROM stri) - (SELECT t FROM tri))
               * 1000000 // (SELECT t FROM tri) END         AS rel_err_ppm,
           ABS((SELECT t * 8 FROM stri) - (SELECT t FROM tri))
             <= CAST(CEIL(3 * SQRT(7.0 * (SELECT t FROM tri))) AS BIGINT) + 8
                                                            AS within_3sigma
    """,
    tags=("graph", "triangle", "approx-exactly-checked", "sampling", "custom-op"),
)
def q_triangle_census_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION sampled triangle census of the part co-purchase graph,
    side by side with the exact count it estimates: edge totals before
    and after the p=1/2 hash-sparsification, the sampled triangle count,
    the p^-3-scaled estimate, its relative error, and a 3-sigma verdict
    (sigma^2 ~ T(p^-3 - 1), the DOULION variance without the shared-edge
    covariance term; +8 absorbs the one-sampled-triangle granularity).

    The exact census appears here because at fixture SFs it is cheap and
    makes the estimator's error VISIBLE and oracle-checked; at the scale
    where the estimator earns its keep (the support-1 graph whose exact
    wedge stream burned >48x its parquet in scratch before the r12 sf10
    kill) only the sampled side would run.

    Scale: the sampling predicate is a map-side Column filter (md5 of
    the join key pair — no shuffle, no RNG state); everything downstream
    is the standard oriented wedge join at p^2 of the exact cost. At
    100 TB, p tunes to the density: relative error ~sqrt((p^-3 - 1)/T)
    shrinks as the true count T grows, so denser graphs tolerate harder
    sampling — the opposite of the exact census's cost curve.
    """
    from etl_pipeline_spark.queries.analytics_ml import co_purchase_edges

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    edges = co_purchase_edges(li, TRI_SUPPORT).localCheckpoint(eager=False)

    exact = (
        edges.select(F.col("u").alias("x"), F.col("v").alias("y"))
        .join(edges.select(F.col("u").alias("y"), F.col("v").alias("z")), "y")
        .join(edges.select(F.col("u").alias("x"), F.col("v").alias("z")), ["x", "z"])
        .agg(F.count("*").alias("n_triangles_exact"))
    )
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    est = sampled_triangles(edges, DOULION_KEEP_NIBBLES)

    bound = (
        F.ceil(3 * F.sqrt(7.0 * F.col("n_triangles_exact"))).cast("long")
        + F.lit(8)
    )
    # rel_err as integer PARTS-PER-MILLION via integer division (r13
    # advisor #5): ROUND(err/exact, 6) needed bit-identical double
    # rounding across Spark (BigDecimal HALF_UP) and DuckDB
    # (multiply-round-divide) on an arbitrary integer ratio — a 1-ulp
    # boundary at an unattested SF could flip the 6th decimal for a
    # semantically correct result. abs_err*1000000 div exact is exact
    # integer arithmetic on both engines (operands non-negative, so
    # Spark's trunc-div and DuckDB's floor-div agree); the double ratio
    # is derivable by the reader from the integer columns in the row.
    return (
        n_edges.crossJoin(exact)
        .crossJoin(est)
        .withColumn(
            "abs_err", F.abs(F.col("est_triangles") - F.col("n_triangles_exact"))
        )
        .select(
            "n_edges",
            "n_edges_sampled",
            "n_triangles_exact",
            "n_triangles_sampled",
            "est_triangles",
            "abs_err",
            F.expr(
                "CASE WHEN n_triangles_exact > 0 THEN "
                "(abs_err * 1000000) div n_triangles_exact END"
            ).alias("rel_err_ppm"),
            (F.col("abs_err") <= bound).alias("within_3sigma"),
        )
    )
