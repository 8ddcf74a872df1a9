"""Scaling-curve soak for the heavy operators (r4, VERDICT #1).

No sf1 fixture exists, so one is SYNTHESIZED from sf0.1: documents and
embeddings are unioned 10x with per-copy perturbation designed to keep
the workload's *structure* scale-invariant:

- documents: every word in copy i gets prefix ``k<i>_`` — a bijection on
  the token vocabulary, so within-copy shingle/Jaccard structure is
  EXACTLY the original's, while cross-copy shingle sets are disjoint
  (no artificial 10-way near-dup clusters that would bend the curve
  quadratic by construction). Expected pair/cluster counts ~ 10x sf0.1.
- ids: offset by i * 30,000,000 (divisible by 3 and 10) so the doc_id %
  10 eval split and doc_id % 3 format assignment keep their proportions.
- embeddings: first component nudged by i * 1e-4 so copies aren't exact
  duplicate vectors (tie pathology), leaving cell geometry intact.

Caveat recorded with the numbers: the prefix adds ~3 chars/word, so sf1
is ~25% MORE bytes than a native 10x — the handicap makes the
near-linear claim conservative.

Run: python tools/scale_soak.py [--skip-build] [--queries a,b,c]
Writes .scratch/scale/sf1/ and prints one JSON line per (sf, query);
summary table is appended to BASELINE.md by hand from the JSON.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from etl_pipeline_spark.catalog import load_tables
from etl_pipeline_spark.session import get_spark, release_session_blocks

SF_SRC = "/root/testdata/sf0.1"
SF1_DIR = f"{REPO}/.scratch/scale/sf1"
COPIES = 10
ID_OFFSET = 30_000_000  # divisible by 3 and 10: preserves %3 / %10 splits

SOAK_QUERIES = [
    "q_dedup_minhash_lsh",
    "q_dedup_ngram_jaccard_capped",
    "q_dedup_clusters",
    "q_training_data_prep",
    "q_knn_block_matrix",
    "q_contamination_check",
]

# r4c additions: the graph + semantic-dedup heavies. SemDeDup's published
# scale contract is "k grows with the corpus to hold cluster sizes
# constant", so the soak measures the operator with k scaled per sf —
# the fixed-k registry query at sf1 would deliberately violate its own
# scaling rule (clusters of ~6k vectors => ~160M within-cluster pairs).
SOAK_QUERIES_R4C = [
    "q_triangle_count",
    "q_market_basket_rules",
    "q_hashed_linear_score",
]

# Session-6 heavies. DBSCAN mirrors SemDeDup's scale contract: epsilon
# shrinks with density (eps 30 at <= sf0.1, eps 10 at sf1 where the
# synthetic copies stack in the 2-D projection and density is ~10x) so
# per-cell occupancy — the cost driver — stays flat.
SOAK_QUERIES_R6 = [
    "q_pagerank",
    "q_kmeans_lloyd",
    "q_wordpiece_tokenize",
    "q_clamped_running_balance",
]

# r5 additions (VERDICT r4 #6): the remaining heavy unsoaked plans.
# BOM runs as the depth-preserving bom_scaled variant — the plain
# key-offset sf1 flattens the component DAG (p div 7 lands outside the
# copy's key range), so the registry query at sf1 would measure a
# depth-1 walk, not the operator.
SOAK_QUERIES_R5 = [
    "q_dq_referential_integrity",
    "q_snapshot_diff",
    "q_dedup_prefix_filter",
    "q_bom_scaled_forest",
]
DBSCAN_EPS_PER_SF = {"0.01": 30, "0.1": 30, "1": 10}
# spatial radius scales down with point density (same precedent)
GEO_R_PER_SF = {"0.01": 100_000, "0.1": 100_000, "1": 30_000}


def spatial_scaled(spark, sf_dir: str, sf_label: str):
    from etl_pipeline_spark.queries.analytics_ops import spatial_radius_join

    t = load_tables(spark, sf_dir, ("customer", "supplier"))
    return spatial_radius_join(
        spark, t["customer"], t["supplier"], radius=GEO_R_PER_SF[sf_label]
    )


def dbscan_scaled(spark, sf_dir: str, sf_label: str):
    from etl_pipeline_spark.queries.analytics_ml import dbscan_classify

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    return dbscan_classify(spark, e, eps=DBSCAN_EPS_PER_SF[sf_label])


def bom_scaled(spark, sf_dir: str, sf_label: str):
    """Depth-preserving BOM soak (VERDICT r4 #6): component references
    derived from the COPY-LOCAL key (p % ID_OFFSET) then mapped back
    into the copy's key range, so each synthetic copy is an internally
    consistent BOM forest with the sf0.1 depth structure. On the real
    testdata dirs every key is < ID_OFFSET, so local == global and this
    is exactly the registry derivation. ID_OFFSET is divisible by 5 and
    3, so qty formulas match the registry's on local and global keys
    alike."""
    from etl_pipeline_spark.queries.analytics_ml import BOM_ROOT_MOD, bom_walk

    p = load_tables(spark, sf_dir, ("part",))["part"]
    local = F.col("p_partkey") % ID_OFFSET
    copy_base = (F.col("p_partkey") - local)
    base = p.filter(local >= 10)
    edges = base.select(
        F.col("p_partkey").alias("asm"),
        (copy_base + F.expr(f"(p_partkey % {ID_OFFSET}) div 7")).alias("comp"),
        (local % 5 + 1).cast("long").alias("qty"),
    ).unionAll(
        base.select(
            F.col("p_partkey").alias("asm"),
            (copy_base + F.expr(f"(p_partkey % {ID_OFFSET}) div 11")).alias("comp"),
            (local % 3 + 1).cast("long").alias("qty"),
        )
    )
    roots = p.filter((local % BOM_ROOT_MOD == 0) & (local > 0)).select(
        F.col("p_partkey").alias("root")
    )
    return bom_walk(roots, edges)
SEM_K_PER_SF = {"0.01": 8, "0.1": 8, "1": 80, "10": 800}


def semdedup_scaled(spark, sf_dir: str, sf_label: str):
    from etl_pipeline_spark.operators.semdedup import (
        semdedup_assign,
        semdedup_pairs,
        semdedup_pruned,
    )

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    emb = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    assign = semdedup_assign(emb, SEM_K_PER_SF[sf_label]).localCheckpoint(eager=False)
    return semdedup_pruned(semdedup_pairs(assign), 0.25)


def build_sf1(spark) -> None:
    t = load_tables(spark, SF_SRC, ("documents", "embeddings", "lineitem", "events"))
    docs, embs = t["documents"], t["embeddings"]
    doc_parts = []
    emb_parts = []
    for i in range(COPIES):
        prefix = F.lit(f"k{i}_")
        new_text = F.array_join(
            F.transform(F.split("text", " "), lambda w: F.concat(prefix, w)), " "
        )
        doc_parts.append(
            docs.select(
                (F.col("doc_id") + i * ID_OFFSET).alias("doc_id"),
                new_text.alias("text"),
                "lang",
                "source",
                F.length(new_text).alias("n_chars"),
            )
        )
        emb_parts.append(
            embs.select(
                (F.col("vec_id") + i * ID_OFFSET).alias("vec_id"),
                "label",
                F.transform(
                    "embedding",
                    lambda x, j: F.when(j == 0, x + F.lit(i * 1e-4)).otherwise(x),
                ).alias("embedding"),
            )
        )
    out_docs = doc_parts[0]
    for p in doc_parts[1:]:
        out_docs = out_docs.unionByName(p)
    out_embs = emb_parts[0]
    for p in emb_parts[1:]:
        out_embs = out_embs.unionByName(p)
    out_docs.repartition(32).write.mode("overwrite").parquet(f"{SF1_DIR}/documents.parquet")
    out_embs.repartition(8).write.mode("overwrite").parquet(f"{SF1_DIR}/embeddings.parquet")
    # lineitem: both keys offset per copy -> 10 disjoint co-purchase
    # graphs, so graph-query outputs scale exactly 10x (edges, triangles,
    # rules) with no artificial cross-copy densification.
    li = t["lineitem"]
    li_parts = [
        li.withColumn("l_orderkey", F.col("l_orderkey") + i * ID_OFFSET)
        .withColumn("l_partkey", F.col("l_partkey") + i * ID_OFFSET)
        # l_suppkey offset with the suppliers (r5 review fix): without it
        # every copy's lineitems referenced only copy-0 supplier keys and
        # the lineitem->supplier RI relation was not copy-local.
        .withColumn("l_suppkey", F.col("l_suppkey") + i * ID_OFFSET)
        for i in range(COPIES)
    ]
    out_li = li_parts[0]
    for p_ in li_parts[1:]:
        out_li = out_li.unionByName(p_)
    out_li.repartition(32).write.mode("overwrite").parquet(f"{SF1_DIR}/lineitem.parquet")
    # events: event/user keys offset per copy, timestamps unchanged -> 10
    # disjoint user populations over the SAME observation span, so windowed
    # per-user operators see 10x partitions of unchanged size (the scale
    # axis that matters for window state), and day-grid operators see 10x
    # density per day.
    ev = t["events"]
    ev_parts = [
        ev.withColumn("event_id", F.col("event_id") + i * ID_OFFSET)
        .withColumn("user_id", F.col("user_id") + i * ID_OFFSET)
        for i in range(COPIES)
    ]
    out_ev = ev_parts[0]
    for p_ in ev_parts[1:]:
        out_ev = out_ev.unionByName(p_)
    out_ev.repartition(32).write.mode("overwrite").parquet(f"{SF1_DIR}/events.parquet")
    # customer/supplier: keys offset per copy AND nations moved to a
    # disjoint per-copy nation space (nat + i*25) — ER blocking keys
    # stay copy-local, so block sizes are scale-invariant and the
    # blocked candidate volume grows 10x, not 100x. Spatial coordinates
    # derive from the offset keys (fresh md5 points, same [0,1e6) span).
    t2 = load_tables(spark, SF_SRC, ("customer", "supplier", "part"))
    cu, su, pa = t2["customer"], t2["supplier"], t2["part"]
    cu_parts = [
        cu.withColumn("c_custkey", F.col("c_custkey") + i * ID_OFFSET)
        .withColumn("c_nationkey", F.col("c_nationkey") + i * 25)
        for i in range(COPIES)
    ]
    out_cu = cu_parts[0]
    for p_ in cu_parts[1:]:
        out_cu = out_cu.unionByName(p_)
    out_cu.repartition(8).write.mode("overwrite").parquet(f"{SF1_DIR}/customer.parquet")
    su_parts = [
        su.withColumn("s_suppkey", F.col("s_suppkey") + i * ID_OFFSET)
        .withColumn("s_nationkey", F.col("s_nationkey") + i * 25)
        for i in range(COPIES)
    ]
    out_su = su_parts[0]
    for p_ in su_parts[1:]:
        out_su = out_su.unionByName(p_)
    out_su.repartition(4).write.mode("overwrite").parquet(f"{SF1_DIR}/supplier.parquet")
    # part: keys offset -> 10 disjoint BOM forests (p//7, p//11 stay
    # within the copy because ID_OFFSET is divisible by 7*11*... no —
    # p//7 of an offset key lands in the same copy's range because
    # offset/7 stays inside [i*OFFSET/7, ...]; roots %97 keep density)
    pa_parts = [
        pa.withColumn("p_partkey", F.col("p_partkey") + i * ID_OFFSET)
        for i in range(COPIES)
    ]
    out_pa = pa_parts[0]
    for p_ in pa_parts[1:]:
        out_pa = out_pa.unionByName(p_)
    out_pa.repartition(8).write.mode("overwrite").parquet(f"{SF1_DIR}/part.parquet")
    # orders + nation (r5, for the RI audit and snapshot diff): order and
    # customer keys offset together so every FK relation stays copy-local
    # with the SAME orphan structure as sf0.1; nations move with the
    # customers' per-copy nation space (nat + i*25).
    t3 = load_tables(spark, SF_SRC, ("orders", "nation"))
    od, na = t3["orders"], t3["nation"]
    od_parts = [
        od.withColumn("o_orderkey", F.col("o_orderkey") + i * ID_OFFSET)
        .withColumn("o_custkey", F.col("o_custkey") + i * ID_OFFSET)
        for i in range(COPIES)
    ]
    out_od = od_parts[0]
    for p_ in od_parts[1:]:
        out_od = out_od.unionByName(p_)
    out_od.repartition(16).write.mode("overwrite").parquet(f"{SF1_DIR}/orders.parquet")
    na_parts = [
        na.withColumn("n_nationkey", F.col("n_nationkey") + i * 25)
        for i in range(COPIES)
    ]
    out_na = na_parts[0]
    for p_ in na_parts[1:]:
        out_na = out_na.unionByName(p_)
    out_na.repartition(1).write.mode("overwrite").parquet(f"{SF1_DIR}/nation.parquet")


SF10_DIR = f"{REPO}/.scratch/scale/sf10"
SF10_QUERIES = ["q_dedup_minhash_lsh", "q_training_data_prep", "q_semdedup_scaledk"]


def build_sf10(spark) -> None:
    """documents + embeddings a decade past sf1 (VERDICT r5 #7): 10
    outer copies OF SF1 with a fresh per-copy word prefix ``m<j>_`` —
    the same vocabulary bijection as the sf1 build, so within-copy
    shingle/Jaccard structure stays exactly sf0.1's and cross-copy
    shingle sets are disjoint. doc ids offset by j * 10 * ID_OFFSET
    (divisible by 3 and 10: the %3 format and %10 eval splits keep
    their proportions); embedding nudge j * 1e-3 composes with sf1's
    i * 1e-4 to keep all 100 copies' vectors distinct. Only the two
    tables the sf10 heavies read are built."""
    docs = load_tables(spark, SF1_DIR, ("documents",))["documents"]
    embs = load_tables(spark, SF1_DIR, ("embeddings",))["embeddings"]
    doc_parts = []
    emb_parts = []
    for j in range(COPIES):
        prefix = F.lit(f"m{j}_")
        new_text = F.array_join(
            F.transform(F.split("text", " "), lambda w: F.concat(prefix, w)), " "
        )
        doc_parts.append(
            docs.select(
                (F.col("doc_id") + j * 10 * ID_OFFSET).alias("doc_id"),
                new_text.alias("text"),
                "lang",
                "source",
                F.length(new_text).alias("n_chars"),
            )
        )
        emb_parts.append(
            embs.select(
                (F.col("vec_id") + j * 10 * ID_OFFSET).alias("vec_id"),
                "label",
                F.transform(
                    "embedding",
                    lambda x, i: F.when(i == 0, x + F.lit(j * 1e-3)).otherwise(x),
                ).alias("embedding"),
            )
        )
    out_docs = doc_parts[0]
    for p in doc_parts[1:]:
        out_docs = out_docs.unionByName(p)
    out_embs = emb_parts[0]
    for p in emb_parts[1:]:
        out_embs = out_embs.unionByName(p)
    out_docs.repartition(64).write.mode("overwrite").parquet(f"{SF10_DIR}/documents.parquet")
    out_embs.repartition(32).write.mode("overwrite").parquet(f"{SF10_DIR}/embeddings.parquet")
    # lineitem (r9, judge #4): the r8 graph family (LPA, Adamic-Adar,
    # clustering coefficient, assortativity, k-core) reads the
    # co-purchase graph, so its sf10 curves need lineitem a decade past
    # sf1 — 10 outer copies with BOTH keys offset (j * 10 * ID_OFFSET,
    # past the sf1 id range), i.e. 100 disjoint copies of the sf0.1
    # graph: edge/wedge/triangle counts scale exactly 100x with no
    # cross-copy densification.
    li = load_tables(spark, SF1_DIR, ("lineitem",))["lineitem"]
    li_parts = [
        li.withColumn("l_orderkey", F.col("l_orderkey") + j * 10 * ID_OFFSET)
        .withColumn("l_partkey", F.col("l_partkey") + j * 10 * ID_OFFSET)
        .withColumn("l_suppkey", F.col("l_suppkey") + j * 10 * ID_OFFSET)
        for j in range(COPIES)
    ]
    out_li = li_parts[0]
    for p_ in li_parts[1:]:
        out_li = out_li.unionByName(p_)
    out_li.repartition(64).write.mode("overwrite").parquet(f"{SF10_DIR}/lineitem.parquet")


# FK relations the build must keep copy-local (the r5 review found
# l_suppkey un-offset — this assertion makes that class of fixture bug
# fail the build instead of silently warping a soak curve).
_FK_RELATIONS = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("events", "user_id", "customer", "c_custkey"),
]


def verify_sf1_fk_structure(spark) -> None:
    """Assert every FK relation has the SAME orphan count per copy at
    sf1 as sf0.1 has in total (structure preservation: 10 disjoint
    copies => orphans scale exactly 10x; sf0.1 is fully consistent, so
    both sides must be 0)."""
    tables = ("lineitem", "orders", "part", "supplier", "customer", "nation", "events")
    t01 = load_tables(spark, SF_SRC, tables)
    t1 = load_tables(spark, SF1_DIR, tables)
    bad = []
    for ct, ck, pt, pk in _FK_RELATIONS:
        o01 = t01[ct].join(t01[pt], t01[ct][ck] == t01[pt][pk], "left_anti").count()
        o1 = t1[ct].join(t1[pt], t1[ct][ck] == t1[pt][pk], "left_anti").count()
        if o1 != COPIES * o01:
            bad.append(f"{ct}.{ck}->{pt}: sf0.1 orphans={o01}, sf1={o1} (want {COPIES * o01})")
    if bad:
        raise SystemExit("sf1 FK structure broken:\n  " + "\n  ".join(bad))
    print(json.dumps({"sf1_fk_locality": "ok", "relations": len(_FK_RELATIONS)}), flush=True)


# The r8 graph family (judge #4): sf1 evidence existed, sf10 did not.
# All read the co-purchase graph (lineitem, now in the sf10 build).
SF10_GRAPH_QUERIES = [
    "q_label_propagation",
    "q_link_prediction_aa",
    "q_node_clustering",
    "q_degree_assortativity",
    "q_kcore_scaled",  # re-parameterized peel (see kcore_scaled)
]

# Soft-dedup GC pressure at sf>=10 (judge #7, r10 #4): the scan-split
# cap that removes the GCLocker warnings now lives IN the operator
# (operators/cluster.py shingle_scan_split_cap — engaged automatically
# by input size inside dedup_clusters, with the A/B evidence in its
# docstring), so the soak no longer needs a side-channel conf: running
# q_dedup_soft_weights at sf10 exercises the operator's own posture.


def kcore_scaled(spark, sf_dir: str, sf_label: str):
    """Re-parameterized k-core for the scale soak (judge #4): the
    registry's 3-core over support-2 co-purchase edges is legitimately
    EMPTY above sf0.01 (its fixed-round slope mostly measures no-op
    rounds), so the soak peels the denser support-1 graph, where every
    round does real work at every sf. Same operator, same plan shape —
    only the edge-density knob moves, exactly how a production
    deployment would retune (support tracks basket density)."""
    from etl_pipeline_spark.queries.analytics_ml import kcore_peel, pagerank_edges

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    edges = pagerank_edges(li, support=1)
    out = kcore_peel(edges).localCheckpoint(eager=True)
    edges.unpersist()
    return out


def main_sf10() -> None:
    """Decade-past-sf1 spot-soak: sf1 -> sf10 slope per 10x, using the
    scaled-parameter forms where the operator's own scale contract
    demands it (SemDeDup k, k-core support). --graph runs the r8 graph
    family instead of the document heavies; --softdedup re-runs
    q_dedup_soft_weights with the widened CC shuffle (judge #7)."""
    # reducer.maxSizeInFlight 48m -> 16m (r11, measured): the residual
    # shuffle-side GCLocker retries at sf10 (r10 NOTES #4, 33-46 MB
    # allocations) are the reducer's in-flight fetch buffers becoming G1
    # humongous allocations in the single 8 GB soak JVM; 16m drops them
    # under the region threshold (0 warnings, warm wall-clock unchanged;
    # A/B in BASELINE.md — shuffle.file.buffer=1m measured WORSE). This
    # is single-JVM GC hygiene, not a cluster recommendation: multi-host
    # deployments size in-flight for fetch throughput instead.
    spark = get_spark(
        "scale_soak_sf10",
        extra_conf={"spark.reducer.maxSizeInFlight": "16m"},
    )
    if "--skip-build" not in sys.argv:
        t0 = time.perf_counter()
        build_sf10(spark)
        print(json.dumps({"built_sf10_sec": round(time.perf_counter() - t0, 1)}), flush=True)

    from etl_pipeline_spark.queries.base import all_specs

    queries = SF10_QUERIES
    if "--graph" in sys.argv:
        queries = SF10_GRAPH_QUERIES
    if "--softdedup" in sys.argv:
        queries = ["q_dedup_soft_weights"]

    specs = all_specs()
    results: dict[str, dict[str, dict]] = {}
    for sf_label, sf_dir in [("1", SF1_DIR), ("10", SF10_DIR)]:
        # (r10) --softdedup no longer sets maxPartitionBytes here: the
        # scan-split cap is the operator's own sf>=10 posture now
        # (operators/cluster.py shingle_scan_split_cap).
        for name in queries:
            t0 = time.perf_counter()
            if name == "q_semdedup_scaledk":
                n = semdedup_scaled(spark, sf_dir, sf_label).count()
            elif name == "q_kcore_scaled":
                n = kcore_scaled(spark, sf_dir, sf_label).count()
            else:
                n = specs[name].fn(spark, sf_dir).count()
            dt = round(time.perf_counter() - t0, 2)
            results.setdefault(name, {})[sf_label] = {"sec": dt, "rows": n}
            print(json.dumps({"sf": sf_label, "query": name, "sec": dt, "rows": n}), flush=True)
            # long-session hygiene: lazy-checkpoint blocks accumulate
            # across heavy queries in one JVM and eventually OOM it
            # (measured at sf10 — see session.release_session_blocks)
            release_session_blocks(spark)
    summary = {}
    for name, by_sf in results.items():
        r1, r10 = by_sf["1"], by_sf["10"]
        summary[name] = {
            "sf1_sec": r1["sec"],
            "sf10_sec": r10["sec"],
            "t_ratio_10x": round(r10["sec"] / max(r1["sec"], 1e-9), 2),
            "rows_ratio_10x": round(r10["rows"] / max(r1["rows"], 1), 2),
        }
    print(json.dumps({"summary_sf10": summary}))


SF100_DIR = f"{REPO}/.scratch/scale/sf100"
# documents-only tier: both sf100 queries read only the documents table,
# so the embeddings copies (half the build and disk) are skipped.
SF100_QUERIES = ["q_dedup_minhash_lsh", "q_training_data_prep"]


def build_sf100(spark) -> None:
    """TWO decades past sf1 (r7): 10 outer copies OF SF10 with a fresh
    vocabulary-bijection prefix ``c<k>_`` — the third compounding of the
    same structure-preservation argument (within-copy shingle/Jaccard
    structure stays exactly sf0.1's; cross-copy shingle sets disjoint;
    expected pair counts ~1000x sf0.1). Doc ids offset by
    k * 100 * ID_OFFSET (divisible by 3 and 10, and past the sf10 id
    range: 100 copies * 300M < 30G), so the %3 / %10 splits keep their
    proportions and ids stay copy-unique. ~5M documents, ~2.5 GB raw
    text after three prefix layers."""
    docs = load_tables(spark, SF10_DIR, ("documents",))["documents"]
    parts = []
    for k in range(COPIES):
        prefix = F.lit(f"c{k}_")
        new_text = F.array_join(
            F.transform(F.split("text", " "), lambda w: F.concat(prefix, w)), " "
        )
        parts.append(
            docs.select(
                (F.col("doc_id") + k * 100 * ID_OFFSET).alias("doc_id"),
                new_text.alias("text"),
                "lang",
                "source",
                F.length(new_text).alias("n_chars"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(128).write.mode("overwrite").parquet(f"{SF100_DIR}/documents.parquet")


SF100_GRAPH_QUERIES = ["q_label_propagation", "q_kcore_scaled"]


def build_sf100_lineitem(spark) -> None:
    """lineitem two decades past sf1 (r9): 10 outer copies of the sf10
    lineitem with all three keys offset by k * 100 * ID_OFFSET — 1000
    disjoint copies of the sf0.1 co-purchase graph, so edge volume
    scales exactly 1000x with no cross-copy densification. ~13 GB;
    callers may delete after the campaign (this builder is the
    recipe)."""
    li = load_tables(spark, SF10_DIR, ("lineitem",))["lineitem"]
    parts = [
        li.withColumn("l_orderkey", F.col("l_orderkey") + k * 100 * ID_OFFSET)
        .withColumn("l_partkey", F.col("l_partkey") + k * 100 * ID_OFFSET)
        .withColumn("l_suppkey", F.col("l_suppkey") + k * 100 * ID_OFFSET)
        for k in range(COPIES)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(256).write.mode("overwrite").parquet(f"{SF100_DIR}/lineitem.parquet")


SF50_EDGE_DIR = f"{REPO}/.scratch/scale/sf50_edges_s1"
SF10_EDGE_DIR = f"{REPO}/.scratch/scale/sf10_edges_s1"
# support-2 canonical (u < v) frames for the triangle census — the
# census's OWN contract graph (TRI_SUPPORT = 2). The support-1 frames
# above are ~40x denser; their wedge volume is intrinsic (sum of
# oriented out-deg^2) and exceeds one host's disk at sf10 already —
# measured r12: the degree-oriented wedge join spilled past 68 GB into
# 66 GB free before being killed at 87% host disk (boundary recorded
# in BASELINE.md). k-core/pagerank/LPA stay on support-1, where their
# per-round work is edge-LINEAR and feasible.
SF50_EDGE2_DIR = f"{REPO}/.scratch/scale/sf50_edges_s2"
SF10_EDGE2_DIR = f"{REPO}/.scratch/scale/sf10_edges_s2"
PEEL_COPIES = 5  # sf50: the largest slice one host's disk carries (see below)


def main_sf100_peel() -> None:
    """Largest-feasible scale slice for the graph family's early-exit
    k-core peel (r10 judge #7b). The r9 full-campaign boundary was the
    EDGE BUILD: the exact co-purchase pair stream at 600M lineitem rows
    needs more simultaneous shuffle-spill disk than one host has. The
    peel itself never touches lineitem — and the sf fixtures are
    DISJOINT copies by construction, so edges(sfN*10) is EXACTLY N
    node-offset copies of edges(sf10): materialize the sf10 support-1
    edge frame once (its build spill is the already-proven sf10
    regime), stamp out offset copies to parquet, and run the peel at
    both scales from the materialized frames.

    The slice is sf50 (PEEL_COPIES=5, ~1.2B directed edges): at sf100
    (2.39B edges) even the peel's FIRST u-repartition hits the same
    single-host disk wall the r9 campaign documented — measured r11:
    shuffle spill (~48 GB) + DISK_ONLY edge blocks (~38 GB) + the 14 GB
    fixture exceed this host's ~64 GB free; with 32 or 16 threads and
    256/512 reduce partitions the run dies in UNABLE_TO_ACQUIRE or
    ENOSPC. sf50 halves every term and fits. The peel slope per 5x is
    the recorded capability number; the cluster story is unchanged
    (aggregate scratch ~= shuffle bytes, distributed across executors).
    """
    spark = get_spark("scale_soak_sf100_peel")
    # partitioning, not heap, is the sf100 lever (r7): 512 reduce
    # partitions keep the 2.39B-row repartition's per-task input at
    # sf10-like bytes; 32m scan splits bound the map-side row batches
    spark.conf.set("spark.sql.shuffle.partitions", "512")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "32m")

    from etl_pipeline_spark.queries.analytics_ml import kcore_peel, pagerank_edges

    if "--skip-build" not in sys.argv:
        t0 = time.perf_counter()
        li = load_tables(spark, SF10_DIR, ("lineitem",))["lineitem"]
        e10 = pagerank_edges(li, support=1)
        e10.write.mode("overwrite").parquet(SF10_EDGE_DIR)
        e10.unpersist()
        e10 = spark.read.parquet(SF10_EDGE_DIR)
        # one map-only append per copy: no global shuffle of the copied
        # frame (a repartition(256) across all copies OOMed — the peel
        # re-keys on u itself, so pre-shuffling buys nothing here)
        for k in range(PEEL_COPIES):
            e10.select(
                (F.col("u") + k * 100 * ID_OFFSET).alias("u"),
                (F.col("v") + k * 100 * ID_OFFSET).alias("v"),
            ).write.mode("overwrite" if k == 0 else "append").parquet(
                SF50_EDGE_DIR
            )
        print(
            json.dumps({"built_edge_frames_sec": round(time.perf_counter() - t0, 1)}),
            flush=True,
        )

    from pyspark.storagelevel import StorageLevel

    results = {}
    for sf_label, d in [("10", SF10_EDGE_DIR), ("50", SF50_EDGE_DIR)]:
        # DISK_ONLY on BOTH legs (r7 sf100 lesson, applied to persist):
        # the deserialized default put ~38 GB of edge blocks into the
        # 8 GB unified pool at sf100 and starved execution memory
        # (UNABLE_TO_ACQUIRE at 64 KB); what the peel reuses is the u
        # partitioning, not block residency
        edges = (
            spark.read.parquet(d)
            .repartition(F.col("u"))
            .persist(StorageLevel.DISK_ONLY)
        )
        edges.count()  # materialize outside the timed window
        t0 = time.perf_counter()
        n = kcore_peel(edges).localCheckpoint(eager=True).count()
        dt = round(time.perf_counter() - t0, 2)
        edges.unpersist()
        results[sf_label] = {"sec": dt, "rows": n}
        print(json.dumps({"sf": sf_label, "peel_sec": dt, "rows": n}), flush=True)
        release_session_blocks(spark)
    print(
        json.dumps(
            {
                "summary_sf50_peel": {
                    "t_ratio_5x": round(
                        results["50"]["sec"] / max(results["10"]["sec"], 1e-9), 2
                    ),
                    "rows_ratio_5x": round(
                        results["50"]["rows"] / max(results["10"]["rows"], 1), 2
                    ),
                }
            }
        ),
        flush=True,
    )


def main_sf50_graph() -> None:
    """One sf50 rep each for the REST of the graph family (r11 judge
    #7): pagerank, LPA, and the triangle census reuse the SAME stamped
    edge frames the k-core peel proved feasible (sf10 239M / sf50 1.196B
    directed edges; run --sf100-peel first, or --skip-build here reuses
    the parquet dirs on disk). Each operator runs at sf10 and sf50 from
    the materialized frames, so the recorded slope isolates the
    iterate/join machinery from the (already-laddered) edge build.

    Built-in correctness at scale: the fixture copies are node-disjoint,
    so every count (vertices, edges, wedges, triangles, communities,
    rank rows) must be EXACTLY 5x the sf10 value and the global
    clustering coefficient must be bit-equal — any drift is a real
    defect in the operator at the billion-edge regime, not noise.

    Memory regime: the k-core sf50 lesson verbatim — 512 reduce
    partitions, 32m scan splits, DISK_ONLY edge persistence, and run
    under SPARK_GRAFT_CPUS=8 (32 threads starve the SMJ sorters at this
    scale; see BASELINE.md r11 ladder)."""
    spark = get_spark("scale_soak_sf50_graph")
    spark.conf.set("spark.sql.shuffle.partitions", "512")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "32m")

    from pyspark.storagelevel import StorageLevel

    from etl_pipeline_spark.queries.advanced_behavioral import (
        TRI_SUPPORT,
        triangle_census,
    )
    from etl_pipeline_spark.queries.analytics_ml import (
        co_purchase_edges,
        lpa_labels,
        pagerank_ranks_lazy,
    )

    if not os.path.isdir(SF10_EDGE2_DIR):
        # stamp the census's support-2 canonical frames once (same
        # disjoint-copy construction as the support-1 peel frames)
        li = load_tables(spark, SF10_DIR, ("lineitem",))["lineitem"]
        e2 = co_purchase_edges(li, TRI_SUPPORT).localCheckpoint(eager=True)
        e2.write.mode("overwrite").parquet(SF10_EDGE2_DIR)
        e2r = spark.read.parquet(SF10_EDGE2_DIR)
        for k in range(PEEL_COPIES):
            e2r.select(
                (F.col("u") + k * 100 * ID_OFFSET).alias("u"),
                (F.col("v") + k * 100 * ID_OFFSET).alias("v"),
            ).write.mode("overwrite" if k == 0 else "append").parquet(
                SF50_EDGE2_DIR
            )
        e2.unpersist()

    def run_pagerank(edges, und):
        out, _e, _x = pagerank_ranks_lazy(None, edges=edges)
        return {"rows": out.localCheckpoint(eager=True).count()}

    def run_triangle(edges, und):
        # support-2 canonical frame (the census's contract graph);
        # degree orientation caps the wedge stream at O(m^1.5)
        # (id-order is sum(d^2) — hub-quadratic); counts invariant,
        # equivalence pinned in tests/test_r8_operators.py
        return triangle_census(und, orient_by_degree=True).collect()[0].asDict()

    def run_lpa(edges, und):
        # eager rounds: one round's shuffle on disk at a time, not all
        # four — the lazy form's ~iters x |E| simultaneous shuffle
        # files are the documented single-host ENOSPC class
        labels = lpa_labels(edges, eager_rounds=True)
        return {"communities": labels.select("label").distinct().count()}

    # one op's failure (the boundary being probed) must not cost the
    # others their rep. Triangle runs LAST: its internal orientation
    # checkpoint is edge-sized and lingers until the end-of-leg block
    # release (release_session_blocks unpersists EVERYTHING, so it can
    # only run once the leg's shared frames are done).
    ops = [("pagerank", run_pagerank), ("lpa", run_lpa),
           ("triangle", run_triangle)]

    # Disk preflight (r12, measured the hard way): an op whose scratch
    # exceeds free disk doesn't fail cleanly at this scale — it drives
    # the HOST to 100% (checkpoint writes, git, everything corrupts)
    # before Spark surfaces ENOSPC; both r12 kill-at-87% incidents were
    # this. Required scratch as a multiple of the input frame's parquet
    # bytes, measured on this host class: DISK_ONLY persist of the
    # deserialized both-ways frame is ~5.5x parquet; pagerank adds
    # ~3x transient spill (sf50 leg completed inside 8x total); LPA's
    # per-round nbr shuffle is edge-sized even with eager rounds and
    # blew past 9x (kill point) — 14x is the recorded lower bound for a
    # safe run. Triangle's wedge mass is DENSITY-driven: the support-2
    # census is trivial, but the support-1 attempt burned >48x its
    # parquet before the kill, so the factor stays defensive. Below the
    # bar the op records a skip with numbers — the mechanical form of
    # the feasibility ladder.
    DISK_FACTOR = {"pagerank": 8, "lpa": 14, "triangle": 50}

    def _dir_bytes(path: str) -> int:
        total = 0
        for root, _, files in os.walk(path):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
        return total
    results: dict[str, dict[str, dict]] = {}
    for sf_label, d, d2 in [
        ("10", SF10_EDGE_DIR, SF10_EDGE2_DIR),
        ("50", SF50_EDGE_DIR, SF50_EDGE2_DIR),
    ]:
        # one DISK_ONLY u-partitioned support-1 frame serves pagerank
        # AND LPA (both join on edges.u); the census reads its own
        # support-2 canonical frame. Materialization happens outside
        # each timed window.
        edges = (
            spark.read.parquet(d)
            .repartition(F.col("u"))
            .persist(StorageLevel.DISK_ONLY)
        )
        edges.count()
        und = spark.read.parquet(d2).persist(StorageLevel.DISK_ONLY)
        und.count()
        frame_bytes = {"triangle": _dir_bytes(d2)}
        frame_bytes["pagerank"] = frame_bytes["lpa"] = _dir_bytes(d)
        for op, fn in ops:
            need = DISK_FACTOR[op] * frame_bytes[op]
            free = __import__("shutil").disk_usage("/").free
            if free < need:
                rec = {
                    "skipped": (
                        f"insufficient free disk: need ~{need >> 30} GiB "
                        f"({DISK_FACTOR[op]}x {frame_bytes[op] >> 20} MiB "
                        f"parquet), have {free >> 30} GiB"
                    )
                }
                rec["sec"] = 0.0
                results.setdefault(op, {})[sf_label] = rec
                print(json.dumps({"sf": sf_label, "op": op, **rec}), flush=True)
                continue
            t0 = time.perf_counter()
            try:
                rec = fn(edges, und)
            except Exception as exc:  # record the boundary, keep going
                rec = {"error": f"{type(exc).__name__}: {exc}"[:300]}
            rec["sec"] = round(time.perf_counter() - t0, 2)
            results.setdefault(op, {})[sf_label] = rec
            print(json.dumps({"sf": sf_label, "op": op, **rec}), flush=True)
        edges.unpersist()
        und.unpersist()
        release_session_blocks(spark)

    summary = {}
    for op, by_sf in results.items():
        r10, r50 = by_sf["10"], by_sf["50"]
        summary[op] = {
            "sf10_sec": r10["sec"],
            "sf50_sec": r50["sec"],
            "t_ratio_5x": round(r50["sec"] / max(r10["sec"], 1e-9), 2),
            "errors": {s: r["error"] for s, r in by_sf.items() if "error" in r},
            "skips": {s: r["skipped"] for s, r in by_sf.items() if "skipped" in r},
        }

    def lin(op, key):
        a, b = results[op]["10"].get(key), results[op]["50"].get(key)
        return a is not None and b is not None and b == 5 * a

    tri10, tri50 = results["triangle"]["10"], results["triangle"]["50"]
    summary["linearity_5x_exact"] = {
        "rank_rows": lin("pagerank", "rows"),
        "communities": lin("lpa", "communities"),
        "triangles": lin("triangle", "n_triangles"),
        "wedges": lin("triangle", "n_wedges"),
        # r13 advisor: only report equality when BOTH legs measured the
        # key — a skipped/errored op on both sides is null, never a
        # vacuous True (skipped-vs-measured conflation).
        "clustering_equal": (
            tri10.get("global_clustering") == tri50.get("global_clustering")
            if tri10.get("global_clustering") is not None
            and tri50.get("global_clustering") is not None
            else None
        ),
    }
    print(json.dumps({"summary_sf50_graph": summary}), flush=True)


def main_wcc_graph() -> None:
    """r14: the WCC census (q_connected_components' machinery) at sf10
    and sf50 on the stamped support-1 edge frames — the same disjoint-
    copy ladder as pagerank/LPA/k-core, with the same built-in oracle:
    the copies are node-disjoint, so n_components and sum_sq_sizes must
    be EXACTLY 5x the sf10 values and giant_size bit-equal; is_fixpoint
    must hold at both scales (the census's structural verdict — edge-
    endpoint label agreement + per-component min-member — is itself
    computed distributed, so the oracle runs IN the soak).

    Memory regime: disk_only=True persists the symmetric frame's blocks
    on disk (the deserialized default is the r13 census-OOM class), and
    the sf50 leg runs round_splits=4 — the lever that closed sf50 LPA
    (pmod(src, K) passes, one pass's join+groupBy scratch at a time).
    Disk preflight factors are LPA-derived priors (14x unsplit / 7x
    split-4 of the input parquet: 5.5x DISK_ONLY frame + per-pass
    transient), recorded against measurement in BASELINE.md."""
    spark = get_spark("scale_soak_wcc")
    spark.conf.set("spark.sql.shuffle.partitions", "512")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "32m")

    from etl_pipeline_spark.operators.cluster import connected_components
    from etl_pipeline_spark.queries.graph_components import wcc_summary

    DISK_FACTOR_WCC = {1: 14, 4: 7}

    def _dir_bytes(path: str) -> int:
        total = 0
        for root, _, files in os.walk(path):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
        return total

    results: dict[str, dict] = {}
    for sf_label, d, splits in [
        ("10", SF10_EDGE_DIR, 1),
        ("50", SF50_EDGE_DIR, 4),
    ]:
        frame_bytes = _dir_bytes(d)
        need = DISK_FACTOR_WCC[splits] * frame_bytes
        free = __import__("shutil").disk_usage("/").free
        if free < need:
            rec = {
                "skipped": (
                    f"insufficient free disk: need ~{need >> 30} GiB "
                    f"({DISK_FACTOR_WCC[splits]}x {frame_bytes >> 20} MiB "
                    f"parquet), have {free >> 30} GiB"
                ),
                "sec": 0.0,
            }
            results[sf_label] = rec
            print(json.dumps({"sf": sf_label, "op": "wcc", **rec}), flush=True)
            continue
        directed = spark.read.parquet(d)
        # canonical half of the stamped both-ways frame; the operator
        # re-symmetrizes internally (its sym frame is dst-partitioned
        # and DISK_ONLY under disk_only=True)
        edges = directed.filter(F.col("u") < F.col("v")).select(
            F.col("u").alias("src"), F.col("v").alias("dst")
        )
        # every node appears as u in the both-ways frame: one distinct,
        # no union
        nodes = directed.select(F.col("u").alias("node")).distinct()
        t0 = time.perf_counter()
        try:
            comp = connected_components(
                nodes, edges, disk_only=True, round_splits=splits
            )
            rec = wcc_summary(edges, comp).collect()[0].asDict()
        except Exception as exc:  # record the boundary, keep going
            rec = {"error": f"{type(exc).__name__}: {exc}"[:300]}
        rec["sec"] = round(time.perf_counter() - t0, 2)
        rec["round_splits"] = splits
        results[sf_label] = rec
        print(json.dumps({"sf": sf_label, "op": "wcc", **rec}), flush=True)
        release_session_blocks(spark)

    r10, r50 = results.get("10", {}), results.get("50", {})

    def lin(key, mult):
        a, b = r10.get(key), r50.get(key)
        return a is not None and b is not None and b == mult * a

    summary = {
        "sf10_sec": r10.get("sec"),
        "sf50_sec": r50.get("sec"),
        "t_ratio_5x": (
            round(r50["sec"] / max(r10["sec"], 1e-9), 2)
            if "sec" in r10 and "sec" in r50
            else None
        ),
        "linearity_5x_exact": {
            "n_components": lin("n_components", 5),
            "sum_sq_sizes": lin("sum_sq_sizes", 5),
            "n_edges": lin("n_edges", 5),
            # disjoint copies: the giant component is a COPY, not 5x
            "giant_size_equal": (
                r10.get("giant_size") == r50.get("giant_size")
                if r10.get("giant_size") is not None
                and r50.get("giant_size") is not None
                else None
            ),
        },
        "is_fixpoint_both": (
            bool(r10.get("is_fixpoint")) and bool(r50.get("is_fixpoint"))
            if r10.get("is_fixpoint") is not None
            and r50.get("is_fixpoint") is not None
            else None
        ),
        "errors": {s: r["error"] for s, r in results.items() if "error" in r},
        "skips": {s: r["skipped"] for s, r in results.items() if "skipped" in r},
    }
    print(json.dumps({"summary_wcc_graph": summary}), flush=True)


def main_wcc_deep() -> None:
    """r14: the two-phase (alternating star) fallback at the topology it
    exists for — PATH graphs, where min-label needs O(diameter) = O(n)
    rounds and is categorically infeasible. Paths of 10M and 100M nodes
    (built map-only from spark.range; the monotone-id path is also the
    star contraction's worst case measured in rounds), max_iter=40
    against the predicted ~log2(n)+constant rounds (pure-Python replay:
    15 @ 10^4, 18 @ 10^5, 21 @ 10^6; Spark matched all three exactly in
    the r14 calibration). Verdict per leg: exactly ONE component labeled
    0 covering all n nodes — exact, not banded. This leg would have been
    impossible before the r14 rewrite: the prior same-input star union
    DOUBLED the edge set per round and OOMed at 10^4 nodes.

    Scratch per round is star-bounded (each star emits at most one edge
    per input edge): ~2 live checkpoint generations of <= 2n rows. The
    100M leg gates on a conservative 30 GiB free-disk bar and records
    the skip mechanically if the host can't carry it.

    Single-JVM longevity (r14, measured the hard way): a ~30-round
    contraction runs ~300 jobs / 800+ stages in ONE JVM, and Spark's
    ContextCleaner reclaims old shuffles only when a driver GC happens
    to collect their weak refs — the first 100M attempts died of heap
    creep at round ~25 even after DISK_ONLY generations. Mitigations:
    per-round gc.collect() in the operator loop, a 3-minute
    spark.cleaner.periodicGC.interval (default 30min — only ~3 GCs in
    a 90-minute leg), and SPARK_GRAFT_DRIVER_MEM=16g for this leg (the
    8 GB default is the right CLUSTER story; the accumulation is a
    single-JVM soak artifact a per-job-session deployment never sees)."""
    spark = get_spark(
        "scale_soak_wcc_deep",
        extra_conf={"spark.cleaner.periodicGC.interval": "3min"},
    )
    # 512 reduce partitions at the 100M leg (200M-row symmetric view):
    # the first 256-partition, 32-thread attempt died in the JVM's
    # NativeThreadSet spill-reader race right after TaskMemoryManager
    # page-allocation failures — per-task input, not heap, is the lever
    # (the sf100 lesson again); run under SPARK_GRAFT_CPUS=16 for the
    # 100M leg
    spark.conf.set("spark.sql.shuffle.partitions", "512")

    from etl_pipeline_spark.operators.cluster import (
        connected_components_two_phase,
    )

    legs = [("10M", 10_000_000), ("100M", 100_000_000)]
    for i, a in enumerate(sys.argv):
        if a == "--legs":  # e.g. --legs 100M  (rerun one leg alone)
            want = set(sys.argv[i + 1].split(","))
            legs = [(lb, n) for lb, n in legs if lb in want]

    results: dict[str, dict] = {}
    for label, n in legs:
        if label == "100M":
            free = __import__("shutil").disk_usage("/").free
            if free < 30 << 30:
                rec = {
                    "skipped": (
                        f"insufficient free disk: need ~30 GiB "
                        f"(conservative 2-generation checkpoint bar), "
                        f"have {free >> 30} GiB"
                    ),
                    "sec": 0.0,
                }
                results[label] = rec
                print(json.dumps({"leg": label, "op": "wcc_deep", **rec}), flush=True)
                continue
        edges = spark.range(n - 1).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
        )
        nodes = spark.range(n).select(F.col("id").alias("node"))
        t0 = time.perf_counter()
        try:
            comp, rounds = connected_components_two_phase(
                nodes,
                edges,
                max_iter=40,
                with_rounds=True,
                # two ~|V|-row checkpoint generations live at once; at
                # 100M nodes that is 2 x ~5-6 GB deserialized — heap
                # death in round 2 on the 8 GB JVM (measured). DISK_ONLY
                # generations cost the heap nothing.
                disk_only=(n >= 50_000_000),
            )
            s = comp.agg(
                F.count("*").alias("n_nodes"),
                F.countDistinct("cluster_id").alias("n_components"),
                F.max("cluster_id").alias("max_label"),
            ).collect()[0]
            rec = {
                "n_nodes": s["n_nodes"],
                "n_components": s["n_components"],
                "max_label": s["max_label"],
                "rounds": rounds,
                "exact": s["n_nodes"] == n
                and s["n_components"] == 1
                and s["max_label"] == 0,
            }
        except Exception as exc:  # record the boundary, keep going
            rec = {"error": f"{type(exc).__name__}: {exc}"[:300]}
        rec["sec"] = round(time.perf_counter() - t0, 2)
        results[label] = rec
        print(json.dumps({"leg": label, "op": "wcc_deep", **rec}), flush=True)
        release_session_blocks(spark)
    print(json.dumps({"summary_wcc_deep": results}), flush=True)


def main_sf50_lpa_split() -> None:
    """r13 judge #6: LPA at sf50 with round splitting. Eager rounds
    alone left LPA's disk factor at 14x parquet (the 9x attempt was
    killed) — 14 x 7 GB = 98 GB > this host. lpa_labels(round_splits=4)
    partitions each round by pmod(dst, 4): one pass's join+groupBy
    shuffle lives at a time, so the transient term drops ~4x and the
    factor bar drops to 8x (5.5x DISK_ONLY frame + ~2x transient).
    Verdict: sf50 communities must be EXACTLY 5x sf10's — the stamped
    frames are disjoint node-offset copies, so equality is exact, not
    statistical. Equivalence of the split rounds themselves is pinned
    at fixture scale (tests/test_r8_operators.py)."""
    from pyspark.storagelevel import StorageLevel

    from etl_pipeline_spark.queries.analytics_ml import lpa_labels

    spark = get_spark("scale_soak_lpa_split")
    spark.conf.set("spark.sql.shuffle.partitions", "512")
    K = 4
    DISK_FACTOR_SPLIT = 8

    def _dir_bytes(path: str) -> int:
        total = 0
        for root, _, files in os.walk(path):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
        return total

    results: dict[str, dict] = {}
    for sf_label, d in [("10", SF10_EDGE_DIR), ("50", SF50_EDGE_DIR)]:
        frame_bytes = _dir_bytes(d)
        need = DISK_FACTOR_SPLIT * frame_bytes
        free = __import__("shutil").disk_usage("/").free
        if free < need:
            results[sf_label] = {
                "skipped": (
                    f"insufficient free disk: need ~{need >> 30} GiB "
                    f"({DISK_FACTOR_SPLIT}x {frame_bytes >> 20} MiB parquet), "
                    f"have {free >> 30} GiB"
                )
            }
            print(json.dumps({"sf": sf_label, "op": "lpa_split", **results[sf_label]}), flush=True)
            continue
        edges = (
            spark.read.parquet(d)
            .repartition(F.col("u"))
            .persist(StorageLevel.DISK_ONLY)
        )
        edges.count()
        t0 = time.perf_counter()
        labels = lpa_labels(edges, round_splits=K)
        communities = labels.select("label").distinct().count()
        sec = round(time.perf_counter() - t0, 2)
        edges.unpersist()
        release_session_blocks(spark)
        results[sf_label] = {"communities": communities, "sec": sec, "round_splits": K}
        print(json.dumps({"sf": sf_label, "op": "lpa_split", **results[sf_label]}), flush=True)

    c10 = results.get("10", {}).get("communities")
    c50 = results.get("50", {}).get("communities")
    summary = {
        "communities_5x_exact": (
            c50 == 5 * c10 if c10 is not None and c50 is not None else None
        ),
        "t_ratio_5x": (
            round(results["50"]["sec"] / max(results["10"]["sec"], 1e-9), 2)
            if "sec" in results.get("10", {}) and "sec" in results.get("50", {})
            else None
        ),
        **{f"sf{k}": v for k, v in results.items()},
    }
    print(json.dumps({"summary_lpa_split": summary}), flush=True)


def main_sf10_tri_sampled() -> None:
    """DOULION sampled census closes the support-1 wedge-mass wall (r13
    judge #5). Exact support-1 triangle counting at sf10 burned >48x its
    1.4 GB parquet in scratch before the r12 kill (BASELINE.md); the
    sampled census at p = 1/4 cuts wedge mass 16x. Two legs:

    - sf1 VALIDATION: exact census (degree-oriented) vs the sampled
      estimate on the same support-1 graph — rel_err and the 3-sigma
      verdict at the largest SF where exact is feasible.
    - sf10 SCALE: sampled-only census on the stamped support-1 frame
      under the disk preflight. The estimate is then checked against
      the KNOWN exact count 10 * T(sf1): the sf fixtures are disjoint
      node-offset copies by construction (build_sf10), so sf10's true
      count is exactly 10x sf1's — a real correctness oracle at the
      scale where exact counting is infeasible on this host.
    """
    from pyspark.storagelevel import StorageLevel

    from etl_pipeline_spark.queries.advanced_behavioral import triangle_census
    from etl_pipeline_spark.queries.analytics_ml import co_purchase_edges
    from etl_pipeline_spark.queries.graph_sampling import sampled_triangles

    spark = get_spark("scale_soak_tri_sampled")
    spark.conf.set("spark.sql.shuffle.partitions", "256")

    KEEP = 4  # p = 1/4: wedge mass /16, integer scale 64, var factor 63
    scale = (16 // KEEP) ** 3
    out: dict = {"keep_nibbles": KEEP, "p": KEEP / 16.0}

    def sigma_bound(t_exact: int) -> int:
        # DOULION variance without the shared-edge covariance term:
        # var(est) ~ T(p^-3 - 1); +scale absorbs the one-sampled-triangle
        # granularity. Same formula as q_triangle_census_sampled's verdict.
        import math

        return math.ceil(3 * math.sqrt((scale - 1) * max(t_exact, 0))) + scale

    # --- sf1 validation leg -------------------------------------------
    li = load_tables(spark, SF1_DIR, ("lineitem",))["lineitem"]
    und1 = co_purchase_edges(li, 1).persist(StorageLevel.DISK_ONLY)
    n_edges1 = und1.count()
    t0 = time.perf_counter()
    exact1 = triangle_census(und1, orient_by_degree=True).collect()[0].asDict()
    t_exact1 = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    samp1 = sampled_triangles(und1, KEEP, orient_by_degree=True).collect()[0].asDict()
    t_samp1 = round(time.perf_counter() - t0, 2)
    und1.unpersist()
    release_session_blocks(spark)
    t1 = exact1["n_triangles"]
    err1 = abs(samp1["est_triangles"] - t1)
    out["sf1"] = {
        "n_edges": n_edges1,
        "exact_triangles": t1,
        "exact_sec": t_exact1,
        "sampled_sec": t_samp1,
        "n_edges_sampled": samp1["n_edges_sampled"],
        "n_triangles_sampled": samp1["n_triangles_sampled"],
        "est_triangles": samp1["est_triangles"],
        "rel_err": round(err1 / max(t1, 1), 6),
        "within_3sigma": err1 <= sigma_bound(t1),
        "speedup_vs_exact": round(t_exact1 / max(t_samp1, 1e-9), 2),
    }
    print(json.dumps({"leg": "sf1", **out["sf1"]}), flush=True)

    # --- sf10 scale leg (sampled-only, disk preflight) ----------------
    def _dir_bytes(path: str) -> int:
        total = 0
        for root, _, files in os.walk(path):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
        return total

    frame_bytes = _dir_bytes(SF10_EDGE_DIR)
    # exact support-1 burned >48x parquet (r12 kill); sampled wedge mass
    # is p^2 = 1/16 of that (~3x) + the p-sized sampled checkpoint;
    # 10x is the defensive bar.
    need = 10 * frame_bytes
    free = __import__("shutil").disk_usage("/").free
    if free < need:
        out["sf10"] = {
            "skipped": (
                f"insufficient free disk: need ~{need >> 30} GiB "
                f"(10x {frame_bytes >> 20} MiB parquet), have {free >> 30} GiB"
            )
        }
    else:
        edges10 = spark.read.parquet(SF10_EDGE_DIR).filter("u < v")
        t0 = time.perf_counter()
        samp10 = sampled_triangles(edges10, KEEP, orient_by_degree=True).collect()[0].asDict()
        t_samp10 = round(time.perf_counter() - t0, 2)
        release_session_blocks(spark)
        truth10 = 10 * t1  # disjoint-copy construction: exact by design
        err10 = abs(samp10["est_triangles"] - truth10)
        out["sf10"] = {
            "sampled_sec": t_samp10,
            "n_edges_sampled": samp10["n_edges_sampled"],
            "n_triangles_sampled": samp10["n_triangles_sampled"],
            "est_triangles": samp10["est_triangles"],
            "exact_triangles_by_construction": truth10,
            "rel_err": round(err10 / max(truth10, 1), 6),
            "within_3sigma": err10 <= sigma_bound(truth10),
        }
    print(json.dumps({"leg": "sf10", **out["sf10"]}), flush=True)

    # --- optional sf50 leg (--sf50): the 5x-denser frame needs harder
    # sampling — keep=2 (p = 1/8) cuts wedge mass 64x, so the >48x/
    # parquet exact burn translates to ~4x of the 7 GB frame; 6x is the
    # defensive bar. Scale factor 512 stays integer-exact; truth is
    # 50 x the sf1 exact count (disjoint-copy construction). Predicted
    # rel_err ~ sqrt((512-1)/T) ~ 0.07% at T ~ 9.4e8 — a near-billion-
    # triangle census estimated on one host.
    if "--sf50" in sys.argv:
        KEEP50 = 2
        scale50 = (16 // KEEP50) ** 3

        def sigma_bound50(t_exact: int) -> int:
            import math

            return math.ceil(3 * math.sqrt((scale50 - 1) * max(t_exact, 0))) + scale50

        frame_bytes = _dir_bytes(SF50_EDGE_DIR)
        need = 6 * frame_bytes
        free = __import__("shutil").disk_usage("/").free
        if free < need:
            out["sf50"] = {
                "skipped": (
                    f"insufficient free disk: need ~{need >> 30} GiB "
                    f"(6x {frame_bytes >> 20} MiB parquet), have {free >> 30} GiB"
                )
            }
        else:
            # 512 reduce partitions + DISK_ONLY sample store: the 256/
            # localCheckpoint combination OOMed the heap mid-wedge-sort
            # (deserialized sample blocks + 32 concurrent sorts)
            spark.conf.set("spark.sql.shuffle.partitions", "512")
            edges50 = spark.read.parquet(SF50_EDGE_DIR).filter("u < v")
            t0 = time.perf_counter()
            samp50 = sampled_triangles(
                edges50, KEEP50, orient_by_degree=True, disk_only=True
            ).collect()[0].asDict()
            t_samp50 = round(time.perf_counter() - t0, 2)
            release_session_blocks(spark)
            truth50 = 50 * t1
            err50 = abs(samp50["est_triangles"] - truth50)
            out["sf50"] = {
                "keep_nibbles": KEEP50,
                "p": KEEP50 / 16.0,
                "sampled_sec": t_samp50,
                "n_edges_sampled": samp50["n_edges_sampled"],
                "n_triangles_sampled": samp50["n_triangles_sampled"],
                "est_triangles": samp50["est_triangles"],
                "exact_triangles_by_construction": truth50,
                "rel_err": round(err50 / max(truth50, 1), 6),
                "within_3sigma": err50 <= sigma_bound50(truth50),
            }
        print(json.dumps({"leg": "sf50", **out["sf50"]}), flush=True)

    # --- optional sf100 leg (--sf100): a FOURTH decade. The sf100 edge
    # frame is stamped as 10 node-offset copies of the sf10 frame (the
    # r10 peel construction — map-only appends, no global shuffle;
    # ~14 GB parquet), and the census samples at keep=1 (p = 1/16,
    # integer scale 4096): the kept canonical edge count (~75M) matches
    # the sf50 leg's, so the wedge join cost stays flat while the TRUE
    # count doubles to ~1.88B. Truth = 100 x sf1 exact (disjoint
    # copies). Predicted rel_err ~ sqrt(4095/1.88e9) ~ 0.15%.
    if "--sf100" in sys.argv:
        SF100_EDGE_DIR = f"{REPO}/.scratch/scale/sf100_edges_s1"
        KEEP100 = 1
        scale100 = (16 // KEEP100) ** 3

        def sigma_bound100(t_exact: int) -> int:
            import math

            return math.ceil(3 * math.sqrt((scale100 - 1) * max(t_exact, 0))) + scale100

        if not os.path.isdir(SF100_EDGE_DIR):
            t0 = time.perf_counter()
            e10 = spark.read.parquet(SF10_EDGE_DIR)
            for k in range(10):
                e10.select(
                    (F.col("u") + k * 1000 * ID_OFFSET).alias("u"),
                    (F.col("v") + k * 1000 * ID_OFFSET).alias("v"),
                ).write.mode("overwrite" if k == 0 else "append").parquet(
                    SF100_EDGE_DIR
                )
            print(
                json.dumps(
                    {"built_sf100_edges_sec": round(time.perf_counter() - t0, 1)}
                ),
                flush=True,
            )
        frame_bytes = _dir_bytes(SF100_EDGE_DIR)
        # kept sample ~ sf50's (~1.2 GB DISK_ONLY) + sampled wedge
        # shuffle ~ p^2 x (10 x the sf10 >68 GB burn) ~ 2.7 GB: real
        # expectation ~5 GB; 2x the 14 GB parquet is a 5x safety margin
        # (r13 advisor #4: the factor lives in ONE constant so the skip
        # message can never again report a different bar than applied)
        SF100_DISK_FACTOR = 2
        need = SF100_DISK_FACTOR * frame_bytes
        free = __import__("shutil").disk_usage("/").free
        if free < need:
            out["sf100"] = {
                "skipped": (
                    f"insufficient free disk: need ~{need >> 30} GiB "
                    f"({SF100_DISK_FACTOR}x {frame_bytes >> 20} MiB "
                    f"parquet), have {free >> 30} GiB"
                )
            }
        else:
            spark.conf.set("spark.sql.shuffle.partitions", "512")
            edges100 = spark.read.parquet(SF100_EDGE_DIR).filter("u < v")
            t0 = time.perf_counter()
            samp100 = sampled_triangles(
                edges100, KEEP100, orient_by_degree=True, disk_only=True
            ).collect()[0].asDict()
            t_samp100 = round(time.perf_counter() - t0, 2)
            release_session_blocks(spark)
            truth100 = 100 * t1
            err100 = abs(samp100["est_triangles"] - truth100)
            out["sf100"] = {
                "keep_nibbles": KEEP100,
                "p": KEEP100 / 16.0,
                "sampled_sec": t_samp100,
                "n_edges_sampled": samp100["n_edges_sampled"],
                "n_triangles_sampled": samp100["n_triangles_sampled"],
                "est_triangles": samp100["est_triangles"],
                "exact_triangles_by_construction": truth100,
                "rel_err": round(err100 / max(truth100, 1), 6),
                "within_3sigma": err100 <= sigma_bound100(truth100),
            }
        print(json.dumps({"leg": "sf100", **out["sf100"]}), flush=True)

    print(json.dumps({"summary_tri_sampled": out}), flush=True)


def main_sf100_graph() -> None:
    """Two-decades graph campaign (r9): sf10 -> sf100 slope for the
    co-purchase graph family leads. Memory regime per the r7 sf100
    lesson: shuffle.partitions=256 (partition count, not heap, is the
    lever); lineitem is numeric parquet (no 100:1 text decompression),
    so the default scan split stands."""
    spark = get_spark("scale_soak_sf100_graph")
    spark.conf.set("spark.sql.shuffle.partitions", "256")
    if "--skip-build" not in sys.argv:
        t0 = time.perf_counter()
        build_sf100_lineitem(spark)
        print(
            json.dumps({"built_sf100_lineitem_sec": round(time.perf_counter() - t0, 1)}),
            flush=True,
        )

    from etl_pipeline_spark.queries.base import all_specs

    specs = all_specs()
    results: dict[str, dict[str, dict]] = {}
    for sf_label, sf_dir in [("10", SF10_DIR), ("100", SF100_DIR)]:
        for name in SF100_GRAPH_QUERIES:
            t0 = time.perf_counter()
            if name == "q_kcore_scaled":
                n = kcore_scaled(spark, sf_dir, sf_label).count()
            else:
                n = specs[name].fn(spark, sf_dir).count()
            dt = round(time.perf_counter() - t0, 2)
            results.setdefault(name, {})[sf_label] = {"sec": dt, "rows": n}
            print(
                json.dumps({"sf": sf_label, "query": name, "sec": dt, "rows": n}),
                flush=True,
            )
            release_session_blocks(spark)
    summary = {}
    for name, by_sf in results.items():
        r10, r100 = by_sf["10"], by_sf["100"]
        summary[name] = {
            "sf10_sec": r10["sec"],
            "sf100_sec": r100["sec"],
            "t_ratio_10x": round(r100["sec"] / max(r10["sec"], 1e-9), 2),
            "rows_ratio_10x": round(r100["rows"] / max(r10["rows"], 1), 2),
        }
    print(json.dumps({"summary_sf100_graph": summary}))


def main_sf100() -> None:
    """Two-decades-past-sf1 spot-soak: sf10 -> sf100 slope per 10x for
    the top-2 document heavies. Requires the sf10 fixture (run --sf10
    first, or --skip-build if sf100 already exists).

    Memory regime (r7, measured): the heap stays at the 8 GB default —
    raising it is the WRONG lever and measurably pathological here
    (sf10 minhash: 89.5 s at 8g, 160.5 s at 16g, 585.8 s at 64g — giant
    in-memory hash/sort structures lose to the cache-friendly
    spill-and-merge path). What actually scales is PARTITIONING:

    - SPARK_GRAFT_WIDE_CKPT_SER=1 — serialized wide checkpoints (the
      deserialized blocks' JVM object overhead OOMed the block-manager
      read-ahead thread on the first sf100 attempt);
    - spark.sql.shuffle.partitions=256 — at the fixed 32, an sf100
      reduce partition carries ~10x the sf10 bytes and sort spills go
      multi-pass; 256 keeps per-task shuffle input ~flat, exactly what
      a cluster does as data grows (AQE coalesces the excess on the
      smaller sf10 legs);
    - spark.sql.files.maxPartitionBytes=16m — text parquet decompresses
      ~100:1, so the default 128m hands one scan task ~10 GB of
      decompressed shingle arrays (the second sf100 attempt OOMed
      inside HashingTF exactly there); 16m compressed ~= a few hundred
      MB decompressed per task."""
    import os

    os.environ.setdefault("SPARK_GRAFT_WIDE_CKPT_SER", "1")
    spark = get_spark("scale_soak_sf100")
    spark.conf.set("spark.sql.shuffle.partitions", "256")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
    if "--skip-build" not in sys.argv:
        t0 = time.perf_counter()
        build_sf100(spark)
        print(
            json.dumps({"built_sf100_sec": round(time.perf_counter() - t0, 1)}),
            flush=True,
        )

    from etl_pipeline_spark.queries.base import all_specs

    specs = all_specs()
    results: dict[str, dict[str, dict]] = {}
    for sf_label, sf_dir in [("10", SF10_DIR), ("100", SF100_DIR)]:
        for name in SF100_QUERIES:
            t0 = time.perf_counter()
            n = specs[name].fn(spark, sf_dir).count()
            dt = round(time.perf_counter() - t0, 2)
            results.setdefault(name, {})[sf_label] = {"sec": dt, "rows": n}
            print(
                json.dumps({"sf": sf_label, "query": name, "sec": dt, "rows": n}),
                flush=True,
            )
            release_session_blocks(spark)
    summary = {}
    for name, by_sf in results.items():
        r10, r100 = by_sf["10"], by_sf["100"]
        summary[name] = {
            "sf10_sec": r10["sec"],
            "sf100_sec": r100["sec"],
            "t_ratio_10x": round(r100["sec"] / max(r10["sec"], 1e-9), 2),
            "rows_ratio_10x": round(r100["rows"] / max(r10["rows"], 1), 2),
        }
    print(json.dumps({"summary_sf100": summary}))


def main() -> None:
    if "--sf10" in sys.argv:
        main_sf10()
        return
    if "--sf100-peel" in sys.argv:
        main_sf100_peel()
        return
    if "--sf50-graph" in sys.argv:
        main_sf50_graph()
        return
    if "--sf100-graph" in sys.argv:
        main_sf100_graph()
        return
    if "--sf10-tri-sampled" in sys.argv:
        main_sf10_tri_sampled()
        return
    if "--sf50-lpa-split" in sys.argv:
        main_sf50_lpa_split()
        return
    if "--wcc-deep" in sys.argv:
        main_wcc_deep()
        return
    if "--wcc" in sys.argv:
        main_wcc_graph()
        return
    if "--sf100" in sys.argv:
        main_sf100()
        return
    soak = SOAK_QUERIES
    for i, a in enumerate(sys.argv):
        if a == "--queries":
            soak = sys.argv[i + 1].split(",")
    spark = get_spark("scale_soak")
    if "--skip-build" not in sys.argv:
        t0 = time.perf_counter()
        build_sf1(spark)
        print(json.dumps({"built_sf1_sec": round(time.perf_counter() - t0, 1)}), flush=True)
        verify_sf1_fk_structure(spark)

    from etl_pipeline_spark.queries.base import all_specs

    specs = all_specs()
    results: dict[str, dict[str, dict]] = {}
    for sf_label, sf_dir in [
        ("0.01", "/root/testdata/sf0.01"),
        ("0.1", "/root/testdata/sf0.1"),
        ("1", SF1_DIR),
    ]:
        for name in soak:
            t0 = time.perf_counter()
            if name == "q_semdedup_scaledk":
                n = semdedup_scaled(spark, sf_dir, sf_label).count()
            elif name == "q_dbscan_scaled_eps":
                n = dbscan_scaled(spark, sf_dir, sf_label).count()
            elif name == "q_spatial_scaled_r":
                n = spatial_scaled(spark, sf_dir, sf_label).count()
            elif name == "q_bom_scaled_forest":
                n = bom_scaled(spark, sf_dir, sf_label).count()
            else:
                n = specs[name].fn(spark, sf_dir).count()
            dt = round(time.perf_counter() - t0, 2)
            results.setdefault(name, {})[sf_label] = {"sec": dt, "rows": n}
            print(json.dumps({"sf": sf_label, "query": name, "sec": dt, "rows": n}), flush=True)
            # long-session hygiene: lazy-checkpoint blocks accumulate
            # across heavy queries in one JVM and eventually OOM it
            # (measured at sf10 — see session.release_session_blocks)
            release_session_blocks(spark)

    # linearity verdicts: wall-clock growth per 10x data growth
    summary = {}
    for name, by_sf in results.items():
        r01, r1 = by_sf["0.1"], by_sf["1"]
        ratio = round(r1["sec"] / max(r01["sec"], 1e-9), 2)
        summary[name] = {
            "sf0.01_sec": by_sf["0.01"]["sec"],
            "sf0.1_sec": r01["sec"],
            "sf1_sec": r1["sec"],
            "t_ratio_10x": ratio,
            "rows_ratio_10x": round(r1["rows"] / max(r01["rows"], 1), 2),
            "near_linear": ratio <= 20.0,  # <= 2x the ideal 10x slope
        }
    print(json.dumps({"summary": summary}))


if __name__ == "__main__":
    main()
