"""r8 session-2 operator semantics: DSIR importance scoring."""

from __future__ import annotations

import os
import tempfile


def test_dsir_ranks_target_like_docs_first(spark):
    """A raw-pool doc written in the target (en) vocabulary must score
    above one written in a disjoint vocabulary: its hashed n-grams carry
    positive log p_target/p_raw evidence, the off-target doc's negative."""
    from etl_pipeline_spark.queries.llm_ops import q_dsir_importance

    tgt_text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        # target set (lang=en) establishes the target LM
        (1, tgt_text, "en", "s", len(tgt_text)),
        (2, "the quick dog jumps over the brown fox once more", "en", "s", 49),
        # raw pool: doc 10 reuses the target vocabulary, doc 11 does not
        (10, "the quick brown dog jumps over the lazy fox", "de", "s", 44),
        (11, "zzz yyy xxx www vvv uuu ttt sss rrr qqq", "de", "s", 39),
        (12, None, "de", "s", 0),      # no features -> never selected
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        out = q_dsir_importance(spark, d).collect()
    got = {r["doc_id"]: r["dsir_micro_nats"] for r in out}
    assert set(got) == {10, 11}            # raw pool only, no NULL-text doc
    assert got[10] > got[11]               # target-like ranks first
    assert got[10] > 0 > got[11]           # and the signs carry the evidence


def test_api_dsir_select_explicit_frames(spark):
    """The library surface takes explicit (raw, target) frames with
    custom column names and agrees with the registry query's semantics."""
    from etl_pipeline_spark import api

    target = spark.createDataFrame(
        [(100, "alpha beta gamma alpha beta"), (101, "beta gamma alpha beta gamma")],
        "id long, body string",
    )
    raw = spark.createDataFrame(
        [(1, "alpha beta gamma beta"), (2, "delta epsilon zeta eta")],
        "id long, body string",
    )
    out = api.dsir_select(raw, target, k=1, text_col="body", id_col="id").collect()
    assert len(out) == 1 and out[0]["id"] == 1
    assert out[0]["dsir_micro_nats"] > 0


def test_gopher_quality_rules_fire_individually(spark):
    """Each non-repetition Gopher rule fires on a doc crafted to break
    exactly that rule while a compliant doc passes all seven."""
    from etl_pipeline_spark.queries.text import q_text_gopher_quality

    good = ("the data and that pipeline have run with scale " * 6).strip()  # 54 words
    rows = [
        (1, good, "en", "s", len(good)),
        (2, "the and of to be", "en", "s", 16),              # < 50 words
        (3, ("the of " + "# " * 60).strip(), "en", "s", 0),  # symbol ratio
        (4, ("12 34 " * 30 + "the of and").strip(), "en", "s", 0),  # alpha frac
        (5, ("word " * 60).strip(), "en", "s", 0),           # < 2 stopwords
        (6, "\n".join("- item " + "the of and be to with have that" for _ in range(9))
             + "\nplain tail line", "en", "s", 0),           # 9/10 bullet lines
        (7, None, "en", "s", 0),
    ]
    rows = [(i, t, l, s, len(t) if t else 0) for (i, t, l, s, _) in rows]
    import os, tempfile
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        got = {r["doc_id"]: r for r in q_text_gopher_quality(spark, d).collect()}
    assert got[1]["keep"], got[1]
    assert not got[2]["keep"] and got[2]["n_words"] < 50
    assert not got[3]["keep"] and got[3]["symbol_ratio"] > 0.1
    assert not got[4]["keep"] and got[4]["alpha_word_frac"] < 0.8
    assert not got[5]["keep"] and got[5]["n_stopwords_present"] < 2
    assert not got[6]["keep"] and got[6]["bullet_line_frac"] == 0.9
    assert not got[7]["keep"] and got[7]["n_words"] == 0


def test_unimax_waterfilling_exact(spark):
    """Hand-computed waterfill: caps ascend 200 / 30000 / 40000 under a
    50k budget with E=2 — the tiny language caps at 2.0 epochs, the two
    big ones split the remainder integer-uniformly."""
    import os, tempfile

    from etl_pipeline_spark.queries.llm_ops import q_unimax_allocation

    def doc(i, lang, n):
        t = ("w " * n).strip()
        return (i, t, lang, "s", len(t))

    df = spark.createDataFrame(
        [doc(1, "aa", 100), doc(2, "bb", 15000), doc(3, "cc", 20000)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        got = {r["lang"]: r for r in q_unimax_allocation(spark, d).collect()}
    assert got["aa"]["capped"] and got["aa"]["alloc_tokens"] == 200
    assert got["aa"]["epochs"] == 2.0
    # remaining 49800 // 2 = 24900 each
    assert not got["bb"]["capped"] and got["bb"]["alloc_tokens"] == 24900
    assert not got["cc"]["capped"] and got["cc"]["alloc_tokens"] == 24900
    assert got["bb"]["epochs"] == 1.66 and got["cc"]["epochs"] == 1.245
    total = sum(r["alloc_tokens"] for r in got.values())
    assert total == 50000  # budget exactly spent (remainder 0 here)


def test_soft_weights_conserve_cluster_mass(spark):
    """Soft-dedup invariants on the real fixture: weights in (0, 1],
    each cluster's weights sum to ~1.0, singletons weigh exactly 1.0,
    and every doc keeps exactly one row (nothing deleted)."""
    from collections import defaultdict

    from etl_pipeline_spark.queries.dedup import q_dedup_soft_weights

    rows = q_dedup_soft_weights(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 500 and len({r["doc_id"] for r in rows}) == 500
    by_cluster = defaultdict(list)
    for r in rows:
        assert 0 < r["weight"] <= 1.0
        assert r["is_dup"] == (r["cluster_size"] > 1)
        if r["cluster_size"] == 1:
            assert r["weight"] == 1.0
        by_cluster[r["cluster_id"]].append(r)
    assert any(len(v) > 1 for v in by_cluster.values())  # fixture has dups
    for members in by_cluster.values():
        assert len(members) == members[0]["cluster_size"]
        assert abs(sum(m["weight"] for m in members) - 1.0) < 1e-3


def test_lpa_labels_partition_within_components(spark):
    """LPA structural invariants on the real graph: the labeling covers
    every node exactly once, every label is a member node, and no
    community spans two connected components (labels only travel along
    edges)."""
    from etl_pipeline_spark.catalog import load_tables
    from etl_pipeline_spark.operators.cluster import connected_components
    from etl_pipeline_spark.queries.analytics_ml import (
        lpa_labels,
        pagerank_edges,
    )
    from pyspark.sql import functions as F

    li = load_tables(spark, "/root/testdata/sf0.001", ("lineitem",))["lineitem"]
    edges = pagerank_edges(li)
    labels = {r["node"]: r["label"] for r in lpa_labels(edges).collect()}
    nodes = {r["u"] for r in edges.select("u").distinct().collect()}
    und = edges.filter(F.col("u") < F.col("v")).select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    )
    comp_df = connected_components(
        edges.select(F.col("u").alias("node")).distinct(), und
    )
    edges.unpersist()
    cols = comp_df.columns
    comp = {r[cols[0]]: r[cols[1]] for r in comp_df.collect()}
    assert set(labels) == nodes                      # total, exactly once
    assert set(labels.values()) <= nodes             # labels are real nodes
    for node, label in labels.items():               # no cross-component leak
        assert comp[node] == comp[label], (node, label)


def test_kcore_nodes_satisfy_core_property(spark):
    """Every surviving node's reported core degree counts only edges to
    other survivors and meets the K threshold; re-peeling the survivor
    set changes nothing (the fixed-round snapshot reached the fixpoint)."""
    from collections import Counter

    from etl_pipeline_spark.catalog import load_tables
    from etl_pipeline_spark.queries.analytics_ml import (
        KCORE_K,
        pagerank_edges,
        q_kcore_nodes,
    )

    li = load_tables(spark, "/root/testdata/sf0.001", ("lineitem",))["lineitem"]
    core = {r["node"]: r["core_degree"] for r in
            q_kcore_nodes(spark, "/root/testdata/sf0.001").collect()}
    assert core and all(d >= KCORE_K for d in core.values())
    edges = pagerank_edges(li)
    pairs = [(r["u"], r["v"]) for r in edges.collect()]
    edges.unpersist()
    deg = Counter(u for u, v in pairs if u in core and v in core)
    assert dict(deg) == core  # reported degree == within-core degree (fixpoint)


def test_quality_calibration_is_per_source(spark):
    """Calibration must rank within source: a mediocre doc in a weak
    source survives while a better-scoring doc in a strong source is
    cut — the exact failure an absolute threshold would invert."""
    import os, tempfile

    from etl_pipeline_spark.queries.text import q_quality_calibrated

    def doc(i, src, n_stop, n_other=10):
        t = " ".join(["the"] * n_stop + ["word"] * n_other)
        return (i, t, "en", src, len(t))

    rows = [
        # strong source: stopword densities 8,6,4,2 of 10+n
        doc(1, "strong", 8), doc(2, "strong", 6),
        doc(3, "strong", 4), doc(4, "strong", 2),
        # weak source: densities 3,1 — doc 5 tops ITS source
        doc(5, "weak", 3), doc(6, "weak", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        got = {r["doc_id"]: r for r in q_quality_calibrated(spark, d).collect()}
    assert got[5]["keep_calibrated"]           # best of the weak source
    assert not got[3]["keep_calibrated"]       # scores above doc 5 globally...
    assert got[3]["score_micro"] > got[5]["score_micro"]  # ...yet is cut
    assert got[1]["keep_calibrated"] and got[2]["keep_calibrated"]
    assert not got[4]["keep_calibrated"] and not got[6]["keep_calibrated"]


def test_node_clustering_matches_sequential_and_global(spark):
    """Per-node clustering equals a pure-Python adjacency computation on
    the real graph, and corner counts tie out to 3x the global triangle
    census."""
    from itertools import combinations

    from etl_pipeline_spark.catalog import load_tables
    from etl_pipeline_spark.queries.advanced_behavioral import (
        TRI_SUPPORT,
        q_node_clustering,
        q_triangle_count,
    )
    from etl_pipeline_spark.queries.analytics_ml import co_purchase_edges

    sf = "/root/testdata/sf0.001"
    got = {r["node"]: r for r in q_node_clustering(spark, sf).collect()}
    li = load_tables(spark, sf, ("lineitem",))["lineitem"]
    adj = {}
    for r in co_purchase_edges(li, TRI_SUPPORT).collect():
        adj.setdefault(r["u"], set()).add(r["v"])
        adj.setdefault(r["v"], set()).add(r["u"])
    assert set(got) == set(adj)
    total_corners = 0
    for node, nbrs in adj.items():
        t = sum(1 for a, b in combinations(sorted(nbrs), 2) if b in adj.get(a, ()))
        g = got[node]
        assert g["degree"] == len(nbrs) and g["n_triangles"] == t, node
        want = round(2.0 * t / (len(nbrs) * (len(nbrs) - 1)), 6) if len(nbrs) >= 2 else 0.0
        assert abs(g["clustering"] - want) < 1e-9, node
        total_corners += t
    n_tri = q_triangle_count(spark, sf).collect()[0]["n_triangles"]
    assert total_corners == 3 * n_tri


def test_triangle_census_degree_orientation_invariant(spark):
    """r12: orient_by_degree re-orients the wedge join by (degree, id)
    to cap the wedge stream at O(m^1.5) (the mitigation the
    q_triangle_count docstring names for hub graphs). Any acyclic
    orientation enumerates each triangle exactly once, so the WHOLE
    census row must be identical — pinned on the real fixture graph AND
    on a hub graph where the id order is adversarial (the hub has the
    LOWEST id, so id-orientation fans every wedge out of it)."""
    from etl_pipeline_spark.catalog import load_tables
    from etl_pipeline_spark.queries.advanced_behavioral import (
        TRI_SUPPORT,
        triangle_census,
    )
    from etl_pipeline_spark.queries.analytics_ml import co_purchase_edges

    li = load_tables(spark, "/root/testdata/sf0.001", ("lineitem",))["lineitem"]
    edges = co_purchase_edges(li, TRI_SUPPORT).localCheckpoint(eager=True)
    plain = triangle_census(edges).collect()[0].asDict()
    oriented = triangle_census(edges, orient_by_degree=True).collect()[0].asDict()
    assert oriented == plain
    assert plain["n_triangles"] > 0  # non-vacuous on the fixture

    # hub graph: node 0 connects to 1..10, plus rim edges (1,2), (3,4),
    # (9,10) -> 3 triangles through the hub, wedges dominated by the hub
    rim = [(1, 2), (3, 4), (9, 10)]
    hub = [(0, i) for i in range(1, 11)] + rim
    hdf = spark.createDataFrame(hub, "u long, v long").localCheckpoint(eager=True)
    hp = triangle_census(hdf).collect()[0].asDict()
    ho = triangle_census(hdf, orient_by_degree=True).collect()[0].asDict()
    assert hp == ho
    assert hp["n_triangles"] == 3 and hp["n_vertices"] == 11


def test_degree_assortativity_matches_sequential(spark):
    """The one-row assortativity equals a pure-Python Pearson over the
    ordered edge endpoint degrees."""
    import math
    from collections import Counter

    from etl_pipeline_spark.catalog import load_tables
    from etl_pipeline_spark.queries.advanced_behavioral import (
        TRI_SUPPORT,
        q_degree_assortativity,
    )
    from etl_pipeline_spark.queries.analytics_ml import co_purchase_edges

    sf = "/root/testdata/sf0.001"
    li = load_tables(spark, sf, ("lineitem",))["lineitem"]
    und = [(r["u"], r["v"]) for r in co_purchase_edges(li, TRI_SUPPORT).collect()]
    edges = und + [(v, u) for u, v in und]
    deg = Counter(u for u, _ in edges)
    xs = [(deg[u], deg[v]) for u, v in edges]
    m = len(xs)
    sx = sum(x for x, _ in xs)
    sxx = sum(x * x for x, _ in xs)
    sxy = sum(x * y for x, y in xs)
    want = round((m * sxy - sx * sx) / (m * sxx - sx * sx), 6)
    row = q_degree_assortativity(spark, sf).collect()[0]
    assert row["n_ordered_edges"] == m
    assert abs(row["assortativity"] - want) < 1e-9
    assert -1.0 <= row["assortativity"] <= 1.0


def test_adamic_adar_matches_sequential(spark):
    """AA predictions equal a pure-Python common-neighbor computation:
    no predicted pair is an existing edge, counts and micro-scores
    match, and the returned set is the true top slice."""
    import math
    from itertools import combinations

    from etl_pipeline_spark.catalog import load_tables
    from etl_pipeline_spark.queries.advanced_behavioral import (
        AA_SCALE,
        AA_TOPK,
        TRI_SUPPORT,
        q_link_prediction_aa,
    )
    from etl_pipeline_spark.queries.analytics_ml import co_purchase_edges

    sf = "/root/testdata/sf0.001"
    li = load_tables(spark, sf, ("lineitem",))["lineitem"]
    und = {(r["u"], r["v"]) for r in co_purchase_edges(li, TRI_SUPPORT).collect()}
    adj = {}
    for u, v in und:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    want = {}
    for y, nbrs in adj.items():
        t = round(AA_SCALE / math.log(len(nbrs)))
        for x, z in combinations(sorted(nbrs), 2):
            if (x, z) not in und:
                n, s = want.get((x, z), (0, 0))
                want[(x, z)] = (n + 1, s + t)
    rows = q_link_prediction_aa(spark, sf).collect()
    assert 0 < len(rows) <= AA_TOPK
    for r in rows:
        key = (r["part_a"], r["part_b"])
        assert key not in und
        assert want[key] == (r["n_common"], r["aa_micro"]), key
    got_scores = [r["aa_micro"] for r in rows]
    true_top = sorted((s for _, s in want.values()), reverse=True)[: len(rows)]
    assert got_scores == true_top


def test_winnowing_guarantee_on_planted_overlap(spark):
    """The winnowing guarantee: two docs sharing a token run of length
    >= w + k - 1 share at least one fingerprint and surface as a pair;
    docs with no shared run do not."""
    import os, tempfile

    from etl_pipeline_spark.queries.dedup import (
        WIN_K,
        WIN_W,
        q_winnowing_pairs,
    )

    shared_run = " ".join(f"common{i}" for i in range(WIN_W + WIN_K - 1))
    rows = [
        (1, "intro words here " + shared_run + " tail one alpha beta", "en", "s", 0),
        (2, "different opening " + shared_run + " other ending gamma", "en", "s", 0),
        (3, " ".join(f"unrelated{i}" for i in range(20)), "en", "s", 0),
    ]
    rows = [(i, t, l, s, len(t)) for (i, t, l, s, _) in rows]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        pairs = {(r["doc_a"], r["doc_b"]): r["shared_fps"]
                 for r in q_winnowing_pairs(spark, d).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert all(3 not in p for p in pairs)


def test_embedding_dim_profile_flags_dead_dim(spark):
    """A planted constant dimension flags dead_dim; a live dimension's
    exact integer-grid moments match a hand computation."""
    import os, tempfile

    from etl_pipeline_spark.queries.similarity import q_embedding_dim_profile

    rows = [
        (1, [0.5, 1.0, 0.0], 0),
        (2, [0.5, 2.0, 0.0], 0),
        (3, [0.5, 3.0, 4.0], 0),
        (4, None, 0),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "embeddings.parquet"))
        got = {r["dim"]: r for r in q_embedding_dim_profile(spark, d).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["dead_dim"] and got[1]["std_milli"] == 0.0
    d2 = got[2]  # q = 1000, 2000, 3000 -> mean 2000, sample std 1000
    assert (d2["n"], d2["mean_milli"], d2["std_milli"]) == (3, 2000.0, 1000.0)
    assert not d2["dead_dim"] and d2["zero_frac"] == 0.0
    d3 = got[3]  # 0, 0, 4000: zero_frac 2/3
    assert d3["zero_frac"] == 0.6667 and d3["max_milli"] == 4000


def test_kcore_early_exit_equals_full_rounds(spark):
    """r10: the peel stops when a round leaves the alive count unchanged
    (count equality implies set equality — peeling only shrinks), so the
    early-exit result must be IDENTICAL to the full fixed-round peel the
    unrolled oracle computes, on both registered parameterizations."""
    from etl_pipeline_spark.catalog import load_tables
    from etl_pipeline_spark.queries.analytics_ml import kcore_peel, pagerank_edges

    li = load_tables(spark, "/root/testdata/sf0.001", ("lineitem",))["lineitem"]
    for support in (2, 1):
        edges = pagerank_edges(li, support=support)
        fast = {(r.node, r.core_degree) for r in kcore_peel(edges).collect()}
        full = {
            (r.node, r.core_degree)
            for r in kcore_peel(edges, early_exit=False).collect()
        }
        edges.unpersist()
        assert fast == full


def test_lpa_round_splits_equivalence(spark):
    """r13 (judge #6): lpa_labels(round_splits=K) must produce the
    IDENTICAL (node, label) set as the single-pass form — the K passes
    partition each round exactly by pmod(dst, K), so this is a set
    equality, not a statistical claim. Pinned at K=3 (non-divisor of
    most degrees, exercises uneven slices) and K=4 (the sf50 soak's
    setting) on the fixture co-purchase graph."""
    from etl_pipeline_spark.catalog import load_tables
    from etl_pipeline_spark.queries.analytics_ml import (
        lpa_labels,
        pagerank_edges,
    )

    li = load_tables(spark, "/root/testdata/sf0.001", ("lineitem",))["lineitem"]
    edges = pagerank_edges(li)
    base = {(r["node"], r["label"]) for r in lpa_labels(edges).collect()}
    assert len(base) > 0
    for k in (3, 4):
        split = {
            (r["node"], r["label"])
            for r in lpa_labels(edges, round_splits=k).collect()
        }
        assert split == base, k
    edges.unpersist()


def test_global_row_number_matches_the_single_partition_window(spark):
    """operators/ranking.global_row_number must give exactly the numbers
    of ``row_number() OVER (ORDER BY ...)`` when the rows are spread over
    several range partitions (coalescing off, so they stay several):
    ties on the first key, nulls first, and the tie-break column."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from conftest import session_conf
    from etl_pipeline_spark.operators.ranking import global_row_number

    df = spark.range(2000).select(
        F.when(F.col("id") % 97 == 0, None)
        .otherwise(F.col("id") % 37)
        .alias("k"),
        "id",
    )
    order = [F.col("k"), F.col("id")]
    want = {
        (r["id"], r["r"])
        for r in df.select("id", F.row_number().over(Window.orderBy(*order)).alias("r"))
        .collect()
    }
    with session_conf(spark, {"spark.sql.adaptive.coalescePartitions.enabled": "false"}):
        ranked = global_row_number(df, order, "r")
        got = {(r["id"], r["r"]) for r in ranked.collect()}
        assert ranked.select(F.spark_partition_id()).distinct().count() > 1
    assert got == want
