"""Co-purchase WCC census (queries/graph_components.py, r14).

Three layers:
 1. the summary columns equal a pure-Python union-find census on a
    hand-built multi-component graph;
 2. the is_fixpoint verdict is NON-VACUOUS — structurally wrong labels
    (a half-propagated state) flip it false;
 3. the registry row at sf0.001 matches the known fixture shape (one
    giant 200-node component).
The cross-engine layer (Spark fixpoint loop vs DuckDB's bounded K-round
synchronized min-label recursion, all columns) is the oracle of
q_connected_components, checked at 3 SFs + the adversarial fixture.
"""

from __future__ import annotations

from pyspark.sql import functions as F

# two components: a path 1-2-3-4 and a triangle 10-11-12, canonical
# src < dst edges
EDGES = [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12)]


def test_wcc_summary_matches_union_find(spark):
    from etl_pipeline_spark.operators.cluster import connected_components
    from etl_pipeline_spark.queries.graph_components import wcc_summary

    edges = spark.createDataFrame(EDGES, "src long, dst long")
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select("dst"))
        .distinct()
    )
    comp = connected_components(nodes, edges)
    r = wcc_summary(edges, comp).collect()[0]
    assert r["n_nodes"] == 7 and r["n_edges"] == 6
    assert r["n_components"] == 2
    assert r["giant_size"] == 4
    assert r["sum_sq_sizes"] == 16 + 9
    assert r["label_checksum"] == 4 * 1 + 3 * 10
    assert r["is_fixpoint"]


def test_wcc_is_fixpoint_flips_on_wrong_labels(spark):
    """A half-propagated label state (node 4 still labeled 3, and a
    component labeled by a non-minimum member) must read false on both
    structural clauses, so the verdict can't silently pass a non-
    converged oracle iteration."""
    from etl_pipeline_spark.queries.graph_components import wcc_summary

    edges = spark.createDataFrame(EDGES, "src long, dst long")
    # edge-endpoint disagreement: 4 -> 3 while 1,2,3 -> 1
    half = [(1, 1), (2, 1), (3, 1), (4, 3), (10, 10), (11, 10), (12, 10)]
    comp = spark.createDataFrame(half, "node long, cluster_id long")
    r = wcc_summary(edges, comp).collect()[0]
    assert not r["is_fixpoint"]
    # consistent labels but NOT the min member: second clause alone
    non_min = [(1, 2), (2, 2), (3, 2), (4, 2), (10, 10), (11, 10), (12, 10)]
    comp2 = spark.createDataFrame(non_min, "node long, cluster_id long")
    r2 = wcc_summary(edges, comp2).collect()[0]
    assert not r2["is_fixpoint"]


def test_wcc_rounds_per_job_equivalence(spark):
    """r14 optimization round: rounds_per_job chains B propagation
    rounds into one job per checkpoint — pure scheduling, identical
    recurrence. Labels must equal the B=1 fixpoint for B that divides,
    straddles, and exceeds the convergence depth (path diameter 7 needs
    8 rounds incl. the confirming one), and the max_iter exhaustion
    fallback must still fire when a batch ends exactly at max_iter."""
    import pytest

    from etl_pipeline_spark.operators.cluster import connected_components

    path = [(i, i + 1) for i in range(20, 27)]  # 8-node path, diameter 7
    edges = spark.createDataFrame(EDGES + path, "src long, dst long")
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select("dst"))
        .distinct()
    )
    want = sorted(
        tuple(r) for r in connected_components(nodes, edges).collect()
    )
    for b in (2, 3, 8, 32):
        got = sorted(
            tuple(r)
            for r in connected_components(
                nodes, edges, rounds_per_job=b
            ).collect()
        )
        assert got == want, f"rounds_per_job={b} diverged"
    # exhaustion still detected across batch boundaries: diameter 7
    # needs 8 rounds; max_iter=4 with B=2 must fall back (and the
    # two-phase fallback converges to the same fixpoint)
    with pytest.warns(UserWarning, match="did not converge"):
        got = sorted(
            tuple(r)
            for r in connected_components(
                nodes, edges, max_iter=4, rounds_per_job=2
            ).collect()
        )
    assert got == want


def test_wcc_seed_free_convergence_edge_cases(spark):
    """r14 optimization round, session 3: the convergence seed no longer
    runs as its own aggregate job — round 1's observation carries both
    SUM(label) and SUM(node), and SUM(node) equals the initial labels'
    sum because self-loops put every node in every round's output. The
    two inputs that exercise the seed comparison directly:
    already-at-fixpoint graphs (round 1 changes nothing, so the FIRST
    comparison must detect convergence — an off-by-one here would spin
    to max_iter and fall back) and an empty node set (sums are NULL on
    both sides; the sentinel keeps NULL==NULL meaning converged, the
    pre-change behavior)."""
    from etl_pipeline_spark.operators.cluster import connected_components

    # isolated nodes, no edges: labels are the fixpoint at round 0
    nodes = spark.createDataFrame([(7,), (9,), (42,)], "node long")
    edges = spark.createDataFrame([], "src long, dst long")
    got = sorted(tuple(r) for r in connected_components(nodes, edges).collect())
    assert got == [(7, 7), (9, 9), (42, 42)]

    # empty node set: converges immediately, returns zero rows
    empty = spark.createDataFrame([], "node long")
    assert connected_components(empty, edges).count() == 0

    # already-canonical labels (star from the minimum): converged is
    # detected at round 2 (round 1 confirms nothing changed)
    star = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], "src long, dst long")
    snodes = (
        star.select(F.col("src").alias("node")).union(star.select("dst")).distinct()
    )
    got = sorted(tuple(r) for r in connected_components(snodes, star).collect())
    assert got == [(1, 1), (2, 1), (3, 1), (4, 1)]


def test_two_phase_raises_on_exhaustion_not_wrong_labels(spark):
    """r14: on max_iter exhaustion the star contraction's intermediate
    edge set can label a node with a non-minimal parent — splitting a
    true component SILENTLY. The last-resort fallback must raise by
    name instead. A 40-node path needs several alternating rounds;
    max_iter=1 must raise, a roomy max_iter must converge to the single
    true component."""
    import pytest

    from etl_pipeline_spark.operators.cluster import (
        connected_components_two_phase,
    )

    path = [(i, i + 1) for i in range(39)]
    edges = spark.createDataFrame(path, "src long, dst long")
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select("dst"))
        .distinct()
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_two_phase(nodes, edges, max_iter=1)
    got = connected_components_two_phase(nodes, edges, max_iter=12).collect()
    assert len(got) == 40 and all(r["cluster_id"] == 0 for r in got)


def test_two_phase_matches_union_find_on_random_and_path(spark):
    """r14 rewrite pin: the alternating large-star/small-star (stars
    applied SEQUENTIALLY — the prior same-input union doubled the edge
    set per round on paths and OOMed at 10^4 nodes) must match pure-
    Python union-find exactly on a random multigraph and a reversed-id
    path, with the O(log n) round count observed."""
    import random

    from etl_pipeline_spark.operators.cluster import (
        connected_components_two_phase,
    )

    def truth(pairs, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in nodes}

    rng = random.Random(7)
    rand_pairs = [
        (rng.randrange(500), rng.randrange(500)) for _ in range(320)
    ]
    rand_pairs = [p for p in rand_pairs if p[0] != p[1]]
    rev_path = [(200 - i, 199 - i) for i in range(199)]  # ids 1..200
    for pairs, node_set, max_rounds in [
        (rand_pairs, set(range(500)), 10),
        (rev_path, set(range(1, 201)), 12),
    ]:
        edges = spark.createDataFrame(pairs, "src long, dst long")
        nodes = spark.createDataFrame(
            [(n,) for n in sorted(node_set)], "node long"
        )
        comp, rounds = connected_components_two_phase(
            nodes, edges, max_iter=20, with_rounds=True
        )
        got = {r["node"]: r["cluster_id"] for r in comp.collect()}
        assert got == truth(pairs, node_set)
        assert rounds <= max_rounds  # O(log n), not O(diameter)


def test_wcc_registry_row_on_fixture(spark):
    """sf0.001's support-2 co-purchase graph is one giant component of
    all 200 parts (measured when the query was built) — the census row
    must say so and certify the fixpoint."""
    from etl_pipeline_spark.queries.graph_components import (
        q_connected_components,
    )

    r = q_connected_components(spark, "/root/testdata/sf0.001").collect()[0]
    assert r["n_components"] == 1
    assert r["giant_size"] == 200 and r["n_nodes"] == 200
    assert r["sum_sq_sizes"] == 200 * 200
    assert r["is_fixpoint"]
    # one component labeled by its minimum member: checksum = 200 * min
    assert r["label_checksum"] % r["n_nodes"] == 0


def test_wcc_sum_certificate_headroom_bound():
    """connected_components certifies its fixpoint with a BIGINT label
    SUM. The documented bound is n_nodes * max|node id| < 2^63; this pins
    it at its edge. (Under ANSI mode an overflowing SUM raises rather
    than wraps, so the bound, not a silent wrap, is what is checked.)"""
    from etl_pipeline_spark.operators.cluster import (
        SUM_CERTIFICATE_LIMIT,
        sum_certificate_fits,
    )

    assert SUM_CERTIFICATE_LIMIT == 2**63
    assert sum_certificate_fits(2, 0, 2**62 - 1)
    assert not sum_certificate_fits(2, 0, 2**62)
    assert not sum_certificate_fits(2, -(2**62), 5)
    assert sum_certificate_fits(0, None, None)  # empty node set
    # a billion nodes with 32-bit ids keeps 2^31-fold headroom
    assert sum_certificate_fits(10**9, 0, 2**32)
