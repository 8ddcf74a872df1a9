"""Detector semantics for tools/plan_audit.py — the audit's flags are a
round gate, so their trigger conditions are pinned here on real plans
built in-session (audit_plan is a pure function over the plan string)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from conftest import session_conf
from tools.plan_audit import GLOBAL_WINDOW_BOUNDED, GLOBAL_WINDOW_TWINS, audit_plan

NO_BROADCAST = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_unpartitioned_window_flags_global_window(spark):
    df = spark.range(100).select("id", (F.col("id") % 5).alias("k"))
    flags, _, _, _ = audit_plan(
        _plan(df.select("id", F.ntile(4).over(Window.orderBy("id")).alias("b")))
    )
    assert "global-window" in flags


def test_partitioned_window_not_flagged(spark):
    df = spark.range(100).select("id", (F.col("id") % 5).alias("k"))
    flags, _, _, _ = audit_plan(
        _plan(
            df.select(
                "id", F.row_number().over(Window.partitionBy("k").orderBy("id")).alias("r")
            )
        )
    )
    assert "global-window" not in flags


def test_global_sort_flagged_even_with_a_window_present(spark):
    """The r4 detector exempted any plan containing a Window node; a
    query with BOTH a partitioned window and a separate unbounded global
    ORDER BY must still be flagged (ADVICE r4)."""
    df = spark.range(100).select("id", (F.col("id") % 5).alias("k"))
    both = (
        df.select("id", "k", F.row_number().over(Window.partitionBy("k").orderBy("id")).alias("r"))
        .orderBy("r", "id")
    )
    flags, _, _, _ = audit_plan(_plan(both))
    assert "global-sort" in flags


def test_topk_not_flagged_as_global_sort(spark):
    df = spark.range(100).select("id", (F.col("id") % 5).alias("k"))
    flags, _, _, _ = audit_plan(_plan(df.orderBy("k").limit(5)))
    assert "global-sort" not in flags


def test_allowlists_are_disjoint_and_twin_names_differ():
    assert not set(GLOBAL_WINDOW_TWINS) & set(GLOBAL_WINDOW_BOUNDED)
    for q, twin in GLOBAL_WINDOW_TWINS.items():
        assert twin != q
    for q, why in GLOBAL_WINDOW_BOUNDED.items():
        assert why.strip()


def test_window_in_pandas_variant_detected_synthetic():
    """WindowInPandas (pandas window UDF) over a single-partition
    exchange must flag even though the node name differs and extra
    nodes sit between the window and the exchange (r5 review)."""
    plan = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=false",
        "+- WindowInPandas [my_udf(v#1) windowspecdefinition(...)], [ts#2 ASC]",
        "   +- Project [v#1, ts#2]",
        "      +- Sort [ts#2 ASC NULLS FIRST], false, 0",
        "         +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=9]",
        "            +- Scan parquet [v#1, ts#2]",
    ])
    flags, _, _, _ = audit_plan(plan)
    assert "global-window" in flags


def test_sibling_single_partition_exchange_not_attributed_to_window():
    """A SinglePartition exchange in a SIBLING branch (e.g. a 1-row
    aggregate epilogue joined below the window's subtree) must not flag
    the partitioned window above it."""
    plan = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=false",
        "+- BroadcastHashJoin [k#1], [k#9], Inner, BuildRight",
        "   :- Window [row_number() ...], [k#1], [ts#2 ASC]",
        "   :  +- Sort [k#1 ASC, ts#2 ASC], false, 0",
        "   :     +- Exchange hashpartitioning(k#1, 32), [plan_id=3]",
        "   :        +- Scan parquet [k#1, ts#2]",
        "   +- BroadcastExchange HashedRelationBroadcastMode, [plan_id=8]",
        "      +- HashAggregate(keys=[], functions=[count(1)])",
        "         +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=7]",
        "            +- Scan parquet []",
    ])
    flags, _, _, _ = audit_plan(plan)
    assert "global-window" not in flags


def test_stale_allowlist_entries_fire_and_clear():
    """An allowlist entry whose query no longer exhibits global-window
    must be reported stale; one whose query still exhibits it must not."""
    from tools.plan_audit import GLOBAL_WINDOW_BOUNDED as B
    from tools.plan_audit import stale_allowlist_entries

    some = next(iter(B))
    assert stale_allowlist_entries({some: {"global-window"}}) == []
    stale = stale_allowlist_entries({some: set()})
    assert stale and some in stale[0] and stale[0].startswith("STALE")
    # queries not planned this run (e.g. PLAN-ERROR) are not judged stale
    assert stale_allowlist_entries({}) == []


def _node(cls, output=(), keys=(), children=()):
    return {"cls": cls, "output": list(output), "keys": list(keys), "children": list(children)}


def test_wide_join_shuffle_detected_on_real_plan(spark):
    """An array column riding a shuffled join's exchange must flag —
    the r5 minhash/knn-lsh bug class, retroactively caught (VERDICT r5
    #6: both r5 fixes would have fired this detector)."""
    from tools.plan_audit import extract_plan_tree, wide_join_shuffle_findings

    with session_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        a = spark.range(500).select(
            "id", F.array_repeat(F.col("id").cast("string"), 20).alias("payload")
        )
        b = spark.range(500).select(F.col("id").alias("id2"))
        j = a.join(b, a["id"] == b["id2"]).select("id", "payload")
        tree = extract_plan_tree(j._jdf.queryExecution().executedPlan())
        assert wide_join_shuffle_findings(tree) == ["payload:array"]

        # narrow keys only -> clean, even with the same shuffled join
        narrow = (
            a.select("id")
            .join(b, F.col("id") == F.col("id2"))
            .select("id")
        )
        tree2 = extract_plan_tree(narrow._jdf.queryExecution().executedPlan())
        assert wide_join_shuffle_findings(tree2) == []


def test_wide_array_join_key_not_flagged():
    """An array column that IS a join key (e.g. signature-equality
    joins) is what the shuffle must move — not a finding."""
    from tools.plan_audit import wide_join_shuffle_findings

    ex = _node(
        "ShuffleExchangeExec",
        output=[("sig", "sig#1", "array<bigint>"), ("doc", "doc#2", "bigint")],
    )
    join = _node(
        "SortMergeJoinExec",
        keys=["sig#1", "sig#9"],
        children=[_node("SortExec", children=[ex]), _node("SortExec", children=[])],
    )
    assert wide_join_shuffle_findings(join) == []


def test_wide_shuffle_stops_at_aggregate_boundary():
    """An exchange BELOW an aggregate belongs to the aggregate, not the
    join — the walk must not cross non-passthrough nodes."""
    from tools.plan_audit import wide_join_shuffle_findings

    ex = _node(
        "ShuffleExchangeExec",
        output=[("arrs", "arrs#3", "array<string>")],
    )
    agg = _node("HashAggregateExec", children=[ex])
    join = _node(
        "SortMergeJoinExec",
        keys=["k#4"],
        children=[agg, _node("SortExec", children=[])],
    )
    assert wide_join_shuffle_findings(join) == []


def test_wide_shuffle_broadcast_join_not_flagged(spark):
    """A broadcast join moves no shuffle partitions — wide columns on
    the probe side stay put, so the default-config LSH re-attach joins
    (broadcast candidates) are clean."""
    from tools.plan_audit import extract_plan_tree, wide_join_shuffle_findings

    a = spark.range(500).select(
        "id", F.array_repeat(F.col("id").cast("string"), 20).alias("payload")
    )
    b = spark.range(50).select(F.col("id").alias("id2"))
    j = a.join(F.broadcast(b), a["id"] == b["id2"]).select("id", "payload")
    tree = extract_plan_tree(j._jdf.queryExecution().executedPlan())
    assert wide_join_shuffle_findings(tree) == []


def test_wide_broadcast_detected_and_bounded_cases_clean(spark):
    """r6 sf10 incident class: an array column inside a BroadcastExchange
    flags; a narrow-key broadcast does not."""
    from tools.plan_audit import extract_plan_tree, wide_broadcast_findings

    a = spark.range(500).select(
        "id", F.array_repeat(F.col("id").cast("string"), 20).alias("payload")
    )
    b = spark.range(50).select(F.col("id").alias("id2"))
    wide = a.join(F.broadcast(a.select("id", "payload")
                              .withColumnRenamed("id", "id2")), a["id"] == F.col("id2"))
    t1 = extract_plan_tree(wide._jdf.queryExecution().executedPlan())
    assert wide_broadcast_findings(t1) == ["payload:array"]

    narrow = a.join(F.broadcast(b), a["id"] == b["id2"]).select("id", "payload")
    t2 = extract_plan_tree(narrow._jdf.queryExecution().executedPlan())
    assert wide_broadcast_findings(t2) == []


def test_wide_broadcast_allowlist_names_registered_queries():
    from tools.plan_audit import (
        GENERATED_BROADCAST_BOUNDED,
        WIDE_BROADCAST_BOUNDED,
        WIDE_SHUFFLE_BOUNDED,
    )

    from etl_pipeline_spark.queries.base import REGISTRY, all_specs

    all_specs()
    for table in (WIDE_BROADCAST_BOUNDED, WIDE_SHUFFLE_BOUNDED, GENERATED_BROADCAST_BOUNDED):
        for name, why in table.items():
            assert name in REGISTRY and why.strip(), name


def test_wide_shuffle_key_matching_is_exact_not_substring():
    """r6 review finding: `payload#1` must not hide behind a join key
    `payload#12` — key membership is exact name#id token comparison."""
    from tools.plan_audit import wide_join_shuffle_findings

    ex = _node(
        "ShuffleExchangeExec",
        output=[("payload", "payload#1", "array<string>"), ("k", "k#3", "bigint")],
    )
    join = _node(
        "SortMergeJoinExec",
        keys=["payload#12", "k#3"],
        children=[_node("SortExec", children=[ex]), _node("SortExec", children=[])],
    )
    assert wide_join_shuffle_findings(join) == ["payload:array"]

    # the genuinely keyed attribute is still exempt
    join2 = _node(
        "SortMergeJoinExec",
        keys=["payload#1", "k#3"],
        children=[_node("SortExec", children=[ex]), _node("SortExec", children=[])],
    )
    assert wide_join_shuffle_findings(join2) == []


def test_extract_plan_tree_sees_final_adaptive_plan_post_execution(spark):
    """ADVICE r6: extract_plan_tree resolved AdaptiveSparkPlanExec to its
    STATIC initial plan only, so a detector run after execution saw none
    of AQE's re-planning. It now follows executedPlan() and unwraps the
    QueryStageExec leaves, so a post-execution audit sees the final
    adaptive tree — here the wide-shuffle lens still fires on a
    materialized (stage-wrapped, AQEShuffleRead-interposed) join."""
    from tools.plan_audit import extract_plan_tree, wide_join_shuffle_findings

    with session_conf(spark, NO_BROADCAST):
        a = spark.range(500).select(
            "id", F.array_repeat(F.col("id").cast("string"), 20).alias("payload")
        )
        b = spark.range(500).select(F.col("id").alias("id2"))
        j = a.join(b, a["id"] == b["id2"]).select("id", "payload")
        j.collect()
        jplan = j._jdf.queryExecution().executedPlan()
        assert jplan.getClass().getSimpleName() == "AdaptiveSparkPlanExec"
        assert jplan.isFinalPlan()
        tree = extract_plan_tree(jplan)

        def classes(n):
            yield n["cls"]
            for c in n["children"]:
                yield from classes(c)

        seen = set(classes(tree))
        # stages are unwrapped to the plans they wrap ...
        assert not any(c.endswith("QueryStageExec") for c in seen)
        assert any(c.startswith("ShuffleExchange") for c in seen)
        # ... and the detector keeps firing through the final-plan shape
        assert wide_join_shuffle_findings(tree) == ["payload:array"]


def test_executed_audit_flags_and_errors(spark):
    """The dynamic pass itself: an unallowlisted wide shuffled join must
    hard-fail after execution, a clean aggregate must not, and a query
    that throws records EXEC-ERROR and fails."""
    from tools.plan_audit import executed_audit

    class _Spec:
        def __init__(self, fn):
            self.fn = fn

    def wide(s, sf):
        a = s.range(300).select(
            "id", F.array_repeat(F.col("id").cast("string"), 8).alias("payload")
        )
        b = s.range(300).select(F.col("id").alias("id2"))
        return a.join(b, a["id"] == b["id2"]).select("id", "payload")

    def clean(s, sf):
        return s.range(100).selectExpr("id % 3 AS k").groupBy("k").count()

    def boom(s, sf):
        raise RuntimeError("synthetic failure")

    specs = {"q_wide": _Spec(wide), "q_clean": _Spec(clean), "q_boom": _Spec(boom)}
    with session_conf(spark, NO_BROADCAST):
        rows, fails = executed_audit(
            spark, specs, ["q_wide", "q_clean", "q_boom"], "unused"
        )
    by_name = {r[0]: r for r in rows}
    assert "wide-shuffle(payload:array)" in by_name["q_wide"][2]
    assert by_name["q_wide"][1] == "final"
    assert by_name["q_clean"][2] == "-"
    assert by_name["q_boom"][1] == "error"
    assert by_name["q_boom"][2].startswith("EXEC-ERROR")
    assert fails == ["q_boom", "q_wide"] or fails == ["q_wide", "q_boom"]


def test_recorder_sees_the_plan_behind_an_eager_checkpoint(spark):
    """An eagerly checkpointed result plans as a bare `Scan ExistingRDD`;
    the recorder keeps the executed plan of the checkpoint itself, so
    the aggregate and its exchange stay in the audit's sight."""
    from tools.plan_audit import recorded_plans

    with recorded_plans(spark) as built:
        ck = (
            spark.range(100)
            .selectExpr("id % 5 AS k")
            .groupBy("k")
            .count()
            .localCheckpoint(eager=True)
        )
    final = _plan(ck)
    assert "Scan ExistingRDD" in final and "Exchange" not in final
    plans = [p.toString() for p in built]
    assert any(
        "HashAggregate" in p and "Exchange hashpartitioning" in p for p in plans
    ), plans


def test_recorder_unregisters_on_exit(spark):
    """On exit the recorder leaves the session's listeners as it found
    them, also when another listener is registered beside it (removal
    then compares the two), and a later action records nothing."""
    from tools.plan_audit import recorded_plans

    manager = spark._jsparkSession.listenerManager()
    before = len(manager.listListeners())
    with recorded_plans(spark) as outer:
        with recorded_plans(spark) as built:
            spark.range(10).count()
        assert len(manager.listListeners()) == before + 1
    n = len(built)
    assert n >= 1 and len(outer) == n
    assert len(manager.listListeners()) == before
    spark.range(20).count()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(built) == n and len(outer) == n


@pytest.mark.parametrize(
    "name",
    [
        "q_pagerank",
        "q_label_propagation",
        "q_kcore_nodes",
        "q_kcore_support1",
        "q_node_clustering",
        "q_degree_assortativity",
        "q_link_prediction_aa",
        "q_connected_components",
        "q_dedup_clusters",
    ],
)
def test_recorded_plans_show_iterative_rounds(spark, name):
    """The iterative graph queries end in an eager checkpoint; the plans
    their build executes must show the rounds: at least one exchange,
    and the scan of the persisted edge frame every round reads."""
    from conftest import SF_SMOKE

    from etl_pipeline_spark.queries.base import all_specs
    from etl_pipeline_spark.session import release_session_blocks
    from tools.plan_audit import recorded_plans

    with recorded_plans(spark) as built:
        all_specs()[name].fn(spark, SF_SMOKE)
    plans = [p.toString() for p in built]
    release_session_blocks(spark)
    assert any("Exchange" in p for p in plans), name
    assert any("InMemoryTableScan" in p for p in plans), name


def test_generated_broadcast_fires_on_unhinted_posting_self_join(spark):
    """A posting self-join with no exchange between its sides and the
    explode broadcasts the exploded stream on the scan's (pre-explode)
    estimate: the detector fires on the final plan. overlap_pairs (one
    shingle exchange shared by both sides, merge-hinted) stays clean."""
    from conftest import SF_SMOKE

    from etl_pipeline_spark.functions.shingles import overlap_pairs, postings
    from tools.plan_audit import extract_plan_tree, generated_broadcast_findings

    sh = postings(spark.read.parquet(f"{SF_SMOKE}/documents.parquet"), 3)
    a, b = sh.alias("a"), sh.alias("b")
    naive = a.join(
        b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    ).groupBy("a.doc_id", "b.doc_id").count()
    naive.collect()
    assert generated_broadcast_findings(
        extract_plan_tree(naive._jdf.queryExecution().executedPlan())
    )

    pairs = overlap_pairs(sh, directed=False)
    pairs.collect()
    assert generated_broadcast_findings(
        extract_plan_tree(pairs._jdf.queryExecution().executedPlan())
    ) == []
