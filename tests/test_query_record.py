"""The per-query record (tools/query_record.py), its store layer, and
the job-group inheritance its build span depends on."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))

import query_record  # noqa: E402


def test_parallel_frames_jobs_stay_in_callers_group(spark):
    from hadoop_ir_spark.catalog import parallel_frames

    sc = spark.sparkContext
    group = "test-parallel-frames"
    sc.setJobGroup(group, "parallel_frames")
    try:
        before = len(sc.statusTracker().getJobIdsForGroup(group))
        a = spark.range(10)
        b = spark.range(20)
        assert parallel_frames(a.count, b.count) == [10, 20]
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        after = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert after >= before + 2


def test_digest_counts_final_plan_operators():
    """The digest counts the plan graph's node names (``BroadcastExchange``
    is not an ``Exchange``); ``final`` is read from the plan text."""
    ops = ["OverwriteByExpression", "AdaptiveSparkPlan", "ResultQueryStage",
           "WholeStageCodegen (3)", "Project", "BroadcastHashJoin",
           "SortMergeJoin", "ShuffleQueryStage", "Exchange",
           "ShuffleQueryStage", "Exchange", "BroadcastQueryStage",
           "BroadcastExchange", "BroadcastNestedLoopJoin", "ArrowEvalPython",
           "CartesianProduct", "BatchEvalPython", "WindowGroupLimit"]
    assert query_record.digest("Arguments: isFinalPlan=true\n", ops) == {
        "final": True, "exch": 2, "bhj": 1, "smj": 1, "bnlj": 1,
        "cart": 1, "py": 2, "topk_limit": True}
    assert query_record.digest("isFinalPlan=false\n", ["Exchange"]) == {
        "final": False, "exch": 1, "bhj": 0, "smj": 0, "bnlj": 0,
        "cart": 0, "py": 0, "topk_limit": False}


def test_digest_keeps_the_tree_around_a_nested_initial_plan(spark, sf_dir):
    """A cached relation's adaptive plan is printed under each scan of it
    with an Initial Plan of its own. The digest's counts are the plan
    graph's of the execution the noop write ran, found again here by its
    plan text, on such a query as the tool runs it (AQE forced): the
    outer tree around the nested plan and the exchanges below it count."""
    from collections import Counter

    from perfbench.trace import Tracer

    spark.conf.set("spark.sql.adaptive.forceApply", "true")
    try:
        rec, plan = query_record.record(spark, Tracer(spark.sparkContext),
                                        "sdm_topk", sf_dir)
    finally:
        spark.conf.unset("spark.sql.adaptive.forceApply")
    assert "InMemoryRelation" in plan and rec["plan"]["final"] is True
    assert plan.count("== Initial Plan ==") > 1
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    eid = next(e.executionId() for e in
               (execs.apply(i) for i in range(execs.size()))
               if e.physicalPlanDescription() == plan)
    nodes = store.planGraph(eid).allNodes()
    graph = Counter(nodes.apply(i).name() for i in range(nodes.size()))
    assert graph["InMemoryTableScan"] > 0
    assert rec["plan"] == {
        "final": True, "exch": graph["Exchange"],
        "bhj": graph["BroadcastHashJoin"], "smj": graph["SortMergeJoin"],
        "bnlj": graph["BroadcastNestedLoopJoin"],
        "cart": graph["CartesianProduct"],
        "py": sum(n for o, n in graph.items()
                  if query_record.PYTHON.search(o)),
        "topk_limit": graph["WindowGroupLimit"] > 0}


def test_live_record_eval_map_pk(spark, sf_dir):
    from perfbench.trace import Tracer

    rec, plan = query_record.record(spark, Tracer(spark.sparkContext),
                                    "eval_map_pk", sf_dir)
    assert rec["name"] == "eval_map_pk"
    assert "isFinalPlan=true" in plan
    assert rec["plan"]["final"] is True
    assert rec["build"]["jobs"] > 0
    assert rec["execute"]["jobs"] > 0
    assert set(rec) == {"name", "build", "optimize", "execute", "plan"}
    for layer in ("build", "optimize", "execute"):
        assert set(rec[layer]) == set(query_record.FIELDS)


def test_store_build_is_its_own_layer(spark, sf_dir):
    """Two queries that read the one ``index`` store: the first record
    shows the store build as a ``store`` layer, the second builds none."""
    from unittest import mock

    from hadoop_ir_spark import catalog
    from perfbench.trace import Tracer

    tracer = Tracer(spark.sparkContext)
    with mock.patch.dict(catalog._STORES, clear=True):
        first, _ = query_record.record(spark, tracer,
                                       "indexed_dirichlet_topk", sf_dir)
        second, _ = query_record.record(spark, tracer,
                                        "indexed_bm25_topk", sf_dir)
    assert first["store"]["jobs"] > 0
    assert set(first["store"]) == set(query_record.FIELDS)
    assert "store" not in second
    assert second["build"]["jobs"] < first["store"]["jobs"]
