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


FINAL_PLAN = """\
OverwriteByExpression (12)
+- AdaptiveSparkPlan (11)
   +- == Final Plan ==
      ResultQueryStage (10)
      +- * Project (9)
         +- * BroadcastHashJoin Inner BuildRight (8)
            :- * SortMergeJoin Inner (5)
            :  :- ShuffleQueryStage (2)
            :  :  +- Exchange (1)
            :  +- ShuffleQueryStage (4)
            :     +- Exchange (3)
            +- BroadcastQueryStage (7)
               +- BroadcastExchange (6)
                  +- BroadcastNestedLoopJoin (13)
                     :- ArrowEvalPython (14)
                     +- CartesianProduct (15)
                        +- BatchEvalPython (16)
                           +- WindowGroupLimit (17)
   +- == Initial Plan ==
      Project (21)
      +- SortMergeJoin Inner (20)
         :- Exchange (19)
         +- CartesianProduct (18)

(11) AdaptiveSparkPlan
Arguments: isFinalPlan=true
"""


def test_digest_counts_final_plan_operators():
    d = query_record.digest(FINAL_PLAN)
    assert d == {"final": True, "exch": 2, "bhj": 1, "smj": 1, "bnlj": 1,
                 "cart": 1, "py": 2, "topk_limit": True}
    assert query_record.digest("Exchange (1)\nisFinalPlan=false\n")[
        "final"] is False


# A cached relation's adaptive plan is printed under each scan of it, at an
# indent of its own: here its Initial Plan root (Exchange (7)) sits at the
# column the outer join's branches go on at.
NESTED_PLAN = """\
OverwriteByExpression (20)
+- AdaptiveSparkPlan (19)
   +- == Final Plan ==
      ResultQueryStage (18)
      +- * BroadcastHashJoin LeftOuter BuildRight (17)
         :- * BroadcastNestedLoopJoin Cross BuildRight (9)
         :  :- InMemoryTableScan (1)
         :  :     +- InMemoryRelation (2)
         :  :           +- AdaptiveSparkPlan (8)
      +- == Final Plan ==
         ResultQueryStage (6)
         +- Exchange (5)
            +- Scan parquet  (3)
      +- == Initial Plan ==
         Exchange (7)
         +- Scan parquet  (3)
         :  +- BroadcastQueryStage (12)
         :     +- BroadcastExchange (11)
         :        +- Exchange (10)
         +- BroadcastQueryStage (16)
            +- BroadcastExchange (15)
               +- InMemoryTableScan (13)
                     +- InMemoryRelation (2)
                           +- AdaptiveSparkPlan (8)
      +- == Final Plan ==
         ResultQueryStage (6)
         +- Exchange (5)
            +- Scan parquet  (3)
      +- == Initial Plan ==
         Exchange (7)
         +- Scan parquet  (3)
   +- == Initial Plan ==
      BroadcastHashJoin LeftOuter BuildRight (21)
      :- Exchange (22)
      +- SortMergeJoin Inner (23)

(19) AdaptiveSparkPlan
Arguments: isFinalPlan=true
"""


def test_digest_keeps_the_tree_around_a_nested_initial_plan():
    """The outer tree goes on after a nested Initial Plan subtree closes
    (Exchange (10) counts); the cached plan's Exchange (5), printed under
    both scans, counts once; the outer Initial Plan's SMJ does not."""
    assert query_record.digest(NESTED_PLAN) == {
        "final": True, "exch": 2, "bhj": 1, "smj": 0, "bnlj": 1,
        "cart": 0, "py": 0, "topk_limit": False}


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
