"""Physical-plan regression tests: the scale properties PLANS.md claims
must survive refactors. Each assertion pins a plan shape that, if lost,
silently turns a scalable query into a cluster-killer at 100 TB."""

from __future__ import annotations

import pytest

from hadoop_ir_spark import catalog


def _plan(spark, sf_dir, name):
    return (
        catalog.QUERIES[name](spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )


def test_dirichlet_topk_partial_topk_and_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dirichlet_topk")
    # the reference's bounded-top-k combiner, free from Catalyst
    assert "WindowGroupLimit" in plan
    # column pruning reaches the scan: documents has 5 columns, 2 read
    assert "struct<doc_id:bigint,text:string>" in plan


def test_bm25_dimension_joins_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "bm25_topk")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_contamination_pushdown_and_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "contamination_ngrams")
    # bench/train split predicates reach the parquet scans
    assert "DataFilters: [isnotnull(doc_id" in plan
    assert "BroadcastHashJoin" in plan


def test_interval_join_no_nested_loop(spark, sf_dir):
    plan = _plan(spark, sf_dir, "click_attribution")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_asof_single_key_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "event_asof_click")
    # union-tag plan: a window over the key partition, no join at all
    assert "Window" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_rollup_single_aggregation(spark, sf_dir):
    plan = _plan(spark, sf_dir, "event_rollup")
    # ROLLUP = one Expand + one partial/final agg pair, not N scans
    assert plan.count("Expand") == 1
    assert plan.count("Scan parquet") == 1


def test_tpch_q3_filters_pushed(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q3")
    assert "c_mktsegment" in plan.split("Scan parquet")[-1] or \
        "BUILDING" in plan          # segment filter at the customer scan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", ["wordcount", "term_stats", "doc_lengths"])
def test_stats_queries_prune_documents_scan(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    # never read lang/source/n_chars for token statistics
    assert "n_chars" not in plan


def test_tpch_topk_takeordered(spark, sf_dir):
    # global top-K = per-partition top-K + K-row merge, never a
    # single-partition window over the whole aggregated frame
    for name in ("tpch_q3", "tpch_q10"):
        plan = _plan(spark, sf_dir, name)
        assert "TakeOrderedAndProject" in plan, name


def test_tpch_q4_semi_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q4")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_rp_lsh_no_cross_join(spark, sf_dir):
    # LSH candidates come from a bucket equi-join; the only cross shape
    # allowed is the final broadcast of the tiny query set
    plan = _plan(spark, sf_dir, "rp_lsh_ann_topk")
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_eval_map_pk_plan_is_checkpoint_fanout(spark, sf_dir):
    # regression for the round-2 plan bloat: re-planned retrieval per
    # metric branch put 79 exchanges in this plan. Over the checkpointed
    # inputs the one-pass metrics hold 5: the qrels shuffle by qid, its
    # reuse, the two broadcasts and the run's window shuffle
    plan = _plan(spark, sf_dir, "eval_map_pk")
    assert plan.count("Exchange") <= 5


def test_semantic_dedup_sharded_equijoin(spark, sf_dir):
    """r5 cluster-size cap: the pair join must be an equi-join on
    (label, shard) — SortMergeJoin/ShuffledHashJoin or BHJ, never a
    nested loop — and the n_shards dim must broadcast."""
    plan = _plan(spark, sf_dir, "semantic_dedup_kept")
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_kmeans_centroid_cap_reaches_scan(spark, sf_dir):
    """r5 pinned-k init: the id-cap predicate must be pushed into the
    embeddings parquet scan, not applied post-scan (at 100 TB the scan
    for 40 centroid rows must not read the corpus)."""
    import re

    from hadoop_ir_spark.operators import similarity
    from hadoop_ir_spark.queries.similarity import KM_INIT_EVERY, KM_MAX_K

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    init = similarity.centroid_sample(emb, every=KM_INIT_EVERY,
                                      max_k=KM_MAX_K)
    plan = init._jdf.queryExecution().executedPlan().toString()
    cap = KM_INIT_EVERY * KM_MAX_K
    assert re.search(rf"PushedFilters:.*LessThan\(vec_id,{cap}\)", plan), plan


def test_indexed_scorers_push_query_terms_into_postings_scan(spark, sf_dir):
    """The index-served scoring family's whole point: the query-term
    `IN` filter must reach the postings parquet scan (PushedFilters →
    row-group pruning), and the tiny query/stat frames must broadcast —
    losing either silently turns an index probe into a full index scan."""
    import re

    for name in ("indexed_bm25_topk", "indexed_jm_topk",
                 "indexed_two_stage_topk"):
        plan = _plan(spark, sf_dir, name)
        assert re.search(r"PushedFilters:.*In\(term", plan), name
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_pair_postings_serve_sdm_and_phrase(spark, sf_dir):
    """r7 pair-postings invariants (VERDICT r6 #2): the pair-count
    frames must read the build-time tables with the query-pair filters
    PUSHED to the parquet scans, and the query plans must contain NO
    positional offset-join machinery (posexplode / positional scan) —
    the shape that makes the index honest at 100 TB.

    indexed_phrase_topk is checked end-to-end; indexed_sdm_topk's
    inputs are localCheckpoint'ed inside _sdm_features (each feeds a
    cf aggregate AND a feature join), so its pair scans are pinned on
    the pre-checkpoint frames where they are visible."""
    import os
    import re

    from pyspark.sql import functions as F

    from hadoop_ir_spark.catalog import QTERMS
    from hadoop_ir_spark.queries import indexed
    from hadoop_ir_spark.queries.proximity_q import SDM_UW

    phrase = _plan(spark, sf_dir, "indexed_phrase_topk")
    assert re.search(r"PushedFilters:.*In\(t1", phrase)
    # the FileScan Location path truncates at 100 chars, so pin the
    # pair table via its unique ReadSchema column instead
    assert "otf:bigint" in phrase
    assert "posexplode" not in phrase
    assert "CartesianProduct" not in phrase

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    po = plan_of(indexed._pair_ordered(spark, sf_dir))
    assert re.search(r"PushedFilters:.*In\(t1", po)
    assert "otf:bigint" in po and "posexplode" not in po

    pos_dir = indexed._pos_index_dir(spark, sf_dir)
    pu = plan_of(
        spark.read.parquet(
            os.path.join(pos_dir, f"pair_unordered_w{SDM_UW}"))
        .filter(F.col("u1").isin(QTERMS) & F.col("u2").isin(QTERMS)))
    assert re.search(r"PushedFilters:.*In\(u1", pu)
    assert "utf:bigint" in pu

    # the final SDM plan must not re-derive pair counts positionally
    sdm = _plan(spark, sf_dir, "indexed_sdm_topk")
    assert "posexplode" not in sdm
    assert "CartesianProduct" not in sdm
