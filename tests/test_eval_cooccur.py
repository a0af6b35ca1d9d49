"""Operator-level golden tests (MRUnit spirit, SURVEY.md §5): evaluation
metrics and co-occurrence arithmetic against hand-computed values."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hadoop_ir_spark.operators import cooccur, evaluate


@pytest.fixture(scope="module")
def run(spark):
    # q1: ranks 1..4 -> docs d9,d8,d7,d6 ; q2: ranks 1..2
    rows = [
        ("q1", "d9", 4.0, 1), ("q1", "d8", 3.0, 2),
        ("q1", "d7", 2.0, 3), ("q1", "d6", 1.0, 4),
        ("q2", "d1", 9.0, 1), ("q2", "d2", 8.0, 2),
    ]
    return spark.createDataFrame(rows, "qid string, docno string, score double, rank int")


@pytest.fixture(scope="module")
def qrels(spark):
    # q1 relevant: d9, d7, dX (not retrieved) ; q2: none relevant
    rows = [
        ("q1", "d9", 1), ("q1", "d7", 2), ("q1", "dX", 1),
        ("q1", "d8", 0),  # judged non-relevant
        ("q2", "d5", 0),
    ]
    return spark.createDataFrame(rows, "qid string, docno string, rel int")


def test_precision_recall(run, qrels):
    out = {r["qid"]: r for r in evaluate.precision_recall(run, qrels).collect()}
    assert out["q1"]["num_rel_ret"] == 2
    assert out["q1"]["num_ret"] == 4
    assert out["q1"]["num_rel"] == 3
    assert out["q1"]["precision"] == pytest.approx(0.5)
    assert out["q1"]["recall"] == pytest.approx(2 / 3)
    assert out["q2"]["num_rel"] == 0 and out["q2"]["recall"] is None


def test_precision_at_k(run, qrels):
    out = {r["qid"]: r["p_at_2"]
           for r in evaluate.precision_at_k(run, qrels, k=2).collect()}
    assert out["q1"] == pytest.approx(0.5)   # d9 rel, d8 not
    assert out["q2"] == pytest.approx(0.0)


def test_average_precision(run, qrels):
    # q1: rel at ranks 1 and 3 -> (1/1 + 2/3) / num_rel=3
    out = {r["qid"]: r["ap"] for r in evaluate.average_precision(run, qrels).collect()}
    assert out["q1"] == pytest.approx((1.0 + 2 / 3) / 3)
    assert out["q2"] is None  # no relevant docs -> excluded from MAP
    m = evaluate.mean_average_precision(run, qrels).collect()[0]["map"]
    assert m == pytest.approx((1.0 + 2 / 3) / 3)


def test_utility(run, qrels):
    out = {r["qid"]: r["utility"] for r in evaluate.utility(run, qrels).collect()}
    assert out["q1"] == pytest.approx(2 * 2 - 4)   # 2*rel_ret - num_ret
    assert out["q2"] == pytest.approx(-2.0)


def test_evaluate_run_hand_computed(run, qrels):
    out = {r["qid"]: r for r in evaluate.evaluate_run(run, qrels, ks=(2,)).collect()}
    assert out["q1"]["ap"] == pytest.approx((1.0 + 2 / 3) / 3)
    assert out["q1"]["p_at_2"] == pytest.approx(0.5)       # d9 rel, d8 not
    assert out["q2"]["ap"] is None      # no relevant docs: NULL, not 0
    assert out["q2"]["p_at_2"] == 0.0


def test_evaluate_run_equals_ap_plus_precision_at_k(run, qrels):
    ks = (1, 2, 3, 10)
    got = {tuple(r) for r in evaluate.evaluate_run(run, qrels, ks=ks).collect()}
    want = evaluate.average_precision(run, qrels)
    for k in ks:
        want = want.join(evaluate.precision_at_k(run, qrels, k), "qid", "left")
    assert got == {tuple(r) for r in want.collect()}


def test_evaluate_run_is_one_pass_and_leaves_no_cache(spark, run, qrels):
    """On checkpointed inputs one call runs at most 5 jobs (qrels shuffle,
    two broadcasts, the run's window shuffle, the result) and caches
    nothing; the cached metric fan-out it replaced ran 11-17 and left
    its judged frame in the cache."""
    sc = spark.sparkContext
    run, qrels = run.localCheckpoint(), qrels.localCheckpoint()
    spark.catalog.clearCache()
    group = "test-evaluate-run-one-pass"
    sc.setJobGroup(group, "evaluate_run")
    try:
        evaluate.evaluate_run(run, qrels).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 5
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_f1_expression(spark):
    df = spark.createDataFrame([(0.5, 0.25)], "p double, r double")
    v = df.select(evaluate.f1(F.col("p"), F.col("r")).alias("f")).collect()[0]["f"]
    assert v == pytest.approx(2 * 0.5 * 0.25 / 0.75)
    z = spark.createDataFrame([(0.0, 0.0)], "p double, r double")
    assert z.select(evaluate.f1(F.col("p"), F.col("r")).alias("f")).collect()[0]["f"] == 0.0


# --------------------------------------------------------------------------
# co-occurrence
# --------------------------------------------------------------------------

@pytest.fixture(scope="module")
def post(spark):
    # d1: a a b ; d2: a c ; d3: b c c
    rows = [
        ("d1", "a", 2), ("d1", "b", 1),
        ("d2", "a", 1), ("d2", "c", 1),
        ("d3", "b", 1), ("d3", "c", 2),
    ]
    return spark.createDataFrame(rows, "docno string, term string, tf int")


def test_pair_counts(post):
    dts = cooccur.doc_term_sets(post)
    pairs = {(r["w1"], r["w2"]): r["n_joint"]
             for r in cooccur.pair_counts(dts).collect()}
    assert pairs[("a", "b")] == 1 and pairs[("b", "a")] == 1
    assert pairs[("a", "c")] == 1
    assert pairs[("b", "c")] == 1
    assert ("a", "a") not in pairs


def test_emim_hand_computed(post):
    # pair (a,b): N=3, df_a=2, df_b=2, joint=1; smoothing +0.5/+0.25 over (1+N)=4
    dts = cooccur.doc_term_sets(post)
    pairs = cooccur.pair_counts(dts)
    marg = dts.groupBy("term").agg(F.count("*").alias("df"))
    out = {(r["w1"], r["w2"]): r["emim"]
           for r in cooccur.emim(pairs, marg, 3).collect()}

    def lg2(x):
        return math.log(x) / math.log(2)

    pX1, pX0 = 2.5 / 4, 1.5 / 4
    pY1, pY0 = 2.5 / 4, 1.5 / 4
    pX1Y1, pX1Y0, pX0Y1, pX0Y0 = 1.25 / 4, 1.25 / 4, 1.25 / 4, 0.25 / 4
    expect = (pX1Y1 * lg2(pX1Y1 / (pX1 * pY1)) + pX1Y0 * lg2(pX1Y0 / (pX1 * pY0))
              + pX0Y1 * lg2(pX0Y1 / (pX0 * pY1)) + pX0Y0 * lg2(pX0Y0 / (pX0 * pY0)))
    assert out[("a", "b")] == pytest.approx(expect, abs=1e-12)


def test_npmi_hand_computed(post):
    dts = cooccur.doc_term_sets(post)
    pairs = cooccur.pair_counts(dts)
    marg = dts.groupBy("term").agg(F.count("*").alias("df"))
    out = {(r["w1"], r["w2"]): r["npmi"]
           for r in cooccur.npmi(pairs, marg, 3).collect()}

    def lg2(x):
        return math.log(x) / math.log(2)

    pX1 = pY1 = 2.5 / 4
    pX1Y1 = 1.25 / 4
    pmi = lg2(pX1Y1 / (pX1 * pY1))
    assert out[("a", "b")] == pytest.approx(pmi / (-lg2(pX1Y1)), abs=1e-12)
    # npmi is bounded in [-1, 1]
    assert all(-1.0 <= v <= 1.0 for v in out.values())


def test_query_pair_stats(post):
    out = {(r["qterm"], r["dterm"]): (r["n_docs"], r["sum_min_tf"])
           for r in cooccur.query_pair_stats(post, ["a"]).collect()}
    # a co-occurs with b in d1: min(2,1)=1 ; with c in d2: min(1,1)=1
    assert out[("a", "b")] == (1, 1)
    assert out[("a", "c")] == (1, 1)
    # self-pair preserved (reference emits it): d1 min(2,2)=2, d2 min(1,1)=1
    assert out[("a", "a")] == (2, 3)


def test_ndcg_graded(run, qrels):
    # q1 gains: d9=2^1-1, d8=0, d7=2^2-1, d6=0 -> DCG = 1/log2(2) + 3/log2(4)
    # ideal order (rel desc): d7(2), dX(1), d9(1), d8(0)
    out = {r["qid"]: r for r in evaluate.ndcg(run, qrels, k=10).collect()}
    dcg = 1.0 + 3.0 / 2.0
    idcg = 3.0 + 1.0 / math.log2(3.0) + 1.0 / 2.0
    assert out["q1"]["dcg"] == pytest.approx(dcg)
    assert out["q1"]["ndcg"] == pytest.approx(dcg / idcg)
    # q2 has no relevant docs -> idcg 0 -> ndcg NULL
    assert out["q2"]["dcg"] == pytest.approx(0.0)
    assert out["q2"]["ndcg"] is None


def test_ndcg_perfect_ranking(spark):
    run = spark.createDataFrame(
        [("q", "a", 2.0, 1), ("q", "b", 1.0, 2)],
        "qid string, docno string, score double, rank int")
    qrels = spark.createDataFrame(
        [("q", "a", 2), ("q", "b", 1)], "qid string, docno string, rel int")
    row = evaluate.ndcg(run, qrels, k=10).collect()[0]
    assert row["ndcg"] == pytest.approx(1.0)


def test_rrf_fusion(spark):
    a = spark.createDataFrame([("q", "d1", 1.0, 1), ("q", "d2", 0.5, 2)],
                              "qid string, docno string, score double, rank int")
    b = spark.createDataFrame([("q", "d2", 9.0, 1), ("q", "d3", 8.0, 2)],
                              "qid string, docno string, score double, rank int")
    out = evaluate.rrf_fusion([a, b], k=10, c=60).orderBy("rank").collect()
    # d2 in both runs (1/62 + 1/61) beats d1 (1/61) beats d3 (1/62)
    assert [r["docno"] for r in out] == ["d2", "d1", "d3"]
    assert out[0]["rrf"] == pytest.approx(round(1 / 62 + 1 / 61, 6))
    assert [r["rank"] for r in out] == [1, 2, 3]


def test_llr_hand_computed(spark):
    # N=10, df(a)=4, df(b)=3, joint=2 -> cells 2,2,1,5
    pairs = spark.createDataFrame([("a", "b", 2)],
                                  "w1 string, w2 string, n_joint long")
    marg = spark.createDataFrame([("a", 4), ("b", 3)], "term string, df long")
    row = cooccur.llr(pairs, marg, n_docs=10).collect()[0]
    expect = 2 * (2 * math.log(20 / 12) + 2 * math.log(20 / 28)
                  + 1 * math.log(10 / 18) + 5 * math.log(50 / 42))
    assert row["llr"] == pytest.approx(expect)
    assert row["n_joint"] == 2


def test_llr_min_joint_prunes(spark):
    pairs = spark.createDataFrame([("a", "b", 2), ("a", "c", 9)],
                                  "w1 string, w2 string, n_joint long")
    marg = spark.createDataFrame([("a", 10), ("b", 3), ("c", 9)],
                                 "term string, df long")
    out = cooccur.llr(pairs, marg, n_docs=20, min_joint=5).collect()
    assert [r["w2"] for r in out] == ["c"]
