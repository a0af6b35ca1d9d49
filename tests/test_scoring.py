"""Scoring models M1-M8 vs hand-computed formula values (SURVEY.md §2.7),
and top-k tie-break (K1/K3)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hadoop_ir_spark.operators import rank, scoring, stats

# corpus: d1 = "a b a c" (len 4), d2 = "b b d" (len 3), d3 empty (len 0)
# cf: a=2 b=3 c=1 d=1 ; df: a=1 b=2 c=1 d=1 ; coll_len=7 ; n_docs(post)=2
COLL_LEN = 7.0


@pytest.fixture(scope="module")
def corpus(spark):
    docs = spark.createDataFrame(
        [("d1", "a b a c"), ("d2", "b b d"), ("d3", "")], ["docno", "text"]
    )
    post = stats.postings(docs)
    # GSLIS family has no T9 guard (RunQueryHBase scores every indexed
    # doc, even empty ones) — keep d3 to pin that semantics here
    dlen = stats.scan_doc_lengths(stats.scan_stats(docs, []),
                                  skip_empty=False)
    tstats = stats.term_stats(post)
    return docs, post, dlen, tstats


def scores(df):
    return {(r["qid"], r["docno"]): r["score"] for r in df.collect()}


def test_dirichlet_gslis_all_docs_scored(spark, corpus):
    _, post, dlen, tstats = corpus
    mu = 10.0
    topics = spark.createDataFrame([("q1", "a", 1.0)], ["qid", "term", "qweight"])
    qstats = topics.join(tstats.select("term", "cf"), "term", "left").fillna({"cf": 0})
    matched = scoring.matched_terms(post, qstats, doc_len=dlen)
    out = scores(scoring.score_gslis(matched, qstats, dlen, COLL_LEN,
                                     model="dirichlet", mu=mu))
    cp = 2.0 / 7.0
    # M5 (RunQueryHBase.java:183-195): missing term still contributes
    assert out[("q1", "d1")] == pytest.approx(math.log((2 + mu * cp) / (4 + mu)))
    assert out[("q1", "d2")] == pytest.approx(math.log((0 + mu * cp) / (3 + mu)))
    assert out[("q1", "d3")] == pytest.approx(math.log((0 + mu * cp) / (0 + mu)))
    assert len(out) == 3  # every doc got a score


def test_jm_gslis(spark, corpus):
    _, post, dlen, tstats = corpus
    lam = 0.4
    topics = spark.createDataFrame(
        [("q1", "a", 1.0), ("q1", "d", 2.0)], ["qid", "term", "qweight"]
    )
    qstats = topics.join(tstats.select("term", "cf"), "term", "left").fillna({"cf": 0})
    matched = scoring.matched_terms(post, qstats, doc_len=dlen)
    out = scores(scoring.score_gslis(matched, qstats, dlen, COLL_LEN,
                                     model="jm", lambda_=lam))
    cp_a, cp_d = 2 / 7, 1 / 7
    exp_d1 = math.log((1 - lam) * 2 / 4 + lam * cp_a) + 2 * math.log(lam * cp_d)
    exp_d2 = math.log(lam * cp_a) + 2 * math.log((1 - lam) * 1 / 3 + lam * cp_d)
    assert out[("q1", "d1")] == pytest.approx(exp_d1)
    assert out[("q1", "d2")] == pytest.approx(exp_d2)


def test_two_stage(spark, corpus):
    _, post, dlen, tstats = corpus
    mu, lam = 10.0, 0.3
    topics = spark.createDataFrame([("q1", "b", 1.0)], ["qid", "term", "qweight"])
    qstats = topics.join(tstats.select("term", "cf"), "term", "left").fillna({"cf": 0})
    out = scores(scoring.score_two_stage(qstats, post, dlen, COLL_LEN, mu=mu, lambda_=lam))
    cp = 3 / 7
    for doc, tf, dl in [("d1", 1, 4), ("d2", 2, 3), ("d3", 0, 0)]:
        exp = math.log((1 - lam) * (tf + mu * cp) / (dl + mu) + lam * cp)
        assert out[("q1", doc)] == pytest.approx(exp), doc


def test_bm25_hand_value(spark, corpus):
    _, post, dlen, tstats = corpus
    topics = spark.createDataFrame([("q1", "b", 1)], ["qid", "term", "qtf"])
    matched = scoring.matched_terms(post, topics, doc_len=dlen, stats=tstats)
    n_docs, avg_len = 2, 3.5
    out = scores(scoring.score_bm25(matched, n_docs, avg_len))
    k1, b = 1.2, 0.75

    def bm25(tf, dl, df):
        K = k1 * ((1 - b) + b * dl / avg_len)
        return ((k1 + 1) * tf / (K + tf)) * math.log((n_docs - df + 0.5) / (df + 0.5))

    assert out[("q1", "d1")] == pytest.approx(bm25(1, 4, 2))
    assert out[("q1", "d2")] == pytest.approx(bm25(2, 3, 2))
    assert ("q1", "d3") not in out  # MIREX family: unmatched docs absent


def test_lm_no_smoothing_requires_all_terms(spark, corpus):
    _, post, dlen, tstats = corpus
    topics = spark.createDataFrame(
        [("q1", "a", 1), ("q1", "b", 1), ("q2", "b", 1),
         ("q3", "b", 1), ("q3", "zzz", 1)],
        ["qid", "term", "qtf"],
    )
    qstats = topics.join(tstats.select("term", "cf"), "term", "left").fillna({"cf": 0})
    matched = scoring.matched_terms(post, topics, doc_len=dlen)
    out = scores(scoring.score_lm_no_smoothing(matched, qstats))
    # d2 lacks 'a' → no score for q1; d1 has both
    assert ("q1", "d2") not in out
    exp = math.log(2 / 4) + math.log(1 / 4) + math.log(4)
    assert out[("q1", "d1")] == pytest.approx(exp)
    # q2 single-term matches both docs
    assert out[("q2", "d1")] == pytest.approx(math.log(1 / 4) + math.log(4))
    assert out[("q2", "d2")] == pytest.approx(math.log(2 / 3) + math.log(3))
    # q3: 'zzz' has cf=0 → dropped at query parse (TrecRunBaselines
    # TermInfo loop) — docs still score on the remaining term
    assert out[("q3", "d2")] == pytest.approx(math.log(2 / 3) + math.log(3))


def test_dirichlet_mirex_missing_term_and_clamp(spark, corpus):
    """LMdi reference semantics: missing query terms contribute their tf=0
    value qtf*(ln mu - ln(len+mu)); C/cf is Java long division; totals <= 0
    are clamped to zero and never emitted (TrecRunBaselines.java:210-220)."""
    _, post, dlen, tstats = corpus
    mu = 10.0
    topics = spark.createDataFrame(
        [("q2", "a", 1), ("q2", "d", 1), ("q2", "zzz", 1)],
        ["qid", "term", "qtf"],
    )
    qstats = topics.join(tstats.select("term", "cf"), "term", "left").fillna({"cf": 0})
    matched = scoring.matched_terms(post, topics, doc_len=dlen, stats=tstats)
    out = scores(scoring.score_dirichlet_mirex(matched, qstats, COLL_LEN, mu=mu))
    # d2 matches 'd' (tf=1, cf=1, 7 div 1 = 7), misses 'a'; 'zzz' (cf=0)
    # was dropped at parse so qtf_sum = 2
    exp_d2 = (math.log(1 * 7 + mu) - math.log(mu)) \
        + 2 * (math.log(mu) - math.log(3 + mu))
    assert exp_d2 > 0
    assert out[("q2", "d2")] == pytest.approx(exp_d2)
    # d1 matches 'a' (tf=2, cf=2, 7 div 2 = 3 — LONG division), misses 'd';
    # its total is negative → clamped → absent
    exp_d1 = (math.log(2 * 3 + mu) - math.log(mu)) \
        + 2 * (math.log(mu) - math.log(4 + mu))
    assert exp_d1 < 0
    assert ("q2", "d1") not in out


def test_dirichlet_mirex(spark, corpus):
    _, post, dlen, tstats = corpus
    mu = 10.0
    topics = spark.createDataFrame([("q1", "a", 1)], ["qid", "term", "qtf"])
    qstats = topics.join(tstats.select("term", "cf"), "term", "left").fillna({"cf": 0})
    matched = scoring.matched_terms(post, topics, doc_len=dlen, stats=tstats)
    out = scores(scoring.score_dirichlet_mirex(matched, qstats, COLL_LEN, mu=mu))
    # single-term query: tf=2, cf=2, 7 div 2 = 3 (long division)
    exp = math.log(2 * 3 + mu) - math.log(4 + mu)
    assert out[("q1", "d1")] == pytest.approx(exp)
    # d2 doesn't contain 'a': all-missing total is negative → clamped
    assert ("q1", "d2") not in out


def test_jm_mirex(spark, corpus):
    _, post, dlen, tstats = corpus
    lam = 0.15
    topics = spark.createDataFrame([("q1", "b", 2)], ["qid", "term", "qtf"])
    matched = scoring.matched_terms(post, topics, doc_len=dlen, stats=tstats)
    out = scores(scoring.score_jm_mirex(matched, COLL_LEN, lambda_=lam))
    exp_d2 = 2 * math.log(1 + 2 * 7 * lam / (3 * 3 * (1 - lam))) + math.log(3)
    assert out[("q1", "d2")] == pytest.approx(exp_d2)


def test_topk_tiebreak_desc_docno(spark):
    scored = spark.createDataFrame(
        [("q1", "dA", 1.0), ("q1", "dB", 1.0), ("q1", "dC", 2.0), ("q2", "dA", 5.0)],
        ["qid", "docno", "score"],
    )
    out = rank.topk(scored, k=2).orderBy("qid", "rank").collect()
    # K3 (SearchResult.java:20-27): desc score, then DESC docno on ties
    assert [(r["qid"], r["docno"], r["rank"]) for r in out] == [
        ("q1", "dC", 1), ("q1", "dB", 2), ("q2", "dA", 1),
    ]


def test_clip_vector(spark):
    wv = spark.createDataFrame(
        [("q1", "a", 0.5), ("q1", "b", 0.3), ("q1", "c", 0.2), ("q2", "z", 1.0)],
        ["qid", "term", "weight"],
    )
    out = rank.clip_vector(wv, k=2)
    got = sorted((r["qid"], r["term"]) for r in out.collect())
    assert got == [("q1", "a"), ("q1", "b"), ("q2", "z")]


# --------------------------------------------------------------------------
# beyond-reference models: absolute discounting / PL2 / VSM cosine
# --------------------------------------------------------------------------

def test_abs_discount_scores_are_log_probs(spark, sf_dir):
    from hadoop_ir_spark.catalog import QUERIES

    rows = QUERIES["abs_discount_topk"](spark, sf_dir).collect()
    assert len(rows) > 0
    # sum of log-probabilities of a proper mixture: strictly negative
    assert all(r.score < 0 for r in rows)
    for qid in {r.qid for r in rows}:
        rr = [r for r in rows if r.qid == qid]
        assert [r.rank for r in sorted(rr, key=lambda r: r.rank)] == list(
            range(1, len(rr) + 1))


def test_vsm_cosine_bounded_by_one(spark, sf_dir):
    from hadoop_ir_spark.catalog import QUERIES

    rows = QUERIES["vsm_cosine_topk"](spark, sf_dir).collect()
    assert len(rows) > 0
    # cosine over a subspace of the doc vector: 0 < score <= 1
    assert all(0.0 < r.score <= 1.0 for r in rows)


def test_pl2_scores_finite_and_ranked(spark, sf_dir):
    import math

    from hadoop_ir_spark.catalog import QUERIES

    rows = QUERIES["pl2_topk"](spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(math.isfinite(r.score) for r in rows)
    for qid in {r.qid for r in rows}:
        rr = sorted((r for r in rows if r.qid == qid), key=lambda r: r.rank)
        assert all(a.score >= b.score for a, b in zip(rr, rr[1:]))
