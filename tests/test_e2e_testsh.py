"""Full test.sh reproduction (reference test/test.sh): AnchorExtract over
the test.sh WARC fixture (fixtures/testsh.py), then TrecRun / QueryTermCount / TrecRunBaselines
in KEYVAL mode over the anchor representation — the complete reference
pipeline chained through real file round-trips."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_ir_spark.io import keyval, topics, warc
from hadoop_ir_spark.operators import anchors, rank, scoring, stats

@pytest.fixture(scope="module")
def anchor_keyval(spark, tmp_path_factory, testsh):
    """AnchorExtract → gzipped keyval files → read back (S4 + S10)."""
    w = warc.read_warc(spark, testsh[0])
    docs = warc.warc_responses(w).select(
        F.col("trec_id").alias("docno"),
        F.col("target_uri").alias("url"),
        "content",
    )
    out = anchors.anchor_pipeline(docs)
    path = str(tmp_path_factory.mktemp("anchors") / "out")
    keyval.write_keyval(out, path, value_col="anchors", compression="gzip",
                        single_file=True)
    return keyval.read_keyval(spark, path).cache()


def test_anchor_keyval_contents(anchor_keyval):
    rows = {r["docno"]: r["text"] for r in anchor_keyval.collect()}
    # test1 links to test2 ("discovery channel store", "test page" to test3)
    assert "discovery channel store" in rows["test2"]
    assert rows["test2"].startswith("http://test2.com")
    assert "test page" in rows["test3"]


def test_trecrun_keyval_mode(spark, anchor_keyval, testsh):
    """TrecRun KEYVAL: topic 53 'discovery channel store' must retrieve
    test2 via its anchor text (the MIREX anchor-retrieval demo)."""
    tps = topics.read_topics_plain(spark, testsh[1]).withColumn("qtf", F.lit(1))
    post = stats.postings(anchor_keyval)
    dlen = stats.scan_doc_lengths(stats.scan_stats(anchor_keyval, []))
    tstats = post.groupBy("term").agg(F.sum("tf").alias("cf"))
    qstats = tps.join(tstats, "term", "left").fillna({"cf": 0})
    matched = scoring.matched_terms(post, tps, doc_len=dlen)
    run = rank.topk(scoring.score_lm_no_smoothing(matched, qstats), k=1000)
    hits = {(r["qid"], r["docno"]) for r in run.collect()}
    assert ("53", "test2") in hits


def test_querytermcount_keyval_roundtrip(spark, anchor_keyval, testsh,
                                        tmp_path):
    """QueryTermCount KEYVAL: stats over the anchor corpus, written and
    re-read in MIREX topic format."""
    post = stats.postings(anchor_keyval)
    glob = stats.collection_globals(post).collect()[0]
    tps = topics.read_topics_plain(spark, testsh[1])
    qstats = stats.query_term_stats(post, tps)

    path = str(tmp_path / "topics.stats")
    topics.write_topics_mirex(qstats, coll_len=glob["n_tokens"],
                              n_docs=glob["n_docs"], path=path)
    back, g = topics.read_topics_mirex(spark, path)
    assert g["n_docs"] == glob["n_docs"]
    b = {(r["qid"], r["term"]): (r["df"], r["cf"]) for r in back.collect()}
    # 'discovery' appears in test2's anchors exactly once
    assert b[("53", "discovery")] == (1, 1)
    # absent query terms carry zero stats (left-join semantics)
    assert all(v == (0, 0) for (q, t), v in b.items() if t == "obama")


def test_baselines_keyval_mode(spark, anchor_keyval, testsh, tmp_path):
    """TrecRunBaselines KEYVAL: all four models run off the MIREX stats
    file (the test.sh final step); each model retrieves test2 for topic
    53."""
    post = stats.postings(anchor_keyval).cache()
    glob = stats.collection_globals(post).collect()[0]
    tps = topics.read_topics_plain(spark, testsh[1])
    qstats = stats.query_term_stats(post, tps)
    path = str(tmp_path / "topics.stats")
    topics.write_topics_mirex(qstats, coll_len=glob["n_tokens"],
                              n_docs=glob["n_docs"], path=path)
    mirex, g = topics.read_topics_mirex(spark, path)
    mirex = mirex.filter(F.col("cf") > 0)

    dlen = stats.scan_doc_lengths(stats.scan_stats(anchor_keyval, []))
    matched = scoring.matched_terms(post, mirex, doc_len=dlen)
    coll_len = g["coll_len"]

    runs = {
        "LMno": scoring.score_lm_no_smoothing(matched, mirex),
        "LMs": scoring.score_jm_mirex(matched, coll_len, 0.15),
        "LMdi": scoring.score_dirichlet_mirex(matched, mirex, coll_len, 2500.0),
    }
    for name, scored in runs.items():
        hits = {(r["qid"], r["docno"])
                for r in rank.topk(scored, k=1000).collect()}
        assert ("53", "test2") in hits, name
