"""Stats operators (A1-A6) — exact expected rows on a 3-doc corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_ir_spark.operators import stats


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [("d1", "a b a c"), ("d2", "b b d"), ("d3", "")],
        ["docno", "text"],
    )


def rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_postings(spark, docs):
    post = stats.postings(docs)
    assert rows(post, "docno", "term", "tf") == [
        ("d1", "a", 2), ("d1", "b", 1), ("d1", "c", 1),
        ("d2", "b", 2), ("d2", "d", 1),
    ]


def test_doc_lengths_skips_empty_doc_by_default(spark, docs):
    # T9 guard (TrecRun.java:139): zero-length docs dropped before scoring
    scan = stats.scan_stats(docs, [])
    assert rows(stats.scan_doc_lengths(scan), "docno", "doc_len") == [
        ("d1", 4), ("d2", 3),
    ]
    assert rows(stats.scan_doc_lengths(scan, skip_empty=False),
                "docno", "doc_len") == [
        ("d1", 4), ("d2", 3), ("d3", 0),
    ]


def _optimized(df):
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_scan_stats_tokenizes_once(spark, docs):
    # the token array is bound once: size and the query-term filter
    # both read it, so the text is split once per row
    for positional in (False, True):
        scan = stats.scan_stats(docs, ["a", "zz"], positional=positional)
        assert _optimized(scan).count("split(lower(") == 1, positional
    # a lengths-only consumer prunes the query-term filter away
    lens = stats.scan_doc_lengths(stats.scan_stats(docs, ["a", "zz"]))
    plan = _optimized(lens)
    assert plan.count("split(lower(") >= 1
    assert "IN (" not in plan


def test_scan_postings_absent_term(spark, docs):
    # "zz" is in the query vocabulary but not in the corpus: no rows
    scan = stats.scan_stats(docs, ["a", "b", "zz"]).cache()
    assert rows(stats.scan_postings(scan), "docno", "term", "tf") == [
        ("d1", "a", 2), ("d1", "b", 1), ("d2", "b", 2),
    ]
    assert rows(stats.scan_doc_lengths(scan), "docno", "doc_len") == [
        ("d1", 4), ("d2", 3),
    ]
    scan.unpersist()


def test_scan_stats_positional_ordinals(spark, docs):
    # ordinals index the FULL token stream: non-query terms keep their
    # positions, so d2's "d" sits at 2 behind two "b"s
    scan = stats.scan_stats(docs, ["a", "d"], positional=True).cache()
    toks = scan.select("docno", F.explode("qtoks").alias("q")).select(
        "docno", "q.pos", "q.term")
    assert rows(toks, "docno", "pos", "term") == [
        ("d1", 0, "a"), ("d1", 2, "a"), ("d2", 2, "d"),
    ]
    assert rows(scan, "docno", "doc_len") == [
        ("d1", 4), ("d2", 3), ("d3", 0),
    ]
    scan.unpersist()


def test_word_count(spark, docs):
    assert rows(stats.word_count(docs), "term", "cf") == [
        ("a", 2), ("b", 3), ("c", 1), ("d", 1),
    ]


def test_term_stats_df_cf(spark, docs):
    post = stats.postings(docs)
    assert rows(stats.term_stats(post), "term", "df", "cf") == [
        ("a", 1, 2), ("b", 2, 3), ("c", 1, 1), ("d", 1, 1),
    ]


def test_term_stats_min_cf(spark, docs):
    post = stats.postings(docs)
    # T10 HAVING: cf > 1
    assert rows(stats.term_stats(post, min_cf=1), "term", "df", "cf") == [
        ("a", 1, 2), ("b", 2, 3),
    ]


def test_collection_globals(spark, docs):
    post = stats.postings(docs)
    g = stats.collection_globals(post).collect()[0]
    assert (g["n_docs"], g["n_terms"], g["n_tokens"]) == (2, 4, 7)


def test_query_term_stats_absent_term(spark, docs):
    post = stats.postings(docs)
    topics = spark.createDataFrame(
        [("q1", "a"), ("q1", "zzz"), ("q2", "b")], ["qid", "term"]
    )
    out = rows(stats.query_term_stats(post, topics), "qid", "term", "qtf", "df", "cf")
    assert out == [
        ("q1", "a", 1, 1, 2),
        ("q1", "zzz", 1, 0, 0),
        ("q2", "b", 1, 2, 3),
    ]
