"""IO layer tests: WARC reader against the test.sh WARC fixture
(fixtures/testsh.py), TREC-SGML round-trip, topic and qrels parsers, and
the test.sh end-to-end retrieval semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_ir_spark.io import qrels as qrels_io
from hadoop_ir_spark.io import runfile, topics, trec_sgml, warc
from hadoop_ir_spark.operators import rank, scoring, stats

@pytest.fixture(scope="module")
def warc_df(spark, testsh):
    return warc.read_warc(spark, testsh[0]).cache()


def test_warc_parses_all_records(warc_df):
    # fixture: 1 warcinfo + 3 responses
    by_type = {r["warc_type"]: r["cnt"] for r in
               warc_df.groupBy("warc_type").agg(F.count("*").alias("cnt")).collect()}
    assert by_type == {"warcinfo": 1, "response": 3}


def test_warc_response_fields(warc_df):
    rows = {r["trec_id"]: r for r in warc.warc_responses(warc_df).collect()}
    assert set(rows) == {"test1", "test2", "test3"}
    assert rows["test1"]["target_uri"] == "http://test1.com/index.html"
    assert rows["test1"]["warc_version"] == "0.18"
    # malformed fixture date (2009-03-65) must be lenient -> NULL epoch
    assert rows["test1"]["epoch"] is None
    assert rows["test1"]["warc_date"].startswith("2009-03-65")
    # body is Content-Length-delimited: full HTTP response incl. header
    assert rows["test1"]["content"].startswith("HTTP/1.1 200 OK")
    assert "</html>" in rows["test1"]["content"]


def test_warc_to_text_strips_http_and_html(warc_df):
    rows = {r["docno"]: r["text"] for r in warc.warc_to_text(warc_df).collect()}
    t1 = rows["test1"]
    assert "http/1.1" not in t1 and "<" not in t1
    assert "discovery channel store" in t1
    assert "test page 1" in t1


def test_e2e_testsh_retrieval(spark, warc_df, testsh):
    """test.sh semantics: WARC → text → score topics 51-100 (M1 LMno) →
    per-query top-k. Topic 53 = "discovery channel store" appears verbatim
    in test1's anchor text, so it must retrieve test1."""
    docs = warc.warc_to_text(warc_df)
    tps = topics.read_topics_plain(spark, testsh[1]).withColumn("qtf", F.lit(1))
    assert tps.select("qid").distinct().count() == 50

    post = stats.postings(docs)
    dlen = stats.scan_doc_lengths(stats.scan_stats(docs, []))
    tstats = post.groupBy("term").agg(F.sum("tf").alias("cf"))
    qstats = tps.join(tstats, "term", "left").fillna({"cf": 0})
    matched = scoring.matched_terms(post, tps, doc_len=dlen)
    scored = scoring.score_lm_no_smoothing(matched, qstats)
    run = rank.topk(scored, k=1000)
    hits = {(r["qid"], r["docno"]) for r in run.collect()}
    assert ("53", "test1") in hits
    # LMno requires ALL query terms: no other doc carries the full phrase
    assert not any(q == "53" and d != "test1" for q, d in hits)


def test_trec_sgml_roundtrip(spark, tmp_path):
    src = spark.createDataFrame(
        [("doc1", "hello world", 100), ("doc2", "spark <b>rocks</b>", None),
         ("doc3", "multi\nline\ntext", 200)],
        "docno string, text string, epoch bigint",
    )
    p = str(tmp_path / "trec")
    trec_sgml.format_trec_sgml(src, epoch_col="epoch").coalesce(1).write.text(p)
    back = trec_sgml.read_trec_sgml(spark, p)
    rows = {r["docno"]: r for r in back.collect()}
    assert set(rows) == {"doc1", "doc2", "doc3"}
    assert rows["doc1"]["text"] == "hello world"
    assert rows["doc1"]["epoch"] == 100
    assert rows["doc2"]["epoch"] is None
    assert rows["doc3"]["text"] == "multi\nline\ntext"


def test_topics_plain(spark, testsh):
    tps = topics.read_topics_plain(spark, testsh[1])
    t53 = [r["term"] for r in tps.filter(F.col("qid") == "53").collect()]
    assert t53 == ["discovery", "channel", "store"]


def test_topics_weighted_and_mirex(spark, tmp_path):
    wpath = tmp_path / "weighted.txt"
    wpath.write_text("q1\tspark:0.7 join:0.3\nq2\tscan:1.0\n")
    w = topics.read_topics_weighted(spark, str(wpath))
    rows = {(r["qid"], r["term"]): r["qweight"] for r in w.collect()}
    assert rows[("q1", "spark")] == pytest.approx(0.7)
    assert rows[("q2", "scan")] == pytest.approx(1.0)

    # MIREX write → read round-trip (QueryTermCount driver merge)
    qstats = spark.createDataFrame(
        [("q1", "spark", 1, 10, 25), ("q1", "join", 1, 5, 7)],
        "qid string, term string, qtf long, df long, cf long",
    )
    mpath = str(tmp_path / "mirex.txt")
    topics.write_topics_mirex(qstats, coll_len=1000, n_docs=50, path=mpath)
    back, glob = topics.read_topics_mirex(spark, mpath)
    assert glob == {"coll_len": 1000, "n_docs": 50}
    b = {(r["qid"], r["term"]): (r["qtf"], r["df"], r["cf"]) for r in back.collect()}
    assert b[("q1", "spark")] == (1, 10, 25)
    assert b[("q1", "join")] == (1, 5, 7)


def test_qrels_reader(spark, tmp_path):
    p = tmp_path / "qrels.txt"
    p.write_text("51 0 doc1 1\n51 0 doc2 0\n52\t0\tdoc3\t2\n")
    q = qrels_io.read_qrels(spark, str(p))
    rows = {(r["qid"], r["docno"]): r["rel"] for r in q.collect()}
    assert rows == {("51", "doc1"): 1, ("51", "doc2"): 0, ("52", "doc3"): 2}
    rel = {(r["qid"], r["docno"]) for r in qrels_io.relevant(q).collect()}
    assert rel == {("51", "doc1"), ("52", "doc3")}


def test_runfile_roundtrip(spark, tmp_path):
    run = spark.createDataFrame(
        [("q1", "d2", 1.5, 1), ("q1", "d1", 0.25, 2)],
        "qid string, docno string, score double, rank int",
    )
    p = str(tmp_path / "run")
    runfile.write_run(run, p, tag="t", single_file=True)
    back = runfile.read_run(spark, p)
    rows = {(r["qid"], r["docno"]): (r["rank"], r["score"]) for r in back.collect()}
    assert rows[("q1", "d2")] == (1, pytest.approx(1.5))
    assert rows[("q1", "d1")] == (2, pytest.approx(0.25))


def test_mallet_roundtrip(spark, tmp_path):
    """TrecToMallet parity: tags -> spaces, one line per doc,
    id TAB label TAB text; reader inverts the writer."""
    from hadoop_ir_spark.io import mallet

    docs = spark.createDataFrame(
        [("d1", "en", "hello <b>world</b>\nline2"),
         ("d2", "de", "plain text")],
        "docno string, label string, text string",
    )
    out = str(tmp_path / "mallet")
    mallet.format_mallet(docs, label_col="label").coalesce(1) \
        .write.text(out)
    lines = sorted(
        r["value"] for r in spark.read.text(out).collect() if r["value"]
    )
    assert lines[0] == "d1\ten\thello  world  line2"
    assert lines[1] == "d2\tde\tplain text"
    back = {r["docno"]: (r["label"], r["text"])
            for r in mallet.read_mallet(spark, out).collect()}
    assert back["d2"] == ("de", "plain text")
    # 2-col reference variant (TrecToMallet emits docid TAB text)
    two = mallet.format_mallet(docs).collect()
    assert all(v["value"].count("\t") == 1 for v in two)
