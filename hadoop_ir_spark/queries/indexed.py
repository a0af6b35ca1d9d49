"""Catalog entry for index-backed retrieval: build the parquet index once
per (process, sf_dir) — the reference's separate indexing jobs — then score
from the index tables. The oracle is the same SQL as the scan-and-score
flagship: the index is an equivalent materialization, so values must match
exactly."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

# stores go through catalog.memo_store, looked up at call time so that a
# tracer can wrap it (tools/query_record.py)
from hadoop_ir_spark import catalog
from hadoop_ir_spark.catalog import (
    DIR_MU,
    ORACLES,
    QTERMS,
    TOP_K,
    _docs,
    _topics_df,
    register,
)
from hadoop_ir_spark.io import index as index_io
from hadoop_ir_spark.operators import rank, scoring

def _index_dir(spark, sf_dir: str) -> str:
    def build(out):
        index_io.build_index(_docs(spark, sf_dir), out, id_col="doc_id")
        return out
    return catalog.memo_store(sf_dir, "index", build)


@register("indexed_dirichlet_topk")
def q_indexed_dirichlet(spark, sf_dir):
    """SURVEY §3.2 pipeline on parquet: index build (memoized per sf) →
    Dirichlet scoring from the index tables → top-k. The query-term filter
    is pushed into the postings parquet scan."""
    idx_dir = _index_dir(spark, sf_dir)
    idx = index_io.load_index(spark, idx_dir)
    glob = index_io.index_globals(spark, idx_dir)

    topics = _topics_df(spark).withColumn("qweight", F.lit(1.0))

    post = idx["postings"].filter(F.col("term").isin(QTERMS))
    dlen = idx["doc_lengths"]
    tstats = idx["term_stats"].filter(F.col("term").isin(QTERMS))
    qstats = topics.join(
        F.broadcast(tstats.select("term", "cf")), "term", "left"
    ).fillna({"cf": 0})

    matched = scoring.matched_terms(post, qstats, doc_len=dlen)
    scored = scoring.score_gslis(matched, qstats, dlen, glob["n_tokens"],
                                 model="dirichlet", mu=DIR_MU)
    scored = scored.withColumn("score", F.round("score", 6))
    return rank.topk(scored, k=TOP_K).select(
        "qid", "docno", "score", F.col("rank").cast("int").alias("rank")
    )


# identical semantics to the scan-and-score flagship ⇒ identical oracle
ORACLES["indexed_dirichlet_topk"] = ORACLES["dirichlet_topk"]


# ---------------------------------------------------------------------------
# indexed_phrase_topk — phrase retrieval from the positional index
# ---------------------------------------------------------------------------

def _pos_index_dir(spark, sf_dir: str) -> str:
    # pair_window is passed EXPLICITLY as SDM_UW (ADVICE r7): q_indexed_sdm
    # reads pair_unordered_w{SDM_UW}, so building with the (coincidentally
    # equal) default would break silently if proximity_q ever changed the
    # window width.
    from hadoop_ir_spark.queries.proximity_q import SDM_UW

    def build(out):
        index_io.build_positional_index(_docs(spark, sf_dir), out,
                                        id_col="doc_id",
                                        pair_window=SDM_UW)
        return out
    return catalog.memo_store(sf_dir, "posindex", build)


def _pair_ordered(spark, sf_dir):
    """Query-pair rows of the build-time ``pair_ordered`` table (#1
    counts): the t1/t2 ``IN`` filters reach the parquet scan (the table
    is range-partitioned + sorted on (t1, t2), so min/max stats prune
    files and row groups); the broadcast join restricts to the exact
    query pair set. No positional offset join runs at query time."""
    from hadoop_ir_spark.queries.proximity_q import _PAIRS

    idx_dir = _pos_index_dir(spark, sf_dir)
    pairs = spark.createDataFrame(_PAIRS, "t1 string, t2 string")
    return (
        spark.read.parquet(os.path.join(idx_dir, "pair_ordered"))
        .filter(F.col("t1").isin(QTERMS) & F.col("t2").isin(QTERMS))
        .join(F.broadcast(pairs), ["t1", "t2"])
    )


@register("indexed_phrase_topk")
def q_indexed_phrase(spark, sf_dir):
    """phrase_search_topk served from the build-time PAIR-POSTINGS table
    (VERDICT r6 #2): adjacency counts were materialized once at index
    time (``io/index.py:build_positional_index``), so the query is a
    pruned scan + broadcast fan-out + top-k — the per-query offset
    equi-join over positional tokens is gone entirely."""
    from hadoop_ir_spark.queries.proximity_q import _BIGRAMS

    bigrams = spark.createDataFrame(_BIGRAMS,
                                    "qid string, t1 string, t2 string")
    scored = (
        _pair_ordered(spark, sf_dir)
        .join(F.broadcast(bigrams), ["t1", "t2"])
        .groupBy("qid", "docno")
        .agg(F.sum("otf").alias("phrase_tf"))
    )
    out = rank.topk(scored, k=TOP_K, score_col="phrase_tf")
    return out.select("qid", "docno", "phrase_tf",
                      F.col("rank").cast("int").alias("rank"))


# the oracle alias (same SQL as phrase_search_topk) is installed by
# queries/proximity_q.py at its import, which happens after this module


# ---------------------------------------------------------------------------
# Index-served scoring family: BM25 / JM-GSLIS / two-stage from the same
# memoized parquet index as indexed_dirichlet_topk. The reference's north
# star is "Spark jobs for index building" (RunQueryHBase.java:249-265 reads
# every score's tf/cf/df from the HBase tables IndexTrecToHBase built);
# these entries complete that workflow for the other smoothing models —
# identical semantics to the scan-and-score catalog twins, so each reuses
# its twin's oracle verbatim and must match byte-for-byte.
# ---------------------------------------------------------------------------


def _indexed_inputs(spark, sf_dir):
    """Query-term postings / doc_lengths / term_stats / globals from the
    memoized index build — the shared prelude of the index-served scorers.
    The ``term IN (...)`` filters reach the parquet scans (PushedFilters),
    so only query-term postings rows are ever read."""
    idx_dir = _index_dir(spark, sf_dir)
    idx = index_io.load_index(spark, idx_dir)
    glob = index_io.index_globals(spark, idx_dir)
    post = idx["postings"].filter(F.col("term").isin(QTERMS))
    tstats = idx["term_stats"].filter(F.col("term").isin(QTERMS))
    return post, idx["doc_lengths"], tstats, glob


@register("indexed_bm25_topk")
def q_indexed_bm25(spark, sf_dir):
    """bm25_topk (M4, TrecRunBaselines.java:190-201) served from the
    materialized index: n_docs/avg_len come from the one-row globals table
    (the reference's #collstats row) instead of a corpus scan."""
    from hadoop_ir_spark.catalog import BM25_B, BM25_K1

    post, dlen, tstats, glob = _indexed_inputs(spark, sf_dir)
    n_docs = glob["n_docs"]
    avg_len = glob["n_tokens"] / glob["n_docs"]
    topics = _topics_df(spark).withColumn("qtf", F.lit(1))
    matched = scoring.matched_terms(post, topics, doc_len=dlen,
                                    stats=tstats.select("term", "df"))
    scored = scoring.score_bm25(matched, n_docs, avg_len, BM25_K1, BM25_B)
    scored = scored.withColumn("score", F.round("score", 6))
    return rank.topk(scored, k=TOP_K).select(
        "qid", "docno", "score", F.col("rank").cast("int").alias("rank")
    )


ORACLES["indexed_bm25_topk"] = ORACLES["bm25_topk"]


@register("indexed_jm_topk")
def q_indexed_jm(spark, sf_dir):
    """jm_gslis_topk (M6, RunQueryHBase.java:199-204) served from the
    index; cf joins from the term_stats table, coll_len from globals."""
    from hadoop_ir_spark.queries.scoring_models import GSLIS_LAMBDA

    post, dlen, tstats, glob = _indexed_inputs(spark, sf_dir)
    topics = _topics_df(spark).withColumn("qweight", F.lit(1.0))
    qstats = topics.join(
        F.broadcast(tstats.select("term", "cf")), "term", "left"
    ).fillna({"cf": 0})
    matched = scoring.matched_terms(post, qstats, doc_len=dlen)
    scored = scoring.score_gslis(matched, qstats, dlen, glob["n_tokens"],
                                 model="jm", lambda_=GSLIS_LAMBDA)
    scored = scored.withColumn("score", F.round("score", 6))
    return rank.topk(scored, k=TOP_K).select(
        "qid", "docno", "score", F.col("rank").cast("int").alias("rank")
    )


ORACLES["indexed_jm_topk"] = ORACLES["jm_gslis_topk"]


@register("indexed_two_stage_topk")
def q_indexed_two_stage(spark, sf_dir):
    """two_stage_topk (M7, RunQueryHBase.java:212-224) served from the
    index. Non-separable, so the q x d frame is doc_lengths (from the
    index) cross the broadcast query-term table with index postings
    patched in — the index replaces both corpus passes."""
    from hadoop_ir_spark.queries.scoring_models import GSLIS_LAMBDA

    post, dlen, tstats, glob = _indexed_inputs(spark, sf_dir)
    topics = _topics_df(spark).withColumn("qweight", F.lit(1.0))
    qstats = topics.join(
        F.broadcast(tstats.select("term", "cf")), "term", "left"
    ).fillna({"cf": 0})
    scored = scoring.score_two_stage(qstats, post, dlen, glob["n_tokens"],
                                     mu=DIR_MU, lambda_=GSLIS_LAMBDA)
    scored = scored.withColumn("score", F.round("score", 6))
    return rank.topk(scored, k=TOP_K).select(
        "qid", "docno", "score", F.col("rank").cast("int").alias("rank")
    )


ORACLES["indexed_two_stage_topk"] = ORACLES["two_stage_topk"]


@register("indexed_rm3_feedback")
def q_indexed_rm3(spark, sf_dir):
    """rm3_feedback (M10, GenerateFeedbackQueriesHBase.java:306-329)
    with EVERY corpus access index-served: the initial Dirichlet run
    scores from the index tables (same plan as indexed_dirichlet_topk),
    and the RM1 expansion reads the feedback docs' term vectors from
    the SAME postings parquet — the reference's HBase doc-vector
    point-gets (RunQueryHBase.java:249-265) as one docno join. No pass
    over the raw corpus anywhere in the pipeline; byte-identical to the
    scan twin, so it reuses rm3_feedback's oracle verbatim."""
    from hadoop_ir_spark.operators import feedback
    from hadoop_ir_spark.queries.feedback_rerank import (
        FB_DOCS,
        FB_TERMS,
        RM3_LAMBDA,
    )

    run = q_indexed_dirichlet(spark, sf_dir)
    idx_dir = _index_dir(spark, sf_dir)
    idx = index_io.load_index(spark, idx_dir)
    rm1_w = feedback.rm1(run, idx["postings"], idx["doc_lengths"],
                         fb_docs=FB_DOCS, fb_terms=FB_TERMS)
    topics = _topics_df(spark).withColumn("qweight", F.lit(1.0))
    out = feedback.rm3(rm1_w, topics, orig_lambda=RM3_LAMBDA)
    return out.withColumn("weight", F.round("weight", 6))


ORACLES["indexed_rm3_feedback"] = ORACLES["rm3_feedback"]


@register("indexed_sdm_topk")
def q_indexed_sdm(spark, sf_dir):
    """sdm_topk with EVERY feature class index-served (VERDICT r6 #2):
    unigram tf from the inverted index's postings, ordered (#1) and
    unordered (#uw8) pair counts from the build-time PAIR-POSTINGS
    tables, doc lengths from the inverted index. The expensive part —
    pair counting — now happens ONCE at index build; at query time the
    plan is three pruned parquet scans + broadcast joins, zero
    positional offset joins, zero corpus passes. Equivalent
    materialization ⇒ reuses sdm_topk's oracle verbatim."""
    from hadoop_ir_spark.queries.proximity_q import (
        _BIGRAMS,
        _UPAIRS,
        SDM_UW,
        SDM_WO,
        SDM_WT,
        SDM_WU,
        _sdm_features,
    )

    idx = index_io.load_index(spark, _index_dir(spark, sf_dir))
    pos_dir = _pos_index_dir(spark, sf_dir)
    qpost = (
        idx["postings"].filter(F.col("term").isin(QTERMS))
        .select("docno", "term", "tf")
    )
    upairs = spark.createDataFrame(_UPAIRS, "u1 string, u2 string")
    ordered = _pair_ordered(spark, sf_dir)
    unord = (
        spark.read.parquet(
            os.path.join(pos_dir, f"pair_unordered_w{SDM_UW}"))
        .filter(F.col("u1").isin(QTERMS) & F.col("u2").isin(QTERMS))
        .join(F.broadcast(upairs), ["u1", "u2"])
    )
    bigrams = spark.createDataFrame(_BIGRAMS,
                                    "qid string, t1 string, t2 string")
    prox = (None, idx["doc_lengths"], qpost, ordered, unord, bigrams)

    feats = _sdm_features(spark, sf_dir, prox=prox)
    scored = feats.select(
        "qid", "docno",
        F.round(SDM_WT * F.col("f_t") + SDM_WO * F.col("f_o")
                + SDM_WU * F.col("f_u"), 6).alias("score"),
    )
    out = rank.topk(scored, k=TOP_K)
    return out.select("qid", "docno", "score",
                      F.col("rank").cast("int").alias("rank"))


@register("indexed_best_passage")
def q_indexed_best_passage(spark, sf_dir):
    """best_passage with EVERY corpus access index-served (VERDICT r7
    #3): the Dirichlet run scores from the inverted index (same plan as
    indexed_dirichlet_topk) and the query-term positional stream reads
    the build-time ``positional`` parquet — the last proximity-family
    query-time corpus re-tokenize is gone. The positional table is
    sorted by term within partitions, so the ``term IN (...)`` filter
    prunes row groups via parquet min/max stats; everything downstream
    (hit join, window expansion, per-(qid, docno) argmax) is identical
    to the scan twin. Equivalent materialization ⇒ reuses
    best_passage's oracle verbatim."""
    from hadoop_ir_spark.catalog import _topics_df
    from hadoop_ir_spark.operators import proximity
    from hadoop_ir_spark.queries.proximity_q import PASSAGE_W

    run = q_indexed_dirichlet(spark, sf_dir).select("qid", "docno")
    pos_dir = _pos_index_dir(spark, sf_dir)
    ptoks = (
        spark.read.parquet(os.path.join(pos_dir, "positional"))
        .filter(F.col("term").isin(QTERMS))
    )
    topics = _topics_df(spark).distinct()
    hits = (
        run.join(F.broadcast(topics), "qid")
        .join(ptoks, ["docno", "term"])
        .select("qid", "docno", (F.col("pos") + 1).alias("ord"))
    )
    return proximity.best_passage_windows(hits, PASSAGE_W)


# the oracle aliases (same SQL as sdm_topk / best_passage) are installed
# by queries/proximity_q.py at its import, which happens after this module
