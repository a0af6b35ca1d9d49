"""Hybrid retrieval (r12): more-like-this candidate generation fused
across a lexical BM25 leg and the persisted IVF-PQ vector leg.

The production RAG / related-items serving shape: a corpus where every
document has text AND an embedding, queried BY EXAMPLE — the query is a
document, its lexical query is its most characteristic terms, its
vector query is its embedding, and the two index-served candidate lists
are combined by reciprocal-rank fusion (Cormack, Clarke & Büttcher,
SIGIR'09). The catalog entry ``indexed_hybrid_topk`` is this module on
the test fixture, strict against a nested-CTE oracle.

Scale shape (100 TB): the lexical leg is the broadcast-topics BM25 plan
(SURVEY §2 J1 — the postings side never shuffles; the MLT topic table
is |queries|·n_terms rows), the vector leg is the store's pruned-probe
compressed scan + bounded exact refine, and fusion touches k rows per
query per leg. Nothing here is corpus-quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hadoop_ir_spark.operators import evaluate, rank, scoring, stats


def mlt_query_terms(post: DataFrame, tstats: DataFrame, n_docs: float,
                    query_ids: DataFrame, n_terms: int = 8) -> DataFrame:
    """Lucene MoreLikeThis term selection: for each query document, the
    top ``n_terms`` terms by tf·idf (``tf · ln(n_docs / df)``, rounded
    to 6 for deterministic cross-engine ordering, term-asc tie-break).
    → (qid, term, qtf=1), the broadcast-ready topics frame.

    ``post`` is the (docno, term, tf) postings table, ``tstats`` the
    (term, df) table, ``query_ids`` a one-column frame of query docnos.
    The selection join touches only the query docs' postings rows —
    |queries|·avg_doc_len, corpus-independent."""
    qcol = query_ids.columns[0]
    qids = query_ids.select(F.col(qcol).alias("docno")).distinct()
    qpost = post.join(qids, "docno", "semi")
    wsel = Window.partitionBy("docno").orderBy(F.desc("_w"),
                                               F.asc("term"))
    return (qpost.join(tstats, "term")
            .withColumn("_w", F.round(
                F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")),
                6))
            .withColumn("_r", F.row_number().over(wsel))
            .filter(F.col("_r") <= n_terms)
            .select(F.col("docno").alias("qid"), "term",
                    F.lit(1).alias("qtf")))


def bm25_mlt_run(docs: DataFrame, query_ids: DataFrame, *,
                 k: int = 10, n_terms: int = 8,
                 k1: float = 1.2, b: float = 0.75,
                 id_col: str = "docno",
                 text_col: str = "text") -> DataFrame:
    """The lexical more-like-this leg: MLT term selection over the
    query docs, then the reference's BM25 over the full postings with
    the selected terms as topics, self-matches excluded, per-query
    top-k with the K3 tie-break. → (qid, docno, score, rank).

    r13 (guide §2.3/§5): the FULL (docno, term) postings table is never
    built or materialized. The query docs' postings come from a
    semi-joined (tiny) corpus slice. ONE checkpointed ``scan_stats``
    pass over the corpus, restricted to those docs' TERM vocabulary,
    serves the length globals, the matched join's doc lengths and the
    corpus-side postings — so the one heavy shuffle carries only those
    terms' rows. Same BM25 inputs row-for-row: df/tf values of
    terms outside the query vocabulary never reach the score."""
    qcol = query_ids.columns[0]
    qids = query_ids.select(F.col(qcol).alias("_qid")).distinct()
    qdocs = (docs.join(F.broadcast(qids),
                       F.col(id_col) == F.col("_qid"), "left_semi"))
    qpost = stats.postings(qdocs, id_col=id_col,
                           text_col=text_col).localCheckpoint()
    # the query docs' vocabulary as literals (bounded by the query
    # BATCH, not the corpus)
    terms = sorted(r["term"]
                   for r in qpost.select("term").distinct().collect())
    scan = stats.scan_stats(docs, terms, id_col=id_col,
                            text_col=text_col).localCheckpoint()
    dlen = stats.scan_doc_lengths(scan)
    glob = dlen.agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_len").alias("n_tokens")).collect()[0]
    n_docs = glob["n_docs"]
    avg_len = glob["n_tokens"] / glob["n_docs"]
    post_q = stats.scan_postings(scan)
    tstats = post_q.groupBy("term").agg(F.count("*").alias("df"))
    topics = mlt_query_terms(qpost, tstats, n_docs, query_ids,
                             n_terms=n_terms)
    topic_terms = topics.select("term").distinct()
    tstats_q = tstats.join(F.broadcast(topic_terms), "term")
    matched = scoring.matched_terms(post_q, topics, doc_len=dlen,
                                    stats=tstats_q)
    matched = matched.filter(F.col("docno") != F.col("qid"))
    bscored = scoring.score_bm25(matched, n_docs, avg_len, k1, b)
    bscored = bscored.withColumn("score", F.round("score", 6))
    return rank.topk(bscored, k=k)


def ivfpq_mlt_run(queries: DataFrame, index_dir: str, *,
                  k: int = 10, nprobe: int = 4,
                  refine: int | None = None,
                  qid_col: str = "qid",
                  vec_col: str = "embedding") -> DataFrame:
    """The vector more-like-this leg: refined IVF-PQ serving from the
    persisted store with the self-match excluded — the top-(k+1) is
    drawn (the self-match occupies at most one slot), self dropped,
    survivors re-ranked by the same (cosine desc, docno desc) order.
    → (qid, docno, cosine, rank). ``queries`` must carry the query
    doc's OWN id as ``qid`` for the self-exclusion to apply."""
    from hadoop_ir_spark.operators import dedup_incremental as dinc

    v0 = dinc.indexed_ivfpq_topk(queries, index_dir, k=k + 1,
                                 nprobe=nprobe, refine=refine,
                                 qid_col=qid_col, vec_col=vec_col)
    score = "cosine" if "cosine" in v0.columns else "approx_d2"
    order = ([F.desc("cosine"), F.desc("docno")] if score == "cosine"
             else [F.asc("approx_d2"), F.desc("docno")])
    wv = Window.partitionBy("qid").orderBy(*order)
    return (v0.filter(F.col("docno") != F.col("qid"))
            .withColumn("rank", F.row_number().over(wv))
            .filter(F.col("rank") <= k))


def hybrid_mlt_topk(docs: DataFrame, queries: DataFrame,
                    index_dir: str, *, k: int = 10, n_terms: int = 8,
                    nprobe: int = 4, refine: int | None = None,
                    rrf_c: int = 60, k1: float = 1.2, b: float = 0.75,
                    id_col: str = "docno",
                    text_col: str = "text") -> DataFrame:
    """Hybrid more-like-this top-k: RRF fusion (c=``rrf_c``) of
    ``bm25_mlt_run`` and ``ivfpq_mlt_run`` over the same corpus.
    ``queries`` is (qid, embedding) where qid is the query document's
    own id (it anchors both the lexical term selection and the
    self-exclusion). → (qid, docno, rrf, rank)."""
    qids = queries.select("qid")
    txt = bm25_mlt_run(docs, qids, k=k, n_terms=n_terms, k1=k1, b=b,
                       id_col=id_col, text_col=text_col) \
        .select("qid", "docno", "rank")
    vec = ivfpq_mlt_run(queries, index_dir, k=k, nprobe=nprobe,
                        refine=refine).select("qid", "docno", "rank")
    fused = evaluate.rrf_fusion([txt, vec], k=k, c=rrf_c)
    return fused.select("qid", "docno", "rrf",
                        F.col("rank").cast("int").alias("rank"))
