"""Catalog entries for the evaluation operators (SURVEY.md §2.8, E1-E6).

Run under evaluation = the Dirichlet flagship run (catalog.dirichlet_topk);
qrels = catalog.qrels_df / SQL_QRELS (derived deterministically from the
corpus so DuckDB can reproduce them).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_ir_spark.catalog import (
    BM25_B,
    BM25_K1,
    SQL_QRELS,
    SQL_RUN_DIRICHLET,
    TOP_K,
    dirichlet_topk,
    eval_inputs,
    parallel_frames,
    qrels_df,
    register,
    sql_run_dirichlet,
)
from hadoop_ir_spark.operators import evaluate


@register("qrels_synth", f"""
WITH {SQL_RUN_DIRICHLET}, {SQL_QRELS}
SELECT qid, docno, rel FROM qrels
""")
def q_qrels(spark, sf_dir):
    return qrels_df(spark, sf_dir)


@register("eval_precision_recall", f"""
WITH {SQL_RUN_DIRICHLET}, {SQL_QRELS},
judged AS (
  SELECT r.qid, r.docno, r.rank,
         CASE WHEN q.docno IS NOT NULL THEN 1 ELSE 0 END AS is_rel
  FROM run r
  LEFT JOIN (SELECT DISTINCT qid, docno FROM qrels WHERE rel >= 1) q
    USING (qid, docno)
),
perq AS (
  SELECT qid, CAST(sum(is_rel) AS BIGINT) AS num_rel_ret,
         CAST(count(*) AS BIGINT) AS num_ret
  FROM judged GROUP BY qid
),
nr AS (
  SELECT qid, CAST(count(DISTINCT docno) AS BIGINT) AS num_rel
  FROM qrels WHERE rel >= 1 GROUP BY qid
)
SELECT p.qid, p.num_rel_ret, p.num_ret,
       coalesce(nr.num_rel, 0) AS num_rel,
       round(p.num_rel_ret::DOUBLE / p.num_ret, 6) AS precision,
       CASE WHEN coalesce(nr.num_rel, 0) > 0
            THEN round(p.num_rel_ret::DOUBLE / nr.num_rel, 6) END AS recall
FROM perq p LEFT JOIN nr USING (qid)
""")
def q_eval_precision_recall(spark, sf_dir):
    # checkpointed inputs (catalog.eval_inputs): the metrics read the
    # materialized few-rows-per-query run in one pass (evaluate._per_query)
    # instead of planning the retrieval into the metric plan
    out = evaluate.precision_recall(*eval_inputs(spark, sf_dir))
    return out.select(
        "qid",
        F.col("num_rel_ret").cast("long").alias("num_rel_ret"),
        F.col("num_ret").cast("long").alias("num_ret"),
        F.col("num_rel").cast("long").alias("num_rel"),
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
    )


@register("eval_map_pk", f"""
WITH {SQL_RUN_DIRICHLET}, {SQL_QRELS},
judged AS (
  SELECT r.qid, r.docno, r.rank,
         CASE WHEN q.docno IS NOT NULL THEN 1 ELSE 0 END AS is_rel
  FROM run r
  LEFT JOIN (SELECT DISTINCT qid, docno FROM qrels WHERE rel >= 1) q
    USING (qid, docno)
),
cum AS (
  SELECT qid, rank, is_rel,
         sum(is_rel) OVER (PARTITION BY qid ORDER BY rank) AS cum_rel
  FROM judged
),
psum AS (
  SELECT qid, sum(cum_rel::DOUBLE / rank) AS psum
  FROM cum WHERE is_rel = 1 GROUP BY qid
),
nr AS (
  SELECT qid, count(DISTINCT docno) AS num_rel
  FROM qrels WHERE rel >= 1 GROUP BY qid
),
ap AS (
  SELECT q.qid,
         CASE WHEN coalesce(nr.num_rel, 0) > 0
              THEN round(coalesce(psum.psum, 0) / nr.num_rel, 6) END AS ap
  FROM (SELECT DISTINCT qid FROM run) q
  LEFT JOIN psum USING (qid)
  LEFT JOIN nr USING (qid)
),
pk10 AS (
  SELECT qid, round(sum(is_rel)::DOUBLE / 10, 6) AS p_at_10
  FROM judged WHERE rank <= 10 GROUP BY qid
),
pk20 AS (
  SELECT qid, round(sum(is_rel)::DOUBLE / 20, 6) AS p_at_20
  FROM judged WHERE rank <= 20 GROUP BY qid
)
SELECT ap.qid, ap.ap,
       coalesce(pk10.p_at_10, 0) AS p_at_10,
       coalesce(pk20.p_at_20, 0) AS p_at_20
FROM ap LEFT JOIN pk10 USING (qid) LEFT JOIN pk20 USING (qid)
""")
def q_eval_map_pk(spark, sf_dir):
    # checkpointed inputs, one-pass metrics: see q_eval_precision_recall
    out = evaluate.evaluate_run(*eval_inputs(spark, sf_dir), ks=(10, 20))
    return out.select(
        "qid",
        F.round("ap", 6).alias("ap"),
        F.round("p_at_10", 6).alias("p_at_10"),
        F.round("p_at_20", 6).alias("p_at_20"),
    )


# The full BM25 run as a CTE chain ending in `bm25run(qid, docno, rank)` —
# names prefixed b_ so it can sit beside SQL_RUN_DIRICHLET's chain in one
# WITH block (the SQL twin of catalog's bm25_topk, reused by the
# run-comparison and fusion oracles below).
SQL_RUN_BM25 = f"""
b_gstat AS (
  SELECT count(DISTINCT docno) AS n_docs,
         sum(tf)::DOUBLE / count(DISTINCT docno) AS avg_len
  FROM post
),
b_tstats AS (SELECT term, count(*) AS df FROM post GROUP BY term),
b_matched AS (
  SELECT t.qid, p.docno, p.tf, s.df, d.doc_len
  FROM post p
  JOIN (SELECT DISTINCT qid, term FROM topics) t USING (term)
  JOIN b_tstats s ON s.term = p.term
  JOIN dlen d ON d.docno = p.docno
),
b_scored AS (
  SELECT qid, docno,
         round(sum(
           (({BM25_K1} + 1) * tf)
           / ({BM25_K1} * ((1 - {BM25_B}) + {BM25_B} * doc_len
              / (SELECT avg_len FROM b_gstat)) + tf)
           * ln(((SELECT n_docs FROM b_gstat) - df + 0.5) / (df + 0.5))
         ), 6) AS score
  FROM b_matched GROUP BY qid, docno
),
bm25run AS (
  SELECT qid, docno, rank FROM (
    SELECT qid, docno,
           row_number() OVER (PARTITION BY qid
                              ORDER BY score DESC, docno DESC) AS rank
    FROM b_scored
  ) WHERE rank <= {TOP_K}
)"""



# Run-comparison setup. Dirichlet vs BM25 top-k produced ZERO overlap for
# three rounds (the synthetic corpus has df ~ N for every query term, so
# BM25's ln((N-df+.5)/(df+.5)) idf goes NEGATIVE and ranks low-tf docs
# first — genuinely anti-correlated with the LM runs at any depth). The
# comparison that is non-degenerate at every SF is Dirichlet vs JM: both
# all-docs GSLIS runs, positively correlated, so top-KT_DEPTH overlaps.
KT_DEPTH = 100

# M6's lambda, imported (not a duplicated literal) so a change to the M6
# config cannot drift this oracle; interpolated as CAST(... AS DOUBLE) like
# the sibling _RA/_RB/_AD/_KND constants so DuckDB does the same double
# arithmetic as Spark even for values that are not exactly representable.
from hadoop_ir_spark.queries.scoring_models import GSLIS_LAMBDA as _GSLIS_LAMBDA

_SQL_LAMBDA = f"CAST({_GSLIS_LAMBDA!r} AS DOUBLE)"


def _sql_run_jm(k: int = TOP_K) -> str:
    """JM-GSLIS run chain at depth k, REUSING the `frame` CTE that
    sql_run_dirichlet() already defines (same q x d cross frame, same
    cp floor) — must appear after it in the same WITH block."""
    return f"""j_scored AS (
  SELECT qid, docno,
         round(sum(qweight * ln((1 - {_SQL_LAMBDA}) * tf / doc_len
                                + {_SQL_LAMBDA} * cp)), 6) AS score
  FROM frame GROUP BY qid, docno
),
jmrun AS (
  SELECT qid, docno, rank FROM (
    SELECT qid, docno,
           row_number() OVER (PARTITION BY qid
                              ORDER BY score DESC, docno DESC) AS rank
    FROM j_scored
  ) WHERE rank <= {k}
)"""


@register("rank_correlation", f"""
WITH {sql_run_dirichlet(KT_DEPTH)}, {_sql_run_jm(KT_DEPTH)},
common AS (
  SELECT d.qid, d.docno, d.rank AS ra, b.rank AS rb
  FROM run d JOIN jmrun b USING (qid, docno)
),
pairs AS (
  SELECT l.qid,
         sign(l.ra - r.ra) * sign(l.rb - r.rb) AS s
  FROM common l JOIN common r
    ON l.qid = r.qid AND l.docno < r.docno
)
SELECT qid,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
       CAST(sum(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
       round((sum(CASE WHEN s > 0 THEN 1 ELSE 0 END)
              - sum(CASE WHEN s < 0 THEN 1 ELSE 0 END))::DOUBLE
             / count(*), 6) AS tau
FROM pairs GROUP BY qid
""")
def q_rank_correlation(spark, sf_dir):
    """Kendall tau between the Dirichlet and JM top-KT_DEPTH rankings
    per query — the run-comparison utility next to the absolute metrics
    (E1-E6; the smoothing-method comparison TrecRunBaselines sweeps).
    Quadratic only in the per-query overlap (<= C(100,2) pairs per
    query, nothing driver-side)."""
    from hadoop_ir_spark.queries.scoring_models import jm_gslis_topk

    run_d = dirichlet_topk(spark, sf_dir, k=KT_DEPTH)
    run_j = jm_gslis_topk(spark, sf_dir, k=KT_DEPTH)
    out = evaluate.kendall_tau(run_d, run_j)
    return out.withColumn("tau", F.round("tau", 6))


LOG2 = evaluate.LOG2
NDCG_K = 10


@register("eval_ndcg", f"""
WITH {SQL_RUN_DIRICHLET}, {SQL_QRELS},
graded AS (SELECT qid, docno, max(rel) AS rel FROM qrels GROUP BY qid, docno),
j AS (
  SELECT r.qid, r.rank, coalesce(g.rel, 0) AS rel
  FROM run r LEFT JOIN graded g USING (qid, docno)
  WHERE r.rank <= {NDCG_K}
),
dcg AS (
  SELECT qid, sum((pow(2.0, rel) - 1.0) * {LOG2!r} / ln(rank + 1.0)) AS dcg
  FROM j GROUP BY qid
),
ideal AS (
  SELECT qid, rel,
         row_number() OVER (PARTITION BY qid
                            ORDER BY rel DESC, docno DESC) AS pos
  FROM graded
),
idcg AS (
  SELECT qid, sum((pow(2.0, rel) - 1.0) * {LOG2!r} / ln(pos + 1.0)) AS idcg
  FROM ideal WHERE pos <= {NDCG_K} GROUP BY qid
),
qids AS (SELECT DISTINCT qid FROM run)
SELECT q.qid,
       round(coalesce(d.dcg, 0), 6) AS dcg,
       CASE WHEN i.idcg > 0
            THEN round(coalesce(d.dcg, 0) / i.idcg, 6) END AS ndcg
FROM qids q LEFT JOIN dcg d USING (qid) LEFT JOIN idcg i USING (qid)
""")
def q_eval_ndcg(spark, sf_dir):
    """nDCG@10 with graded qrels over the Dirichlet flagship run —
    the graded companion to eval_map_pk, over the same checkpointed
    inputs (ndcg reads each of them twice: the run for its gains and its
    qid set, the graded qrels for the run join and the ideal order)."""
    out = evaluate.ndcg(*eval_inputs(spark, sf_dir), k=NDCG_K)
    return out.select(
        "qid",
        F.round("dcg", 6).alias("dcg"),
        F.round("ndcg", 6).alias("ndcg"),
    )


RRF_C = 60


@register("rrf_fusion_topk", f"""
WITH {SQL_RUN_DIRICHLET}, {SQL_RUN_BM25},
contrib AS (
  SELECT qid, docno, 1.0 / ({RRF_C} + rank) AS contrib FROM run
  UNION ALL
  SELECT qid, docno, 1.0 / ({RRF_C} + rank) FROM bm25run
),
fused AS (
  SELECT qid, docno, round(sum(contrib), 6) AS rrf
  FROM contrib GROUP BY qid, docno
)
SELECT qid, docno, rrf, CAST(rank AS INT) AS rank FROM (
  SELECT qid, docno, rrf,
         row_number() OVER (PARTITION BY qid
                            ORDER BY rrf DESC, docno DESC) AS rank
  FROM fused
) WHERE rank <= {TOP_K}
""")
def q_rrf_fusion_topk(spark, sf_dir):
    """Reciprocal-rank fusion of the Dirichlet and BM25 runs
    (Cormack et al., SIGIR'09) — the rank-combination twin of
    rank_correlation's rank-comparison."""
    from hadoop_ir_spark.catalog import QUERIES

    # both runs' collects fill the one QTERMS scan cache: build them here,
    # checkpoint them concurrently (as catalog.eval_inputs does)
    run_d, run_b = dirichlet_topk(spark, sf_dir), QUERIES["bm25_topk"](spark, sf_dir)
    run_d, run_b = parallel_frames(run_d.localCheckpoint, run_b.localCheckpoint)
    out = evaluate.rrf_fusion([run_d, run_b], k=TOP_K, c=RRF_C)
    return out.withColumn("rank", F.col("rank").cast("int"))


# ---------------------------------------------------------------------------
# ltr_features — learning-to-rank feature export over the flagship run
# ---------------------------------------------------------------------------

@register("ltr_features", f"""
WITH {sql_run_dirichlet(TOP_K)}, {_sql_run_jm(TOP_K)}, {SQL_RUN_BM25},
mstats AS (
  SELECT t.qid, p.docno, CAST(sum(p.tf) AS BIGINT) AS sum_tf,
         CAST(count(*) AS INT) AS n_matched
  FROM post p JOIN (SELECT DISTINCT qid, term FROM topics) t USING (term)
  GROUP BY 1, 2
)
SELECT r.qid, r.docno, CAST(r.rank AS INT) AS rank,
       r.score AS score_dir,
       j.score AS score_jm,
       coalesce(b.score, 0.0) AS score_bm25,
       CAST(d.doc_len AS BIGINT) AS doc_len,
       coalesce(m.sum_tf, 0) AS sum_tf,
       coalesce(m.n_matched, 0) AS n_matched
FROM run r
JOIN j_scored j ON j.qid = r.qid AND j.docno = r.docno
LEFT JOIN b_scored b ON b.qid = r.qid AND b.docno = r.docno
JOIN dlen d ON d.docno = r.docno
LEFT JOIN mstats m ON m.qid = r.qid AND m.docno = r.docno
""")
def q_ltr_features(spark, sf_dir):
    """Learning-to-rank feature export: one row per (qid, docno) of the
    Dirichlet top-k run carrying the model scores (Dirichlet, JM, BM25 —
    0.0 sentinel when no query term matches, so BM25 is undefined) plus
    the classic lexical features (doc_len, matched tf mass, matched term
    count). All scoring sides reuse the shared postings/doc-length
    frames; the run is the only ranked (windowed) frame — the feature
    joins are plain broadcast/hash joins on (qid, docno), the shape that
    survives a 1000-query batch at 100 TB."""
    from hadoop_ir_spark.catalog import (BM25_B, BM25_K1, QTERMS, _docs,
                                         _topics_df)
    from hadoop_ir_spark.operators import scoring, stats
    from hadoop_ir_spark.queries.scoring_models import GSLIS_LAMBDA

    docs = _docs(spark, sf_dir)
    # the same cached scan dirichlet_topk reads: one corpus tokenize for
    # the run, the lengths and the query-term postings
    scan = stats.scan_stats(docs, QTERMS, id_col="doc_id").cache()
    dlen = stats.scan_doc_lengths(scan)
    post = stats.scan_postings(scan)
    # one collect for every scalar global (coll_len, n_docs, avg_len):
    # scan_doc_lengths already drops empty docs, so count(*) matches the
    # old separate filtered aggregate — one corpus pass instead of two
    glob = dlen.agg(F.sum("doc_len").alias("n_tokens"),
                    F.count("*").alias("n_docs")).collect()[0]
    coll_len = glob["n_tokens"]

    run = dirichlet_topk(spark, sf_dir, k=TOP_K).localCheckpoint()

    # JM scores for all docs (no ranking window needed: join to run)
    topics_w = _topics_df(spark).withColumn("qweight", F.lit(1.0))
    tstats_cf = post.groupBy("term").agg(F.sum("tf").alias("cf"))
    qstats = topics_w.join(tstats_cf, "term", "left").fillna({"cf": 0})
    matched = scoring.matched_terms(post, qstats, doc_len=dlen)
    jm = scoring.score_gslis(matched, qstats, dlen, coll_len,
                             model="jm", lambda_=GSLIS_LAMBDA)
    jm = jm.select("qid", "docno", F.round("score", 6).alias("score_jm"))

    # BM25 scores (matched docs only) — globals from the single collect
    n_docs, avg_len = glob["n_docs"], glob["n_tokens"] / glob["n_docs"]
    topics_t = _topics_df(spark).withColumn("qtf", F.lit(1))
    tstats_df = post.groupBy("term").agg(F.count("*").alias("df"))
    m2 = scoring.matched_terms(post, topics_t, doc_len=dlen, stats=tstats_df)
    bm = scoring.score_bm25(m2, n_docs, avg_len, BM25_K1, BM25_B)
    bm = bm.select("qid", "docno", F.round("score", 6).alias("score_bm25"))

    mstats = (
        post.join(F.broadcast(_topics_df(spark).distinct()), "term")
        .groupBy("qid", "docno")
        .agg(F.sum("tf").cast("long").alias("sum_tf"),
             F.count("*").cast("int").alias("n_matched"))
    )
    return (
        run.withColumnRenamed("score", "score_dir")
        .join(jm, ["qid", "docno"])
        .join(bm, ["qid", "docno"], "left")
        .join(dlen, "docno")
        .join(mstats, ["qid", "docno"], "left")
        .select(
            "qid", "docno", F.col("rank").cast("int").alias("rank"),
            "score_dir", F.col("score_jm").alias("score_jm"),
            F.coalesce("score_bm25", F.lit(0.0)).alias("score_bm25"),
            F.col("doc_len").cast("long").alias("doc_len"),
            F.coalesce("sum_tf", F.lit(0)).alias("sum_tf"),
            F.coalesce("n_matched", F.lit(0)).alias("n_matched"),
        )
    )


# ---------------------------------------------------------------------------
# query_clarity — query performance prediction (Cronen-Townsend SIGIR'02)
# ---------------------------------------------------------------------------

@register("query_clarity", f"""
WITH {sql_run_dirichlet(TOP_K)},
tstats AS (SELECT term, sum(tf) AS cf FROM post GROUP BY term),
rp AS (
  SELECT r.qid, p.term, p.tf
  FROM run r JOIN post p ON p.docno = r.docno
),
qmass AS (SELECT qid, sum(tf)::DOUBLE AS m FROM rp GROUP BY qid),
qlm AS (
  SELECT rp.qid, rp.term, sum(rp.tf)::DOUBLE / max(qm.m) AS pq
  FROM rp JOIN qmass qm ON qm.qid = rp.qid
  GROUP BY rp.qid, rp.term
)
SELECT q.qid,
       round(sum(q.pq * ln(q.pq / (s.cf::DOUBLE
                                   / (SELECT coll_len FROM coll)))), 6)
         AS clarity
FROM qlm q JOIN tstats s ON s.term = q.term
GROUP BY q.qid
""")
def q_query_clarity(spark, sf_dir):
    """Clarity score (Cronen-Townsend, Croft SIGIR'02): KL divergence of
    the top-k pseudo-document language model from the collection model —
    the classic query-performance predictor (high = focused query). The
    run is 40 rows, so the corpus-side postings join is a broadcast
    semi-restriction; the KL sum runs over the top-k vocabulary only."""
    from hadoop_ir_spark.catalog import _docs
    from hadoop_ir_spark.operators import stats as statsops

    docs = _docs(spark, sf_dir)
    # compute-once fan-out: the run feeds the broadcast restriction, and
    # the postings frame feeds coll_len + tstats + the run join — without
    # the checkpoint the retrieval pipeline re-plans under every branch
    # (the round-2 eval_map_pk disease; 54 exchanges before, ~20 after)
    run = (dirichlet_topk(spark, sf_dir, k=TOP_K)
           .select("qid", "docno").localCheckpoint())
    post = statsops.postings(docs, id_col="doc_id").cache()
    coll_len = post.agg(F.sum("tf")).collect()[0][0]
    tstats = post.groupBy("term").agg(F.sum("tf").alias("cf"))
    rp = post.join(F.broadcast(run), "docno").select("qid", "term", "tf")
    qmass = rp.groupBy("qid").agg(F.sum("tf").cast("double").alias("m"))
    qlm = (
        rp.join(F.broadcast(qmass), "qid")
        .groupBy("qid", "term")
        .agg((F.sum("tf").cast("double") / F.max("m")).alias("pq"))
    )
    pc = F.col("cf").cast("double") / F.lit(float(coll_len))
    return (
        qlm.join(tstats, "term")
        .groupBy("qid")
        .agg(F.round(F.sum(F.col("pq") * F.log(F.col("pq") / pc)), 6)
             .alias("clarity"))
    )
