"""Catalog entries: the MIREX TrecRunBaselines single-pass multi-model run
(all four baseline models over one postings scan, TrecRunBaselines.java:
139-222 runs them per document in one mapper), F1/utility evaluation, and
the KDE alpha sweep."""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_ir_spark.catalog import (
    SQL_QRELS,
    SQL_RUN_DIRICHLET,
    TOP_K,
    dirichlet_topk,
    eval_inputs,
    register,
)
from hadoop_ir_spark.operators import evaluate, rank, rerank, scoring
from hadoop_ir_spark.queries import scoring_models as sm
from hadoop_ir_spark.queries.feedback_rerank import SQL_KDE

BM25_K1, BM25_B = 1.2, 0.75


def _lms_sweep(spark, matched, coll_len):
    """LMs over the reference's λ grid, model-tagged 'LMs%.1f' — grid
    crossJoin on the matched frame, one aggregation for all λ."""
    grid = spark.createDataFrame(
        [(l,) for l in sm.LMS_LAMBDA_GRID], "lam double"
    )
    mg = matched.filter(F.col("cf") > 0).crossJoin(F.broadcast(grid))
    expr = F.col("qtf") * F.log(
        1.0
        + (F.col("tf") * F.lit(float(coll_len)) * F.col("lam"))
        / (F.col("cf") * F.col("doc_len") * (F.lit(1.0) - F.col("lam")))
    )
    return (
        mg.groupBy("lam", "qid", "docno")
        .agg((F.sum(expr) + F.log(F.first("doc_len"))).alias("score"))
        .filter(F.col("score") > 0)
        .select(
            F.concat(F.lit("LMs"), F.format_string("%.1f", "lam")).alias("model"),
            "qid", "docno", "score",
        )
    )


@register("mirex_baselines", f"""
WITH {sm.SQL_SCORING},
nq AS (SELECT t.qid, count(DISTINCT t.term) AS n_qterms
       FROM topics t JOIN tstats s USING (term)
       WHERE s.cf > 0 GROUP BY t.qid),
qsum AS (SELECT t.qid, CAST(count(*) AS BIGINT) AS qtf_sum
         FROM topics t JOIN tstats s USING (term)
         WHERE s.cf > 0 GROUP BY t.qid),
gstat AS (
  SELECT count(DISTINCT docno) AS n_docs,
         sum(tf)::DOUBLE / count(DISTINCT docno) AS avg_len
  FROM post
),
lmno AS (
  SELECT 'LMno' AS model, m.qid, m.docno,
         round(sum(ln(m.tf::DOUBLE / m.doc_len)) + ln(min(m.doc_len)), 6) AS score
  FROM matched m GROUP BY m.qid, m.docno
  HAVING count(DISTINCT m.term) = (SELECT n_qterms FROM nq WHERE nq.qid = m.qid)
),
lmsgrid AS (SELECT lam::DOUBLE AS lam
            FROM (VALUES {", ".join(f"({l})" for l in sm.LMS_LAMBDA_GRID)})
                 AS g(lam)),
lms AS (
  SELECT 'LMs' || printf('%.1f', g.lam) AS model, qid, docno,
         round(sum(ln(1 + (tf * (SELECT coll_len FROM coll) * g.lam)
                        / (cf * doc_len * (1 - g.lam))))
               + ln(min(doc_len)), 6) AS score
  FROM matched CROSS JOIN lmsgrid g WHERE cf > 0 GROUP BY g.lam, qid, docno
  HAVING sum(ln(1 + (tf * (SELECT coll_len FROM coll) * g.lam)
                   / (cf * doc_len * (1 - g.lam)))) + ln(min(doc_len)) > 0
),
lmdi AS (
  SELECT 'LMdi' AS model, m.qid, m.docno,
         round(sum(ln(m.tf * ((SELECT coll_len FROM coll) // m.cf) + {sm.DIR_MU})
                   - ln({sm.DIR_MU}))
               + min(q.qtf_sum) * (ln({sm.DIR_MU}) - ln(min(m.doc_len) + {sm.DIR_MU})),
               6) AS score
  FROM matched m JOIN qsum q USING (qid)
  WHERE m.cf > 0 GROUP BY m.qid, m.docno
  HAVING sum(ln(m.tf * ((SELECT coll_len FROM coll) // m.cf) + {sm.DIR_MU})
             - ln({sm.DIR_MU}))
         + min(q.qtf_sum) * (ln({sm.DIR_MU}) - ln(min(m.doc_len) + {sm.DIR_MU})) > 0
),
bm25 AS (
  SELECT 'BM25' AS model, qid, docno,
         round(sum(
           (({BM25_K1} + 1) * tf)
           / ({BM25_K1} * ((1 - {BM25_B}) + {BM25_B} * doc_len
                           / (SELECT avg_len FROM gstat)) + tf)
           * ln(((SELECT n_docs FROM gstat) - df + 0.5) / (df + 0.5))
         ), 6) AS score
  FROM matched GROUP BY qid, docno
),
allm AS (
  SELECT * FROM lmno UNION ALL SELECT * FROM lms
  UNION ALL SELECT * FROM lmdi UNION ALL SELECT * FROM bm25
),
ranked AS (
  SELECT model, qid, docno, score,
         row_number() OVER (PARTITION BY model, qid
                            ORDER BY score DESC, docno DESC) AS rank
  FROM allm
)
SELECT model, qid, docno, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {TOP_K}
""")
def q_mirex_baselines(spark, sf_dir):
    """TrecRunBaselines: the reference mapper's full EIGHT runs — LMno,
    LMs at λ ∈ {0.1,0.3,0.5,0.7,0.9} (TrecRunBaselines.java:262-266),
    LMdi, BM25 — from ONE cached matched frame: the postings scan and
    joins run once, each model is another aggregate over the same frame
    (the reference computes all models per document in a single mapper
    pass)."""
    prep = sm._prep(spark, sf_dir)
    _, dlen, post, tstats, topics, coll_len = prep
    qstats = topics.join(
        tstats.select("term", "cf"), "term", "left"
    ).fillna({"cf": 0})
    matched = scoring.matched_terms(post, topics, doc_len=dlen,
                                    stats=tstats).localCheckpoint()

    # globals come from _prep's single collect (scan_doc_lengths
    # already drops empty docs, so the old doc_len > 0 re-filter was a
    # no-op second corpus pass)
    n_docs, avg_len = prep.n_docs, prep.avg_len

    outs = [
        scoring.score_lm_no_smoothing(matched, qstats)
        .withColumn("model", F.lit("LMno")),
        _lms_sweep(spark, matched, coll_len),
        scoring.score_dirichlet_mirex(matched, qstats, coll_len, sm.DIR_MU)
        .withColumn("model", F.lit("LMdi")),
        scoring.score_bm25(matched, n_docs, avg_len, BM25_K1, BM25_B)
        .withColumn("model", F.lit("BM25")),
    ]
    allm = functools.reduce(DataFrame.unionByName, outs)
    allm = allm.withColumn("score", F.round("score", 6))
    return rank.topk(allm, k=TOP_K, qid_col=["model", "qid"]).select(
        "model", "qid", "docno", "score", F.col("rank").cast("int").alias("rank")
    )


@register("eval_f1_utility", f"""
WITH {SQL_RUN_DIRICHLET}, {SQL_QRELS},
judged AS (
  SELECT r.qid, r.docno,
         CASE WHEN q.docno IS NOT NULL THEN 1 ELSE 0 END AS is_rel
  FROM run r
  LEFT JOIN (SELECT DISTINCT qid, docno FROM qrels WHERE rel >= 1) q
    USING (qid, docno)
),
perq AS (
  SELECT qid, sum(is_rel) AS rel_ret, count(*) AS num_ret FROM judged
  GROUP BY qid
),
nr AS (SELECT qid, count(DISTINCT docno) AS num_rel FROM qrels
       WHERE rel >= 1 GROUP BY qid),
pr AS (
  SELECT p.qid,
         p.rel_ret::DOUBLE / p.num_ret AS precision,
         CASE WHEN coalesce(nr.num_rel, 0) > 0
              THEN p.rel_ret::DOUBLE / nr.num_rel ELSE 0 END AS recall,
         greatest(-100.0, 2.0 * p.rel_ret - p.num_ret) AS utility
  FROM perq p LEFT JOIN nr USING (qid)
)
SELECT qid,
       round(CASE WHEN precision + recall > 0
                  THEN 2 * precision * recall / (precision + recall)
                  ELSE 0 END, 6) AS f1,
       round(utility, 6) AS utility
FROM pr
""")
def q_eval_f1_utility(spark, sf_dir):
    """E3 + E4 over the Dirichlet run (recall denominator num_rel; missing
    qrels → recall 0 → F1 0, the Eval.java:82-111 degenerate-case rule)."""
    out = evaluate.f1_utility(*eval_inputs(spark, sf_dir))
    return out.select(
        "qid",
        F.round("f1", 6).alias("f1"),
        F.round("utility", 6).alias("utility"),
    )


KDE_SWEEP_ALPHAS = (0.1, 0.5, 0.9)


@register("kde_alpha_sweep", f"""
WITH {SQL_RUN_DIRICHLET}, {SQL_KDE},
alphas AS (SELECT CAST(a AS DOUBLE) AS alpha
           FROM (VALUES {", ".join(f"({a})" for a in KDE_SWEEP_ALPHAS)})
                AS g(a))
SELECT g.alpha, k.qid, k.docno,
       round(g.alpha * ln(greatest(k.dens, 1e-300))
             + (1 - g.alpha) * k.score, 6) AS score
FROM kdens k CROSS JOIN alphas g
""")
def q_kde_alpha_sweep(spark, sf_dir):
    """M9's alpha in {0.1..0.9} sweep (RunQueryKDEHBase.java:30) — the KDE
    density is evaluated once per query group, every α is a vectorized
    blend (same single-density-pass structure as the oracle SQL)."""
    run = dirichlet_topk(spark, sf_dir, k=TOP_K)
    # cache: each alpha pass re-reads the run (3x the retrieval pipeline
    # otherwise)
    run = run.withColumn("epoch", F.col("docno").cast("long")).cache()
    out = rerank.alpha_sweep(run, alphas=(0.1, 0.5, 0.9))
    return out.select(
        "alpha", "qid", "docno", F.round("score", 6).alias("score")
    )
