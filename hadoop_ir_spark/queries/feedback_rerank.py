"""Catalog entries for RM1/RM3 feedback (M10) and KDE rerank (M9).

RM1/RM3 are pure join+window+agg pipelines → full DuckDB oracles.
KDE rerank is a pandas-UDF stateful computation (the reference used an R
bridge) → registered without an oracle (driver records the rows-only
check), with the math unit-tested against numpy in tests/test_feedback.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_ir_spark.catalog import (
    QTERMS,
    SQL_RUN_DIRICHLET,
    TOP_K,
    _docs,
    _topics_df,
    _topics_values_sql,
    dirichlet_topk,
    register,
)
from hadoop_ir_spark.operators import feedback, rerank, stats

FB_DOCS = 10
FB_TERMS = 5
RM3_LAMBDA = 0.5

# RM1 on top of the Dirichlet run CTE. Mirrors operators/feedback.py step
# for step, incl. the max-score exp-normalization and the rounded-weight
# clip ordering.
SQL_RM1 = f"""
fbdocs AS (
  SELECT qid, docno,
         exp(score - max(score) OVER (PARTITION BY qid)) AS doc_w
  FROM run WHERE rank <= {FB_DOCS}
),
rm1_raw AS (
  SELECT f.qid, p.term,
         round(sum((p.tf::DOUBLE / d.doc_len) * f.doc_w), 9) AS weight
  FROM fbdocs f
  JOIN post p ON p.docno = f.docno
  JOIN dlen d ON d.docno = f.docno
  GROUP BY f.qid, p.term
),
rm1_clean AS (
  SELECT * FROM rm1_raw
  WHERE length(term) >= 3 AND NOT regexp_matches(term, '[0-9]')
),
rm1_clip AS (
  SELECT qid, term, weight,
         row_number() OVER (PARTITION BY qid
                            ORDER BY weight DESC, term DESC) AS rnk
  FROM rm1_clean
),
rm1 AS (
  SELECT qid, term,
         weight / sum(weight) OVER (PARTITION BY qid) AS weight
  FROM rm1_clip WHERE rnk <= {FB_TERMS}
)
"""


def _rm1_df(spark, sf_dir):
    run = dirichlet_topk(spark, sf_dir, k=TOP_K)
    docs = _docs(spark, sf_dir)
    post = stats.postings(docs, id_col="doc_id")
    # lengths from the run's cached scan: no second tokenize
    dlen = stats.scan_doc_lengths(
        stats.scan_stats(docs, QTERMS, id_col="doc_id"))
    return feedback.rm1(run, post, dlen, fb_docs=FB_DOCS, fb_terms=FB_TERMS)


@register("rm1_feedback", f"""
WITH {SQL_RUN_DIRICHLET}, {SQL_RM1}
SELECT qid, term, round(weight, 6) AS weight FROM rm1
""")
def q_rm1(spark, sf_dir):
    out = _rm1_df(spark, sf_dir)
    return out.withColumn("weight", F.round("weight", 6))


@register("rm3_feedback", f"""
WITH {SQL_RUN_DIRICHLET}, {SQL_RM1},
qv AS (
  SELECT qid, term,
         qweight / sum(qweight) OVER (PARTITION BY qid) AS q_w
  FROM {_topics_values_sql(weighted=True)}
),
merged AS (
  SELECT coalesce(q.qid, r.qid) AS qid,
         coalesce(q.term, r.term) AS term,
         {RM3_LAMBDA} * coalesce(q.q_w, 0) + (1 - {RM3_LAMBDA}) * coalesce(r.weight, 0) AS w
  FROM qv q FULL OUTER JOIN rm1 r ON q.qid = r.qid AND q.term = r.term
)
SELECT qid, term,
       round(w / sum(w) OVER (PARTITION BY qid), 6) AS weight
FROM merged
""")
def q_rm3(spark, sf_dir):
    rm1_w = _rm1_df(spark, sf_dir)
    topics = _topics_df(spark).withColumn("qweight", F.lit(1.0))
    out = feedback.rm3(rm1_w, topics, orig_lambda=RM3_LAMBDA)
    return out.withColumn("weight", F.round("weight", 6))


# --------------------------------------------------------------------------
# RM3 full sweep — fbDocs × fbTerms × λ (J3 on the feedback path;
# GenerateFeedbackQueriesHBase.java:56-59,306-329)
# --------------------------------------------------------------------------

SWEEP_FB_DOCS = [5, 10]
SWEEP_FB_TERMS = [3, 5]
SWEEP_LAMBDA = [0.2, 0.5, 0.8]

_GD_SQL = ", ".join(f"({d})" for d in SWEEP_FB_DOCS)
_GT_SQL = ", ".join(f"({t})" for t in SWEEP_FB_TERMS)
_GL_SQL = ", ".join(f"({l})" for l in SWEEP_LAMBDA)


@register("rm3_sweep", f"""
WITH {SQL_RUN_DIRICHLET},
gd AS (SELECT fb_docs::INT AS fb_docs FROM (VALUES {_GD_SQL}) AS g(fb_docs)),
gt AS (SELECT fb_terms::INT AS fb_terms FROM (VALUES {_GT_SQL}) AS g(fb_terms)),
gl AS (SELECT lam::DOUBLE AS lam FROM (VALUES {_GL_SQL}) AS g(lam)),
fbdocs AS (
  SELECT qid, docno, rank,
         exp(score - max(score) OVER (PARTITION BY qid)) AS doc_w
  FROM run WHERE rank <= {max(SWEEP_FB_DOCS)}
),
contrib AS (
  SELECT f.qid, f.rank, p.term, (p.tf::DOUBLE / d.doc_len) * f.doc_w AS c
  FROM fbdocs f
  JOIN post p ON p.docno = f.docno
  JOIN dlen d ON d.docno = f.docno
),
rm1_raw AS (
  SELECT g.fb_docs, c.qid, c.term, round(sum(c.c), 9) AS weight
  FROM contrib c CROSS JOIN gd g
  WHERE c.rank <= g.fb_docs
  GROUP BY g.fb_docs, c.qid, c.term
),
rm1_clean AS (
  SELECT * FROM rm1_raw
  WHERE length(term) >= 3 AND NOT regexp_matches(term, '[0-9]')
),
rm1_clip AS (
  SELECT r.*, g.fb_terms,
         row_number() OVER (PARTITION BY r.fb_docs, g.fb_terms, r.qid
                            ORDER BY r.weight DESC, r.term DESC) AS rnk
  FROM rm1_clean r CROSS JOIN gt g
),
rm1g AS (
  SELECT fb_docs, fb_terms, qid, term,
         weight / sum(weight) OVER (PARTITION BY fb_docs, fb_terms, qid)
           AS weight
  FROM rm1_clip WHERE rnk <= fb_terms
),
qv AS (
  SELECT qid, term,
         qweight / sum(qweight) OVER (PARTITION BY qid) AS q_w
  FROM {_topics_values_sql(weighted=True)}
),
qvg AS (
  SELECT g.fb_docs, g2.fb_terms, q.qid, q.term, q.q_w
  FROM qv q CROSS JOIN gd g CROSS JOIN gt g2
),
merged AS (
  SELECT coalesce(q.fb_docs, r.fb_docs) AS fb_docs,
         coalesce(q.fb_terms, r.fb_terms) AS fb_terms,
         coalesce(q.qid, r.qid) AS qid,
         coalesce(q.term, r.term) AS term,
         q.q_w, r.weight AS rm1_w
  FROM qvg q FULL OUTER JOIN rm1g r
    ON q.fb_docs = r.fb_docs AND q.fb_terms = r.fb_terms
   AND q.qid = r.qid AND q.term = r.term
),
lamd AS (
  SELECT m.fb_docs, m.fb_terms, g.lam, m.qid, m.term,
         g.lam * coalesce(m.q_w, 0) + (1 - g.lam) * coalesce(m.rm1_w, 0) AS w
  FROM merged m CROSS JOIN gl g
)
SELECT fb_docs, fb_terms, lam, qid, term,
       round(w / sum(w) OVER (PARTITION BY fb_docs, fb_terms, lam, qid), 6)
         AS weight
FROM lamd
""")
def q_rm3_sweep(spark, sf_dir):
    """The reference's full feedback grid search — fbDocs × fbTerms × λ —
    with the heavy joins amortized: one postings pass (rm1_sweep), one
    vocabulary-union join (rm3_sweep); every grid dimension is a broadcast
    crossJoin over already-aggregated tiny frames."""
    run = dirichlet_topk(spark, sf_dir, k=TOP_K)
    docs = _docs(spark, sf_dir)
    post = stats.postings(docs, id_col="doc_id")
    # lengths from the run's cached scan: no second tokenize
    dlen = stats.scan_doc_lengths(
        stats.scan_stats(docs, QTERMS, id_col="doc_id"))
    rm1_grid = feedback.rm1_sweep(run, post, dlen,
                                  SWEEP_FB_DOCS, SWEEP_FB_TERMS)
    topics = _topics_df(spark).withColumn("qweight", F.lit(1.0))
    out = feedback.rm3_sweep(rm1_grid, topics, SWEEP_FB_DOCS,
                             SWEEP_FB_TERMS, SWEEP_LAMBDA)
    return out.withColumn("weight", F.round("weight", 6))


# --------------------------------------------------------------------------
# M9 — KDE temporal rerank (pandas UDF) with a full SQL oracle: the
# Sheather-Jones-dpi weighted Gaussian KDE (rerank.gaussian_kde_weighted)
# is SQL-expressible — the SJ pair functionals SD(a)/TD(b) are a per-qid
# self-join aggregate (exactly like the density itself), unweighted
# sd/IQR are stddev_samp + quantile_cont (type-7, same as numpy
# percentile), the Silverman FALLBACK's weighted IQR quantiles are a
# cumulative-weight window scan (np.searchsorted side='left' ≡ first x in
# ascending order with cum_w >= q), and the density is a per-qid
# self-join aggregate over the top-k rows. Run scores are rounded to 6
# decimals on both sides before the KDE, so inputs are byte-identical;
# summation-order fp noise is absorbed by the final round(. , 6).
# Fractional constants are injected as Python float reprs so DuckDB
# computes with the same doubles as numpy (literal-only arithmetic would
# be DECIMAL — the documented trap).
# --------------------------------------------------------------------------

_M17 = repr(-1.0 / 7)   # exponent in a = 0.920·scale·n^(-1/7)
_M19 = repr(-1.0 / 9)   # exponent in b = 0.912·scale·n^(-1/9)
_P17 = repr(1.0 / 7)    # outer (…)^(1/7)

# CTE chain on top of `run`: ends in kdens(qid, docno, score, dens).
SQL_KDE = f"""
kw AS (
  SELECT qid, docno, score, CAST(docno AS DOUBLE) AS x,
         exp(score - max(score) OVER (PARTITION BY qid)) AS w0
  FROM run
),
kwn AS (
  SELECT qid, docno, score, x,
         w0 / sum(w0) OVER (PARTITION BY qid) AS w
  FROM kw
),
kmom AS (
  SELECT qid, sum(x * w) AS mean_x, sum(w * w) AS sumw2
  FROM kwn GROUP BY qid
),
ksd AS (
  SELECT k.qid,
         sqrt(greatest(sum((k.x - m.mean_x) * (k.x - m.mean_x) * k.w),
                       1e-300)) AS sd,
         1.0 / any_value(m.sumw2) AS neff
  FROM kwn k JOIN kmom m ON m.qid = k.qid
  GROUP BY k.qid
),
kcum AS (
  SELECT qid, x,
         sum(w) OVER (PARTITION BY qid ORDER BY x
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
  FROM kwn
),
kq AS (
  SELECT qid,
         min(CASE WHEN cw >= 0.25 THEN x END) AS q25,
         min(CASE WHEN cw >= 0.75 THEN x END) AS q75
  FROM kcum GROUP BY qid
),
kstat AS (
  SELECT qid, CAST(count(*) AS DOUBLE) AS n,
         stddev_samp(x) AS sd_u,
         quantile_cont(x, 0.75) - quantile_cont(x, 0.25) AS iqr_u
  FROM kwn GROUP BY qid
),
kab AS (
  SELECT qid, n,
         0.920 * scale * pow(n, {_M17}) AS ba,
         0.912 * scale * pow(n, {_M19}) AS bb
  FROM (SELECT qid, n,
               CASE WHEN iqr_u > 0 THEN least(sd_u, iqr_u / 1.349)
                    ELSE sd_u END AS scale
        FROM kstat)
  WHERE n >= 2 AND scale > 0
),
kpair AS (
  SELECT p.qid,
         sum((pow((p.x - q.x) / t.ba, 4) - 6 * pow((p.x - q.x) / t.ba, 2)
              + 3) * exp(-0.5 * pow((p.x - q.x) / t.ba, 2))) AS s4,
         sum((pow((p.x - q.x) / t.bb, 6) - 15 * pow((p.x - q.x) / t.bb, 4)
              + 45 * pow((p.x - q.x) / t.bb, 2) - 15)
             * exp(-0.5 * pow((p.x - q.x) / t.bb, 2))) AS s6
  FROM kwn p JOIN kwn q ON q.qid = p.qid JOIN kab t ON t.qid = p.qid
  GROUP BY p.qid
),
ksj AS (
  SELECT t.qid,
         pow(1.0 / (4 * pi()), 0.1)
         * pow(1.357 * (s4 / (t.n * (t.n - 1) * pow(t.ba, 5)
                              * sqrt(2 * pi())))
               / (-s6 / (t.n * (t.n - 1) * pow(t.bb, 7) * sqrt(2 * pi()))),
               {_P17})
         * pow(t.n, -0.2) AS h_sj
  FROM kab t JOIN kpair r ON r.qid = t.qid
  WHERE s4 > 0 AND -s6 > 0
),
kh AS (
  SELECT s.qid,
         coalesce(
           j.h_sj,
           0.9 * greatest(
             CASE WHEN (q.q75 - q.q25) > 0
                  THEN least(s.sd, (q.q75 - q.q25) / 1.349)
                  ELSE s.sd END,
             1e-12) * pow(s.neff, -0.2)) AS h
  FROM ksd s JOIN kq q ON q.qid = s.qid
  LEFT JOIN ksj j ON j.qid = s.qid
),
kdens AS (
  SELECT a.qid, a.docno, a.score,
         sum(b.w * exp(-0.5 * ((a.x - b.x) / h.h) * ((a.x - b.x) / h.h)))
           / sqrt(2 * pi()) / h.h AS dens
  FROM kwn a
  JOIN kwn b ON b.qid = a.qid
  JOIN kh h ON h.qid = a.qid
  GROUP BY a.qid, a.docno, a.score, h.h
)
"""

KDE_ALPHA = 0.5


@register("kde_rerank", f"""
WITH {SQL_RUN_DIRICHLET}, {SQL_KDE}
SELECT qid, docno,
       round({KDE_ALPHA} * ln(greatest(dens, 1e-300))
             + (1 - {KDE_ALPHA}) * score, 6) AS score,
       CAST(docno AS BIGINT) AS epoch
FROM kdens
""")
def q_kde_rerank(spark, sf_dir):
    """Dirichlet run + synthetic deterministic epochs (epoch := docno as
    seconds — the synthetic documents table has no timestamp) → per-query
    score-weighted Gaussian-KDE temporal rescore at α=0.5."""
    run = dirichlet_topk(spark, sf_dir, k=TOP_K)
    run = run.withColumn("epoch", F.col("docno").cast("long"))
    out = rerank.kde_rescore(run, alpha=KDE_ALPHA)
    return out.select(
        "qid", "docno", F.round("score", 6).alias("score"), "epoch"
    )


# ---------------------------------------------------------------------------
# rocchio_expansion — VSM relevance feedback (the qrels-supervised
# counterpart to RM3's pseudo-relevance expansion)
# ---------------------------------------------------------------------------

ROCCHIO_ALPHA = 1.0
ROCCHIO_BETA = 0.75
ROCCHIO_K = 10

_RA = "CAST(1.0 AS DOUBLE)"
_RB = "CAST(0.75 AS DOUBLE)"


def _rocchio_oracle() -> str:
    from hadoop_ir_spark.catalog import SQL_QRELS, SQL_TOK, _topics_values_sql

    return f"""
WITH {SQL_TOK},
{SQL_QRELS},
rel AS (SELECT DISTINCT qid, docno FROM qrels WHERE rel >= 1),
nr AS (SELECT qid, count(*)::DOUBLE AS n FROM rel GROUP BY qid),
dnorm AS (
  SELECT docno, sqrt(sum((1.0 + ln(tf)) * (1.0 + ln(tf)))) AS dn
  FROM post GROUP BY docno
),
cent AS (
  SELECT r.qid, p.term, sum((1.0 + ln(p.tf)) / d.dn) AS s
  FROM rel r
  JOIN post p ON p.docno = r.docno
  JOIN dnorm d ON d.docno = r.docno
  GROUP BY 1, 2
),
qt AS (SELECT DISTINCT qid, term FROM {_topics_values_sql()}),
wts AS (
  SELECT coalesce(c.qid, q.qid) AS qid,
         coalesce(c.term, q.term) AS term,
         round({_RA} * (CASE WHEN q.term IS NOT NULL THEN 1.0 ELSE 0.0 END)
               + {_RB} * coalesce(c.s / n.n, 0.0), 6) AS weight
  FROM cent c
  FULL JOIN qt q ON q.qid = c.qid AND q.term = c.term
  LEFT JOIN nr n ON n.qid = coalesce(c.qid, q.qid)
),
ranked AS (
  SELECT qid, term, weight,
         row_number() OVER (PARTITION BY qid
                            ORDER BY weight DESC, term DESC) AS rank
  FROM wts
)
SELECT qid, term, weight, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {ROCCHIO_K}
"""


@register("rocchio_expansion", _rocchio_oracle())
def q_rocchio_expansion(spark, sf_dir):
    """Rocchio query expansion (SMART; Rocchio 1971): expanded weight =
    alpha*q_t + beta*centroid_t, with the centroid the mean of the
    relevant documents' lnc-normalized vectors (qrels rel >= 1 — true
    relevance feedback, vs RM3's top-k pseudo feedback). Top ROCCHIO_K
    expansion terms per query.

    Scale shape: the centroid is one groupBy(qid, term) over postings of
    relevant docs (|R| x doc-vocab rows); doc norms reuse the full
    postings aggregate; the per-qid |R| counts and query terms are
    broadcast. No windows except the final per-qid clip."""
    from hadoop_ir_spark.catalog import qrels_df
    from hadoop_ir_spark.operators import rank as rankops
    from hadoop_ir_spark.operators import scoring

    docs = _docs(spark, sf_dir)
    post = stats.postings(docs, id_col="doc_id").cache()
    dnorm = scoring.doc_norms_lnc(post)
    rel = (qrels_df(spark, sf_dir)
           .filter(F.col("rel") >= 1)
           .select("qid", "docno").distinct())
    nr = rel.groupBy("qid").agg(F.count("*").cast("double").alias("n"))
    cent = (
        rel.join(post, "docno")
        .join(dnorm, "docno")
        .groupBy("qid", "term")
        .agg(F.sum((F.lit(1.0) + F.log("tf")) / F.col("dn")).alias("s"))
    )
    qt = _topics_df(spark).distinct().withColumn("_in_q", F.lit(1.0))
    wts = (
        cent.join(qt, ["qid", "term"], "full")
        .join(F.broadcast(nr), "qid", "left")
        .select(
            "qid", "term",
            F.round(
                F.lit(ROCCHIO_ALPHA) * F.coalesce("_in_q", F.lit(0.0))
                + F.lit(ROCCHIO_BETA)
                * F.coalesce(F.col("s") / F.col("n"), F.lit(0.0)),
                6,
            ).alias("weight"),
        )
    )
    out = rankops.topk(wts, k=ROCCHIO_K, qid_col="qid",
                       score_col="weight", docno_col="term")
    return out.select("qid", "term", "weight",
                      F.col("rank").cast("int").alias("rank"))


# ---------------------------------------------------------------------------
# mmr_rerank — Maximal Marginal Relevance diversification of the run
# ---------------------------------------------------------------------------

MMR_LAMBDA = 0.7


def _mmr_oracle() -> str:
    from hadoop_ir_spark.catalog import sql_run_dirichlet

    lam, om = MMR_LAMBDA, 1.0 - MMR_LAMBDA
    cte = [
        # lnc doc-pair cosines among run docs (both directions)
        """dnorm AS MATERIALIZED (
  SELECT docno, sqrt(sum((1.0 + ln(tf)) * (1.0 + ln(tf)))) AS dn
  FROM post GROUP BY docno)""",
        """rdocs AS MATERIALIZED (SELECT DISTINCT qid, docno FROM run)""",
        """pairsim AS MATERIALIZED (
  SELECT ra.qid, ra.docno AS a, rb.docno AS b,
         sum((1.0 + ln(pa.tf)) * (1.0 + ln(pb.tf)))
           / (max(da.dn) * max(db.dn)) AS sim
  FROM rdocs ra
  JOIN rdocs rb ON rb.qid = ra.qid AND rb.docno <> ra.docno
  JOIN post pa ON pa.docno = ra.docno
  JOIN post pb ON pb.docno = rb.docno AND pb.term = pa.term
  JOIN dnorm da ON da.docno = ra.docno
  JOIN dnorm db ON db.docno = rb.docno
  GROUP BY 1, 2, 3)""",
        """mm AS MATERIALIZED (SELECT qid, min(score) AS mn, max(score) AS mx
  FROM run GROUP BY qid)""",
        """sc AS MATERIALIZED (
  SELECT r.qid, r.docno,
         CASE WHEN m.mx > m.mn THEN (r.score - m.mn) / (m.mx - m.mn)
              ELSE 1.0 END AS sn
  FROM run r JOIN mm m ON m.qid = r.qid)""",
        f"""p1 AS (
  SELECT qid, docno, round({lam!r} * sn, 6) AS mmr, 1 AS rank FROM (
    SELECT qid, docno, sn,
           row_number() OVER (PARTITION BY qid
                              ORDER BY sn DESC, docno DESC) AS rn
    FROM sc) WHERE rn = 1)""",
        "picks1 AS (SELECT * FROM p1)",
    ]
    from hadoop_ir_spark.catalog import TOP_K as K
    for k in range(2, K + 1):
        cte.append(f"""p{k} AS (
  SELECT qid, docno, round(mmrv, 6) AS mmr, {k} AS rank FROM (
    SELECT s.qid, s.docno,
           {lam!r} * s.sn - {om!r} * coalesce(mx.ms, 0.0) AS mmrv,
           row_number() OVER (
             PARTITION BY s.qid
             ORDER BY {lam!r} * s.sn - {om!r} * coalesce(mx.ms, 0.0) DESC,
                      s.docno DESC) AS rn
    FROM sc s
    LEFT JOIN (SELECT si.qid, si.a AS docno, max(si.sim) AS ms
               FROM pairsim si
               JOIN picks{k-1} p ON p.qid = si.qid AND p.docno = si.b
               GROUP BY 1, 2) mx
      ON mx.qid = s.qid AND mx.docno = s.docno
    WHERE NOT EXISTS (SELECT 1 FROM picks{k-1} p
                      WHERE p.qid = s.qid AND p.docno = s.docno)
  ) WHERE rn = 1)""")
        cte.append(f"picks{k} AS MATERIALIZED (SELECT * FROM picks{k-1}"
                   f" UNION ALL SELECT * FROM p{k})")
    return (f"WITH {sql_run_dirichlet(10)},\n" + ",\n".join(cte)
            + f"\nSELECT qid, docno, mmr, CAST(rank AS INT) AS rank"
              f" FROM picks{K}")


@register("mmr_rerank", _mmr_oracle())
def q_mmr_rerank(spark, sf_dir):
    """Maximal Marginal Relevance diversification (Carbonell & Goldstein,
    SIGIR'98): greedily reorder the Dirichlet top-k so each pick
    maximizes lambda*rel_norm - (1-lambda)*max-sim-to-picked, with doc
    similarity = lnc cosine over full-vocabulary vectors.

    Scale shape: relevance scores and the <= k^2 per-query doc-pair
    cosines are computed as Spark expressions (the pair join is
    restricted to run docs — k^2 rows per query, corpus-independent);
    the k-step greedy argmax is a JVM `aggregate` fold over the per-qid
    candidate array (k <= 10 bounds the state) — no Python boundary
    anywhere in the plan (r13)."""
    from hadoop_ir_spark.catalog import _docs, dirichlet_topk
    from hadoop_ir_spark.operators import scoring as scoringops
    from hadoop_ir_spark.operators import stats as statsops

    lam, om = MMR_LAMBDA, 1.0 - MMR_LAMBDA
    docs = _docs(spark, sf_dir)
    run = dirichlet_topk(spark, sf_dir, k=10).localCheckpoint()
    rdocs = run.select("qid", "docno").distinct()
    # r13 (guide §2.3): restrict the CORPUS to the <= k·|q| run docs
    # BEFORE tokenizing — the pair cosines and norms only ever read run
    # docs' postings, so the old full-corpus (docno, term) aggregate +
    # full-corpus lnc norms did corpus-scale work to use ~40 rows of it.
    # Norms are per-doc functions of that doc's own tf vector, so
    # restricting first is exact.
    rdocs_ids = rdocs.select("docno").distinct()
    docs_r = docs.join(F.broadcast(rdocs_ids),
                       docs["doc_id"] == rdocs_ids["docno"], "left_semi")
    post = statsops.postings(docs_r, id_col="doc_id")
    dnorm = scoringops.doc_norms_lnc(post)
    # postings fanned out to (qid, docno) run pairs for the pair join
    rp = (post.join(F.broadcast(rdocs), "docno")
          .join(dnorm, "docno")
          .select("qid", "docno", "term", "tf", "dn"))
    a, b = rp.alias("a"), rp.alias("b")
    sims = (
        a.join(b, (F.col("a.qid") == F.col("b.qid"))
               & (F.col("a.term") == F.col("b.term"))
               & (F.col("a.docno") != F.col("b.docno")))
        .groupBy(F.col("a.qid").alias("qid"),
                 F.col("a.docno").alias("da"),
                 F.col("b.docno").alias("db"))
        .agg((F.sum((F.lit(1.0) + F.log("a.tf"))
                    * (F.lit(1.0) + F.log("b.tf")))
              / (F.max("a.dn") * F.max("b.dn"))).alias("sim"))
    )

    # r13 (guide §4, VERDICT r12 #8): the k-step greedy selection runs
    # as ONE JVM `aggregate` expression over the per-qid candidate
    # array instead of a cogrouped applyInPandas — the Python boundary
    # (two-sided Arrow cogroup shuffle + per-group worker calls) is
    # gone from the plan. Same arithmetic: sn = (score-mn)/(mx-mn)
    # (1.0 on a constant group), v = lam*sn - om*max(sim to picked)
    # with the (v, docno) tie-break, round(v, 6) at output — strict
    # oracle confirms bit-equality. `best` is bound once per step via
    # the 1-element-transform let (the winnow._let idiom), so the
    # argmax array is not re-evaluated per field reference.
    mmx = run.groupBy("qid").agg(F.min("score").alias("mn"),
                                 F.max("score").alias("mx"))
    sc = run.join(F.broadcast(mmx), "qid").select(
        "qid", "docno",
        F.when(F.col("mx") > F.col("mn"),
               (F.col("score") - F.col("mn"))
               / (F.col("mx") - F.col("mn")))
        .otherwise(F.lit(1.0)).alias("sn"))
    cands_arr = sc.groupBy("qid").agg(
        F.collect_list(F.struct("docno", "sn")).alias("cands"))
    sims_map = sims.groupBy("qid").agg(
        F.map_from_entries(F.collect_list(F.struct(
            F.concat_ws(":", "da", "db").alias("k"),
            F.col("sim").alias("v")))).alias("smap"))
    joined = (cands_arr.join(sims_map, "qid", "left")
              .withColumn("smap", F.coalesce(
                  "smap", F.expr("cast(map() as map<string,double>)"))))
    greedy = f"""
aggregate(
  sequence(1, size(cands)),
  struct(cast(array() as array<bigint>) as picked,
         cast(array() as array<struct<docno:bigint,mmr:double>>) as rows),
  (acc, step) -> element_at(transform(array(
      array_max(transform(
        filter(cands, c -> NOT array_contains(acc.picked, c.docno)),
        c -> struct(
          CAST({lam!r} AS DOUBLE) * c.sn
          - CAST({om!r} AS DOUBLE) * coalesce(
              array_max(transform(acc.picked,
                p -> coalesce(smap[concat(c.docno, ':', p)],
                              CAST(0.0 AS DOUBLE)))),
              CAST(0.0 AS DOUBLE)) AS v,
          c.docno AS docno)))),
    best -> struct(
      acc.picked || array(best.docno) AS picked,
      acc.rows || array(struct(best.docno AS docno,
                               round(best.v, 6) AS mmr)) AS rows)), 1))
"""
    return (
        joined.select("qid", F.expr(greedy).alias("_st"))
        .select("qid", F.posexplode("_st.rows").alias("_pos", "_r"))
        .select("qid", F.col("_r.docno").alias("docno"),
                F.col("_r.mmr").alias("mmr"),
                (F.col("_pos") + 1).cast("int").alias("rank"))
    )
