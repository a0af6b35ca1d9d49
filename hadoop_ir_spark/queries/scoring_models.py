"""Catalog entries for the full scoring library (SURVEY.md §2.7, M1-M8) and
the J3 parameter-grid sweep.

Every query returns a ranked run (qid[, param], docno, score, rank) at
depth TOP_K with the K3 tie-break, scores rounded to 6 places on both the
Spark and oracle sides so fp summation order cannot flip ranks.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_ir_spark.catalog import (
    QTERMS,
    SQL_TOK,
    TOP_K,
    _docs,
    _topics_df,
    _topics_values_sql,
    register,
)
from hadoop_ir_spark.operators import rank, scoring, stats

JM_LAMBDA = 0.15      # M2 MIREX default (TrecRunBaselines.java sweep midpoint)
DIR_MU = 2500.0       # M3/M7/M8 (TrecRunBaselines.java:265, RunQueryHBase.java:46)
GSLIS_LAMBDA = 0.5    # M6/M7
MU_GRID = [500.0, 1000.0, 2500.0]  # J3 sweep (subset of RunQueryHBase.java:46)

# Shared oracle prelude: query terms + per-term cf/df + doc lengths + globals.
SQL_SCORING = f"""
{SQL_TOK},
coll AS (SELECT sum(tf) AS coll_len FROM post),
topics AS (SELECT DISTINCT qid, term FROM {_topics_values_sql()}),
tstats AS (SELECT term, count(*) AS df, sum(tf) AS cf FROM post GROUP BY term),
matched AS (
  SELECT t.qid, p.docno, p.term, p.tf, d.doc_len, s.df, s.cf
  FROM post p
  JOIN topics t USING (term)
  JOIN tstats s ON s.term = p.term
  JOIN dlen d ON d.docno = p.docno
)
"""

SQL_RANK = f"""
ranked AS (
  SELECT qid, docno, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, docno DESC) AS rank
  FROM scored
)
SELECT qid, docno, score, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= {TOP_K}
"""


def _prep(spark, sf_dir, with_weights: bool = False):
    """Shared Spark-side inputs: query-term postings, doc lengths, stats.

    r12 optimization: the scalar-globals collect gathers coll_len AND
    n_docs in one job (``scan_doc_lengths`` already drops empty docs,
    so count(*) == the old filtered count), replacing the second
    full-corpus aggregate pass the BM25-family queries used to pay
    (guide §1.2: remove unnecessary passes).

    r13: ONE cached tokenize pass (``stats.scan_stats``) serves the
    length prior and the query-term postings — separate scans tokenized
    the corpus up to three times, since post's two consumers (tstats +
    the matched join) cannot share an exchange (column pruning defeats
    reuse). The globals collect below materializes the scan cache."""
    docs = _docs(spark, sf_dir)
    scan = stats.scan_stats(docs, QTERMS, id_col="doc_id").cache()
    dlen = stats.scan_doc_lengths(scan)
    post = stats.scan_postings(scan)
    tstats = post.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("cf")
    )
    topics = _topics_df(spark)
    if with_weights:
        topics = topics.withColumn("qweight", F.lit(1.0))
    else:
        topics = topics.withColumn("qtf", F.lit(1))
    glob = dlen.agg(F.sum("doc_len").alias("n_tokens"),
                    F.count("*").alias("n_docs")).collect()[0]
    return _Prep(docs, dlen, post, tstats, topics,
                 glob["n_tokens"], glob["n_docs"])


class _Prep(tuple):
    """6-tuple-compatible result of ``_prep`` (docs, dlen, post, tstats,
    topics, coll_len) that also carries the globals gathered in the same
    collect: ``n_docs`` and ``avg_len``."""

    def __new__(cls, docs, dlen, post, tstats, topics, coll_len, n_docs):
        self = super().__new__(cls, (docs, dlen, post, tstats, topics,
                                     coll_len))
        self.n_docs = n_docs
        # guard n_docs == 0 (ADVICE r12): an empty / all-empty-doc corpus
        # must not raise inside _prep for the many consumers that never
        # read avg_len; the two that do get 0.0 on a corpus with no
        # scoreable documents (their matched frame is empty anyway)
        self.avg_len = coll_len / n_docs if n_docs else 0.0
        return self


def _finish(scored, k: int = TOP_K):
    scored = scored.withColumn("score", F.round("score", 6))
    return rank.topk(scored, k=k).select(
        "qid", "docno", "score", F.col("rank").cast("int").alias("rank")
    )


# --------------------------------------------------------------------------
# M1 — LM no smoothing + length prior (log space; all-terms-required)
# --------------------------------------------------------------------------

@register("lm_no_smoothing_topk", f"""
WITH {SQL_SCORING},
nq AS (SELECT t.qid, count(DISTINCT t.term) AS n_qterms
       FROM topics t JOIN tstats s USING (term)
       WHERE s.cf > 0 GROUP BY t.qid),
scored AS (
  SELECT m.qid, m.docno,
         round(sum(ln(m.tf::DOUBLE / m.doc_len)) + ln(min(m.doc_len)), 6) AS score
  FROM matched m
  GROUP BY m.qid, m.docno
  HAVING count(DISTINCT m.term) = (SELECT n_qterms FROM nq WHERE nq.qid = m.qid)
),
{SQL_RANK}
""")
def q_lm_no_smoothing(spark, sf_dir):
    _, dlen, post, tstats, topics, _ = _prep(spark, sf_dir)
    qstats = topics.join(
        tstats.select("term", "cf"), "term", "left"
    ).fillna({"cf": 0})
    matched = scoring.matched_terms(post, topics, doc_len=dlen)
    return _finish(scoring.score_lm_no_smoothing(matched, qstats))


# --------------------------------------------------------------------------
# M2 — Jelinek-Mercer, MIREX form (positive scores only)
# --------------------------------------------------------------------------

@register("jm_mirex_topk", f"""
WITH {SQL_SCORING},
scored AS (
  SELECT qid, docno,
         round(sum(ln(1 + (tf * (SELECT coll_len FROM coll) * {JM_LAMBDA})
                        / (cf * doc_len * (1 - {JM_LAMBDA}))))
               + ln(min(doc_len)), 6) AS score
  FROM matched WHERE cf > 0
  GROUP BY qid, docno
  HAVING sum(ln(1 + (tf * (SELECT coll_len FROM coll) * {JM_LAMBDA})
                   / (cf * doc_len * (1 - {JM_LAMBDA})))) + ln(min(doc_len)) > 0
),
{SQL_RANK}
""")
def q_jm_mirex(spark, sf_dir):
    _, dlen, post, tstats, topics, coll_len = _prep(spark, sf_dir)
    matched = scoring.matched_terms(post, topics, doc_len=dlen, stats=tstats)
    return _finish(scoring.score_jm_mirex(matched, coll_len, JM_LAMBDA))


# --------------------------------------------------------------------------
# M2/J3 — the reference's in-mapper λ sweep for LMs
# (TrecRunBaselines.java:262-266: lambda = 0.1, 0.3, 0.5, 0.7, 0.9)
# --------------------------------------------------------------------------

LMS_LAMBDA_GRID = [0.1, 0.3, 0.5, 0.7, 0.9]
_LMS_GRID_SQL = ", ".join(f"({l})" for l in LMS_LAMBDA_GRID)


@register("lms_lambda_sweep", f"""
WITH {SQL_SCORING},
grid AS (SELECT lam::DOUBLE AS lam FROM (VALUES {_LMS_GRID_SQL}) AS g(lam)),
scored AS (
  SELECT g.lam, m.qid, m.docno,
         round(sum(ln(1 + (m.tf * (SELECT coll_len FROM coll) * g.lam)
                        / (m.cf * m.doc_len * (1 - g.lam))))
               + ln(min(m.doc_len)), 6) AS score
  FROM matched m CROSS JOIN grid g
  WHERE m.cf > 0
  GROUP BY g.lam, m.qid, m.docno
  HAVING sum(ln(1 + (m.tf * (SELECT coll_len FROM coll) * g.lam)
                  / (m.cf * m.doc_len * (1 - g.lam)))) + ln(min(m.doc_len)) > 0
),
ranked AS (
  SELECT lam, qid, docno, score,
         row_number() OVER (PARTITION BY lam, qid
                            ORDER BY score DESC, docno DESC) AS rank
  FROM scored
)
SELECT lam, qid, docno, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {TOP_K}
""")
def q_lms_lambda_sweep(spark, sf_dir):
    """The TrecRunBaselines mapper's λ loop as a J3 grid: λ sits inside
    the log, so the grid crossJoins the MATCHED frame (query-matched rows
    only — the same per-λ work the reference's mapper does, the postings
    join still runs once) before one aggregation over (λ, qid, docno)."""
    _, dlen, post, tstats, topics, coll_len = _prep(spark, sf_dir)
    matched = scoring.matched_terms(post, topics, doc_len=dlen, stats=tstats)
    grid = spark.createDataFrame([(l,) for l in LMS_LAMBDA_GRID], "lam double")
    mg = matched.filter(F.col("cf") > 0).crossJoin(F.broadcast(grid))
    expr = F.col("qtf") * F.log(
        1.0
        + (F.col("tf") * F.lit(float(coll_len)) * F.col("lam"))
        / (F.col("cf") * F.col("doc_len") * (F.lit(1.0) - F.col("lam")))
    )
    scored = (
        mg.groupBy("lam", "qid", "docno")
        .agg((F.sum(expr) + F.log(F.first("doc_len"))).alias("score"))
        .filter(F.col("score") > 0)
        .withColumn("score", F.round("score", 6))
    )
    return rank.topk(scored, k=TOP_K, qid_col=["lam", "qid"]).select(
        "lam", "qid", "docno", "score", F.col("rank").cast("int").alias("rank")
    )


# --------------------------------------------------------------------------
# M3 — Dirichlet, MIREX form (every query term scores; tf=0 for missing;
#      long-division C/cf; positive totals only)
# --------------------------------------------------------------------------

SQL_LMDI_SCORED = f"""
qsum AS (SELECT t.qid, CAST(count(*) AS BIGINT) AS qtf_sum
         FROM topics t JOIN tstats s USING (term)
         WHERE s.cf > 0 GROUP BY t.qid),
scored AS (
  SELECT m.qid, m.docno,
         round(sum(ln(m.tf * ((SELECT coll_len FROM coll) // m.cf) + {DIR_MU})
                   - ln({DIR_MU}))
               + min(q.qtf_sum) * (ln({DIR_MU}) - ln(min(m.doc_len) + {DIR_MU})),
               6) AS score
  FROM matched m JOIN qsum q USING (qid)
  WHERE m.cf > 0
  GROUP BY m.qid, m.docno
  HAVING sum(ln(m.tf * ((SELECT coll_len FROM coll) // m.cf) + {DIR_MU})
             - ln({DIR_MU}))
         + min(q.qtf_sum) * (ln({DIR_MU}) - ln(min(m.doc_len) + {DIR_MU})) > 0
)"""


@register("dirichlet_mirex_topk", f"""
WITH {SQL_SCORING},
{SQL_LMDI_SCORED},
{SQL_RANK}
""")
def q_dirichlet_mirex(spark, sf_dir):
    _, dlen, post, tstats, topics, coll_len = _prep(spark, sf_dir)
    qstats = topics.join(
        tstats.select("term", "cf"), "term", "left"
    ).fillna({"cf": 0})
    matched = scoring.matched_terms(post, topics, doc_len=dlen, stats=tstats)
    return _finish(
        scoring.score_dirichlet_mirex(matched, qstats, coll_len, DIR_MU)
    )


# --------------------------------------------------------------------------
# M6 — GSLIS Jelinek-Mercer (every doc scores; missing terms smooth)
# --------------------------------------------------------------------------

SQL_GSLIS_FRAME = f"""
{SQL_TOK},
coll AS (SELECT sum(tf) AS coll_len FROM post),
topics AS (SELECT * FROM {_topics_values_sql(weighted=True)}),
qstats AS (
  SELECT t.qid, t.term, t.qweight, coalesce(s.cf, 0) AS cf
  FROM topics t
  LEFT JOIN (SELECT term, sum(tf) AS cf FROM post GROUP BY term) s USING (term)
),
frame AS (
  SELECT q.qid, d.docno, d.doc_len, q.qweight,
         greatest(q.cf, 1)::DOUBLE / (SELECT coll_len FROM coll) AS cp,
         coalesce(p.tf, 0) AS tf
  FROM dlen d
  CROSS JOIN qstats q
  LEFT JOIN post p ON p.docno = d.docno AND p.term = q.term
)
"""


@register("jm_gslis_topk", f"""
WITH {SQL_GSLIS_FRAME},
scored AS (
  SELECT qid, docno,
         round(sum(qweight * ln((1 - {GSLIS_LAMBDA}) * tf / doc_len
                                + {GSLIS_LAMBDA} * cp)), 6) AS score
  FROM frame GROUP BY qid, docno
),
{SQL_RANK}
""")
def q_jm_gslis(spark, sf_dir):
    return jm_gslis_topk(spark, sf_dir)


def jm_gslis_topk(spark, sf_dir, k: int = TOP_K):
    """M6 JM-GSLIS run at a chosen depth (shared with run-comparison)."""
    _, dlen, post, tstats, topics, coll_len = _prep(spark, sf_dir, with_weights=True)
    qstats = topics.join(
        tstats.select("term", "cf"), "term", "left"
    ).fillna({"cf": 0})
    matched = scoring.matched_terms(post, qstats, doc_len=dlen)
    scored = scoring.score_gslis(matched, qstats, dlen, coll_len,
                                 model="jm", lambda_=GSLIS_LAMBDA)
    return _finish(scored, k=k)


# --------------------------------------------------------------------------
# M7 — two-stage smoothing (non-separable: explicit q x d frame)
# --------------------------------------------------------------------------

@register("two_stage_topk", f"""
WITH {SQL_GSLIS_FRAME},
scored AS (
  SELECT qid, docno,
         round(sum(qweight * ln((1 - {GSLIS_LAMBDA}) * (tf + {DIR_MU} * cp)
                                  / (doc_len + {DIR_MU})
                                + {GSLIS_LAMBDA} * cp)), 6) AS score
  FROM frame GROUP BY qid, docno
),
{SQL_RANK}
""")
def q_two_stage(spark, sf_dir):
    _, dlen, post, tstats, topics, coll_len = _prep(spark, sf_dir, with_weights=True)
    qstats = topics.join(
        tstats.select("term", "cf"), "term", "left"
    ).fillna({"cf": 0})
    scored = scoring.score_two_stage(qstats, post, dlen, coll_len,
                                     mu=DIR_MU, lambda_=GSLIS_LAMBDA)
    return _finish(scored)


# --------------------------------------------------------------------------
# M8 — cross-entropy (qnorm = qtf / |q|)
# --------------------------------------------------------------------------

@register("cross_entropy_topk", f"""
WITH {SQL_GSLIS_FRAME},
qlen AS (SELECT qid, count(*) AS n FROM qstats GROUP BY qid),
scored AS (
  SELECT f.qid, f.docno,
         round(sum((1.0 / ql.n) * (ln((f.tf + {DIR_MU} * f.cp) / (f.doc_len + {DIR_MU}))
                                   - ln(f.cp))), 6) AS score
  FROM frame f JOIN qlen ql ON ql.qid = f.qid
  GROUP BY f.qid, f.docno
),
{SQL_RANK}
""")
def q_cross_entropy(spark, sf_dir):
    _, dlen, post, tstats, topics, coll_len = _prep(spark, sf_dir, with_weights=True)
    qstats = topics.join(
        tstats.select("term", "cf"), "term", "left"
    ).fillna({"cf": 0})
    qn = qstats.groupBy("qid").agg((1.0 / F.count("*")).alias("qnorm"))
    qstats = qstats.join(F.broadcast(qn), "qid")
    matched = scoring.matched_terms(post, qstats, doc_len=dlen)
    scored = scoring.score_gslis(matched, qstats, dlen, coll_len,
                                 model="cross_entropy", mu=DIR_MU)
    return _finish(scored)


# --------------------------------------------------------------------------
# J3 — Dirichlet mu-sweep: param grid crossJoin, top-k per (mu, qid)
# --------------------------------------------------------------------------

_MU_VALUES = ", ".join(f"({m})" for m in MU_GRID)


@register("dirichlet_mu_sweep", f"""
WITH {SQL_GSLIS_FRAME},
grid AS (SELECT * FROM (VALUES {_MU_VALUES}) AS g(mu)),
scored AS (
  SELECT g.mu, f.qid, f.docno,
         round(sum(f.qweight * ln((f.tf + g.mu * f.cp) / (f.doc_len + g.mu))), 6) AS score
  FROM frame f CROSS JOIN grid g
  GROUP BY g.mu, f.qid, f.docno
),
ranked AS (
  SELECT mu, qid, docno, score,
         row_number() OVER (PARTITION BY mu, qid ORDER BY score DESC, docno DESC) AS rank
  FROM scored
)
SELECT mu, qid, docno, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {TOP_K}
""")
def q_dirichlet_mu_sweep(spark, sf_dir):
    """J3 (RunQueryHBase.java:82-87): the sweep grid is a tiny broadcast
    crossJoin applied AFTER the per-(qid,docno) matched aggregation — the
    heavy postings join runs once, not once per mu."""
    _, dlen, post, tstats, topics, coll_len = _prep(spark, sf_dir, with_weights=True)
    qstats = topics.join(
        tstats.select("term", "cf"), "term", "left"
    ).fillna({"cf": 0})
    cl = float(coll_len)
    grid = spark.createDataFrame([(m,) for m in MU_GRID], "mu double")

    cp = F.greatest(F.col("cf"), F.lit(1)).cast("double") / F.lit(cl)
    matched = scoring.matched_terms(post, qstats, doc_len=dlen)
    # delta per (mu, qid, docno): ln(tf + mu*cp) - ln(mu*cp)
    mg = matched.crossJoin(F.broadcast(grid))
    delta = F.col("qweight") * (
        F.log(F.col("tf") + F.col("mu") * cp) - F.log(F.col("mu") * cp)
    )
    msum = mg.groupBy("mu", "qid", "docno").agg(F.sum(delta).alias("msum"))

    qconst = (
        qstats.crossJoin(F.broadcast(grid))
        .groupBy("mu", "qid")
        .agg(
            F.sum(F.col("qweight") * F.log(F.col("mu") * cp)).alias("qconst"),
            F.sum("qweight").alias("wsum"),
        )
    )
    frame = dlen.crossJoin(F.broadcast(qconst))
    scored = frame.join(msum, ["mu", "qid", "docno"], "left").select(
        "mu", "qid", "docno",
        F.round(
            F.coalesce(F.col("msum"), F.lit(0.0)) + F.col("qconst")
            - F.col("wsum") * F.log(F.col("doc_len") + F.col("mu")),
            6,
        ).alias("score"),
    )
    return rank.topk(scored, k=TOP_K, qid_col=["mu", "qid"]).select(
        "mu", "qid", "docno", "score", F.col("rank").cast("int").alias("rank")
    )


# --------------------------------------------------------------------------
# Beyond-reference models: absolute discounting completes the classic
# smoothing trio the reference sweeps (JM / Dirichlet / two-stage,
# RunQueryHBase.java:46); PL2 and VSM cover the DFR and vector-space
# families. Same run shape / tie-break / depth as M1-M8.
# --------------------------------------------------------------------------

AD_DELTA = 0.7   # absolute-discount delta (Zhai & Lafferty SIGIR'01 sweep mid)
C_PL2 = 1.0      # PL2 length-normalization c (Terrier default)

_AD = "CAST(0.7 AS DOUBLE)"  # force double (bare 0.7 parses as DECIMAL)


@register("abs_discount_topk", f"""
WITH {SQL_TOK},
coll AS (SELECT sum(tf) AS coll_len FROM post),
topics AS (SELECT * FROM {_topics_values_sql(weighted=True)}),
qstats AS (
  SELECT t.qid, t.term, t.qweight, coalesce(s.cf, 0) AS cf
  FROM topics t
  LEFT JOIN (SELECT term, sum(tf) AS cf FROM post GROUP BY term) s USING (term)
),
u AS (SELECT docno, count(*) AS u_len FROM post GROUP BY docno),
frame AS (
  SELECT q.qid, d.docno, d.doc_len, u.u_len, q.qweight,
         greatest(q.cf, 1)::DOUBLE / (SELECT coll_len FROM coll) AS cp,
         coalesce(p.tf, 0) AS tf
  FROM dlen d
  JOIN u USING (docno)
  CROSS JOIN qstats q
  LEFT JOIN post p ON p.docno = d.docno AND p.term = q.term
),
scored AS (
  SELECT qid, docno,
         round(sum(qweight * ln(greatest(tf - {_AD}, 0.0) / doc_len
                                + {_AD} * u_len / doc_len * cp)), 6) AS score
  FROM frame GROUP BY qid, docno
),
{SQL_RANK}
""")
def q_abs_discount(spark, sf_dir):
    from hadoop_ir_spark.functions.text import tokens_col

    docs = _docs(spark, sf_dir)
    scan = stats.scan_stats(docs, QTERMS, id_col="doc_id").cache()
    dlen = stats.scan_doc_lengths(scan)
    coll_len = dlen.agg(F.sum("doc_len")).collect()[0][0]
    post = stats.scan_postings(scan)
    tstats = post.groupBy("term").agg(F.sum("tf").alias("cf"))
    topics = _topics_df(spark).withColumn("qweight", F.lit(1.0))
    qstats = topics.join(tstats, "term", "left").fillna({"cf": 0})
    # |d_u| = distinct terms per doc: map-side over the token array —
    # no extra shuffle (equals count(*) over full-vocab postings)
    u_len = docs.select(
        F.col("doc_id").alias("docno"),
        F.size(F.array_distinct(tokens_col("text"))).alias("u_len"),
    )
    scored = scoring.score_abs_discount(qstats, post, dlen, u_len,
                                        coll_len, delta=AD_DELTA)
    return _finish(scored)


_INV = scoring.INV_LN2
_TFN = (f"(tf * ln(1.0 + ({C_PL2} * (SELECT avg_len FROM gstat)) / doc_len)"
        f" * {_INV!r})")
_LAM = "(cf::DOUBLE / (SELECT n_docs FROM gstat))"


@register("pl2_topk", f"""
WITH {SQL_TOK},
gstat AS (
  SELECT count(DISTINCT docno) AS n_docs,
         sum(tf)::DOUBLE / count(DISTINCT docno) AS avg_len
  FROM post
),
topics AS (SELECT DISTINCT qid, term FROM {_topics_values_sql()}),
tstats AS (SELECT term, sum(tf) AS cf FROM post GROUP BY term),
matched AS (
  SELECT t.qid, p.docno, p.tf, s.cf, d.doc_len
  FROM post p
  JOIN topics t USING (term)
  JOIN tstats s ON s.term = p.term
  JOIN dlen d ON d.docno = p.docno
),
scored AS (
  SELECT qid, docno,
         round(sum(
           (1 / ({_TFN} + 1.0)) * (
             {_TFN} * ln({_TFN} / {_LAM}) * {_INV!r}
             + ({_LAM} - {_TFN}) * {_INV!r}
             + 0.5 * ln({scoring.TWO_PI!r} * {_TFN}) * {_INV!r}
           )
         ), 6) AS score
  FROM matched GROUP BY qid, docno
),
{SQL_RANK}
""")
def q_pl2(spark, sf_dir):
    prep = _prep(spark, sf_dir)
    _, dlen, post, tstats, topics, coll_len = prep
    n_docs, avg_len = prep.n_docs, prep.avg_len
    matched = scoring.matched_terms(
        post, topics.select("qid", "term", "qtf"),
        doc_len=dlen, stats=tstats.select("term", "cf"))
    scored = scoring.score_pl2(matched, n_docs, avg_len, c=C_PL2)
    return _finish(scored)


@register("vsm_cosine_topk", f"""
WITH {SQL_TOK},
gstat AS (SELECT count(DISTINCT docno) AS n_docs FROM post),
dnorm AS (
  SELECT docno, sqrt(sum((1.0 + ln(tf)) * (1.0 + ln(tf)))) AS dn
  FROM post GROUP BY docno
),
topics AS (SELECT DISTINCT qid, term FROM {_topics_values_sql()}),
tstats AS (SELECT term, count(*) AS df FROM post GROUP BY term),
qws AS (
  SELECT t.qid, t.term,
         ln(((SELECT n_docs FROM gstat) + 1)::DOUBLE / s.df) AS qw
  FROM topics t JOIN tstats s USING (term)
),
qnorm AS (SELECT qid, sqrt(sum(qw * qw)) AS qn FROM qws GROUP BY qid),
matched AS (
  SELECT q.qid, p.docno, p.tf, q.qw FROM post p JOIN qws q ON q.term = p.term
),
scored AS (
  SELECT m.qid, m.docno,
         round(sum((1.0 + ln(m.tf)) * m.qw) / (max(d.dn) * max(n.qn)), 6)
           AS score
  FROM matched m
  JOIN dnorm d ON d.docno = m.docno
  JOIN qnorm n ON n.qid = m.qid
  GROUP BY m.qid, m.docno
),
{SQL_RANK}
""")
def q_vsm_cosine(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    scan = stats.scan_stats(docs, QTERMS, id_col="doc_id").cache()
    full_post = stats.postings(docs, id_col="doc_id")   # dnorm needs all terms
    n_docs = stats.scan_doc_lengths(scan).count()
    dnorm = scoring.doc_norms_lnc(full_post)
    qpost = stats.scan_postings(scan)
    tstats = qpost.groupBy("term").agg(F.count("*").alias("df"))
    topics = _topics_df(spark)
    # smoothed idf ln((N+1)/df): strictly positive even when every query
    # term reaches df = N (plausible here — the synthetic corpus has
    # df ~ N for query terms), where the unsmoothed ln(N/df) would make
    # qnorm 0 and degrade scores to NULL division with engine-dependent
    # ordering
    qws = topics.join(F.broadcast(tstats), "term").select(
        "qid", "term",
        F.log(F.lit(float(n_docs + 1)) / F.col("df")).alias("qw"),
    )
    qnorm = qws.groupBy("qid").agg(
        F.sqrt(F.sum(F.col("qw") * F.col("qw"))).alias("qn"))
    matched = qpost.join(F.broadcast(qws), "term")
    scored = scoring.score_vsm_lnc_ltc(matched, dnorm, qnorm)
    return _finish(scored)
