"""Retrieval scoring models (SURVEY.md §2.7, M1-M8) as Column expressions.

Every model is one ``groupBy(qid, docno).agg(sum(expr))`` — no UDFs, fully
whole-stage-codegen'd. Two semantic families, faithfully reproduced:

- **MIREX family (M1-M4)** — TrecRunBaselines.java:139-222: only documents
  containing query terms can score; a missing term zeroes the score (M1),
  contributes nothing (M2, M4), or contributes its tf=0 smoothed value
  (M3, recovered algebraically — see ``score_dirichlet_mirex``). Query
  terms with cf<=0 are dropped at query-parse time (:129-131), so M1's
  all-terms-required count and M3's missing-term sum run over cf>0 terms.
- **GSLIS family (M5-M8)** — RunQueryHBase.java:183-245: *every* document
  gets a score; a missing query term still contributes its smoothed
  background probability (tf=0 term).

Scale design: the naive reference plan emits |docs|x|queries| rows from
every mapper. Here the heavy side (postings) is joined to the broadcast
query-term table first, so only matching (docno, term) rows survive; the
GSLIS "missing term still scores" semantics is recovered algebraically by
splitting each model into  matched-term delta + per-query constant +
per-doc length term  (see ``score_gslis``), which turns the doc x query
cross product into a cheap crossJoin of per-doc lengths with a tiny
per-query constants table — no q x d x term blowup, no extra shuffle.
Only the two-stage model (M7) is non-separable and uses the explicit
qterm x doc frame.

All scores that the reference computes as raw probability products (M1) are
returned in log space — the ranking is identical (log is monotone) and it
avoids the underflow the reference suffers on long queries; documented here
for the parity check.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# frame builders
# --------------------------------------------------------------------------

def matched_terms(post: DataFrame, topics: DataFrame,
                  doc_len: DataFrame | None = None,
                  stats: DataFrame | None = None) -> DataFrame:
    """Join postings to the (broadcast) query-term table.

    ``topics`` columns: qid, term, and optionally qtf / qweight / df / cf.
    Output: one row per (qid, docno, term) with tf and whatever query-side
    and stats-side columns exist. This is J1 (the reference's
    DistributedCache map-side join, TrecRun.java:140-149) as a broadcast
    hash join — the 100 TB postings side never shuffles.
    """
    out = post.join(F.broadcast(topics), "term")
    if stats is not None:
        out = out.join(F.broadcast(stats), "term", "left")
    if doc_len is not None:
        out = out.join(doc_len, "docno")
    return out


# --------------------------------------------------------------------------
# MIREX family (TrecRunBaselines.java) — matched terms only
# --------------------------------------------------------------------------

def score_lm_no_smoothing(matched: DataFrame, qstats: DataFrame) -> DataFrame:
    """M1 (LMno, TrecRunBaselines.java:148-159): query likelihood with no
    smoothing and a doc-length prior; zero (dropped) unless the document
    contains *every* query term. Log-space:
    ``sum(qtf * ln(tf/len)) + ln(len)``.

    ``qstats`` must carry cf: the reference drops query terms with cf<=0
    at parse time (:129-131), so the all-terms-required count runs over
    corpus-present terms only — a query with one corpus-absent term still
    scores documents on its remaining terms.
    """
    n_q = (
        qstats.filter(F.col("cf") > 0)
        .groupBy("qid").agg(F.countDistinct("term").alias("n_qterms"))
    )
    scored = (
        matched.groupBy("qid", "docno")
        .agg(
            F.sum(F.col("qtf") * F.log(F.col("tf") / F.col("doc_len"))).alias("_s"),
            F.first("doc_len").alias("_len"),
            F.countDistinct("term").alias("_nmatch"),
        )
        .join(F.broadcast(n_q), "qid")
        .filter(F.col("_nmatch") == F.col("n_qterms"))
    )
    return scored.select(
        "qid", "docno", (F.col("_s") + F.log(F.col("_len"))).alias("score")
    )


def score_jm_mirex(matched: DataFrame, coll_len: float,
                   lambda_: float = 0.15) -> DataFrame:
    """M2 (LMs, TrecRunBaselines.java:168-180): Jelinek-Mercer in MIREX
    form: ``sum(qtf * ln(1 + tf*C*lambda / (cf*len*(1-lambda)))) + ln(len)``,
    emitted only when positive.
    """
    expr = F.col("qtf") * F.log(
        1.0
        + (F.col("tf") * F.lit(float(coll_len)) * F.lit(lambda_))
        / (F.col("cf") * F.col("doc_len") * F.lit(1.0 - lambda_))
    )
    scored = (
        matched.filter(F.col("cf") > 0)
        .groupBy("qid", "docno")
        .agg((F.sum(expr) + F.log(F.first("doc_len"))).alias("score"))
    )
    return scored.filter(F.col("score") > 0)


def score_dirichlet_mirex(matched: DataFrame, qstats: DataFrame,
                          coll_len: float, mu: float = 2500.0) -> DataFrame:
    """M3 (LMdi, TrecRunBaselines.java:210-220): Dirichlet in MIREX form,
    full reference semantics:

    - EVERY query term contributes, matched or not — a missing term scores
      tf=0, i.e. ``qtf*(ln(mu) - ln(len+mu))``. Recovered algebraically as
      matched-delta + (sum qtf)*(ln(mu) - ln(len+mu)) so only matched rows
      are materialized; a document with zero matched terms is all-negative
      and can never survive the clamp, so the matched frame suffices.
    - ``C/cf`` is Java LONG division (globalCollLength and TermInfo.cf are
      both Long, :81-82,218) — reproduced with integer ``div``.
    - Non-positive totals are clamped to 0 and never emitted (:219).
    - Query terms with cf<=0 were dropped at parse (:129-131): the qtf sum
      covers cf>0 terms only.
    """
    cdiv = F.expr(f"cast({int(coll_len)} as bigint) div cf")
    delta = F.col("qtf") * (
        F.log(F.col("tf") * cdiv + F.lit(mu)) - F.log(F.lit(mu))
    )
    qsum = (
        qstats.filter(F.col("cf") > 0)
        .groupBy("qid").agg(F.sum("qtf").alias("qtf_sum"))
    )
    scored = (
        matched.filter(F.col("cf") > 0)
        .groupBy("qid", "docno")
        .agg(F.sum(delta).alias("_msum"), F.first("doc_len").alias("_len"))
        .join(F.broadcast(qsum), "qid")
        .select(
            "qid", "docno",
            (
                F.col("_msum")
                + F.col("qtf_sum")
                * (F.log(F.lit(mu)) - F.log(F.col("_len") + F.lit(mu)))
            ).alias("score"),
        )
    )
    return scored.filter(F.col("score") > 0)


def score_bm25(matched: DataFrame, n_docs: float, avg_len: float,
               k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """M4 (BM25, TrecRunBaselines.java:190-201), k1=1.2 b=0.75 defaults
    (:268). ``K = k1*((1-b) + b*len/avglen)``; idf uses the
    ``ln((N-df+0.5)/(df+0.5))`` form.
    """
    K = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("doc_len") / F.lit(float(avg_len)))
    expr = (
        F.col("qtf")
        * ((F.lit(k1 + 1.0) * F.col("tf")) / (K + F.col("tf")))
        * F.log((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    )
    return matched.groupBy("qid", "docno").agg(F.sum(expr).alias("score"))


# --------------------------------------------------------------------------
# GSLIS family (RunQueryHBase.java:183-245) — every doc scores
# --------------------------------------------------------------------------

def _coll_prob(cf_col: Column, coll_len: float) -> Column:
    """Background model p(t|C) with the reference's cf floor of 1
    (ClueWebRunQueries.java:150-156: absent terms get cf=1)."""
    return F.greatest(cf_col, F.lit(1)).cast("double") / F.lit(float(coll_len))


def score_gslis(matched: DataFrame, qstats: DataFrame, doc_len: DataFrame,
                coll_len: float, model: str = "dirichlet",
                mu: float = 2500.0, lambda_: float = 0.5) -> DataFrame:
    """M5 (dirichlet), M6 (jm), M8 (cross_entropy) with full GSLIS
    semantics: every document receives a score; missing query terms
    contribute their background probability.

    Algebraic split (scale-critical — avoids materializing q x d x term):

    - M5:  ``sum_t qw*ln((tf+mu*cp)/(len+mu))``
           = sum_matched qw*[ln(tf+mu*cp) - ln(mu*cp)]
           + sum_q qw*ln(mu*cp)  -  (sum_q qw)*ln(len+mu)
    - M6:  ``sum_t qw*ln((1-l)tf/len + l*cp)``
           = sum_matched qw*[ln((1-l)tf/len + l*cp) - ln(l*cp)]
           + sum_q qw*ln(l*cp)          (no per-doc length term)
    - M8:  ``sum_t (qf/qlen)*ln(dirichlet_p / cp)``  — same split as M5
           with weights normalized by query length and the ln(cp) removed:
           constant term collapses to  W*ln(mu)  (RunQueryHBase.java:226-245).

    ``qstats``: (qid, term, qweight, cf) — query terms with collection
    frequency. ``matched`` must carry qweight, cf, tf, doc_len.
    """
    cl = float(coll_len)
    cp_m = _coll_prob(F.col("cf"), cl)

    if model == "dirichlet":
        delta = F.col("qweight") * (
            F.log(F.col("tf") + F.lit(mu) * cp_m) - F.log(F.lit(mu) * cp_m)
        )
    elif model == "jm":
        delta = F.col("qweight") * (
            F.log(
                F.lit(1.0 - lambda_) * F.col("tf") / F.col("doc_len")
                + F.lit(lambda_) * cp_m
            )
            - F.log(F.lit(lambda_) * cp_m)
        )
    elif model == "cross_entropy":
        delta = F.col("qnorm") * (
            F.log(F.col("tf") + F.lit(mu) * cp_m) - F.log(F.lit(mu) * cp_m)
        )
    else:
        raise ValueError(f"unknown GSLIS model {model!r}")

    match_sum = matched.groupBy("qid", "docno").agg(F.sum(delta).alias("msum"))

    cp_q = _coll_prob(F.col("cf"), cl)
    if model == "dirichlet":
        qconst = qstats.groupBy("qid").agg(
            F.sum(F.col("qweight") * F.log(F.lit(mu) * cp_q)).alias("qconst"),
            F.sum("qweight").alias("wsum"),
        )
        len_term = -F.col("wsum") * F.log(F.col("doc_len") + F.lit(mu))
    elif model == "jm":
        qconst = qstats.groupBy("qid").agg(
            F.sum(F.col("qweight") * F.log(F.lit(lambda_) * cp_q)).alias("qconst"),
            F.sum("qweight").alias("wsum"),
        )
        len_term = F.lit(0.0)
    else:  # cross_entropy: weights are qf / query_len
        qconst = qstats.groupBy("qid").agg(
            (F.sum("qnorm") * F.log(F.lit(mu))).alias("qconst"),
            F.sum("qnorm").alias("wsum"),
        )
        len_term = -F.col("wsum") * F.log(F.col("doc_len") + F.lit(mu))

    # every (doc, query) pair: tiny per-query constants table cross-joined
    # onto per-doc lengths (broadcast nested loop, no shuffle), then the
    # matched deltas patched in with a left join. The join is pinned to a
    # shuffled hash join building on match_sum (already partitioned by its
    # keys; no sort): unpinned, AQE turned it into a broadcast join only
    # when match_sum's stage happened to finish before the frame's shuffle
    # was submitted, so one call ran 15 or 16 jobs on the same input.
    frame = doc_len.crossJoin(F.broadcast(qconst))
    out = frame.join(match_sum.hint("shuffle_hash"), ["qid", "docno"], "left").select(
        "qid",
        "docno",
        (
            F.coalesce(F.col("msum"), F.lit(0.0))
            + F.col("qconst")
            + len_term
        ).alias("score"),
    )
    return out


def score_two_stage(qstats: DataFrame, post: DataFrame, doc_len: DataFrame,
                    coll_len: float, mu: float = 2500.0,
                    lambda_: float = 0.5) -> DataFrame:
    """M7 (RunQueryHBase.java:212-224):
    ``sum_t qw*ln((1-l)*(tf+mu*cp)/(len+mu) + l*cp)``.

    Non-separable (the missing-term contribution depends on doc length), so
    this one materializes the qterm x doc frame explicitly: per-doc lengths
    cross-joined with the broadcast query-term table, then tf patched in.
    Row count = n_docs * total_query_terms — the same work the reference's
    mapper does for every document (RunQueryHBase.java:76-113).
    """
    cl = float(coll_len)
    frame = doc_len.crossJoin(F.broadcast(qstats.select("qid", "term", "qweight", "cf")))
    frame = frame.join(post, ["docno", "term"], "left").fillna({"tf": 0})
    cp = _coll_prob(F.col("cf"), cl)
    expr = F.col("qweight") * F.log(
        F.lit(1.0 - lambda_) * (F.col("tf") + F.lit(mu) * cp) / (F.col("doc_len") + F.lit(mu))
        + F.lit(lambda_) * cp
    )
    return frame.groupBy("qid", "docno").agg(F.sum(expr).alias("score"))


# --------------------------------------------------------------------------
# Beyond-reference scoring models: the reference sweeps JM / Dirichlet /
# two-stage (RunQueryHBase.java:46) — absolute discounting completes the
# classic smoothing trio; PL2 and VSM cover the DFR and vector-space
# families a retrieval library is expected to ship.
# --------------------------------------------------------------------------

def score_abs_discount(qstats: DataFrame, post: DataFrame,
                       doc_len: DataFrame, u_len: DataFrame,
                       coll_len: float, delta: float = 0.7) -> DataFrame:
    """Absolute-discounting LM smoothing (Zhai & Lafferty, SIGIR'01,
    the delta method):

    ``p(t|d) = max(tf - delta, 0)/|d| + delta*|d_u|/|d| * p(t|C)``

    with |d_u| = number of DISTINCT terms in d. Non-separable (the
    missing-term mass depends on both |d| and |d_u|), so like M7 it
    materializes the qterm x doc frame explicitly: per-doc lengths
    cross-joined with the broadcast query-term table, tf patched in.
    """
    cl = float(coll_len)
    frame = (
        doc_len.join(u_len, "docno")
        .crossJoin(F.broadcast(qstats.select("qid", "term", "qweight", "cf")))
        .join(post, ["docno", "term"], "left")
        .fillna({"tf": 0})
    )
    cp = _coll_prob(F.col("cf"), cl)
    expr = F.col("qweight") * F.log(
        F.greatest(F.col("tf") - F.lit(delta), F.lit(0.0)) / F.col("doc_len")
        + F.lit(delta) * F.col("u_len") / F.col("doc_len") * cp
    )
    return frame.groupBy("qid", "docno").agg(F.sum(expr).alias("score"))


# constants pinned as Python floats so Spark and the SQL mirror evaluate
# byte-identical doubles (literal-only arithmetic parses as DECIMAL)
INV_LN2 = 1.0 / 0.6931471805599453   # 1/ln(2)
TWO_PI = 6.283185307179586


def score_pl2(matched: DataFrame, n_docs: float, avg_len: float,
              c: float = 1.0) -> DataFrame:
    """PL2 divergence-from-randomness model (Amati & van Rijsbergen,
    TOIS'02): Poisson randomness, Laplace aftereffect, normalization 2.

    ``tfn = tf * log2(1 + c*avglen/len)``;  ``lambda = cf/N``;
    ``score_t = qtf/(tfn+1) * (tfn*log2(tfn/lambda)
                 + (lambda - tfn)*log2(e) + 0.5*log2(2*pi*tfn))``

    Matched-terms only (tfn > 0 required); ``matched`` carries tf,
    doc_len, cf.
    """
    tfn = (F.col("tf")
           * F.log(F.lit(1.0) + F.lit(float(c) * float(avg_len)) / F.col("doc_len"))
           * F.lit(INV_LN2))
    lam = F.col("cf") / F.lit(float(n_docs))
    expr = (F.col("qtf") / (tfn + F.lit(1.0))) * (
        tfn * F.log(tfn / lam) * F.lit(INV_LN2)
        + (lam - tfn) * F.lit(INV_LN2)
        + F.lit(0.5) * F.log(F.lit(TWO_PI) * tfn) * F.lit(INV_LN2)
    )
    return matched.groupBy("qid", "docno").agg(F.sum(expr).alias("score"))


def doc_norms_lnc(post: DataFrame) -> DataFrame:
    """Per-document lnc cosine norm over the FULL vocabulary:
    ``dn = sqrt(sum_t (1 + ln tf)^2)`` — one groupBy(docno) over the
    postings (the engine's one heavy shuffle; at 100 TB this is the
    same aggregation that builds doc lengths)."""
    w = F.lit(1.0) + F.log(F.col("tf"))
    return post.groupBy("docno").agg(F.sqrt(F.sum(w * w)).alias("dn"))


def score_vsm_lnc_ltc(matched: DataFrame, dnorm: DataFrame,
                      qnorm: DataFrame) -> DataFrame:
    """SMART lnc.ltc vector-space cosine (Salton & Buckley, IPM'88):
    doc side l-n-c (log tf, no idf, cosine norm), query side l-t-c
    (log tf = 1 for qtf=1, idf = ln(N/df), cosine norm).

    ``score = sum_t (1+ln tf) * qw / (dn * qn)``

    ``matched`` carries tf and the query-side ltc weight ``qw`` per
    (qid, docno, term); dnorm/qnorm are the precomputed cosine norms
    (doc side from the FULL vocabulary, query side a per-qid scalar,
    broadcast).
    """
    num = (F.lit(1.0) + F.log(F.col("tf"))) * F.col("qw")
    return (
        matched.join(dnorm, "docno")
        .join(F.broadcast(qnorm), "qid")
        .groupBy("qid", "docno")
        .agg((F.sum(num) / (F.max("dn") * F.max("qn"))).alias("score"))
    )
