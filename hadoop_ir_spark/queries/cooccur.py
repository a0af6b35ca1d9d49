"""Catalog entries for co-occurrence statistics (SURVEY.md §2.3, A7-A9)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_ir_spark.catalog import QTERMS, SQL_TOK, _docs, register
from hadoop_ir_spark.operators import cooccur, stats

# dts = distinct (docno, term) — the reference's per-doc HashSet; pairs /
# marginals / N all derive from it (TrecMutualInfo.java:131-166).
SQL_COOCCUR = f"""
{SQL_TOK},
dts AS (SELECT DISTINCT docno, term FROM tok WHERE term <> ''),
pairs AS (
  SELECT a.term AS w1, b.term AS w2, CAST(count(*) AS BIGINT) AS n_joint
  FROM dts a JOIN dts b USING (docno)
  WHERE a.term <> b.term
  GROUP BY 1, 2
),
marg AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM dts GROUP BY term),
nd AS (SELECT count(DISTINCT docno)::DOUBLE AS n FROM dts),
cells AS (
  SELECT p.w1, p.w2,
         (m1.df + 0.5)                      / (1 + nd.n) AS pX1,
         (nd.n - m1.df + 0.5)               / (1 + nd.n) AS pX0,
         (m2.df + 0.5)                      / (1 + nd.n) AS pY1,
         (nd.n - m2.df + 0.5)               / (1 + nd.n) AS pY0,
         (p.n_joint + 0.25)                 / (1 + nd.n) AS pX1Y1,
         (m1.df - p.n_joint + 0.25)         / (1 + nd.n) AS pX1Y0,
         (m2.df - p.n_joint + 0.25)         / (1 + nd.n) AS pX0Y1,
         (nd.n - m1.df - m2.df + p.n_joint + 0.25) / (1 + nd.n) AS pX0Y0
  FROM pairs p
  JOIN marg m1 ON m1.term = p.w1
  JOIN marg m2 ON m2.term = p.w2
  CROSS JOIN nd
)
"""


def _doc_terms(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return cooccur.doc_term_sets(stats.postings(docs, id_col="doc_id"))


@register("cooccur_pairs", f"""
WITH {SQL_TOK},
dts AS (SELECT DISTINCT docno, term FROM tok WHERE term <> '')
SELECT a.term AS w1, b.term AS w2, CAST(count(*) AS BIGINT) AS n_joint
FROM dts a JOIN dts b USING (docno)
WHERE a.term <> b.term
GROUP BY 1, 2
""")
def q_cooccur_pairs(spark, sf_dir):
    return cooccur.pair_counts(_doc_terms(spark, sf_dir))


@register("emim", f"""
WITH {SQL_COOCCUR}
SELECT w1, w2,
       round(  pX1Y1 * log2(pX1Y1 / (pX1 * pY1))
             + pX1Y0 * log2(pX1Y0 / (pX1 * pY0))
             + pX0Y1 * log2(pX0Y1 / (pX0 * pY1))
             + pX0Y0 * log2(pX0Y0 / (pX0 * pY0)), 6) AS emim
FROM cells
""")
def q_emim(spark, sf_dir):
    dts = _doc_terms(spark, sf_dir).cache()
    n_docs = dts.select("docno").distinct().count()
    pairs = cooccur.pair_counts(dts)
    marg = dts.groupBy("term").agg(F.count("*").alias("df"))
    out = cooccur.emim(pairs, marg, n_docs)
    return out.withColumn("emim", F.round("emim", 6))


@register("npmi", f"""
WITH {SQL_COOCCUR}
SELECT w1, w2,
       round( log2(pX1Y1 / (pX1 * pY1)) / (-log2(pX1Y1)), 6) AS npmi
FROM cells
""")
def q_npmi(spark, sf_dir):
    dts = _doc_terms(spark, sf_dir).cache()
    n_docs = dts.select("docno").distinct().count()
    pairs = cooccur.pair_counts(dts)
    marg = dts.groupBy("term").agg(F.count("*").alias("df"))
    out = cooccur.npmi(pairs, marg, n_docs)
    return out.withColumn("npmi", F.round("npmi", 6))


_QTERMS_IN = ", ".join(f"'{t}'" for t in QTERMS)


@register("query_pair_stats", f"""
WITH {SQL_TOK},
qp AS (
  SELECT docno, term AS qterm, tf AS qtf
  FROM post WHERE term IN ({_QTERMS_IN})
)
SELECT qp.qterm, p.term AS dterm,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(least(qp.qtf, p.tf)) AS BIGINT) AS sum_min_tf
FROM qp JOIN post p USING (docno)
GROUP BY 1, 2
""")
def q_query_pair_stats(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    post = stats.postings(docs, id_col="doc_id")
    return cooccur.query_pair_stats(post, QTERMS)


LLR_MIN_JOINT = 5


@register("collocations_llr", f"""
WITH {SQL_TOK},
dts AS (SELECT DISTINCT docno, term FROM tok WHERE term <> ''),
pairs AS (
  SELECT a.term AS w1, b.term AS w2, CAST(count(*) AS BIGINT) AS n_joint
  FROM dts a JOIN dts b USING (docno)
  WHERE a.term <> b.term
  GROUP BY 1, 2
  HAVING count(*) >= {LLR_MIN_JOINT}
),
marg AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM dts GROUP BY term),
nd AS (SELECT count(DISTINCT docno)::DOUBLE AS n FROM dts),
cnt AS (
  SELECT p.w1, p.w2, p.n_joint,
         p.n_joint::DOUBLE                       AS n11,
         (m1.df - p.n_joint)::DOUBLE             AS n12,
         (m2.df - p.n_joint)::DOUBLE             AS n21,
         nd.n - m1.df - m2.df + p.n_joint        AS n22,
         m1.df::DOUBLE AS r1, nd.n - m1.df AS r2,
         m2.df::DOUBLE AS c1, nd.n - m2.df AS c2,
         nd.n AS n
  FROM pairs p
  JOIN marg m1 ON m1.term = p.w1
  JOIN marg m2 ON m2.term = p.w2
  CROSS JOIN nd
)
SELECT w1, w2, n_joint,
       round(2.0 * (
           CASE WHEN n11 > 0 THEN n11 * ln(n11 * n / (r1 * c1)) ELSE 0 END
         + CASE WHEN n12 > 0 THEN n12 * ln(n12 * n / (r1 * c2)) ELSE 0 END
         + CASE WHEN n21 > 0 THEN n21 * ln(n21 * n / (r2 * c1)) ELSE 0 END
         + CASE WHEN n22 > 0 THEN n22 * ln(n22 * n / (r2 * c2)) ELSE 0 END
       ), 6) AS llr
FROM cnt
""")
def q_collocations_llr(spark, sf_dir):
    """Dunning G² collocations (min-support LLR_MIN_JOINT) — the
    raw-count companion to emim/npmi on the same pair frame."""
    dts = _doc_terms(spark, sf_dir).cache()
    n_docs = dts.select("docno").distinct().count()
    pairs = cooccur.pair_counts(dts)
    marg = dts.groupBy("term").agg(F.count("*").alias("df"))
    out = cooccur.llr(pairs, marg, n_docs, min_joint=LLR_MIN_JOINT)
    return out.withColumn("llr", F.round("llr", 6))


SKIPGRAM_WINDOW = 3
SKIPGRAM_MIN_PAIR = 5


def _register_skipgram():
    from hadoop_ir_spark.functions.text import tokens_col

    @register("skipgram_pmi", f"""
WITH toklist AS (
  SELECT doc_id AS docno,
         list_filter(string_split_regex(lower(text), '[^0-9a-zA-Z]+'),
                     t -> t <> '') AS toks
  FROM documents
),
words AS (
  SELECT docno, unnest(toks) AS term,
         unnest(range(1, len(toks) + 1)) AS ord
  FROM toklist
),
pr AS (
  SELECT a.term AS w1, b.term AS w2, CAST(count(*) AS BIGINT) AS n_pair
  FROM words a JOIN words b
    ON a.docno = b.docno
   AND b.ord > a.ord AND b.ord <= a.ord + {SKIPGRAM_WINDOW}
  GROUP BY 1, 2
),
tot AS (SELECT sum(n_pair)::DOUBLE AS t FROM pr),
m1 AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n1 FROM pr GROUP BY w1),
m2 AS (SELECT w2, CAST(sum(n_pair) AS BIGINT) AS n2 FROM pr GROUP BY w2)
SELECT p.w1, p.w2, p.n_pair,
       round(ln(p.n_pair::DOUBLE * (SELECT t FROM tot)
                / (m1.n1::DOUBLE * m2.n2::DOUBLE)), 6) AS pmi
FROM pr p
JOIN m1 ON m1.w1 = p.w1
JOIN m2 ON m2.w2 = p.w2
WHERE p.n_pair >= {SKIPGRAM_MIN_PAIR}
""")
    def q_skipgram_pmi(spark, sf_dir):
        """Skip-gram (forward window ±0/+W) positional PMI — the
        word2vec-context statistic next to the document-level A8/A9
        scores. The window expansion is an offset EXPLODE + equi-join on
        (docno, position): W× the token stream, never a per-document
        quadratic range probe — the only shape that survives book-length
        documents at 100 TB. Marginals are sums over the pair frame
        itself (consistent left/right context totals), broadcast back.
        """
        docs = _docs(spark, sf_dir)
        toks = docs.select(
            F.col("doc_id").alias("docno"),
            F.posexplode(tokens_col(F.col("text"))).alias("pos", "term"),
        ).cache()
        offsets = F.array(*[F.col("pos") + i
                            for i in range(1, SKIPGRAM_WINDOW + 1)])
        left = toks.select(
            "docno", F.col("term").alias("w1"),
            F.explode(offsets).alias("p2"),
        )
        right = toks.select(
            "docno", F.col("pos").alias("p2"), F.col("term").alias("w2")
        )
        pairs = (
            left.join(right, ["docno", "p2"])
            .groupBy("w1", "w2")
            .agg(F.count("*").alias("n_pair"))
            .cache()
        )
        total = pairs.agg(F.sum("n_pair")).collect()[0][0]
        m1 = pairs.groupBy("w1").agg(F.sum("n_pair").alias("n1"))
        m2 = pairs.groupBy("w2").agg(F.sum("n_pair").alias("n2"))
        out = (
            pairs.filter(F.col("n_pair") >= SKIPGRAM_MIN_PAIR)
            .join(F.broadcast(m1), "w1")
            .join(F.broadcast(m2), "w2")
        )
        return out.select(
            "w1", "w2", "n_pair",
            F.round(F.log(F.col("n_pair").cast("double") * F.lit(float(total))
                          / (F.col("n1").cast("double")
                             * F.col("n2").cast("double"))), 6).alias("pmi"),
        )

    return q_skipgram_pmi


_register_skipgram()
