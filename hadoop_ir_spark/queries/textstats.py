"""Catalog entries for the text-analysis operators (langid, quality,
token counts, fingerprints) with full DuckDB oracles."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hadoop_ir_spark.catalog import register
from hadoop_ir_spark.operators import textstats
from hadoop_ir_spark.operators.textstats import BPE_TOKEN_RE, STOPWORD_PROFILES

_PROF_VALUES = ", ".join(
    f"('{lang}', '{t}')"
    for lang, terms in STOPWORD_PROFILES.items() for t in terms
)
_EN_SW = ", ".join(f"'{w}'" for w in STOPWORD_PROFILES["en"])

SQL_TOKS = """
toklist AS (
  SELECT doc_id AS docno,
         list_filter(string_split_regex(lower(text), '[^0-9a-zA-Z]+'),
                     t -> t <> '') AS toks
  FROM documents
),
toks AS (SELECT docno, unnest(toks) AS term FROM toklist)
"""


def _docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


@register("langid", f"""
WITH {SQL_TOKS},
prof AS (SELECT * FROM (VALUES {_PROF_VALUES}) p(lang, term)),
nt AS (SELECT docno, count(*) AS n_tokens FROM toks GROUP BY docno),
hits AS (
  SELECT t.docno, p.lang, count(*) AS n_hits
  FROM toks t JOIN prof p USING (term) GROUP BY 1, 2
),
best AS (
  SELECT docno, lang, n_hits FROM (
    SELECT *, row_number() OVER (PARTITION BY docno
                                 ORDER BY n_hits DESC, lang ASC) AS rn
    FROM hits
  ) WHERE rn = 1
)
SELECT d.doc_id AS docno,
       coalesce(b.lang, 'und') AS lang_pred,
       round(coalesce(b.n_hits::DOUBLE / nt.n_tokens, 0), 6) AS lang_score
FROM documents d
LEFT JOIN best b ON b.docno = d.doc_id
LEFT JOIN nt ON nt.docno = d.doc_id
""")
def q_langid(spark, sf_dir):
    out = textstats.langid(_docs(spark, sf_dir), id_col="doc_id")
    return out.withColumn("lang_score", F.round("lang_score", 6))


# Raw per-doc quality metrics + composite score as a reusable CTE chain
# (consumed by quality_scores and the end-to-end curation_pipeline —
# identical arithmetic in both, so the pipeline's threshold cannot drift
# from the standalone query).
SQL_QUALITY_CTE = f"""
qbase AS (
  SELECT docno, toks, len(toks) AS n_tokens FROM toklist
),
qraw AS (
  SELECT b.docno,
         length(d.text) AS n_chars,
         b.n_tokens,
         CASE WHEN b.n_tokens > 0
              THEN list_sum(list_transform(b.toks, t -> length(t)))::DOUBLE
                   / b.n_tokens ELSE 0 END AS mean_token_len,
         CASE WHEN length(d.text) > 0
              THEN length(regexp_replace(d.text, '[^A-Za-z]', '', 'g'))::DOUBLE
                   / length(d.text) ELSE 0 END AS alpha_ratio,
         CASE WHEN length(d.text) > 0
              THEN length(regexp_replace(d.text,
                          '[A-Za-z0-9 \\t\\n\\r]', '', 'g'))::DOUBLE
                   / length(d.text) ELSE 0 END AS punct_ratio,
         CASE WHEN b.n_tokens > 0
              THEN len(list_filter(b.toks, t -> t IN ({_EN_SW})))::DOUBLE
                   / b.n_tokens ELSE 0 END AS stopword_ratio
  FROM qbase b JOIN documents d ON d.doc_id = b.docno
),
qual AS (
  SELECT *,
         greatest(0, least(1,
             0.4 * least(1, n_tokens / 64.0)
             + 0.3 * alpha_ratio
             + 0.3 * least(1, 4.0 * stopword_ratio)
             - 0.2 * least(1, 4.0 * punct_ratio))) AS quality
  FROM qraw
)"""


@register("quality_scores", f"""
WITH {SQL_TOKS},
{SQL_QUALITY_CTE}
SELECT docno, n_chars, n_tokens,
       round(mean_token_len, 6) AS mean_token_len,
       round(alpha_ratio, 6) AS alpha_ratio,
       round(punct_ratio, 6) AS punct_ratio,
       round(stopword_ratio, 6) AS stopword_ratio,
       round(quality, 6) AS quality
FROM qual
""")
def q_quality(spark, sf_dir):
    out = textstats.quality_scores(_docs(spark, sf_dir), id_col="doc_id")
    for c in ("mean_token_len", "alpha_ratio", "punct_ratio",
              "stopword_ratio", "quality"):
        out = out.withColumn(c, F.round(c, 6))
    return out


@register("token_counts", f"""
SELECT doc_id AS docno,
       len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))
         AS ws_tokens,
       len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS bpe_tokens,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS char_est_tokens
FROM documents
""")
def q_token_counts(spark, sf_dir):
    return textstats.token_counts(_docs(spark, sf_dir), id_col="doc_id")


@register("doc_fingerprints", """
WITH grams AS (
  SELECT doc_id AS docno,
         unnest([substr(text, i, 8)
                 for i in range(1, greatest(length(text) - 7, 1) + 1)]) AS gram
  FROM documents
)
SELECT docno,
       min(CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT)) AS fingerprint,
       count(DISTINCT gram) AS n_grams
FROM grams GROUP BY docno
""")
def q_doc_fingerprints(spark, sf_dir):
    return textstats.doc_fingerprints(_docs(spark, sf_dir), id_col="doc_id")


@register("doc_vectors", """
WITH tok AS (
  SELECT doc_id AS docno,
         unnest(string_split_regex(lower(text), '[^0-9a-zA-Z]+')) AS term
  FROM documents
),
post AS (
  SELECT docno, term, count(*) AS tf
  FROM tok WHERE term <> '' GROUP BY docno, term
)
SELECT docno,
       string_agg(term || ':' || tf, ' ' ORDER BY term) AS vector,
       CAST(sum(tf) AS BIGINT) AS doc_len
FROM post GROUP BY docno
""")
def q_doc_vectors(spark, sf_dir):
    """FeatureVector as a native map column; serialized term-sorted to a
    'term:tf ...' string for the cross-engine compare (DuckDB has no
    comparable MAP literal ordering)."""
    from hadoop_ir_spark.operators import stats as _stats

    post = _stats.postings(_docs(spark, sf_dir), id_col="doc_id")
    dv = _stats.doc_vectors(post)
    ser = F.array_join(
        F.transform(
            F.map_entries("vector"),
            lambda e: F.concat_ws(":", e["key"], e["value"].cast("string")),
        ),
        " ",
    )
    return dv.select("docno", ser.alias("vector"),
                     F.col("doc_len").cast("long").alias("doc_len"))


@register("doc_logprob", f"""
WITH {SQL_TOKS},
tf AS (SELECT docno, term, count(*) AS tf FROM toks GROUP BY 1, 2),
cf AS (SELECT term, sum(tf) AS cf FROM tf GROUP BY 1),
tot AS (SELECT CAST(sum(cf) AS DOUBLE) AS n_total FROM cf)
SELECT tf.docno,
       CAST(sum(tf.tf) AS BIGINT) AS doc_len,
       round(sum(tf.tf * ln(CAST(cf.cf AS DOUBLE) / tot.n_total))
             / sum(tf.tf), 6) AS avg_logprob
FROM tf JOIN cf USING (term) CROSS JOIN tot
GROUP BY tf.docno
""")
def q_doc_logprob(spark, sf_dir):
    out = textstats.doc_logprob(_docs(spark, sf_dir), id_col="doc_id")
    return out.withColumn("avg_logprob", F.round("avg_logprob", 6))


EMBED_DIM = 32
EMBED_QUERY_DOCS = (0, 1, 2)
EMBED_TOPK = 10

SQL_HASHED_W = f"""
tfh AS (SELECT docno, term, count(*) AS cnt FROM toks GROUP BY 1, 2),
hb AS (
  SELECT docno,
         CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT) % {EMBED_DIM}
           AS dim,
         CAST(sum(cnt) AS BIGINT) AS cnt
  FROM tfh GROUP BY 1, 2
),
nrm AS (SELECT docno, sqrt(sum(cnt * cnt)) AS n FROM hb GROUP BY 1),
w AS (
  SELECT hb.docno, hb.dim, hb.cnt / nrm.n AS weight
  FROM hb JOIN nrm USING (docno)
)"""


@register("hashed_embed", f"""
WITH {SQL_TOKS},
{SQL_HASHED_W}
SELECT docno, dim, round(weight, 6) AS weight FROM w
""")
def q_hashed_embed(spark, sf_dir):
    out = textstats.feature_hash_embed(_docs(spark, sf_dir),
                                       dim=EMBED_DIM, id_col="doc_id")
    return out.withColumn("weight", F.round("weight", 6))


@register("hashed_ann_topk", f"""
WITH {SQL_TOKS},
{SQL_HASHED_W},
qw AS (SELECT * FROM w WHERE docno IN {EMBED_QUERY_DOCS}),
s AS (
  SELECT qw.docno AS qid, w.docno AS docno, sum(qw.weight * w.weight) AS cos
  FROM qw JOIN w USING (dim) GROUP BY 1, 2
),
r AS (
  SELECT qid, docno, round(cos, 6) AS cosine,
         CAST(row_number() OVER (PARTITION BY qid
                                 ORDER BY round(cos, 6) DESC, docno DESC)
              AS INT) AS rank
  FROM s
)
SELECT qid, docno, cosine, rank FROM r WHERE rank <= {EMBED_TOPK}
""")
def q_hashed_ann_topk(spark, sf_dir):
    """Text-to-vector retrieval with no external embedder: feature-hash
    both sides, sparse dot product via a dim-keyed join (never a dense
    crossJoin), per-query top-k on the rounded cosine (K3 tie-break)."""
    from pyspark.sql import Window

    w = textstats.feature_hash_embed(_docs(spark, sf_dir),
                                     dim=EMBED_DIM, id_col="doc_id")
    qw = w.filter(F.col("docno").isin(*EMBED_QUERY_DOCS)).select(
        F.col("docno").alias("qid"), "dim",
        F.col("weight").alias("qweight"),
    )
    s = (
        w.join(F.broadcast(qw), "dim")
        .groupBy("qid", "docno")
        .agg(F.sum(F.col("qweight") * F.col("weight")).alias("cos"))
    )
    win = Window.partitionBy("qid").orderBy(
        F.round("cos", 6).desc(), F.col("docno").desc()
    )
    return (
        s.withColumn("rank", F.row_number().over(win).cast("int"))
        .filter(F.col("rank") <= EMBED_TOPK)
        .select("qid", "docno", F.round("cos", 6).alias("cosine"), "rank")
    )


TFIDF_TOPK = 5


@register("tfidf_topterms", f"""
WITH {SQL_TOKS},
tft AS (SELECT docno, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dft AS (SELECT term, count(*) AS df FROM tft GROUP BY 1),
ndt AS (SELECT count(DISTINCT docno) AS n_docs FROM tft),
sct AS (
  SELECT t.docno, t.term,
         t.tf * (ln((1.0 + n.n_docs) / (1.0 + d.df)) + 1.0) AS score
  FROM tft t JOIN dft d USING (term) CROSS JOIN ndt n
),
rkt AS (
  SELECT docno, term, round(score, 6) AS score,
         CAST(row_number() OVER (PARTITION BY docno
                                 ORDER BY round(score, 6) DESC, term ASC)
              AS INT) AS rank
  FROM sct
)
SELECT docno, term, score, rank FROM rkt WHERE rank <= {TFIDF_TOPK}
""")
def q_tfidf_topterms(spark, sf_dir):
    """Keyword extraction: per-doc top-{TFIDF_TOPK} terms by smoothed
    tf-idf. df table joins term-keyed (sort-merge at scale), n_docs is a
    1-row broadcast, the top-k window gets WindowGroupLimit (K1/K2)."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    toks = docs.select(F.col("doc_id").alias("docno"),
                       F.explode(F.split(F.lower("text"),
                                         "[^0-9a-zA-Z]+")).alias("term"))
    toks = toks.filter(F.col("term") != "")
    tf = toks.groupBy("docno", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    nd = tf.agg(F.countDistinct("docno").alias("n_docs"))
    sc = tf.join(df_, "term").crossJoin(F.broadcast(nd)).select(
        "docno", "term",
        (F.col("tf") * (F.log((1.0 + F.col("n_docs"))
                              / (1.0 + F.col("df"))) + 1.0)).alias("score"),
    )
    w = Window.partitionBy("docno").orderBy(
        F.round("score", 6).desc(), F.col("term").asc()
    )
    return (
        sc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TFIDF_TOPK)
        .select("docno", "term", F.round("score", 6).alias("score"), "rank")
    )


BIGRAM_K = 0.5


@register("bigram_logprob", f"""
WITH tl AS (
  SELECT doc_id AS docno,
         list_filter(string_split_regex(lower(text), '[^0-9a-zA-Z]+'),
                     t -> t <> '') AS l
  FROM documents
),
pos AS (
  SELECT docno, unnest(l) AS w, generate_subscripts(l, 1) AS i FROM tl
),
bg AS (
  SELECT a.docno, a.w AS w1, b.w AS w2
  FROM pos a JOIN pos b ON a.docno = b.docno AND b.i = a.i + 1
),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v FROM pos)
SELECT g.docno,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(sum(ln((c2.c2 + {BIGRAM_K}) / (c1.c1 + {BIGRAM_K} * v.v)))
             / count(*), 6) AS avg_bigram_lp
FROM bg g JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
GROUP BY g.docno
""")
def q_bigram_logprob(spark, sf_dir):
    """Self-trained add-k bigram LM perplexity signal (the second stage
    of a perplexity filter after doc_logprob's unigram pass)."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("docno"), "text"
    )
    out = textstats.bigram_logprob(docs, k=BIGRAM_K)
    return out.withColumn("avg_bigram_lp", F.round("avg_bigram_lp", 6))


BPE_MERGES = 10

_BPE_TOK_CTE = """tok AS (
  SELECT t AS term FROM (
    SELECT unnest(string_split_regex(lower(text), '[^0-9a-zA-Z]+')) AS t
    FROM documents
  ) WHERE t <> ''
)"""


def _register_bpe():
    from hadoop_ir_spark.operators import bpe

    @register("bpe_merges", bpe.bpe_oracle_sql(_BPE_TOK_CTE, BPE_MERGES))
    def q_bpe_merges(spark, sf_dir):
        """Distributed BPE tokenizer training: the first {n} merge rules
        learned from the corpus token stream (most-frequent adjacent
        symbol pair per step, lexicographic tie-break). The oracle
        unrolls the identical training loop as CTEs, so pair counting,
        argmax selection AND the greedy left-to-right merge rewrites all
        have to agree exactly."""
        from hadoop_ir_spark.functions.text import tokens_col

        docs = _docs(spark, sf_dir)
        toks = docs.select(
            F.explode(tokens_col(F.col("text"))).alias("term")
        )
        return bpe.train_bpe(toks, num_merges=BPE_MERGES)

    return q_bpe_merges


_register_bpe()


def _register_ols():
    from hadoop_ir_spark.catalog import SQL_TOK, _docs as _docs_c
    from hadoop_ir_spark.operators import regress

    @register("ols_len_chars", f"""
WITH {SQL_TOK},
feat AS (
  SELECT d.source, l.doc_len AS x, d.n_chars AS y
  FROM dlen l JOIN documents d ON d.doc_id = l.docno
),
s AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM feat GROUP BY source
),
t AS (
  SELECT source, n, sx, sy,
         n * sxy - sx * sy AS num,
         n * sxx - sx * sx AS den_x,
         n * syy - sy * sy AS den_y
  FROM s
),
o AS (
  SELECT source, n,
         CASE WHEN den_x <> 0
              THEN num::DOUBLE / den_x::DOUBLE END AS slope,
         num, den_x, den_y, sx, sy
  FROM t
)
SELECT source, n,
       round(slope, 6) AS slope,
       round((sy::DOUBLE - slope * sx::DOUBLE) / n::DOUBLE, 6) AS intercept,
       CASE WHEN den_x <> 0 AND den_y <> 0
            THEN round((num::DOUBLE * num::DOUBLE)
                       / (den_x::DOUBLE * den_y::DOUBLE), 6) END AS r2
FROM o
""")
    def q_ols_len_chars(spark, sf_dir):
        """Per-source closed-form OLS of raw byte size (n_chars) on token
        count — the exact-integer sufficient-statistics regression
        (operators/regress.py): one map-side-combinable aggregate, no
        float summation order anywhere."""
        from hadoop_ir_spark.operators import stats as _stats

        docs = _docs_c(spark, sf_dir)
        dlen = _stats.scan_doc_lengths(
            _stats.scan_stats(docs, [], id_col="doc_id"))
        feat = dlen.join(
            docs.select(F.col("doc_id").alias("docno"), "source", "n_chars"),
            "docno",
        ).select("source", F.col("doc_len").alias("x"), F.col("n_chars").alias("y"))
        out = regress.ols_by_group(feat, "x", "y", "source")
        return out.select(
            "source", "n",
            F.round("slope", 6).alias("slope"),
            F.round("intercept", 6).alias("intercept"),
            F.round("r2", 6).alias("r2"),
        )

    return q_ols_len_chars


_register_ols()


KN_D = 0.75
_KND = "CAST(0.75 AS DOUBLE)"


@register("doc_logprob_kn", f"""
WITH tl AS (
  SELECT doc_id AS docno,
         list_filter(string_split_regex(lower(text), '[^0-9a-zA-Z]+'),
                     t -> t <> '') AS l
  FROM documents
),
pos AS (
  SELECT docno, unnest(l) AS w, generate_subscripts(l, 1) AS i FROM tl
),
bg AS (
  SELECT a.docno, a.w AS w1, b.w AS w2
  FROM pos a JOIN pos b ON a.docno = b.docno AND b.i = a.i + 1
),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
n1f AS (SELECT w1, count(*) AS n1f FROM c2 GROUP BY w1),
n1p AS (SELECT w2, count(*) AS n1p FROM c2 GROUP BY w2),
tt AS (SELECT CAST(count(*) AS DOUBLE) AS tt FROM c2)
SELECT g.docno,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(sum(ln(greatest(c2.c2 - {_KND}, 0.0) / c1.c1
                    + {_KND} * n1f.n1f / c1.c1 * (n1p.n1p / tt.tt)))
             / count(*), 6) AS avg_kn_lp
FROM bg g
JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
JOIN n1f USING (w1) JOIN n1p USING (w2) CROSS JOIN tt
GROUP BY g.docno
""")
def q_doc_logprob_kn(spark, sf_dir):
    """Interpolated Kneser-Ney bigram perplexity signal — the
    continuation-count smoothing next to the add-k bigram filter
    (CCNet-style pipelines use exactly this pair: cheap unigram pass,
    then a properly-smoothed bigram pass)."""
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("docno"), "text")
    return textstats.kneser_ney_logprob(docs, discount=KN_D)


# ---------------------------------------------------------------------------
# term_burstiness — Church-Gale burstiness statistic per term
# ---------------------------------------------------------------------------

BURST_MIN_DF = 5


@register("term_burstiness", f"""
WITH tok AS (
  SELECT doc_id AS docno,
         unnest(string_split_regex(lower(text), '[^0-9a-zA-Z]+')) AS term
  FROM documents
),
post AS (
  SELECT docno, term, count(*) AS tf
  FROM tok WHERE term <> '' GROUP BY docno, term
)
SELECT term,
       CAST(count(*) AS BIGINT) AS df,
       CAST(sum(tf) AS BIGINT) AS cf,
       CAST(max(tf) AS BIGINT) AS max_tf,
       round(sum(tf)::DOUBLE / count(*), 6) AS burstiness
FROM post GROUP BY term
HAVING count(*) >= {BURST_MIN_DF}
""")
def q_term_burstiness(spark, sf_dir):
    """Church-Gale burstiness (CL'95): mean within-document frequency
    cf/df of each term — content words repeat within the documents they
    touch (bursty), function words spread thin. One postings aggregate +
    one per-term aggregate; df floor keeps rare-term noise out."""
    from hadoop_ir_spark.operators import stats as statsops

    docs = _docs(spark, sf_dir)
    post = statsops.postings(docs, id_col="doc_id")
    return (
        post.groupBy("term")
        .agg(F.count("*").cast("long").alias("df"),
             F.sum("tf").cast("long").alias("cf"),
             F.max("tf").cast("long").alias("max_tf"),
             F.round(F.sum("tf").cast("double") / F.count("*"), 6)
             .alias("burstiness"))
        .filter(F.col("df") >= BURST_MIN_DF)
    )


# ---------------------------------------------------------------------------
# zipf_fit — least-squares fit of the corpus rank-frequency law
# ---------------------------------------------------------------------------

@register("zipf_fit", f"""
WITH tok AS (
  SELECT unnest(string_split_regex(lower(text), '[^0-9a-zA-Z]+')) AS term
  FROM documents
),
wc AS (
  SELECT term, count(*) AS cf FROM tok WHERE term <> '' GROUP BY term
),
ranked AS (
  SELECT cf, row_number() OVER (ORDER BY cf DESC, term DESC) AS rank
  FROM wc
),
pts AS (SELECT ln(rank::DOUBLE) AS x, ln(cf::DOUBLE) AS y FROM ranked),
s AS (
  SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_terms,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         AS intercept,
       round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM s
""")
def q_zipf_fit(spark, sf_dir):
    """OLS fit of ln(cf) on ln(rank) — the Zipf's-law diagnostic every
    corpus report carries (slope near -1 on natural text; the synthetic
    corpus's near-uniform vocabulary fits a shallower line). Ranking is
    one window over the vocabulary-sized wordcount; the fit is a single
    6-value aggregate. ln sums are floats, so outputs are round(,6) —
    slope-scale quantities are far from the boundary."""
    from pyspark.sql import Window

    from hadoop_ir_spark.operators import stats as statsops

    docs = _docs(spark, sf_dir)
    wc = statsops.word_count(docs, id_col="doc_id")
    w = Window.orderBy(F.desc("cf"), F.desc("term"))
    pts = wc.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("cf").cast("double")).alias("y"),
    )
    s = pts.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den_x = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = num / den_x
    return s.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6)
        .alias("intercept"),
        F.round((num * num) / (den_x * den_y), 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# vocab_growth — Heaps'-law vocabulary growth curve
# ---------------------------------------------------------------------------

HEAPS_STEPS = 8


@register("vocab_growth", f"""
WITH tok AS (
  SELECT doc_id AS docno,
         unnest(string_split_regex(lower(text), '[^0-9a-zA-Z]+')) AS term
  FROM documents
),
ndocs AS (SELECT max(doc_id) + 1 AS n FROM documents),
grid AS (
  SELECT k, CAST(ceil((SELECT n FROM ndocs) * k / {HEAPS_STEPS}.0) AS BIGINT)
           AS thr
  FROM (SELECT unnest(range(1, {HEAPS_STEPS} + 1)) AS k)
)
SELECT g.k, g.thr,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT t.term) AS BIGINT) AS n_distinct
FROM grid g JOIN tok t ON t.docno < g.thr AND t.term <> ''
GROUP BY g.k, g.thr
""")
def q_vocab_growth(spark, sf_dir):
    """Heaps'-law growth curve: distinct vocabulary vs tokens seen after
    each prefix of the corpus (8 equal doc-id steps) — the companion
    diagnostic to zipf_fit. Exact small-grid implementation: the grid
    crossJoin replicates the token stream 8x before one
    groupBy(k)+countDistinct; at 100 TB the same curve comes from the
    mergeable HLL registers (sketch_hll_union) accumulated per prefix
    instead of 8 exact distinct passes."""
    from hadoop_ir_spark.functions.text import tokens_col

    docs = _docs(spark, sf_dir)
    n = docs.agg(F.max("doc_id") + 1).collect()[0][0]
    grid = spark.createDataFrame(
        [(k, int(-(-n * k // HEAPS_STEPS))) for k in range(1, HEAPS_STEPS + 1)],
        "k long, thr long",
    )
    toks = docs.select(
        F.col("doc_id").alias("docno"),
        F.explode(tokens_col("text")).alias("term"),
    )
    return (
        toks.crossJoin(F.broadcast(grid))
        .filter(F.col("docno") < F.col("thr"))
        .groupBy("k", "thr")
        .agg(F.count("*").cast("long").alias("n_tokens"),
             F.countDistinct("term").cast("long").alias("n_distinct"))
    )
