"""Catalog entries for positional-proximity retrieval: exact bigram-phrase
search and Metzler-Croft sequential-dependence (SDM) ranking.

Beyond-reference: the reference's mappers drop term positions at
tokenization (TrecRun.java:123-136), so neither query is expressible
there; both are standard IR capabilities a reference user would expect
next to the LM/BM25 library.

Query semantics (mirrored exactly in the DuckDB oracles):

- ``phrase_search_topk``: each topic contributes its consecutive term
  pairs as exact-adjacency phrases; a document's phrase_tf is the total
  number of matched phrase occurrences; only matching docs are ranked
  (phrase_tf desc, docno desc), depth TOP_K.
- ``sdm_topk``: score = 0.85 * f_T + 0.10 * f_O + 0.05 * f_U
  [Metzler & Croft SIGIR'05 defaults], where each feature class is a sum
  of Dirichlet-smoothed log probabilities (mu = 2500, same as M3/M5):
  f_T over query unigrams, f_O over exact-adjacency bigrams (#1),
  f_U over unordered window-8 pairs (#uw8). Candidate set = docs
  matching >= 1 query unigram (scan-scoring convention, T9 guard via
  scan_doc_lengths). Bigram/pair features whose collection frequency is zero
  are dropped on both sides (Indri's OOV convention), keeping every
  log() argument positive.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_ir_spark.catalog import QTERMS, TOP_K, TOPICS, _docs, register
from hadoop_ir_spark.operators import proximity, rank, stats

SDM_MU = 2500.0                      # Dirichlet mu, same as M3/M5 (DIR_MU)
SDM_WT, SDM_WO, SDM_WU = 0.85, 0.10, 0.05   # Metzler-Croft defaults
SDM_UW = 8                           # unordered window width (#uw8)

# consecutive term pairs per topic: the ordered "phrases" of each query
_BIGRAMS: list[tuple[str, str, str]] = [
    (qid, ts[i], ts[i + 1])
    for qid, q in TOPICS
    for ts in [q.split()]
    for i in range(len(ts) - 1)
]
_PAIRS = sorted({(t1, t2) for _, t1, t2 in _BIGRAMS})
_UPAIRS = sorted({(min(t1, t2), max(t1, t2)) for _, t1, t2 in _BIGRAMS})

# ---------------------------------------------------------------------------
# shared oracle prelude: positional words (query vocab), doc lengths,
# per-doc ordered / unordered pair counts
# ---------------------------------------------------------------------------

_QTERMS_IN = ", ".join(f"'{t}'" for t in QTERMS)
_BIGRAMS_VALUES = ", ".join(f"('{q}', '{a}', '{b}')" for q, a, b in _BIGRAMS)
_PAIRS_VALUES = ", ".join(f"('{a}', '{b}')" for a, b in _PAIRS)
_UPAIRS_VALUES = ", ".join(f"('{a}', '{b}')" for a, b in _UPAIRS)

SQL_PROX = f"""
toklist AS (
  SELECT doc_id AS docno,
         list_filter(string_split_regex(lower(text), '[^0-9a-zA-Z]+'),
                     t -> t <> '') AS toks
  FROM documents
),
dlen AS (
  SELECT docno, len(toks) AS doc_len FROM toklist WHERE len(toks) > 0
),
words AS (
  SELECT docno, term, ord FROM (
    SELECT docno, unnest(toks) AS term,
           unnest(range(1, len(toks) + 1)) AS ord
    FROM toklist
  ) WHERE term IN ({_QTERMS_IN})
),
qpost AS (
  SELECT docno, term, count(*) AS tf FROM words GROUP BY docno, term
),
bigrams AS (SELECT * FROM (VALUES {_BIGRAMS_VALUES}) AS b(qid, t1, t2)),
dpairs AS (SELECT * FROM (VALUES {_PAIRS_VALUES}) AS p(t1, t2)),
upairs AS (SELECT * FROM (VALUES {_UPAIRS_VALUES}) AS u(u1, u2)),
ordered AS (
  SELECT a.docno, a.term AS t1, b.term AS t2, count(*) AS otf
  FROM words a
  JOIN words b ON a.docno = b.docno AND b.ord = a.ord + 1
  JOIN dpairs p ON p.t1 = a.term AND p.t2 = b.term
  GROUP BY 1, 2, 3
),
unord AS (
  SELECT a.docno, least(a.term, b.term) AS u1,
         greatest(a.term, b.term) AS u2, count(*) AS utf
  FROM words a
  JOIN words b ON a.docno = b.docno
              AND b.ord > a.ord AND b.ord <= a.ord + {SDM_UW - 1}
  JOIN upairs u ON u.u1 = least(a.term, b.term)
               AND u.u2 = greatest(a.term, b.term)
  GROUP BY 1, 2, 3
)
"""


def _spark_prox(spark, sf_dir):
    """Shared Spark-side inputs mirroring SQL_PROX.

    r13 (guide §1.2/§2.4): ONE cached tokenize pass (scan_stats
    positional=True) serves doc lengths AND the query-vocab positional
    stream — dlen and ptoks were two separate corpus scans, and the
    cached per-doc scan row (ints + a few (pos, term) structs) is
    smaller than the old cached exploded ptoks."""
    docs = _docs(spark, sf_dir)
    scan = stats.scan_stats(docs, QTERMS, id_col="doc_id",
                            positional=True).cache()
    dlen = stats.scan_doc_lengths(scan)
    ptoks = scan.select(
        "docno", F.explode("qtoks").alias("_q")
    ).select("docno", F.col("_q.pos").alias("pos"),
             F.col("_q.term").alias("term"))
    qpost = ptoks.groupBy("docno", "term").agg(F.count("*").alias("tf"))
    pairs = spark.createDataFrame(_PAIRS, "t1 string, t2 string")
    upairs = spark.createDataFrame(_UPAIRS, "u1 string, u2 string")
    ordered = proximity.ordered_pair_counts(ptoks, pairs)
    unord = proximity.unordered_pair_counts(ptoks, upairs, window=SDM_UW)
    bigrams = spark.createDataFrame(_BIGRAMS, "qid string, t1 string, t2 string")
    return docs, dlen, qpost, ordered, unord, bigrams


# ---------------------------------------------------------------------------
# phrase_search_topk — exact bigram-phrase retrieval
# ---------------------------------------------------------------------------

@register("phrase_search_topk", f"""
WITH {SQL_PROX},
scored AS (
  SELECT g.qid, o.docno, CAST(sum(o.otf) AS BIGINT) AS phrase_tf
  FROM bigrams g
  JOIN ordered o ON o.t1 = g.t1 AND o.t2 = g.t2
  GROUP BY 1, 2
),
ranked AS (
  SELECT qid, docno, phrase_tf,
         row_number() OVER (PARTITION BY qid
                            ORDER BY phrase_tf DESC, docno DESC) AS rank
  FROM scored
)
SELECT qid, docno, phrase_tf, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {TOP_K}
""")
def q_phrase_search(spark, sf_dir):
    """Exact-adjacency phrase retrieval: per-query total phrase tf over the
    topic's consecutive bigrams; only matching docs ranked. The pair join
    runs once over the query-vocab positional stream; the bigram->qid
    fan-out is a broadcast join of a <10-row frame."""
    _, _, _, ordered, _, bigrams = _spark_prox(spark, sf_dir)
    scored = (
        ordered.join(F.broadcast(bigrams), ["t1", "t2"])
        .groupBy("qid", "docno")
        .agg(F.sum("otf").alias("phrase_tf"))
    )
    out = rank.topk(scored, k=TOP_K, score_col="phrase_tf")
    return out.select("qid", "docno", "phrase_tf",
                      F.col("rank").cast("int").alias("rank"))




def _sdm_features(spark, sf_dir, prox=None):
    """Shared SDM feature frame: (qid, docno, f_t, f_o, f_u) — the three
    Dirichlet-smoothed feature sums per candidate, with the pair-count
    frames checkpointed (each feeds a cf aggregate AND a feature join).
    ``prox`` overrides the corpus-scan inputs with an equivalent
    materialization (queries/indexed.py serves them from the inverted
    + pair-postings indexes).

    Plan shape: the same ALGEBRAIC SPLIT as the M5 Dirichlet scorer
    (operators/scoring.py score_gslis) applied per feature class —

        sum_x log((tf_x + mu*cf_x/C) / (dl + mu))
      = QC_q - N_q * log(dl + mu) + sum_{matched x} delta_x,
        delta_x = log(1 + tf_x * C / (mu * cf_x)),

    where QC_q = sum_x log(mu*cf_x/C) and N_q = |features of q| are
    per-query constants (tiny broadcast frames). Only MATCHED rows
    (docs that actually contain the term / pair) ever enter a join —
    there is no candidate x feature fan-out and no left joins carrying
    every (candidate, feature) combination, which at sf1 halves the
    feature-frame cost (the fan-out plan spent ~5.5s in cand/st/so/su/
    final; this shape spends it only on matched postings)."""
    from hadoop_ir_spark.catalog import parallel_frames

    _, dlen, qpost, ordered, unord, bigrams = (
        prox if prox is not None else _spark_prox(spark, sf_dir))
    # r13 fix (VERDICT r12 #1): each of qpost/ordered/unord feeds BOTH a
    # collection-frequency aggregate and a matched-feature join. The r12
    # checkpoint removal claimed the two consumers would share one docno
    # exchange via ReusedExchange; the after-plan disproved that (the
    # per-branch column pruning/aliasing makes the subtrees non-identical
    # — 6 independent Exchange+Sort+Window replicas, and the driver
    # measured sdm_topk 1.86x slower). So the three per-doc count frames
    # are MATERIALIZED once again — but concurrently (guide §2.6), not as
    # r11's three serial barriers, and on top of the r12 lead()-window
    # pair extraction, which stays (it is the cheap way to PRODUCE the
    # frames; materialization is the cheap way to CONSUME them twice).
    # The frames are per-doc query-vocab counts: tiny at any scale next
    # to the positional stream they collapse. dlen is cached (per-doc
    # ints) so the coll_len collect also materializes it for the final
    # join.
    dlen = dlen.cache()
    coll_len = dlen.agg(F.sum("doc_len")).collect()[0][0]
    qpost, ordered, unord = parallel_frames(
        lambda f=qpost: f.localCheckpoint(),
        lambda f=ordered: f.localCheckpoint(),
        lambda f=unord: f.localCheckpoint(),
    )
    c = float(coll_len)

    topics = (
        bigrams.select("qid", F.col("t1").alias("term"))
        .union(bigrams.select("qid", F.col("t2").alias("term")))
        .distinct()
    )
    tstats = qpost.groupBy("term").agg(F.sum("tf").cast("double").alias("cf"))
    cfo = ordered.groupBy("t1", "t2").agg(
        F.sum("otf").cast("double").alias("cf"))
    cfu = unord.groupBy("u1", "u2").agg(
        F.sum("utf").cast("double").alias("cf"))
    ubigrams = bigrams.select(
        "qid", F.least("t1", "t2").alias("u1"),
        F.greatest("t1", "t2").alias("u2")).distinct()

    # per-query constants: QC = sum log(mu*cf/C), N = feature count
    def _qconst(feats, qc, n):
        return feats.groupBy("qid").agg(
            F.sum(F.log(SDM_MU * F.col("cf") / c)).alias(qc),
            F.count(F.lit(1)).cast("double").alias(n))

    qt = topics.join(tstats, "term")                      # (qid, term, cf)
    qo = bigrams.join(cfo, ["t1", "t2"])                  # cf=0 pairs drop
    qu = ubigrams.join(cfu, ["u1", "u2"])
    qconst = (
        _qconst(qt, "qc_t", "n_t")
        .join(_qconst(qo, "qc_o", "n_o"), "qid", "left")
        .join(_qconst(qu, "qc_u", "n_u"), "qid", "left")
    )

    def delta(tf_col):
        # log((tf + mu*cf/C) / (mu*cf/C)) for a matched row
        return F.log1p(tf_col * c / (SDM_MU * F.col("cf")))

    # matched contributions only — each frame holds one row per doc
    # that CONTAINS the feature; candidates are exactly mt's keys
    # (docs matching >= 1 query unigram, the scan-scoring convention)
    mt = (
        qpost.join(F.broadcast(qt), "term")
        .groupBy("qid", "docno")
        .agg(F.sum(delta(F.col("tf"))).alias("dt"))
    )
    mo = (
        ordered.join(F.broadcast(qo), ["t1", "t2"])
        .groupBy("qid", "docno")
        .agg(F.sum(delta(F.col("otf"))).alias("do_"))
    )
    mu_ = (
        unord.join(F.broadcast(qu), ["u1", "u2"])
        .groupBy("qid", "docno")
        .agg(F.sum(delta(F.col("utf"))).alias("du"))
    )

    ldl = F.log(F.col("doc_len") + SDM_MU)

    def assemble(qc, n, d):
        # a query with NO cf>0 features of this class contributes 0
        return F.when(F.col(qc).isNull(), F.lit(0.0)).otherwise(
            F.col(qc) - F.col(n) * ldl + F.coalesce(F.col(d), F.lit(0.0)))

    return (
        mt.join(mo, ["qid", "docno"], "left")
        .join(mu_, ["qid", "docno"], "left")
        .join(dlen, "docno")
        .join(F.broadcast(qconst), "qid")
        .select(
            "qid", "docno",
            (F.col("qc_t") - F.col("n_t") * ldl + F.col("dt")).alias("f_t"),
            assemble("qc_o", "n_o", "do_").alias("f_o"),
            assemble("qc_u", "n_u", "du").alias("f_u"),
        )
    )


# ---------------------------------------------------------------------------
# sdm_topk — sequential dependence model ranking
# ---------------------------------------------------------------------------

@register("sdm_topk", f"""
WITH {SQL_PROX},
coll AS (SELECT sum(doc_len)::DOUBLE AS c FROM dlen),
topics AS (SELECT DISTINCT qid, t1 AS term FROM bigrams
           UNION SELECT DISTINCT qid, t2 FROM bigrams),
tstats AS (SELECT term, sum(tf)::DOUBLE AS cf FROM qpost GROUP BY term),
cfo AS (SELECT t1, t2, sum(otf)::DOUBLE AS cf FROM ordered GROUP BY t1, t2),
cfu AS (SELECT u1, u2, sum(utf)::DOUBLE AS cf FROM unord GROUP BY u1, u2),
cand AS (
  SELECT DISTINCT t.qid, p.docno
  FROM qpost p JOIN topics t USING (term)
),
st AS (
  SELECT c.qid, c.docno,
         sum(ln((coalesce(p.tf, 0) + {SDM_MU} * s.cf / (SELECT c FROM coll))
                / (d.doc_len + {SDM_MU}))) AS f_t
  FROM cand c
  JOIN topics t ON t.qid = c.qid
  JOIN tstats s ON s.term = t.term
  JOIN dlen d ON d.docno = c.docno
  LEFT JOIN qpost p ON p.docno = c.docno AND p.term = t.term
  GROUP BY 1, 2
),
so AS (
  SELECT c.qid, c.docno,
         sum(ln((coalesce(o.otf, 0) + {SDM_MU} * f.cf / (SELECT c FROM coll))
                / (d.doc_len + {SDM_MU}))) AS f_o
  FROM cand c
  JOIN bigrams g ON g.qid = c.qid
  JOIN cfo f ON f.t1 = g.t1 AND f.t2 = g.t2
  JOIN dlen d ON d.docno = c.docno
  LEFT JOIN ordered o ON o.docno = c.docno AND o.t1 = g.t1 AND o.t2 = g.t2
  GROUP BY 1, 2
),
su AS (
  SELECT c.qid, c.docno,
         sum(ln((coalesce(u.utf, 0) + {SDM_MU} * f.cf / (SELECT c FROM coll))
                / (d.doc_len + {SDM_MU}))) AS f_u
  FROM cand c
  JOIN (SELECT DISTINCT qid, least(t1, t2) AS u1, greatest(t1, t2) AS u2
        FROM bigrams) g ON g.qid = c.qid
  JOIN cfu f ON f.u1 = g.u1 AND f.u2 = g.u2
  JOIN dlen d ON d.docno = c.docno
  LEFT JOIN unord u ON u.docno = c.docno AND u.u1 = g.u1 AND u.u2 = g.u2
  GROUP BY 1, 2
),
scored AS (
  SELECT st.qid, st.docno,
         round({SDM_WT} * st.f_t + {SDM_WO} * coalesce(so.f_o, 0)
               + {SDM_WU} * coalesce(su.f_u, 0), 6) AS score
  FROM st
  LEFT JOIN so ON so.qid = st.qid AND so.docno = st.docno
  LEFT JOIN su ON su.qid = st.qid AND su.docno = st.docno
),
ranked AS (
  SELECT qid, docno, score,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, docno DESC) AS rank
  FROM scored
)
SELECT qid, docno, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {TOP_K}
""")
def q_sdm(spark, sf_dir):
    """SDM ranking. All three feature frames are bounded by
    |candidates| x |per-query features <= 4|; the per-feature frames
    (topics, bigrams, collection frequencies) are broadcast, so the only
    shuffles are the candidate-side left joins on (docno, feature) and
    the final top-k window — each restricted to query-vocabulary rows."""
    feats = _sdm_features(spark, sf_dir)
    scored = feats.select(
        "qid", "docno",
        F.round(SDM_WT * F.col("f_t") + SDM_WO * F.col("f_o")
                + SDM_WU * F.col("f_u"), 6).alias("score"),
    )
    out = rank.topk(scored, k=TOP_K)
    return out.select("qid", "docno", "score",
                      F.col("rank").cast("int").alias("rank"))


# ---------------------------------------------------------------------------
# best_passage — snippet window extraction over the flagship run
# ---------------------------------------------------------------------------

PASSAGE_W = 30   # window width in token positions

_TOPIC_TERM_VALUES = ", ".join(
    f"('{qid}', '{t}')"
    for qid, q in TOPICS for t in sorted(set(q.split()))
)


def _best_passage_oracle() -> str:
    from hadoop_ir_spark.catalog import sql_run_dirichlet

    return f"""
WITH {sql_run_dirichlet(TOP_K)},
words AS (
  SELECT docno, term, ord FROM (
    SELECT docno, unnest(toks) AS term,
           unnest(range(1, len(toks) + 1)) AS ord
    FROM (SELECT doc_id AS docno,
                 list_filter(string_split_regex(lower(text),
                                                '[^0-9a-zA-Z]+'),
                             t -> t <> '') AS toks
          FROM documents)
  ) WHERE term IN ({_QTERMS_IN})
),
qt AS (SELECT DISTINCT * FROM (VALUES {_TOPIC_TERM_VALUES}) AS t(qid, term)),
hits AS (
  SELECT r.qid, w.docno, w.ord
  FROM run r
  JOIN qt t ON t.qid = r.qid
  JOIN words w ON w.docno = r.docno AND w.term = t.term
),
wins AS (
  SELECT a.qid, a.docno, a.ord AS win_start,
         CAST(count(*) AS BIGINT) AS n_hits
  FROM hits a
  JOIN hits b ON b.qid = a.qid AND b.docno = a.docno
             AND b.ord >= a.ord AND b.ord < a.ord + {PASSAGE_W}
  GROUP BY 1, 2, 3
),
best AS (
  SELECT qid, docno, win_start, n_hits,
         row_number() OVER (PARTITION BY qid, docno
                            ORDER BY n_hits DESC, win_start ASC) AS rn
  FROM wins
)
SELECT qid, docno, win_start, n_hits FROM best WHERE rn = 1
"""


@register("best_passage", _best_passage_oracle())
def q_best_passage(spark, sf_dir):
    """Best-passage (snippet) extraction: for every (qid, docno) in the
    Dirichlet top-k run, the PASSAGE_W-token window holding the most
    query-term occurrences (earliest window on ties; ord is 1-based to
    match the oracle's unnest ordinality). The optimal window always
    starts at a hit position, so candidates are hit positions and the
    in-window count is a lead() successor scan over the ord-sorted hits
    (proximity.best_passage_windows) — hits are query-term occurrences
    inside top-k docs only (k x |q| x tf rows, corpus-size independent),
    never a scan-wide range probe."""
    from hadoop_ir_spark.catalog import _topics_df, dirichlet_topk

    run = dirichlet_topk(spark, sf_dir, k=TOP_K).select("qid", "docno")
    docs = _docs(spark, sf_dir)
    ptoks = proximity.positional_tokens(docs, QTERMS, id_col="doc_id")
    topics = _topics_df(spark).distinct()
    hits = (
        run.join(F.broadcast(topics), "qid")
        .join(ptoks, ["docno", "term"])
        .select("qid", "docno", (F.col("pos") + 1).alias("ord"))
    )
    return proximity.best_passage_windows(hits, PASSAGE_W)


# indexed_phrase_topk (queries/indexed.py) is an equivalent materialization
# of phrase_search_topk — same oracle; installed here because this module
# imports after indexed.py in queries.__init__._MODULES
from hadoop_ir_spark.catalog import ORACLES as _ORACLES

_ORACLES["indexed_phrase_topk"] = _ORACLES["phrase_search_topk"]
_ORACLES["indexed_sdm_topk"] = _ORACLES["sdm_topk"]
_ORACLES["indexed_best_passage"] = _ORACLES["best_passage"]


# ---------------------------------------------------------------------------
# sdm_weight_sweep — J3 grid over the SDM mixing weights
# ---------------------------------------------------------------------------

SDM_W_GRID: list[tuple[float, float, float]] = [
    (0.85, 0.10, 0.05),   # Metzler-Croft default
    (0.80, 0.15, 0.05),
    (0.75, 0.15, 0.10),
    (0.90, 0.05, 0.05),
    (1.00, 0.00, 0.00),   # degenerate: pure unigram QL
]
_SDM_GRID_VALUES = ", ".join(
    f"(CAST({wt!r} AS DOUBLE), CAST({wo!r} AS DOUBLE), CAST({wu!r} AS DOUBLE))"
    for wt, wo, wu in SDM_W_GRID
)


@register("sdm_weight_sweep", f"""
WITH {SQL_PROX},
coll AS (SELECT sum(doc_len)::DOUBLE AS c FROM dlen),
topics AS (SELECT DISTINCT qid, t1 AS term FROM bigrams
           UNION SELECT DISTINCT qid, t2 FROM bigrams),
tstats AS (SELECT term, sum(tf)::DOUBLE AS cf FROM qpost GROUP BY term),
cfo AS (SELECT t1, t2, sum(otf)::DOUBLE AS cf FROM ordered GROUP BY t1, t2),
cfu AS (SELECT u1, u2, sum(utf)::DOUBLE AS cf FROM unord GROUP BY u1, u2),
cand AS (
  SELECT DISTINCT t.qid, p.docno
  FROM qpost p JOIN topics t USING (term)
),
st AS (
  SELECT c.qid, c.docno,
         sum(ln((coalesce(p.tf, 0) + {SDM_MU} * s.cf / (SELECT c FROM coll))
                / (d.doc_len + {SDM_MU}))) AS f_t
  FROM cand c
  JOIN topics t ON t.qid = c.qid
  JOIN tstats s ON s.term = t.term
  JOIN dlen d ON d.docno = c.docno
  LEFT JOIN qpost p ON p.docno = c.docno AND p.term = t.term
  GROUP BY 1, 2
),
so AS (
  SELECT c.qid, c.docno,
         sum(ln((coalesce(o.otf, 0) + {SDM_MU} * f.cf / (SELECT c FROM coll))
                / (d.doc_len + {SDM_MU}))) AS f_o
  FROM cand c
  JOIN bigrams g ON g.qid = c.qid
  JOIN cfo f ON f.t1 = g.t1 AND f.t2 = g.t2
  JOIN dlen d ON d.docno = c.docno
  LEFT JOIN ordered o ON o.docno = c.docno AND o.t1 = g.t1 AND o.t2 = g.t2
  GROUP BY 1, 2
),
su AS (
  SELECT c.qid, c.docno,
         sum(ln((coalesce(u.utf, 0) + {SDM_MU} * f.cf / (SELECT c FROM coll))
                / (d.doc_len + {SDM_MU}))) AS f_u
  FROM cand c
  JOIN (SELECT DISTINCT qid, least(t1, t2) AS u1, greatest(t1, t2) AS u2
        FROM bigrams) g ON g.qid = c.qid
  JOIN cfu f ON f.u1 = g.u1 AND f.u2 = g.u2
  JOIN dlen d ON d.docno = c.docno
  LEFT JOIN unord u ON u.docno = c.docno AND u.u1 = g.u1 AND u.u2 = g.u2
  GROUP BY 1, 2
),
feats AS (
  SELECT st.qid, st.docno, st.f_t,
         coalesce(so.f_o, 0) AS f_o, coalesce(su.f_u, 0) AS f_u
  FROM st
  LEFT JOIN so ON so.qid = st.qid AND so.docno = st.docno
  LEFT JOIN su ON su.qid = st.qid AND su.docno = st.docno
),
grid AS (SELECT * FROM (VALUES {_SDM_GRID_VALUES}) AS g(wt, wo, wu)),
scored AS (
  SELECT g.wt, f.qid, f.docno,
         round(g.wt * f.f_t + g.wo * f.f_o + g.wu * f.f_u, 6) AS score
  FROM feats f CROSS JOIN grid g
),
ranked AS (
  SELECT wt, qid, docno, score,
         row_number() OVER (PARTITION BY wt, qid
                            ORDER BY score DESC, docno DESC) AS rank
  FROM scored
)
SELECT wt, qid, docno, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {TOP_K}
""")
def q_sdm_weight_sweep(spark, sf_dir):
    """J3 parameter grid over the SDM mixing weights (wt identifies the
    grid row — the sweep TrecRunBaselines runs for lambda, applied to
    the proximity model): the THREE feature aggregates run ONCE, then
    the 5-row grid crossJoins the small per-candidate feature frame —
    the grid multiplies post-aggregate rows, never the positional pair
    joins."""
    feats = _sdm_features(spark, sf_dir)
    grid = spark.createDataFrame(SDM_W_GRID, "wt double, wo double, wu double")
    scored = feats.crossJoin(F.broadcast(grid)).select(
        "wt", "qid", "docno",
        F.round(F.col("wt") * F.col("f_t") + F.col("wo") * F.col("f_o")
                + F.col("wu") * F.col("f_u"), 6).alias("score"),
    )
    out = rank.topk(scored, k=TOP_K, qid_col=["wt", "qid"])
    return out.select("wt", "qid", "docno", "score",
                      F.col("rank").cast("int").alias("rank"))
