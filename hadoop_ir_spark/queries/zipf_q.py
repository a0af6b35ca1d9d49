"""Zipf-vocabulary regression surface (VERDICT r6 #4).

The synthetic grading corpus has a ~31-term vocabulary, so the two
candidate-filter operators whose 100 TB value IS their selectivity —
the APSS prefix filter (Bayardo WWW'07) and the fuzzy join's positional
q-gram filter (Gravano VLDB'01) — are degenerate on it: every doc pair
shares terms, every title pair shares grams. Their measured behavior on
a REALISTIC vocabulary (1875x / 483x candidate reduction, SCALING.md)
lived only in a measurement tool until this module; a future ordering
bug of the r5 ascending-maxq class (lossless, correctness-green,
selectivity silently 1.0x) would have been invisible to the catalog.

These entries run the operators on a committed fixed corpus —
``fixtures/zipf/documents.parquet``, 8,000 docs whose tokens are
Zipf(1.07)-sampled from the ~20k-word KStem headword lexicon with 300
planted near-dup pairs, generated deterministically by
``tools/zipf_selectivity.py`` (SEED 20260814) and committed so Spark
and the DuckDB oracle read the same bytes regardless of evaluation
order. Both entries take the (sf_dir-independent) fixture as input —
they are a fixed-size regression guard, not an sf-scaled workload; the
selectivity COUNTS are pinned in tests/test_zipf_surface.py, which is
what fails loudly if the filters stop pruning.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hadoop_ir_spark.catalog import register
from hadoop_ir_spark.queries.minhash_replay import minhash_replay_sql
from hadoop_ir_spark.operators import apss, dedup, fuzzy, winnow

ZIPF_PARQUET = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))),
    "fixtures", "zipf", "documents.parquet")

ZIPF_TAU = 0.85        # same thresholds the r6 selectivity table used
ZIPF_FUZZY_K = 3
ZIPF_TITLE_LEN = 16    # fixed-width prefix: band non-selective by design


def _zipf_docs(spark):
    return spark.read.parquet(ZIPF_PARQUET)


@register("apss_cosine_pairs_zipf",
          apss.apss_oracle_sql(ZIPF_TAU,
                               src=f"read_parquet('{ZIPF_PARQUET}')"))
def q_apss_zipf(spark, sf_dir):
    """Exact APSS on the Zipf fixture: unlike the main catalog entry
    (which must hash-slice the grading corpus because its vocabulary
    makes the prefix filter degenerate), this runs UNsliced — on a
    realistic vocabulary the filter admits 3.7% of postings and 17k of
    32.0M shared-term pairs (SCALING.md), so full size is cheap. The
    brute-force DuckDB replay is the losslessness check."""
    return apss.apss_cosine_pairs(_zipf_docs(spark), tau=ZIPF_TAU)


@register("fuzzy_pairs_zipf", f"""
WITH titles AS (
  SELECT DISTINCT substr(text, 1, {ZIPF_TITLE_LEN}) AS title
  FROM read_parquet('{ZIPF_PARQUET}')
)
SELECT a.title AS a, b.title AS b,
       CAST(levenshtein(a.title, b.title) AS INT) AS dist
FROM titles a JOIN titles b
  ON a.title < b.title
 AND levenshtein(a.title, b.title) <= {ZIPF_FUZZY_K}
""")
def q_fuzzy_zipf(spark, sf_dir):
    """Edit-distance self-join over fixed-width (16-char) Zipf title
    prefixes with ``method="gram_join"`` — the corpus shape where
    length banding degenerates to all-pairs (every title is in one
    band) and the positional q-gram filter is what keeps the plan off
    the quadratic: 54,665 DP probes vs 26.4M banded (483x, SCALING.md).
    The DuckDB oracle is the brute-force pair set."""
    titles = _zipf_docs(spark).select(
        F.substring("text", 1, ZIPF_TITLE_LEN).alias("title")).distinct()
    return fuzzy.edit_distance_pairs(
        titles, "title", max_dist=ZIPF_FUZZY_K, method="gram_join")


# ---------------------------------------------------------------------------
# r8 (VERDICT r7 #6): the dedup family's Zipf twins. dedup_minhash_lsh and
# winnow_span_pairs were graded only on the ~31-term synthetic corpus, where
# every doc pair shares shingles — banding/df-cap selectivity was unguarded
# (the same blind spot the APSS/fuzzy entries above closed in r7). Both
# entries run on the committed Zipf fixture; candidate/fingerprint counts
# are pinned in tests/test_zipf_surface.py.
#
# Oracle strategy: winnowing is deterministic, so its oracle is the exact
# replay winnow_oracle_sql already is. MinHash-LSH is approximate BY
# CONSTRUCTION — on an arbitrary corpus no brute-force J >= tau oracle can
# match it exactly (the grading-corpus entry relies on every planted pair
# sitting at J >= 0.96, far above the S-curve knee; the Zipf corpus has no
# such guarantee) — so the oracle REPLAYS the full pipeline: portable
# 60-bit base hash, the same 24 affine permutations, the same 8 band keys,
# the same bucket join, the same exact-Jaccard verification. Exact by
# construction at ANY tau; what the entry grades is that the distributed
# plan computes the algorithm, and what the pinned counts grade is that
# banding keeps pruning.
# ---------------------------------------------------------------------------

ZIPF_MINHASH_TAU = 0.5
ZIPF_WIN_K, ZIPF_WIN_W = 5, 4
ZIPF_WIN_MAX_DF, ZIPF_WIN_MIN_SHARED = 50, 2


# the replay-SQL builder lives in queries/minhash_replay.py (its
# cycle-free home — r10: queries/dedup.py importing it from HERE made a
# direct `import zipf_q` fail through catalog's load_all back-edge);
# re-exported for existing callers
_minhash_replay_sql = minhash_replay_sql


@register("dedup_minhash_zipf", _minhash_replay_sql(
    ZIPF_MINHASH_TAU, f"read_parquet('{ZIPF_PARQUET}')"))
def q_minhash_zipf(spark, sf_dir):
    """MinHash-LSH near-dup detection on the Zipf fixture — a realistic
    vocabulary where banding's selectivity is live (and pinned in
    tests/test_zipf_surface.py); the oracle replays the identical
    pipeline (see module comment on why replay, not brute force)."""
    out = dedup.minhash_near_dups(
        _zipf_docs(spark), tau=ZIPF_MINHASH_TAU, k=3,
        num_hashes=24, bands=8, id_col="doc_id")
    return out.withColumn("jaccard", F.round("jaccard", 6))


# ---------------------------------------------------------------------------
# r9 (VERDICT r8 #5): the SimHash Zipf twin. simhash_near_dups /
# simhash_incremental_kept are graded only on the ~31-term synthetic corpus;
# banding is pigeonhole-exact so RECALL cannot fade, but bucket-width SKEW
# can: on a Zipf vocabulary the head terms dominate every fingerprint's high
# bits, so band keys cluster (measured here: max bucket 231 of 8,000 docs at
# bands=2 — still 455x under all-pairs, but 30x wider than a uniform-key
# model predicts). The entry grades the banded plan against the brute-force
# Hamming rule (exact because banding with bands >= k+1 is pigeonhole-
# complete); the bucket-size distribution and candidate counts are pinned in
# tests/test_zipf_surface.py so skew growth fails loudly. k=1 (bands=2) is
# the parameterization where banding still prunes on this corpus — at k=3
# the fixture's fingerprints are so clustered that 66,742 pairs sit within
# Hamming 3 (a finding in itself: SimHash at 60 bits is a weak separator on
# head-heavy Zipf text; the pinned counts document it).
# ---------------------------------------------------------------------------

ZIPF_SIMHASH_K = 1


def _simhash_oracle_sql(max_hamming: int, src: str) -> str:
    """Brute-force DuckDB mirror of the SimHash pipeline (same 60-bit
    term hash, same tf-weighted bit sums) — exact for the banded plan
    because pigeonhole banding at bands >= k+1 has perfect recall."""
    return f"""
WITH tok AS (
  SELECT doc_id AS docno,
         unnest(string_split_regex(lower(text), '[^0-9a-zA-Z]+')) AS term
  FROM {src}
),
post AS (SELECT docno, term, count(*) AS tf
         FROM tok WHERE term <> '' GROUP BY docno, term),
h AS (SELECT docno, term, tf,
             CAST('0x' || substr(md5(term), 1, 15) AS BIGINT) AS h
      FROM post),
bitsums AS (
  SELECT docno, t.bit,
         sum(CASE WHEN (h >> t.bit) & 1 = 1 THEN tf ELSE -tf END) AS s
  FROM h, (SELECT unnest(range(60)) AS bit) t
  GROUP BY docno, t.bit
),
fp AS (
  SELECT docno,
         sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS f
  FROM bitsums GROUP BY docno
)
SELECT a.docno AS docno_a, b.docno AS docno_b,
       CAST(bit_count(xor(a.f, b.f)) AS INT) AS hamming
FROM fp a, fp b
WHERE a.docno < b.docno
  AND bit_count(xor(a.f, b.f)) <= {max_hamming}
"""


@register("simhash_near_dups_zipf", _simhash_oracle_sql(
    ZIPF_SIMHASH_K, f"read_parquet('{ZIPF_PARQUET}')"))
def q_simhash_zipf(spark, sf_dir):
    """Banded SimHash near-dup detection on the Zipf fixture — a
    realistic head-heavy vocabulary where band-key skew is live (bucket
    distribution pinned in tests/test_zipf_surface.py); the oracle is
    the brute-force Hamming rule, exact because pigeonhole banding has
    perfect recall at bands >= k+1."""
    from hadoop_ir_spark.operators import stats

    post = stats.postings(_zipf_docs(spark), id_col="doc_id")
    fps = dedup.simhash_fingerprints(post)
    out = dedup.simhash_near_dups(
        fps, max_hamming=ZIPF_SIMHASH_K, bands=ZIPF_SIMHASH_K + 1)
    return out.withColumn("hamming", F.col("hamming").cast("int"))


@register("winnow_pairs_zipf", winnow.winnow_oracle_sql(
    ZIPF_WIN_K, ZIPF_WIN_W, ZIPF_WIN_MAX_DF, ZIPF_WIN_MIN_SHARED,
    src=f"read_parquet('{ZIPF_PARQUET}')"))
def q_winnow_zipf(spark, sf_dir):
    """Winnowing span-duplicate candidates on the Zipf fixture — the
    df-cap and the 2/(w+1) fingerprint density are live here (pinned in
    tests/test_zipf_surface.py); winnowing is deterministic, so the
    oracle is the usual exact replay."""
    fps = winnow.winnow_fingerprints(
        _zipf_docs(spark), k=ZIPF_WIN_K, w=ZIPF_WIN_W, id_col="doc_id")
    return winnow.span_dup_pairs(
        fps, max_df=ZIPF_WIN_MAX_DF, min_shared=ZIPF_WIN_MIN_SHARED)


# ---------------------------------------------------------------------------
# positional-proximity twin (r10, VERDICT r9 optional #9): the offset
# self-join behind phrase/SDM is the last family graded only on the
# ~31-term corpus, where EVERY position survives the query-vocab filter
# (440k join rows at sf0.1 scale). On a realistic Zipf vocabulary the
# filter is the selectivity lever: only the query terms' occurrences
# enter the offset join. Counts pinned in tests/test_zipf_surface.py.
# ---------------------------------------------------------------------------

ZIPF_PROX_TERMS = ["crone", "livid", "mutter", "swing"]   # hot→mid mix
ZIPF_PROX_PAIRS = [("crone", "livid"), ("livid", "mutter"),
                   ("mutter", "swing")]
ZIPF_PROX_UW = 8

_PROX_TERMS_IN = ", ".join(f"'{t}'" for t in ZIPF_PROX_TERMS)
_PROX_PAIRS_VALUES = ", ".join(f"('{a}', '{b}')"
                               for a, b in ZIPF_PROX_PAIRS)


@register("prox_pairs_zipf", f"""
WITH toklist AS (
  SELECT doc_id AS docno,
         list_filter(string_split_regex(lower(text), '[^0-9a-zA-Z]+'),
                     t -> t <> '') AS toks
  FROM read_parquet('{ZIPF_PARQUET}')
),
words AS (
  SELECT docno, term, ord FROM (
    SELECT docno, unnest(toks) AS term,
           unnest(range(1, len(toks) + 1)) AS ord
    FROM toklist
  ) WHERE term IN ({_PROX_TERMS_IN})
),
dpairs AS (SELECT * FROM (VALUES {_PROX_PAIRS_VALUES}) AS p(t1, t2)),
upairs AS (SELECT * FROM (VALUES {_PROX_PAIRS_VALUES}) AS u(u1, u2)),
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
              AND b.ord > a.ord AND b.ord <= a.ord + {ZIPF_PROX_UW - 1}
  JOIN upairs u ON u.u1 = least(a.term, b.term)
               AND u.u2 = greatest(a.term, b.term)
  GROUP BY 1, 2, 3
)
SELECT 'O' AS kind, docno, t1, t2, CAST(otf AS BIGINT) AS n FROM ordered
UNION ALL
SELECT 'U' AS kind, docno, u1 AS t1, u2 AS t2, CAST(utf AS BIGINT) AS n
FROM unord
""")
def q_prox_pairs_zipf(spark, sf_dir):
    """Exact-adjacency (#1) and unordered-window-8 (#uw8) pair counts
    over the Zipf fixture for a hot→mid query-term mix — the positional
    offset-join selectivity surface: the query-vocab filter admits only
    the terms' occurrences into the join (vs every position on the
    degenerate grading vocabulary). Same operators the phrase/SDM
    family composes (`proximity.ordered/unordered_pair_counts`)."""
    from pyspark.sql import functions as F

    from hadoop_ir_spark.operators import proximity

    ptoks = proximity.positional_tokens(
        _zipf_docs(spark), ZIPF_PROX_TERMS, id_col="doc_id")
    pairs = spark.createDataFrame(ZIPF_PROX_PAIRS, "t1 string, t2 string")
    upairs = spark.createDataFrame(ZIPF_PROX_PAIRS,
                                   "u1 string, u2 string")
    o = (proximity.ordered_pair_counts(ptoks, pairs)
         .select(F.lit("O").alias("kind"), "docno", "t1", "t2",
                 F.col("otf").cast("long").alias("n")))
    u = (proximity.unordered_pair_counts(ptoks, upairs,
                                         window=ZIPF_PROX_UW)
         .select(F.lit("U").alias("kind"), "docno",
                 F.col("u1").alias("t1"), F.col("u2").alias("t2"),
                 F.col("utf").cast("long").alias("n")))
    return o.unionByName(u)


# ---------------------------------------------------------------------------
# best_passage windowed-snippet tail on the Zipf fixture (r12, VERDICT
# r11 missing #3): the main best_passage entry runs on the ~31-term
# grading vocabulary, where EVERY position is a query-term hit — the
# starts x members offset join's whole value (candidates are hit
# positions only, never a scan-wide range probe) is invisible there.
# This twin runs the identical kernel over a realistic vocabulary with
# a fixed deterministic "run" (doc_id % ZIPF_BP_MOD picks ~195 of the
# 8,000 docs — the top-k-run stand-in), so the hits frame is the
# selectivity surface tests/test_zipf_surface.py pins.
# ---------------------------------------------------------------------------

ZIPF_BP_TOPICS = [("q1", "crone livid"), ("q2", "livid mutter swing")]
ZIPF_BP_MOD = 41       # deterministic stand-in for the top-k run
ZIPF_BP_W = 30         # window width, same as the main entry

_BP_TERMS = sorted({t for _, q in ZIPF_BP_TOPICS for t in q.split()})
_BP_TERMS_IN = ", ".join(f"'{t}'" for t in _BP_TERMS)
_BP_QT_VALUES = ", ".join(
    f"('{qid}', '{t}')" for qid, q in ZIPF_BP_TOPICS
    for t in sorted(set(q.split())))
_BP_QID_VALUES = ", ".join(f"('{qid}')" for qid, _ in ZIPF_BP_TOPICS)


@register("best_passage_zipf", f"""
WITH run AS (
  SELECT q.qid, d.doc_id AS docno
  FROM (VALUES {_BP_QID_VALUES}) AS q(qid)
  CROSS JOIN (SELECT doc_id FROM read_parquet('{ZIPF_PARQUET}')
              WHERE doc_id % {ZIPF_BP_MOD} = 0) d
),
words AS (
  SELECT docno, term, ord FROM (
    SELECT docno, unnest(toks) AS term,
           unnest(range(1, len(toks) + 1)) AS ord
    FROM (SELECT doc_id AS docno,
                 list_filter(string_split_regex(lower(text),
                                                '[^0-9a-zA-Z]+'),
                             t -> t <> '') AS toks
          FROM read_parquet('{ZIPF_PARQUET}')
          WHERE doc_id % {ZIPF_BP_MOD} = 0)
  ) WHERE term IN ({_BP_TERMS_IN})
),
qt AS (SELECT DISTINCT *
       FROM (VALUES {_BP_QT_VALUES}) AS t(qid, term)),
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
             AND b.ord >= a.ord AND b.ord < a.ord + {ZIPF_BP_W}
  GROUP BY 1, 2, 3
),
best AS (
  SELECT qid, docno, win_start, n_hits,
         row_number() OVER (PARTITION BY qid, docno
                            ORDER BY n_hits DESC, win_start ASC) AS rn
  FROM wins
)
SELECT qid, docno, win_start, n_hits FROM best WHERE rn = 1
""")
def q_best_passage_zipf(spark, sf_dir):
    """Best-passage extraction on the Zipf fixture: for every (qid,
    docno) in the deterministic run with >= 1 query-term hit, the
    ZIPF_BP_W-token window holding the most query-term occurrences
    (earliest window on ties) — the exact kernel of the main
    ``best_passage`` entry (queries/proximity_q.py: hit positions are
    the only window-start candidates; in-window membership is an
    offset-replica equi-join over the hits frame), run where the
    query-vocab filter actually prunes: a handful of hits per doc out
    of ~55 positions, vs every position on the grading vocabulary."""
    from hadoop_ir_spark.operators import proximity

    docs = _zipf_docs(spark).filter(F.col("doc_id") % ZIPF_BP_MOD == 0)
    topics = spark.createDataFrame(
        [(qid, t) for qid, q in ZIPF_BP_TOPICS
         for t in sorted(set(q.split()))], "qid string, term string")
    ptoks = proximity.positional_tokens(docs, _BP_TERMS,
                                        id_col="doc_id")
    hits = (ptoks.join(F.broadcast(topics), "term")
            .select("qid", "docno", (F.col("pos") + 1).alias("ord")))
    return proximity.best_passage_windows(hits, ZIPF_BP_W)
