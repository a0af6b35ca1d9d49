"""Catalog entries for cross-snapshot incremental dedup (VERDICT r7 #1;
fold-in, keep-first, and index-served embeddings r9 per VERDICT r8).

Snapshot split (deterministic, mirrored in the oracles): the OLD corpus
is ``doc_id % 3 <> 0``; the NEW snapshot is ``doc_id % 3 = 0`` plus an
injected re-crawl — every ``doc_id % 5 = 0`` document re-appears under
``doc_id + 10_000_000``. The injection guarantees both duplicate
classes the operator exists for: cross-snapshot (``%5`` docs with
``%3 <> 0`` live in OLD, their copies in NEW) and within-snapshot
(``%15`` docs and their copies are both NEW). A memoized per-corpus
guard asserts ``max(id) < offset`` so a corpus with ids >= 10M fails
loudly instead of silently colliding injected ids with real ones
(ADVICE r8).

The Spark side builds the persisted fingerprint index on the OLD
snapshot once per (process, sf_dir) — the weekly pipeline's standing
artifact, embeddings included — then runs the incremental query against
it; the oracle is the FROM-SCRATCH recompute over old ∪ new composed as
CTEs, restricted to the new snapshot. Green means incremental ≡
from-scratch, which is the entire point of the operator (the per-pair
precedence rule makes the equivalence exact — see
operators/dedup_incremental.py docstring). The ``_folded`` entry runs
the same query against an index assembled by TWO O(snapshot) fold-ins
instead of one build, against the IDENTICAL oracle — green means
fold-in ≡ rebuild on the grading corpus, not just on unit fixtures.

MinHash oracle note (ADVICE r8): ``dedup_incremental_kept`` runs
LSH-candidate MinHash on the Spark side, and the grading corpus DOES
hold natural union pairs at J ∈ [0.9, 0.96) (measured: 0.909, 0.929,
0.952 …), so an exact all-pairs Jaccard oracle is NOT a sound grader —
a pair at J = 0.909 misses all 8 bands with p ≈ 1.5e-5, a lurking
strict-gate flake. Both ``_kept`` entries therefore use a FULL PIPELINE
REPLAY oracle (same 60-bit base hash, same 24 affine permutations, same
8 band keys, same bucket join, same exact-Jaccard verification, plus
the exact-content path and the precedence rule — the union-side twin of
``zipf_q._minhash_replay_sql``): exact by construction at any corpus.
tests/test_incremental_margin.py pins that replay ≡ brute force on the
committed corpora, i.e. LSH recall is currently 100% there — if a
regeneration plants a marginal pair, that test reports it instead of a
one-in-1e5 gate flake.
"""

from __future__ import annotations

import os

from pyspark.sql import Window, functions as F

# stores go through catalog.memo_store, looked up at call time so that a
# tracer can wrap it (tools/query_record.py)
from hadoop_ir_spark import catalog
from hadoop_ir_spark.catalog import ORACLES, QUERIES, _docs, register
from hadoop_ir_spark.operators import dedup_incremental as dinc

INC_TAU = 0.9          # same threshold as dedup_minhash_lsh
INC_SPAN_LEN = 8       # same L as exact_dup_spans
_INJECT_OFFSET = 10_000_000

_OFFSET_OK: set[str] = set()


def _emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _ann_queries(spark, sf_dir):
    """(qid, embedding): every ``ANN_QUERY_EVERY``-th vector, the query
    set of the ANN serving queries."""
    return _emb(spark, sf_dir).filter(
        F.col("vec_id") % ANN_QUERY_EVERY == 0).select(
        F.col("vec_id").alias("qid"), "embedding")


def _assert_offset(spark, sf_dir):
    """ADVICE r8: injected re-crawl ids are id + 10M — a corpus whose
    real ids reach that range would corrupt precedence in both the
    Spark split and the oracle CTEs. One memoized max() scan per
    (process, sf_dir) over both id-bearing tables."""
    key = os.path.abspath(sf_dir)
    if key in _OFFSET_OK:
        return
    mx_doc = _docs(spark, sf_dir).agg(F.max("doc_id")).first()[0]
    mx_vec = _emb(spark, sf_dir).agg(F.max("vec_id")).first()[0]
    for label, mx in (("doc_id", mx_doc), ("vec_id", mx_vec)):
        if mx is not None and mx >= _INJECT_OFFSET:
            raise ValueError(
                f"incremental split: max({label}) = {mx} >= inject offset "
                f"{_INJECT_OFFSET} — injected re-crawl ids would collide "
                f"with real ids")
    _OFFSET_OK.add(key)


def _old_docs(spark, sf_dir):
    return (_docs(spark, sf_dir).select("doc_id", "text")
            .filter(F.col("doc_id") % 3 != 0))


def _new_docs(spark, sf_dir):
    _assert_offset(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return docs.filter(F.col("doc_id") % 3 == 0).unionByName(
        docs.filter(F.col("doc_id") % 5 == 0)
        .withColumn("doc_id", F.col("doc_id") + _INJECT_OFFSET)
    )


def _dedup_index_dir(spark, sf_dir: str) -> str:
    """Memoized OLD-snapshot fingerprint index per (process, sf_dir) —
    the pipeline's standing artifact, built once, queried per snapshot.
    The old-side embeddings (vec_id % 3 <> 0) persist alongside the
    text fingerprints (VERDICT r8 #3)."""
    def build(out):
        _assert_offset(spark, sf_dir)
        old_emb = _emb(spark, sf_dir).filter(F.col("vec_id") % 3 != 0)
        dinc.build_dedup_index(_old_docs(spark, sf_dir), out,
                               min_len=INC_SPAN_LEN, id_col="doc_id",
                               embeddings=old_emb, emb_id_col="vec_id")
        return out
    return catalog.memo_store(sf_dir, "dedup", build)


def _folded_index_dir(spark, sf_dir: str) -> str:
    """The SAME old corpus assembled the way the weekly pipeline would:
    build on the first half (doc_id % 3 = 1), then FOLD the second half
    (doc_id % 3 = 2) in with the O(snapshot) ``update_dedup_index`` —
    queries against it must answer exactly like the one-shot build."""
    def build(out):
        _assert_offset(spark, sf_dir)
        docs = _docs(spark, sf_dir).select("doc_id", "text")
        dinc.build_dedup_index(docs.filter(F.col("doc_id") % 3 == 1), out,
                               min_len=INC_SPAN_LEN, id_col="doc_id")
        dinc.update_dedup_index(spark, out,
                                docs.filter(F.col("doc_id") % 3 == 2),
                                id_col="doc_id")
        return out
    return catalog.memo_store(sf_dir, "folded", build)


# shared oracle prelude: the split + union with precedence flags
_SQL_SPLIT = f"""
oldd AS (SELECT doc_id AS docno, text FROM documents WHERE doc_id % 3 <> 0),
newd AS (
  SELECT doc_id AS docno, text FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + {_INJECT_OFFSET}, text FROM documents WHERE doc_id % 5 = 0
),
uni AS (SELECT docno, text, 0 AS isn FROM oldd
        UNION ALL SELECT docno, text, 1 FROM newd)
"""

# the brute-force variant: NOT the grader (see module docstring), kept
# for tests/test_incremental_margin.py's replay ≡ exact recall pin
_SQL_KEPT_EXACT = f"""
WITH {_SQL_SPLIT},
toklist AS (
  SELECT docno,
         list_filter(string_split_regex(lower(text), '[^0-9a-zA-Z]+'),
                     t -> t <> '') AS toks
  FROM uni
),
sh AS (
  SELECT DISTINCT docno,
         unnest([array_to_string(toks[i:i+2], ' ')
                 for i in range(1, len(toks) - 1)]) AS shingle
  FROM toklist WHERE len(toks) >= 3
),
sizes AS (SELECT docno, count(*) AS n FROM sh GROUP BY docno),
prec AS (SELECT docno, isn FROM uni),
jpair AS (
  SELECT a.docno AS da, b.docno AS db,
         count(*)::DOUBLE / (min(sa.n) + min(sb.n) - count(*)) AS j
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.docno <> b.docno
  JOIN sizes sa ON sa.docno = a.docno
  JOIN sizes sb ON sb.docno = b.docno
  GROUP BY 1, 2
),
ndrop AS (
  SELECT p.db AS docno FROM jpair p
  JOIN prec pa ON pa.docno = p.da
  JOIN prec pb ON pb.docno = p.db
  WHERE pb.isn = 1 AND p.j >= {INC_TAU}
    AND (pa.isn = 0 OR p.da < p.db)
),
edrop AS (
  SELECT b.docno FROM uni b JOIN uni a ON a.text = b.text
  WHERE b.isn = 1 AND (a.isn = 0 OR (a.isn = 1 AND a.docno < b.docno))
),
dropped AS (SELECT docno FROM ndrop UNION SELECT docno FROM edrop)
SELECT n.docno,
       CASE WHEN d.docno IS NOT NULL THEN 'dropped' ELSE 'kept' END AS status
FROM newd n LEFT JOIN dropped d ON d.docno = n.docno
"""

def _kept_replay_sql(num_hashes: int = 24, bands: int = 8) -> str:
    """The GRADING oracle (ADVICE r8): full-pipeline MinHash-LSH replay
    over old ∪ new — the shared CTE block from
    ``queries/minhash_replay.py`` (symmetric candidate orientation for
    the precedence tail), plus the exact-content path and the
    (snapshot, docno) precedence rule, restricted to the new snapshot.
    Exact by construction at any corpus: candidate buckets are
    per-document and corpus-independent, so the replay forms exactly
    the buckets the incremental plan's new-vs-old and new-vs-new joins
    form (old-vs-old buckets exist in the replay but cannot drop a new
    doc)."""
    from hadoop_ir_spark.queries.minhash_replay import replay_cte_block

    return f"""
WITH {_SQL_SPLIT},
docsrc AS (SELECT docno, text FROM uni),
{replay_cte_block(num_hashes, bands, symmetric=True)},
prec AS (SELECT docno, isn FROM uni),
ndrop AS (
  SELECT i.db AS docno FROM inter i
  JOIN sizes sa ON sa.docno = i.da
  JOIN sizes sb ON sb.docno = i.db
  JOIN prec pa ON pa.docno = i.da
  JOIN prec pb ON pb.docno = i.db
  WHERE pb.isn = 1 AND (pa.isn = 0 OR i.da < i.db)
    AND i.i::DOUBLE / (sa.n + sb.n - i.i) >= {INC_TAU}
),
edrop AS (
  SELECT b.docno FROM uni b JOIN uni a ON a.text = b.text
  WHERE b.isn = 1 AND (a.isn = 0 OR (a.isn = 1 AND a.docno < b.docno))
),
dropped AS (SELECT docno FROM ndrop UNION SELECT docno FROM edrop)
SELECT n.docno,
       CASE WHEN d.docno IS NOT NULL THEN 'dropped' ELSE 'kept' END AS status
FROM newd n LEFT JOIN dropped d ON d.docno = n.docno
"""


_SQL_KEPT = _kept_replay_sql()


@register("dedup_incremental_kept", _SQL_KEPT)
def q_dedup_incremental_kept(spark, sf_dir):
    """Incremental MinHash+exact dedup of the NEW snapshot against the
    persisted OLD-corpus fingerprint index: (docno, status) with
    ``dropped`` iff an exact-content or Jaccard >= 0.9 partner of lower
    precedence exists (any old doc, or a lower-docno new doc). The
    oracle is the full-corpus from-scratch PIPELINE REPLAY as CTEs —
    green means incremental ≡ from-scratch, restricted to the new
    snapshot; replay rather than brute force because the corpus holds
    natural pairs inside the LSH S-curve (see module docstring and
    tests/test_incremental_margin.py)."""
    idx_dir = _dedup_index_dir(spark, sf_dir)
    return dinc.dedup_incremental(
        _new_docs(spark, sf_dir), idx_dir, tau=INC_TAU, id_col="doc_id")


@register("dedup_incremental_folded", _SQL_KEPT)
def q_dedup_incremental_folded(spark, sf_dir):
    """The same incremental query against an index assembled by two
    O(snapshot) FOLD-INS (build on doc_id%3=1, fold doc_id%3=2) instead
    of one build, graded against the IDENTICAL from-scratch oracle —
    the catalog-level proof that the snapshot-partitioned fold-in
    (VERDICT r8 #1) preserves query semantics, not just table bytes."""
    idx_dir = _folded_index_dir(spark, sf_dir)
    return dinc.dedup_incremental(
        _new_docs(spark, sf_dir), idx_dir, tau=INC_TAU, id_col="doc_id")


@register("incremental_dup_spans", f"""
WITH {_SQL_SPLIT},
toked AS (
  SELECT docno, isn,
         list_filter(string_split_regex(lower(text), '[^0-9a-zA-Z]+'),
                     t -> t <> '') AS toks
  FROM uni
),
grams AS (
  SELECT docno, isn, pos,
         CAST(('0x' || substr(md5(
               array_to_string(list_slice(toks, pos + 1,
                                          pos + {INC_SPAN_LEN}), ' ')),
               1, 15)) AS BIGINT) AS gh
  FROM (SELECT docno, isn, toks,
               unnest(range(0, len(toks) - {INC_SPAN_LEN} + 1)) AS pos
        FROM toked WHERE len(toks) >= {INC_SPAN_LEN})
),
dupg AS (SELECT gh FROM grams GROUP BY gh HAVING count(*) >= 2),
dup AS (SELECT docno, pos FROM grams JOIN dupg USING (gh) WHERE isn = 1),
isl AS (
  SELECT docno, pos,
         CASE WHEN pos - lag(pos, 1, -1073741824)
                      OVER (PARTITION BY docno ORDER BY pos) > {INC_SPAN_LEN}
              THEN 1 ELSE 0 END AS gap
  FROM dup
),
isl2 AS (
  SELECT docno, pos,
         sum(gap) OVER (PARTITION BY docno ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM isl
)
SELECT docno,
       CAST(min(pos) AS INT) AS span_start,
       CAST(max(pos) + {INC_SPAN_LEN} - 1 AS INT) AS span_end,
       CAST(max(pos) + {INC_SPAN_LEN} - min(pos) AS INT) AS span_len
FROM isl2 GROUP BY docno, island
""")
def q_incremental_dup_spans(spark, sf_dir):
    """ExactSubstr duplicated spans of the NEW snapshot against
    old ∪ new, with the old side served ENTIRELY from the index's
    seed-gram count-delta log (a gram is duplicated iff
    n_new + n_old >= 2 — exactly the from-scratch union count). The
    oracle recomputes the union from scratch, hash-grouped the same
    way, restricted to new docnos."""
    idx_dir = _dedup_index_dir(spark, sf_dir)
    return dinc.incremental_dup_spans(
        _new_docs(spark, sf_dir), idx_dir, id_col="doc_id")


@register("incremental_keep_first_clean", f"""
WITH {_SQL_SPLIT},
toked AS (
  SELECT docno, isn,
         list_filter(string_split_regex(lower(text), '[^0-9a-zA-Z]+'),
                     t -> t <> '') AS toks
  FROM uni
),
grams AS (
  SELECT docno, isn, pos,
         CAST(('0x' || substr(md5(
               array_to_string(list_slice(toks, pos + 1,
                                          pos + {INC_SPAN_LEN}), ' ')),
               1, 15)) AS BIGINT) AS gh
  FROM (SELECT docno, isn, toks,
               unnest(range(0, len(toks) - {INC_SPAN_LEN} + 1)) AS pos
        FROM toked WHERE len(toks) >= {INC_SPAN_LEN})
),
dupg AS (SELECT gh FROM grams GROUP BY gh HAVING count(*) >= 2),
seeds AS (SELECT g.docno, g.isn, g.pos, g.gh
          FROM grams g JOIN dupg USING (gh)),
canon AS (
  SELECT docno, pos FROM (
    SELECT docno, isn, pos,
           row_number() OVER (PARTITION BY gh
                              ORDER BY isn, docno, pos) AS rn
    FROM seeds) WHERE rn = 1 AND isn = 1
),
isl_a AS (
  SELECT docno, pos,
         CASE WHEN pos - lag(pos, 1, -1073741824)
                      OVER (PARTITION BY docno ORDER BY pos) > {INC_SPAN_LEN}
              THEN 1 ELSE 0 END AS gap
  FROM (SELECT docno, pos FROM seeds WHERE isn = 1)
),
spans_all AS (
  SELECT docno, min(pos) AS s, max(pos) + {INC_SPAN_LEN} - 1 AS e
  FROM (SELECT docno, pos,
               sum(gap) OVER (PARTITION BY docno ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM isl_a)
  GROUP BY docno, island
),
isl_c AS (
  SELECT docno, pos,
         CASE WHEN pos - lag(pos, 1, -1073741824)
                      OVER (PARTITION BY docno ORDER BY pos) > {INC_SPAN_LEN}
              THEN 1 ELSE 0 END AS gap
  FROM canon
),
spans_canon AS (
  SELECT docno, min(pos) AS s, max(pos) + {INC_SPAN_LEN} - 1 AS e
  FROM (SELECT docno, pos,
               sum(gap) OVER (PARTITION BY docno ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM isl_c)
  GROUP BY docno, island
),
words AS (
  SELECT docno, unnest(toks) AS term,
         unnest(range(0, len(toks))) AS pos
  FROM toked WHERE isn = 1 AND len(toks) > 0
),
m1 AS (
  SELECT w.docno, w.pos, w.term,
         max(CASE WHEN s.s IS NOT NULL AND w.pos BETWEEN s.s AND s.e
                  THEN 1 ELSE 0 END) AS a
  FROM words w LEFT JOIN spans_all s ON s.docno = w.docno
  GROUP BY w.docno, w.pos, w.term
),
m2 AS (
  SELECT m.docno, m.pos, m.term, m.a,
         max(CASE WHEN c.s IS NOT NULL AND m.pos BETWEEN c.s AND c.e
                  THEN 1 ELSE 0 END) AS k
  FROM m1 m LEFT JOIN spans_canon c ON c.docno = m.docno
  GROUP BY m.docno, m.pos, m.term, m.a
)
SELECT docno,
       coalesce(string_agg(CASE WHEN NOT (a = 1 AND k = 0) THEN term END,
                           ' ' ORDER BY pos), '') AS clean_text,
       CAST(count(*) AS INT) AS n_tokens,
       CAST(sum(CASE WHEN a = 1 AND k = 0 THEN 1 ELSE 0 END) AS INT)
         AS n_removed
FROM m2 GROUP BY docno
""")
def q_incremental_keep_first_clean(spark, sf_dir):
    """The cross-snapshot removal ACTION (VERDICT r8 #2): clean the NEW
    snapshot with ExactSubstr keep-first semantics resolved across
    old ∪ new — spans whose canonical (first-by-precedence) occurrence
    is in the standing corpus are excised from every new copy; spans
    confined to the snapshot survive only at their earliest new home.
    The old side is served entirely from the seed-gram count log (no
    stored minima — see the operator docstring for why counts suffice
    under the family's precedence, and stay sound under retraction).
    The oracle is the from-scratch keep-first recompute over the union
    as CTEs, restricted to the new snapshot."""
    idx_dir = _dedup_index_dir(spark, sf_dir)
    return dinc.incremental_clean_keep_first(
        _new_docs(spark, sf_dir), idx_dir, id_col="doc_id")


# winnowing member (r9): fingerprint params come from the index build
# defaults (win_k=5, win_w=4 — the same k/w the single-corpus
# winnow_span_pairs entry grades); cap/threshold match it too
INC_WIN_K, INC_WIN_W = 5, 4
INC_WIN_MAX_DF, INC_WIN_MIN_SHARED = 50, 2


@register("incremental_winnow_pairs", f"""
WITH {_SQL_SPLIT},
toked AS (
  SELECT docno, isn,
         list_filter(string_split_regex(lower(text), '[^0-9a-zA-Z]+'),
                     t -> t <> '') AS toks
  FROM uni
),
grams AS (
  SELECT docno, isn,
         list_transform(range(1, len(toks) - {INC_WIN_K} + 2),
           i -> CAST(('0x' || substr(md5(
                  array_to_string(list_slice(toks, i, i + {INC_WIN_K} - 1),
                                  ' ')),
                  1, 15)) AS BIGINT)) AS g
  FROM toked WHERE len(toks) >= {INC_WIN_K}
),
wins AS (
  SELECT docno, isn,
         list_distinct(list_transform(range(1, len(g) - {INC_WIN_W} + 2),
           j -> list_min(list_slice(g, j, j + {INC_WIN_W} - 1)))) AS fps
  FROM grams WHERE len(g) >= {INC_WIN_W}
),
fp AS (SELECT docno, isn, unnest(fps) AS fp FROM wins),
rare AS (SELECT fp FROM fp GROUP BY fp
         HAVING count(*) <= {INC_WIN_MAX_DF}),
pairs AS (
  SELECT a.docno AS doc_a, b.docno AS doc_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM fp a JOIN rare USING (fp) JOIN fp b USING (fp)
  WHERE a.docno < b.docno AND (a.isn = 1 OR b.isn = 1)
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared FROM pairs
WHERE n_shared >= {INC_WIN_MIN_SHARED}
""")
def q_incremental_winnow_pairs(spark, sf_dir):
    """Winnowing span-duplicate candidate pairs of the NEW snapshot
    against old ∪ new — the winnowing member of the incremental family
    (r9): fingerprints of the new docs join the index's fp-sorted
    ``winnow_fps`` rows (new-vs-old) and themselves (new-vs-new), with
    the df-cap served union-correctly from the ``winnow_df`` count log.
    The oracle is the from-scratch winnowing replay over the union as
    CTEs, restricted to pairs involving >= 1 new doc — green means
    incremental ≡ from-scratch on exactly the pairs a weekly run must
    surface."""
    idx_dir = _dedup_index_dir(spark, sf_dir)
    return dinc.incremental_winnow_pairs(
        _new_docs(spark, sf_dir), idx_dir, max_df=INC_WIN_MAX_DF,
        min_shared=INC_WIN_MIN_SHARED, id_col="doc_id")


INC_SIMHASH_K = 3


@register("simhash_incremental_kept", f"""
WITH {_SQL_SPLIT},
tok AS (
  SELECT docno, unnest(string_split_regex(lower(text), '[^0-9a-zA-Z]+'))
           AS term
  FROM uni
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
),
prec AS (SELECT docno, isn FROM uni),
drops AS (
  SELECT b.docno FROM fp a
  JOIN fp b ON a.docno <> b.docno
  JOIN prec pa ON pa.docno = a.docno
  JOIN prec pb ON pb.docno = b.docno
  WHERE pb.isn = 1 AND (pa.isn = 0 OR a.docno < b.docno)
    AND bit_count(xor(a.f, b.f)) <= {INC_SIMHASH_K}
)
SELECT n.docno,
       CASE WHEN n.docno IN (SELECT docno FROM drops)
            THEN 'dropped' ELSE 'kept' END AS status
FROM newd n
""")
def q_simhash_incremental_kept(spark, sf_dir):
    """Incremental SIMHASH dedup of the new snapshot against the
    persisted fingerprint table (8 bytes per old doc — the old corpus
    is never read): dropped iff a lower-precedence doc sits within
    Hamming {k}. Banding with bands = k+1 is pigeonhole-exact, so the
    oracle is the brute-force from-scratch recompute over old ∪ new
    restricted to the new snapshot."""
    idx_dir = _dedup_index_dir(spark, sf_dir)
    return dinc.simhash_incremental(
        _new_docs(spark, sf_dir), idx_dir,
        max_hamming=INC_SIMHASH_K, id_col="doc_id")


INC_COSINE_TAU = 0.45   # same threshold as embedding_near_dups


@register("embedding_incremental_kept", f"""
WITH olde AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 <> 0
),
newe AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 0
  UNION ALL
  SELECT vec_id + {_INJECT_OFFSET}, embedding FROM embeddings
  WHERE vec_id % 5 = 0
),
uni AS (SELECT vec_id, embedding, 0 AS isn FROM olde
        UNION ALL SELECT vec_id, embedding, 1 FROM newe),
n AS (
  SELECT vec_id, isn,
         list_transform(
           embedding::DOUBLE[],
           x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                          embedding::DOUBLE[]))) AS v
  FROM uni
),
drops AS (
  SELECT b.vec_id FROM n a JOIN n b ON a.vec_id <> b.vec_id
  WHERE b.isn = 1 AND (a.isn = 0 OR a.vec_id < b.vec_id)
    AND list_dot_product(a.v, b.v) >= {INC_COSINE_TAU}
)
SELECT e.vec_id,
       CASE WHEN e.vec_id IN (SELECT vec_id FROM drops)
            THEN 'dropped' ELSE 'kept' END AS status
FROM newe e
""")
def q_embedding_incremental_kept(spark, sf_dir):
    """The vector-side incremental dedup, now INDEX-SERVED (VERDICT r8
    #3): the standing vectors are the dedup index's persisted
    ``embeddings`` table (folded/retracted with everything else), read
    like every sibling — dropped iff cosine >= 0.45 with any old vector
    or a lower-id new one. new-vs-old is an old-blocked GEMM that forms
    NO old-vs-old pairs (the recompute a union run would pay); oracle =
    brute-force from-scratch with the same precedence, restricted to
    the new snapshot."""
    idx_dir = _dedup_index_dir(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    new = emb.filter(F.col("vec_id") % 3 == 0).unionByName(
        emb.filter(F.col("vec_id") % 5 == 0)
        .withColumn("vec_id", F.col("vec_id") + _INJECT_OFFSET))
    return dinc.embedding_incremental(new, idx_dir, tau=INC_COSINE_TAU)


# ---------------------------------------------------------------------------
# persisted + incremental ANN index (VERDICT r9 missing #2)
# ---------------------------------------------------------------------------

ANN_IDX_EVERY = 25     # centroid id-sample stride (matches ann_ivf_topk)
ANN_IDX_NPROBE = 4
ANN_IDX_K = 10
ANN_QUERY_EVERY = 50
ANN_REFINE = 40        # exact-re-rank shortlist size (4·k — the usual
                       # production refine multiple)


def _ann_store(spark, sf_dir: str, tag: str, train) -> str:
    """The base step of every ANN store, memoized per (process, sf_dir,
    tag), as the weekly pipeline would run it: build on the standing
    embeddings (vec_id % 3 <> 0), run the store's ``train(out,
    standing)`` once, then fold the new snapshot's vectors (vec_id % 3 =
    0) in O(snapshot) against the persisted artifacts. The doc side is a
    thin slice (doc_id % 15 = 1): the ANN tables depend only on the
    embeddings, and the ``_dedup_index_dir`` family exercises the text
    fingerprints. A store holds ONE ``ann`` (IVF) block and ONE ``pq``
    block, so residual PQ and k-means centroids, which would replace the
    ``ann`` store's id-sample centroids and plain PQ codebook, each need
    a store of their own."""
    def build(out):
        emb = _emb(spark, sf_dir)
        standing = emb.filter(F.col("vec_id") % 3 != 0)
        dinc.build_dedup_index(
            _docs(spark, sf_dir).select("doc_id", "text")
            .filter(F.col("doc_id") % 15 == 1),
            out, min_len=INC_SPAN_LEN, id_col="doc_id",
            embeddings=standing, emb_id_col="vec_id")
        train(out, standing)
        dinc.update_dedup_index(
            spark, out,
            new_embeddings=emb.filter(F.col("vec_id") % 3 == 0),
            emb_id_col="vec_id")
        return out
    return catalog.memo_store(sf_dir, tag, build)


def _ann_index_dir(spark, sf_dir: str) -> str:
    """The ``ann`` store (``_ann_store``): IVF with id-sample centroids,
    PQ and SQ8, each trained once over the standing embeddings. Its
    queries read the current view (every visible snap, standing plus
    folded) through the codec they serve: IVF, PQ, IVF-PQ or IVF-SQ8."""
    def train(out, _standing):
        dinc.train_ann_index(spark, out, every=ANN_IDX_EVERY)
        dinc.train_pq_index(spark, out)
        dinc.train_sq_index(spark, out)
    return _ann_store(spark, sf_dir, "ann", train)


_ANN_COS_EC = (
    "list_dot_product(e.embedding::DOUBLE[], c.cv)"
    " / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))"
    " * sqrt(list_dot_product(c.cv, c.cv)))"
)


@register("indexed_ann_topk", f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings
  WHERE vec_id % 3 <> 0 AND vec_id % {ANN_IDX_EVERY} = 0
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT s.vec_id, s.cid,
           row_number() OVER (PARTITION BY s.vec_id
                              ORDER BY s.cos DESC, s.cid ASC) AS rn
    FROM (SELECT e.vec_id, c.cid, {_ANN_COS_EC} AS cos
          FROM embeddings e CROSS JOIN cent c) s
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
      WHERE vec_id % {ANN_QUERY_EVERY} = 0),
probes AS (
  SELECT qid, cid FROM (
    SELECT s.qid, s.cid,
           row_number() OVER (PARTITION BY s.qid
                              ORDER BY s.cos DESC, s.cid ASC) AS rn
    FROM (SELECT q.qid, c.cid,
                 list_dot_product(q.qv::DOUBLE[], c.cv)
                 / (sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))
                    * sqrt(list_dot_product(c.cv, c.cv))) AS cos
          FROM q CROSS JOIN cent c) s
  ) WHERE rn <= {ANN_IDX_NPROBE}
),
cand AS (SELECT p.qid, a.vec_id FROM probes p JOIN assign a USING (cid)),
scored AS (
  SELECT cd.qid, cd.vec_id,
         round(
           list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[])
           / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                    e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))),
           6) AS cosine
  FROM cand cd
  JOIN embeddings e ON e.vec_id = cd.vec_id
  JOIN q ON q.qid = cd.qid
),
ranked AS (
  SELECT qid, vec_id AS docno, cosine,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cosine DESC, vec_id DESC) AS rank
  FROM scored
)
SELECT qid, docno, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {ANN_IDX_K}
""")
def q_indexed_ann_topk(spark, sf_dir):
    """IVF top-k served from the PERSISTED ANN index: centroids trained
    once over the standing embeddings (deterministic id-sample, the IVF
    family's convention), the new snapshot's vectors folded in
    O(snapshot) by assignment-to-existing-centroids, retraction via the
    store's shared tombstones. Oracle = the same composed-CTE pipeline
    as ann_ivf_topk with the centroid CTE restricted to the standing
    side — by the fold≡rebuild property (tests/test_dedup_incremental
    ::test_ann_index_fold_equals_rebuild), serving from the index equals
    assigning the union corpus to the standing-trained centroids."""
    idx_dir = _ann_index_dir(spark, sf_dir)
    queries = _ann_queries(spark, sf_dir)
    out = dinc.indexed_ann_topk(queries, idx_dir, k=ANN_IDX_K,
                                nprobe=ANN_IDX_NPROBE)
    return out.select("qid", "docno", "cosine",
                      F.col("rank").cast("int").alias("rank"))


def _register_indexed_pq():
    """Registered via a helper so the oracle SQL can borrow the PQ
    constants without a circular import at module-load order."""
    from hadoop_ir_spark.operators import similarity

    sub = 64 // similarity.PQ_M
    d2 = ("(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
          " + list_dot_product({b}, {b}))")

    @register("indexed_pq_topk", f"""
WITH embd AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
samples AS (
  SELECT v, rn FROM (
    SELECT v, row_number() OVER (ORDER BY vec_id) AS rn
    FROM embd
    WHERE vec_id % {similarity.PQ_TRAIN_EVERY} = 0 AND vec_id % 3 <> 0
  ) WHERE rn <= {similarity.PQ_K}
),
cb AS (
  SELECT t.s AS s, rn - 1 AS code,
         list_slice(v, t.s * {sub} + 1, t.s * {sub} + {sub}) AS cv
  FROM samples, range({similarity.PQ_M}) t(s)
),
xs AS (
  SELECT vec_id, t.s AS s,
         list_slice(v, t.s * {sub} + 1, t.s * {sub} + {sub}) AS xv
  FROM embd, range({similarity.PQ_M}) t(s)
),
enc AS (
  SELECT vec_id, s, code FROM (
    SELECT x.vec_id, x.s, c.code,
           row_number() OVER (
             PARTITION BY x.vec_id, x.s
             ORDER BY {d2.format(a='x.xv', b='c.cv')} ASC, c.code ASC
           ) AS rn
    FROM xs x JOIN cb c ON c.s = x.s
  ) WHERE rn = 1
),
qs AS (
  SELECT vec_id AS qid, t.s AS s,
         list_slice(v, t.s * {sub} + 1, t.s * {sub} + {sub}) AS qv
  FROM embd, range({similarity.PQ_M}) t(s)
  WHERE vec_id % {ANN_QUERY_EVERY} = 0
),
lut AS (
  SELECT q.qid, q.s, c.code,
         CAST(floor({d2.format(a='q.qv', b='c.cv')} * 1e6 + 0.5)
              AS BIGINT) AS d2_i
  FROM qs q JOIN cb c ON c.s = q.s
),
scored AS (
  SELECT l.qid, e.vec_id, CAST(sum(l.d2_i) AS BIGINT) AS di
  FROM enc e JOIN lut l ON l.s = e.s AND l.code = e.code
  GROUP BY 1, 2
),
ranked AS (
  SELECT qid, vec_id AS docno, di,
         row_number() OVER (PARTITION BY qid
                            ORDER BY di ASC, vec_id DESC) AS rank
  FROM scored
)
SELECT qid, docno, round(di::DOUBLE / 1e6, 6) AS approx_d2,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {ANN_IDX_K}
""")
    def q_indexed_pq_topk(spark, sf_dir):
        """PQ/ADC top-k served from the PERSISTED PQ index: sub-codebooks
        trained once over the standing embeddings (``train_pq_index``,
        the deterministic sample the PQ family uses), the new snapshot's
        vectors folded in O(snapshot) by encoding against the persisted
        codebook, retraction via the store's shared tombstones. Oracle =
        the same composed-CTE pipeline as pq_ann_topk with the training
        sample restricted to the standing side — by the fold≡rebuild
        property (tests/test_dedup_incremental.py
        ::test_pq_index_fold_equals_rebuild), serving from the index
        equals encoding the union corpus against the standing-trained
        codebook."""
        idx_dir = _ann_index_dir(spark, sf_dir)
        queries = _ann_queries(spark, sf_dir)
        return dinc.indexed_pq_topk(queries, idx_dir, k=ANN_IDX_K)

    ivfpq_ctes = f"""
WITH embd AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
cent AS (
  SELECT vec_id AS cid, v AS cv FROM embd
  WHERE vec_id % 3 <> 0 AND vec_id % {ANN_IDX_EVERY} = 0
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT s.vec_id, s.cid,
           row_number() OVER (PARTITION BY s.vec_id
                              ORDER BY s.cos DESC, s.cid ASC) AS rn
    FROM (SELECT e.vec_id, c.cid,
                 list_dot_product(e.v, c.cv)
                 / (sqrt(list_dot_product(e.v, e.v))
                    * sqrt(list_dot_product(c.cv, c.cv))) AS cos
          FROM embd e CROSS JOIN cent c) s
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS qid, v AS qv FROM embd
      WHERE vec_id % {ANN_QUERY_EVERY} = 0),
probes AS (
  SELECT qid, cid FROM (
    SELECT s.qid, s.cid,
           row_number() OVER (PARTITION BY s.qid
                              ORDER BY s.cos DESC, s.cid ASC) AS rn
    FROM (SELECT q.qid, c.cid,
                 list_dot_product(q.qv, c.cv)
                 / (sqrt(list_dot_product(q.qv, q.qv))
                    * sqrt(list_dot_product(c.cv, c.cv))) AS cos
          FROM q CROSS JOIN cent c) s
  ) WHERE rn <= {ANN_IDX_NPROBE}
),
cand AS (SELECT p.qid, a.vec_id FROM probes p JOIN assign a USING (cid)),
samples AS (
  SELECT v, rn FROM (
    SELECT v, row_number() OVER (ORDER BY vec_id) AS rn
    FROM embd
    WHERE vec_id % {{pq_train_every}} = 0 AND vec_id % 3 <> 0
  ) WHERE rn <= {{pq_k}}
),
cb AS (
  SELECT t.s AS s, rn - 1 AS code,
         list_slice(v, t.s * {{sub}} + 1, t.s * {{sub}} + {{sub}}) AS cv
  FROM samples, range({{pq_m}}) t(s)
),
xs AS (
  SELECT vec_id, t.s AS s,
         list_slice(v, t.s * {{sub}} + 1, t.s * {{sub}} + {{sub}}) AS xv
  FROM embd, range({{pq_m}}) t(s)
),
enc AS (
  SELECT vec_id, s, code FROM (
    SELECT x.vec_id, x.s, c.code,
           row_number() OVER (
             PARTITION BY x.vec_id, x.s
             ORDER BY {{d2_xc}} ASC, c.code ASC
           ) AS rn
    FROM xs x JOIN cb c ON c.s = x.s
  ) WHERE rn = 1
),
qs AS (
  SELECT vec_id AS qid, t.s AS s,
         list_slice(v, t.s * {{sub}} + 1, t.s * {{sub}} + {{sub}}) AS qv
  FROM embd, range({{pq_m}}) t(s)
  WHERE vec_id % {ANN_QUERY_EVERY} = 0
),
lut AS (
  SELECT q.qid, q.s, c.code,
         CAST(floor({{d2_qc}} * 1e6 + 0.5) AS BIGINT) AS d2_i
  FROM qs q JOIN cb c ON c.s = q.s
),
scored AS (
  SELECT l.qid, e.vec_id, CAST(sum(l.d2_i) AS BIGINT) AS di
  FROM enc e
  JOIN cand cd ON cd.vec_id = e.vec_id
  JOIN lut l ON l.qid = cd.qid AND l.s = e.s AND l.code = e.code
  GROUP BY 1, 2
),
ranked AS (
  SELECT qid, vec_id AS docno, di,
         row_number() OVER (PARTITION BY qid
                            ORDER BY di ASC, vec_id DESC) AS rank
  FROM scored
)
""".replace("{pq_train_every}", str(similarity.PQ_TRAIN_EVERY)) \
   .replace("{pq_k}", str(similarity.PQ_K)) \
   .replace("{pq_m}", str(similarity.PQ_M)) \
   .replace("{sub}", str(sub)) \
   .replace("{d2_xc}", d2.format(a='x.xv', b='c.cv')) \
   .replace("{d2_qc}", d2.format(a='q.qv', b='c.cv'))

    ivfpq_sql = ivfpq_ctes + f"""
SELECT qid, docno, round(di::DOUBLE / 1e6, 6) AS approx_d2,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {ANN_IDX_K}
"""

    @register("indexed_ivfpq_topk", ivfpq_sql)
    def q_indexed_ivfpq_topk(spark, sf_dir):
        """IVF-PQ composed from the store's TWO persisted indexes — the
        100 TB serving path: probe nprobe centroid lists (ann_assign,
        pruned by centroid_id range-partitioning), ADC-score only those
        candidates from the compressed ann_codes (2 ints/subspace,
        never a raw vector). Oracle composes the indexed_ann_topk
        candidate CTEs with the indexed_pq_topk codebook/LUT CTEs,
        restricting the scored join to the probed candidates."""
        idx_dir = _ann_index_dir(spark, sf_dir)
        queries = _ann_queries(spark, sf_dir)
        return dinc.indexed_ivfpq_topk(queries, idx_dir, k=ANN_IDX_K,
                                       nprobe=ANN_IDX_NPROBE)

    # exact re-rank (refine) stage — VERDICT r10 #1: production IVF-PQ
    # serving refines the top ADC candidates against the TRUE vectors to
    # recover the recall the codebook quantization loses. The oracle
    # composes the ivfpq CTEs with an exact-cosine tail over the same
    # shortlist.
    _cos_ref = ("list_dot_product(e.v, q.qv)"
                " / (sqrt(list_dot_product(e.v, e.v))"
                " * sqrt(list_dot_product(q.qv, q.qv)))")
    refined_sql = ivfpq_ctes.rstrip() + f""",
short AS (SELECT qid, docno FROM ranked WHERE rank <= {ANN_REFINE}),
ex AS (
  SELECT s.qid, s.docno, round({_cos_ref}, 6) AS cosine
  FROM short s
  JOIN embd e ON e.vec_id = s.docno
  JOIN q ON q.qid = s.qid
),
rr AS (
  SELECT qid, docno, cosine,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cosine DESC, docno DESC) AS rank
  FROM ex
)
SELECT qid, docno, cosine, CAST(rank AS INT) AS rank
FROM rr WHERE rank <= {ANN_IDX_K}
"""

    @register("indexed_ivfpq_refined", refined_sql)
    def q_indexed_ivfpq_refined(spark, sf_dir):
        """IVF-PQ with the exact re-rank stage: the top ANN_REFINE ADC
        candidates per query (deterministic — same (di, docno) ordering
        as indexed_ivfpq_topk) are re-scored by TRUE rounded cosine via
        a pruned docno equi-join on the store's embeddings table, then
        ranked with the standard tie-break. The only raw vectors the
        query touches are the O(|queries|·refine) shortlist rows — the
        100 TB recall/cost compromise production ANN serving runs."""
        idx_dir = _ann_index_dir(spark, sf_dir)
        queries = _ann_queries(spark, sf_dir)
        return dinc.indexed_ivfpq_topk(queries, idx_dir, k=ANN_IDX_K,
                                       nprobe=ANN_IDX_NPROBE,
                                       refine=ANN_REFINE)

    # recall@k of BOTH composed serving paths vs brute force — makes the
    # refine stage's recall recovery measurable instead of implied
    # (brute CTE reused verbatim from ann_cosine_topk: same query set,
    # same k, over the same full embeddings table the store holds).
    inv_k = f"CAST({float(ANN_IDX_K)!r} AS DOUBLE)"
    recall_sql = f"""
WITH brute AS ({ORACLES["ann_cosine_topk"]}),
adc AS ({ivfpq_sql}),
refd AS ({refined_sql}),
qset AS (SELECT DISTINCT qid FROM brute),
h1 AS (
  SELECT b.qid, count(*) AS n FROM brute b
  JOIN adc a ON a.qid = b.qid AND a.docno = b.vec_id
  GROUP BY b.qid
),
h2 AS (
  SELECT b.qid, count(*) AS n FROM brute b
  JOIN refd r ON r.qid = b.qid AND r.docno = b.vec_id
  GROUP BY b.qid
)
SELECT qs.qid,
       CAST(coalesce(h1.n, 0) AS BIGINT) AS n_hits_adc,
       round(coalesce(h1.n, 0) / {inv_k}, 6) AS recall_adc,
       CAST(coalesce(h2.n, 0) AS BIGINT) AS n_hits_refined,
       round(coalesce(h2.n, 0) / {inv_k}, 6) AS recall_refined
FROM qset qs
LEFT JOIN h1 ON h1.qid = qs.qid
LEFT JOIN h2 ON h2.qid = qs.qid
"""

    @register("ann_recall_ivfpq", recall_sql)
    def q_ann_recall_ivfpq(spark, sf_dir):
        """Per-query recall@k of the composed IVF-PQ path against exact
        brute force, ADC-only and refined side by side — the index
        quality canary for the persisted serving path (VERDICT r10 #1:
        the recall-vs-cost curve of the refine stage, measured). The
        evaluation join is O(|queries|·k), corpus-independent."""
        from hadoop_ir_spark.operators import similarity as sim

        idx_dir = _ann_index_dir(spark, sf_dir)
        queries = _ann_queries(spark, sf_dir)
        exact = QUERIES["ann_cosine_topk"](spark, sf_dir)
        adc = (dinc.indexed_ivfpq_topk(queries, idx_dir, k=ANN_IDX_K,
                                       nprobe=ANN_IDX_NPROBE)
               .withColumnRenamed("docno", "vec_id"))
        refd = (dinc.indexed_ivfpq_topk(queries, idx_dir, k=ANN_IDX_K,
                                        nprobe=ANN_IDX_NPROBE,
                                        refine=ANN_REFINE)
                .withColumnRenamed("docno", "vec_id"))
        qids = queries.select("qid")
        r1 = sim.recall_vs_exact(exact, adc, k=ANN_IDX_K, qids=qids)
        r2 = sim.recall_vs_exact(exact, refd, k=ANN_IDX_K, qids=qids)
        return (r1.select("qid",
                          F.col("n_hits").alias("n_hits_adc"),
                          F.col("recall").alias("recall_adc"))
                .join(r2.select("qid",
                                F.col("n_hits").alias("n_hits_refined"),
                                F.col("recall").alias("recall_refined")),
                      "qid"))

    # ---- metadata-filtered vector search (r12): allowlist = the odd
    # half of the corpus (vec_id % 2 = 1, ~50% selectivity). Pre-mode
    # prunes the ADC candidate set BEFORE the compressed scan; post-mode
    # draws the shortlist filter-blind and filters it afterwards — the
    # production pre/post trade, with the recall gap graded below.
    _cand_cte = ("cand AS (SELECT p.qid, a.vec_id "
                 "FROM probes p JOIN assign a USING (cid)),")
    assert _cand_cte in ivfpq_ctes
    fctes = ivfpq_ctes.replace(
        _cand_cte, _cand_cte[:-2] + " WHERE a.vec_id % 2 = 1),")

    _refined_tail = f""",
short AS (SELECT qid, docno FROM ranked WHERE rank <= {ANN_REFINE}{{short_pred}}),
ex AS (
  SELECT s.qid, s.docno, round({_cos_ref}, 6) AS cosine
  FROM short s
  JOIN embd e ON e.vec_id = s.docno
  JOIN q ON q.qid = s.qid
),
rr AS (
  SELECT qid, docno, cosine,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cosine DESC, docno DESC) AS rank
  FROM ex
)
SELECT qid, docno, cosine, CAST(rank AS INT) AS rank
FROM rr WHERE rank <= {ANN_IDX_K}
"""
    # pre: the cand CTE carries the filter, shortlist needs no predicate
    filtered_sql = fctes.rstrip() \
        + _refined_tail.replace("{short_pred}", "")
    # post: unfiltered chain, the allowlist prunes the drawn shortlist
    post_sql = ivfpq_ctes.rstrip() \
        + _refined_tail.replace("{short_pred}", " AND docno % 2 = 1")

    @register("indexed_ivfpq_filtered_topk", filtered_sql)
    def q_indexed_ivfpq_filtered_topk(spark, sf_dir):
        """Metadata-filtered IVF-PQ serving in the recommended
        configuration: pre-filter (the allowlist semi-joins the probed
        candidate set before the ADC scan, so the compressed scan
        SHRINKS with filter selectivity and every allowed candidate in
        a probed list is scored) + the exact re-rank stage. Oracle =
        the ivfpq CTEs with the filter pushed into the cand CTE — the
        literal definition of pre-filtering — plus the refined tail."""
        idx_dir = _ann_index_dir(spark, sf_dir)
        emb = _emb(spark, sf_dir)
        queries = _ann_queries(spark, sf_dir)
        allow = emb.filter(F.col("vec_id") % 2 == 1).select(
            F.col("vec_id").alias("docno"))
        return dinc.indexed_ivfpq_topk(
            queries, idx_dir, k=ANN_IDX_K, nprobe=ANN_IDX_NPROBE,
            refine=ANN_REFINE, filter_docs=allow)

    brute_f = ORACLES["ann_cosine_topk"].replace(
        "FROM embeddings e CROSS JOIN q",
        "FROM embeddings e CROSS JOIN q WHERE e.vec_id % 2 = 1")
    assert brute_f != ORACLES["ann_cosine_topk"]

    recall_f_sql = f"""
WITH brute AS ({brute_f}),
pre AS ({filtered_sql}),
post AS ({post_sql}),
qset AS (SELECT DISTINCT qid FROM brute),
h1 AS (
  SELECT b.qid, count(*) AS n FROM brute b
  JOIN pre p ON p.qid = b.qid AND p.docno = b.vec_id
  GROUP BY b.qid
),
h2 AS (
  SELECT b.qid, count(*) AS n FROM brute b
  JOIN post p ON p.qid = b.qid AND p.docno = b.vec_id
  GROUP BY b.qid
)
SELECT qs.qid,
       CAST(coalesce(h1.n, 0) AS BIGINT) AS n_hits_pre,
       round(coalesce(h1.n, 0) / {inv_k}, 6) AS recall_pre,
       CAST(coalesce(h2.n, 0) AS BIGINT) AS n_hits_post,
       round(coalesce(h2.n, 0) / {inv_k}, 6) AS recall_post
FROM qset qs
LEFT JOIN h1 ON h1.qid = qs.qid
LEFT JOIN h2 ON h2.qid = qs.qid
"""

    @register("ann_recall_filtered", recall_f_sql)
    def q_ann_recall_filtered(spark, sf_dir):
        """Per-query recall@k of metadata-filtered IVF-PQ serving
        against the brute-force FILTERED ground truth, pre- and
        post-filter side by side at the same refine budget — the graded
        form of the pre/post trade: pre stays at the unfiltered refined
        recall (the filter costs nothing), post decays because allowed
        docs pushed out of the filter-blind shortlist are lost. The
        evaluation join is O(|queries|·k), corpus-independent."""
        from hadoop_ir_spark.operators import similarity as sim

        idx_dir = _ann_index_dir(spark, sf_dir)
        emb = _emb(spark, sf_dir)
        queries = _ann_queries(spark, sf_dir)
        allow = emb.filter(F.col("vec_id") % 2 == 1).select(
            F.col("vec_id").alias("docno"))
        exact_f = sim.cosine_topk(
            emb.filter(F.col("vec_id") % 2 == 1), queries, k=ANN_IDX_K)
        pre = (dinc.indexed_ivfpq_topk(
            queries, idx_dir, k=ANN_IDX_K, nprobe=ANN_IDX_NPROBE,
            refine=ANN_REFINE, filter_docs=allow)
            .withColumnRenamed("docno", "vec_id"))
        post = (dinc.indexed_ivfpq_topk(
            queries, idx_dir, k=ANN_IDX_K, nprobe=ANN_IDX_NPROBE,
            refine=ANN_REFINE, filter_docs=allow, filter_mode="post")
            .withColumnRenamed("docno", "vec_id"))
        qids = queries.select("qid")
        r1 = sim.recall_vs_exact(exact_f, pre, k=ANN_IDX_K, qids=qids)
        r2 = sim.recall_vs_exact(exact_f, post, k=ANN_IDX_K, qids=qids)
        return (r1.select("qid",
                          F.col("n_hits").alias("n_hits_pre"),
                          F.col("recall").alias("recall_pre"))
                .join(r2.select("qid",
                                F.col("n_hits").alias("n_hits_post"),
                                F.col("recall").alias("recall_post")),
                      "qid"))

    # ---- hybrid retrieval (r12): RRF fusion of a lexical BM25 leg and
    # the IVF-PQ-refined vector leg over the SAME corpus (doc_id ≡
    # vec_id in the fixture — every doc has text and an embedding), in
    # the more-like-this shape: each query IS a document, its lexical
    # query is its top tf·idf terms (Lucene MLT's selection rule), its
    # vector query is its embedding, and the self-match is excluded
    # from both legs. This is the serving shape production RAG /
    # related-items pipelines run: two index-served candidate
    # generators, fused by rank.
    from hadoop_ir_spark.catalog import BM25_B, BM25_K1, SQL_TOK

    MLT_TERMS = 8
    HY_RRF_C = 60

    _txt_sql = f"""
WITH {SQL_TOK},
gstat AS (
  SELECT count(DISTINCT docno) AS n_docs,
         sum(tf)::DOUBLE / count(DISTINCT docno) AS avg_len
  FROM post
),
tstats AS (SELECT term, count(*) AS df FROM post GROUP BY term),
mlt AS (
  SELECT qid, term FROM (
    SELECT p.docno AS qid, p.term,
           row_number() OVER (
             PARTITION BY p.docno
             ORDER BY round(p.tf * ln((SELECT n_docs FROM gstat)::DOUBLE
                                      / s.df), 6) DESC, p.term ASC
           ) AS rn
    FROM post p JOIN tstats s USING (term)
    WHERE p.docno % {ANN_QUERY_EVERY} = 0
  ) WHERE rn <= {MLT_TERMS}
),
matched AS (
  SELECT t.qid, p.docno, p.tf, s.df, d.doc_len
  FROM post p
  JOIN mlt t USING (term)
  JOIN tstats s ON s.term = p.term
  JOIN dlen d ON d.docno = p.docno
  WHERE p.docno <> t.qid
),
bscored AS (
  SELECT qid, docno,
         round(sum(
           (({BM25_K1} + 1) * tf)
           / ({BM25_K1} * ((1 - {BM25_B}) + {BM25_B} * doc_len
              / (SELECT avg_len FROM gstat)) + tf)
           * ln(((SELECT n_docs FROM gstat) - df + 0.5) / (df + 0.5))
         ), 6) AS score
  FROM matched GROUP BY qid, docno
)
SELECT qid, docno, rank FROM (
  SELECT qid, docno,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, docno DESC) AS rank
  FROM bscored
) WHERE rank <= {ANN_IDX_K}
"""

    # vector leg: refined ivfpq at k+1, self excluded, re-ranked
    _vec_sql = ivfpq_ctes.rstrip() + f""",
short AS (SELECT qid, docno FROM ranked WHERE rank <= {ANN_REFINE}),
ex AS (
  SELECT s.qid, s.docno, round({_cos_ref}, 6) AS cosine
  FROM short s
  JOIN embd e ON e.vec_id = s.docno
  JOIN q ON q.qid = s.qid
),
rr AS (
  SELECT qid, docno, cosine,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cosine DESC, docno DESC) AS rank
  FROM ex
),
noself AS (
  SELECT qid, docno, cosine FROM rr
  WHERE rank <= {ANN_IDX_K + 1} AND docno <> qid
)
SELECT qid, docno, rank FROM (
  SELECT qid, docno,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cosine DESC, docno DESC) AS rank
  FROM noself
) WHERE rank <= {ANN_IDX_K}
"""

    hybrid_sql = f"""
WITH txt AS ({_txt_sql}),
vec AS ({_vec_sql}),
contrib AS (
  SELECT qid, docno, 1.0 / ({HY_RRF_C} + rank) AS contrib FROM txt
  UNION ALL
  SELECT qid, docno, 1.0 / ({HY_RRF_C} + rank) FROM vec
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
) WHERE rank <= {ANN_IDX_K}
"""

    @register("indexed_hybrid_topk", hybrid_sql)
    def q_indexed_hybrid_topk(spark, sf_dir):
        """Hybrid more-like-this: RRF fusion (Cormack et al., SIGIR'09,
        c=60) of (a) a lexical BM25 leg — each query doc's top
        {MLT_TERMS} tf·idf terms (the Lucene MoreLikeThis selection
        rule) scored with the reference's BM25 over the full postings —
        and (b) the vector leg served by the persisted IVF-PQ index
        with the exact re-rank stage. Self-matches are excluded from
        both legs before their top-k. Scale: the lexical leg is the
        broadcast-topics BM25 plan (J1 — postings never shuffle), the
        vector leg is the pruned-probe compressed scan; fusion touches
        k rows per query per leg."""
        from hadoop_ir_spark.operators import hybrid

        idx_dir = _ann_index_dir(spark, sf_dir)
        docs = _docs(spark, sf_dir)
        queries = _ann_queries(spark, sf_dir)
        return hybrid.hybrid_mlt_topk(
            docs, queries, idx_dir, k=ANN_IDX_K, n_terms=MLT_TERMS,
            nprobe=ANN_IDX_NPROBE, refine=ANN_REFINE, rrf_c=HY_RRF_C,
            k1=BM25_K1, b=BM25_B, id_col="doc_id")

    # ---- recall-vs-nprobe sweep (r12): the cost/recall knob every IVF
    # deployment tunes, graded as catalog data — per-query recall@k of
    # the refined serving path at nprobe ∈ {1, 2, 4, 8}. Probe cost is
    # linear in nprobe (nprobe/|C| of the assign files + that share of
    # the compressed scan); the sweep is the measured Pareto curve.
    _probe_pred = f" WHERE rn <= {ANN_IDX_NPROBE}\n"
    assert refined_sql.count(_probe_pred) == 1
    _sweep_arms = {
        np_: refined_sql.replace(_probe_pred, f" WHERE rn <= {np_}\n")
        for np_ in (1, 2, 4, 8)
    }
    _arm_ctes = ",\n".join(
        f"arm{np_} AS ({sql})" for np_, sql in _sweep_arms.items())
    _hit_ctes = ",\n".join(
        f"h{np_} AS (SELECT b.qid, count(*) AS n FROM brute b "
        f"JOIN arm{np_} a ON a.qid = b.qid AND a.docno = b.vec_id "
        f"GROUP BY b.qid)" for np_ in _sweep_arms)
    _arm_rows = "\nUNION ALL\n".join(
        f"SELECT CAST({np_} AS INT) AS nprobe, qs.qid, "
        f"CAST(coalesce(h{np_}.n, 0) AS BIGINT) AS n_hits, "
        f"round(coalesce(h{np_}.n, 0) / {inv_k}, 6) AS recall "
        f"FROM qset qs LEFT JOIN h{np_} ON h{np_}.qid = qs.qid"
        for np_ in _sweep_arms)
    sweep_sql = f"""
WITH brute AS ({ORACLES["ann_cosine_topk"]}),
{_arm_ctes},
qset AS (SELECT DISTINCT qid FROM brute),
{_hit_ctes}
{_arm_rows}
"""

    @register("ann_recall_sweep", sweep_sql)
    def q_ann_recall_sweep(spark, sf_dir):
        """Recall@k of the refined IVF-PQ serving path at nprobe 1, 2,
        4, 8 against exact brute force — the recall-vs-cost Pareto
        curve as a strict catalog entry (probe cost is linear in
        nprobe: that share of the assign files and of the compressed
        scan). One brute-force ground truth, four composed pipelines,
        O(|queries|·k) evaluation joins."""
        from functools import reduce

        from hadoop_ir_spark.operators import similarity as sim

        idx_dir = _ann_index_dir(spark, sf_dir)
        queries = _ann_queries(spark, sf_dir)
        exact = QUERIES["ann_cosine_topk"](spark, sf_dir).localCheckpoint()
        # rank the centroid distances ONCE (r13, VERDICT r12 #7): the
        # four arms differ only in the `rn <= nprobe` cut, so they share
        # one materialized ranking instead of four identical
        # crossJoin+window subtrees
        ranked = dinc.ivfpq_ranked_probes(queries, idx_dir).localCheckpoint()
        outs = []
        for np_ in (1, 2, 4, 8):
            refd = (dinc.indexed_ivfpq_topk(
                queries, idx_dir, k=ANN_IDX_K, nprobe=np_,
                refine=ANN_REFINE, ranked_probes=ranked)
                .withColumnRenamed("docno", "vec_id"))
            outs.append(sim.recall_vs_exact(exact, refd, k=ANN_IDX_K,
                                            qids=queries.select("qid"))
                        .select(F.lit(np_).cast("int").alias("nprobe"),
                                "qid", "n_hits", "recall"))
        return reduce(lambda a, b: a.unionByName(b), outs)


_register_indexed_pq()


# ---------------------------------------------------------------------------
# residual-encoded IVF-PQ (r11): the Jégou et al. IVFADC form — PQ codes
# encode x − c(x), the within-list displacement, so the same codebook
# budget buys materially better ADC distances than raw-vector PQ.
# ---------------------------------------------------------------------------

def _ann_res_index_dir(spark, sf_dir: str) -> str:
    """Memoized store carrying the RESIDUAL PQ index (``_ann_store``,
    tag ``annres``): IVF trained on the standing embeddings (id-sample,
    the indexed_ann_topk convention), then
    train_pq_index(residual=True) — sub-codebooks over standing
    residuals, codes for x − c(x) — then the new snapshot folded in
    (assignment + residual encode against the persisted artifacts,
    O(snapshot))."""
    def train(out, _standing):
        dinc.train_ann_index(spark, out, every=ANN_IDX_EVERY)
        dinc.train_pq_index(spark, out, residual=True)
    return _ann_store(spark, sf_dir, "annres", train)


def _register_indexed_residual():
    from hadoop_ir_spark.operators import similarity

    sub = 64 // similarity.PQ_M
    d2 = ("(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
          " + list_dot_product({b}, {b}))")
    cos_ec = ("list_dot_product(e.v, c.cv)"
              " / (sqrt(list_dot_product(e.v, e.v))"
              " * sqrt(list_dot_product(c.cv, c.cv)))")

    res_ctes = f"""
WITH embd AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
cent AS (
  SELECT vec_id AS cid, v AS cv FROM embd
  WHERE vec_id % 3 <> 0 AND vec_id % {ANN_IDX_EVERY} = 0
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT s.vec_id, s.cid,
           row_number() OVER (PARTITION BY s.vec_id
                              ORDER BY s.cos DESC, s.cid ASC) AS rn
    FROM (SELECT e.vec_id, c.cid, {cos_ec} AS cos
          FROM embd e CROSS JOIN cent c) s
  ) WHERE rn = 1
),
rx AS (
  SELECT e.vec_id,
         list_transform(list_zip(e.v, c.cv), p -> p[1] - p[2]) AS rv
  FROM embd e
  JOIN assign a ON a.vec_id = e.vec_id
  JOIN cent c ON c.cid = a.cid
),
samples AS (
  SELECT rv, rn FROM (
    SELECT rv, row_number() OVER (ORDER BY vec_id) AS rn
    FROM rx
    WHERE vec_id % {similarity.PQ_TRAIN_EVERY} = 0 AND vec_id % 3 <> 0
  ) WHERE rn <= {similarity.PQ_K}
),
cb AS (
  SELECT t.s AS s, rn - 1 AS code,
         list_slice(rv, t.s * {sub} + 1, t.s * {sub} + {sub}) AS cv
  FROM samples, range({similarity.PQ_M}) t(s)
),
xs AS (
  SELECT vec_id, t.s AS s,
         list_slice(rv, t.s * {sub} + 1, t.s * {sub} + {sub}) AS xv
  FROM rx, range({similarity.PQ_M}) t(s)
),
enc AS (
  SELECT vec_id, s, code FROM (
    SELECT x.vec_id, x.s, c.code,
           row_number() OVER (
             PARTITION BY x.vec_id, x.s
             ORDER BY {d2.format(a='x.xv', b='c.cv')} ASC, c.code ASC
           ) AS rn
    FROM xs x JOIN cb c ON c.s = x.s
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS qid, v AS qv FROM embd
      WHERE vec_id % {ANN_QUERY_EVERY} = 0),
probes AS (
  SELECT qid, cid FROM (
    SELECT s.qid, s.cid,
           row_number() OVER (PARTITION BY s.qid
                              ORDER BY s.cos DESC, s.cid ASC) AS rn
    FROM (SELECT q.qid, c.cid,
                 list_dot_product(q.qv, c.cv)
                 / (sqrt(list_dot_product(q.qv, q.qv))
                    * sqrt(list_dot_product(c.cv, c.cv))) AS cos
          FROM q CROSS JOIN cent c) s
  ) WHERE rn <= {ANN_IDX_NPROBE}
),
rq AS (
  SELECT p.qid, p.cid,
         list_transform(list_zip(q.qv, c.cv), z -> z[1] - z[2]) AS rqv
  FROM probes p
  JOIN q ON q.qid = p.qid
  JOIN cent c ON c.cid = p.cid
),
qs AS (
  SELECT qid, cid, t.s AS s,
         list_slice(rqv, t.s * {sub} + 1, t.s * {sub} + {sub}) AS qv
  FROM rq, range({similarity.PQ_M}) t(s)
),
lut AS (
  SELECT q.qid, q.cid, q.s, c.code,
         CAST(floor({d2.format(a='q.qv', b='c.cv')} * 1e6 + 0.5)
              AS BIGINT) AS d2_i
  FROM qs q JOIN cb c ON c.s = q.s
),
cand AS (SELECT p.qid, a.vec_id, a.cid FROM probes p
         JOIN assign a USING (cid)),
scored AS (
  SELECT l.qid, e.vec_id, CAST(sum(l.d2_i) AS BIGINT) AS di
  FROM enc e
  JOIN cand cd ON cd.vec_id = e.vec_id
  JOIN lut l ON l.qid = cd.qid AND l.cid = cd.cid
            AND l.s = e.s AND l.code = e.code
  GROUP BY 1, 2
),
ranked AS (
  SELECT qid, vec_id AS docno, di,
         row_number() OVER (PARTITION BY qid
                            ORDER BY di ASC, vec_id DESC) AS rank
  FROM scored
)
"""
    res_sql = res_ctes + f"""
SELECT qid, docno, round(di::DOUBLE / 1e6, 6) AS approx_d2,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {ANN_IDX_K}
"""

    @register("indexed_ivfpq_residual_topk", res_sql)
    def q_indexed_ivfpq_residual_topk(spark, sf_dir):
        """IVF-PQ with RESIDUAL encoding served from the persisted
        store (IVFADC): codes encode x − c(x) against the persisted
        centroids, the per-query ADC table is built per PROBED centroid
        from rq = q − c, and each candidate scores against the table of
        its own list. The scan still touches only (docno, s, code)
        ints; the residual arithmetic is elementwise subtraction + the
        PQ family's sequential-fold dots, so the whole composed
        pipeline remains byte-exact against the CTE oracle. Fold and
        retraction are the store's (tests pin fold≡rebuild and the
        IVF-retrain-invalidates-residuals discipline)."""
        idx_dir = _ann_res_index_dir(spark, sf_dir)
        queries = _ann_queries(spark, sf_dir)
        return dinc.indexed_ivfpq_topk(queries, idx_dir, k=ANN_IDX_K,
                                       nprobe=ANN_IDX_NPROBE)

    # residual serving WITH the exact re-rank stage (r12): the measured
    # production configuration — SCALING r11 put its recall at 0.670 vs
    # 0.570 raw-PQ refined at sf0.1 — now catalog-graded: the oracle
    # composes the residual ADC CTEs with the exact-cosine tail over
    # the same deterministic shortlist.
    _cos_res_ref = ("list_dot_product(e.v, q.qv)"
                    " / (sqrt(list_dot_product(e.v, e.v))"
                    " * sqrt(list_dot_product(q.qv, q.qv)))")
    res_refined_sql = res_ctes.rstrip() + f""",
short AS (SELECT qid, docno FROM ranked WHERE rank <= {ANN_REFINE}),
ex AS (
  SELECT s.qid, s.docno, round({_cos_res_ref}, 6) AS cosine
  FROM short s
  JOIN embd e ON e.vec_id = s.docno
  JOIN q ON q.qid = s.qid
),
rr AS (
  SELECT qid, docno, cosine,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cosine DESC, docno DESC) AS rank
  FROM ex
)
SELECT qid, docno, cosine, CAST(rank AS INT) AS rank
FROM rr WHERE rank <= {ANN_IDX_K}
"""

    @register("indexed_ivfpq_residual_refined", res_refined_sql)
    def q_indexed_ivfpq_residual_refined(spark, sf_dir):
        """Residual IVF-PQ (IVFADC) with the exact re-rank stage — the
        store's best-measured serving configuration: top ANN_REFINE
        residual-ADC candidates per query re-scored by TRUE rounded
        cosine via the pruned docno equi-join on the store's
        embeddings, standard tie-break. Same bounded-fetch cost story
        as indexed_ivfpq_refined; the residual codes buy the better
        shortlist."""
        idx_dir = _ann_res_index_dir(spark, sf_dir)
        queries = _ann_queries(spark, sf_dir)
        return dinc.indexed_ivfpq_topk(queries, idx_dir, k=ANN_IDX_K,
                                       nprobe=ANN_IDX_NPROBE,
                                       refine=ANN_REFINE)

    # recall@k of the residual paths vs brute force (r12): grades the
    # IVFADC recall claim itself at every SF, next to ann_recall_ivfpq's
    # raw-PQ curve — the two entries together pin "residual encoding
    # lifts recall at equal serving cost" as catalog data.
    inv_k = f"CAST({float(ANN_IDX_K)!r} AS DOUBLE)"
    recall_res_sql = f"""
WITH brute AS ({ORACLES["ann_cosine_topk"]}),
adc AS ({res_sql}),
refd AS ({res_refined_sql}),
qset AS (SELECT DISTINCT qid FROM brute),
h1 AS (
  SELECT b.qid, count(*) AS n FROM brute b
  JOIN adc a ON a.qid = b.qid AND a.docno = b.vec_id
  GROUP BY b.qid
),
h2 AS (
  SELECT b.qid, count(*) AS n FROM brute b
  JOIN refd r ON r.qid = b.qid AND r.docno = b.vec_id
  GROUP BY b.qid
)
SELECT qs.qid,
       CAST(coalesce(h1.n, 0) AS BIGINT) AS n_hits_adc,
       round(coalesce(h1.n, 0) / {inv_k}, 6) AS recall_adc,
       CAST(coalesce(h2.n, 0) AS BIGINT) AS n_hits_refined,
       round(coalesce(h2.n, 0) / {inv_k}, 6) AS recall_refined
FROM qset qs
LEFT JOIN h1 ON h1.qid = qs.qid
LEFT JOIN h2 ON h2.qid = qs.qid
"""

    @register("ann_recall_ivfpq_residual", recall_res_sql)
    def q_ann_recall_ivfpq_residual(spark, sf_dir):
        """Per-query recall@k of the RESIDUAL (IVFADC) serving paths
        against exact brute force, ADC-only and refined side by side —
        the residual twin of ann_recall_ivfpq. The evaluation join is
        O(|queries|·k), corpus-independent."""
        from hadoop_ir_spark.operators import similarity as sim

        idx_dir = _ann_res_index_dir(spark, sf_dir)
        queries = _ann_queries(spark, sf_dir)
        exact = QUERIES["ann_cosine_topk"](spark, sf_dir)
        adc = (dinc.indexed_ivfpq_topk(queries, idx_dir, k=ANN_IDX_K,
                                       nprobe=ANN_IDX_NPROBE)
               .withColumnRenamed("docno", "vec_id"))
        refd = (dinc.indexed_ivfpq_topk(queries, idx_dir, k=ANN_IDX_K,
                                        nprobe=ANN_IDX_NPROBE,
                                        refine=ANN_REFINE)
                .withColumnRenamed("docno", "vec_id"))
        qids = queries.select("qid")
        r1 = sim.recall_vs_exact(exact, adc, k=ANN_IDX_K, qids=qids)
        r2 = sim.recall_vs_exact(exact, refd, k=ANN_IDX_K, qids=qids)
        return (r1.select("qid",
                          F.col("n_hits").alias("n_hits_adc"),
                          F.col("recall").alias("recall_adc"))
                .join(r2.select("qid",
                                F.col("n_hits").alias("n_hits_refined"),
                                F.col("recall").alias("recall_refined")),
                      "qid"))


_register_indexed_residual()


# ---------------------------------------------------------------------------
# persisted k-means-trained IVF index (VERDICT r10 #5)
# ---------------------------------------------------------------------------

KM_IDX_EVERY = 50      # init id-sample stride (matches kmeans_clusters)
KM_IDX_MAX_K = 40      # pinned k — the scale knob kmeans_clusters uses
KM_IDX_ITERS = 3


def _ann_km_index_dir(spark, sf_dir: str) -> str:
    """Memoized store whose IVF index is trained with K-MEANS centers
    (``_ann_store``, tag ``annkm``; ``similarity.kmeans_spherical``
    over the STANDING embeddings, deterministic id-sample init — the
    production training path) and persisted via
    ``train_ann_index(centroids=...)``; the new snapshot's vectors then
    fold in O(snapshot) by assignment to the persisted centers.
    Downstream serving plans are identical to the id-sample store —
    only the trained artifact differs."""
    from hadoop_ir_spark.operators import similarity

    def train(out, standing):
        init = similarity.centroid_sample(standing, every=KM_IDX_EVERY,
                                          max_k=KM_IDX_MAX_K)
        _assign, cents = similarity.kmeans_spherical(standing, init,
                                                     iters=KM_IDX_ITERS)
        dinc.train_ann_index(spark, out, centroids=cents)
    return _ann_store(spark, sf_dir, "annkm", train)


def _km_ivf_oracle() -> str:
    """Unrolled-Lloyd (the kmeans_clusters oracle pattern, restricted to
    the standing side) composed into the indexed_ann_topk IVF CTEs:
    train on ``vec_id % 3 <> 0``, assign ALL vectors to the final
    centers, probe/score/rank identically to the id-sample oracle."""
    cos_ec = (
        "list_dot_product(e.embedding::DOUBLE[], c.cv)"
        " / (sqrt(list_dot_product(e.embedding::DOUBLE[],"
        " e.embedding::DOUBLE[]))"
        " * sqrt(list_dot_product(c.cv, c.cv)))")
    cte = [
        "standing AS (SELECT vec_id, embedding FROM embeddings "
        "WHERE vec_id % 3 <> 0)",
        f"cent0 AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv "
        f"FROM standing WHERE vec_id % {KM_IDX_EVERY} = 0"
        f" AND vec_id < {KM_IDX_EVERY * KM_IDX_MAX_K})",
        "edims AS (SELECT vec_id, unnest(embedding::DOUBLE[]) AS val, "
        "unnest(range(1, len(embedding) + 1)) AS pos FROM standing)",
    ]
    for it in range(1, KM_IDX_ITERS + 1):
        cte.append(
            f"a{it} AS (SELECT vec_id, cid FROM ("
            f"SELECT s.vec_id, s.cid, row_number() OVER ("
            f"PARTITION BY s.vec_id ORDER BY s.cos DESC, s.cid ASC) AS rn "
            f"FROM (SELECT e.vec_id, c.cid, {cos_ec} AS cos "
            f"FROM standing e CROSS JOIN cent{it - 1} c) s) WHERE rn = 1)")
        cte.append(
            f"m{it} AS (SELECT a.cid, d.pos, round(avg(d.val), 9) AS val "
            f"FROM a{it} a JOIN edims d USING (vec_id) GROUP BY a.cid,"
            f" d.pos)")
        cte.append(
            f"g{it} AS (SELECT cid, list(val ORDER BY pos) AS cv "
            f"FROM m{it} GROUP BY cid)")
        cte.append(
            f"cent{it} AS (SELECT p.cid, coalesce(g.cv, p.cv) AS cv "
            f"FROM cent{it - 1} p LEFT JOIN g{it} g USING (cid))")
    n = KM_IDX_ITERS
    return ("WITH " + ",\n".join(cte) + f""",
assign AS (
  SELECT vec_id, cid FROM (
    SELECT s.vec_id, s.cid,
           row_number() OVER (PARTITION BY s.vec_id
                              ORDER BY s.cos DESC, s.cid ASC) AS rn
    FROM (SELECT e.vec_id, c.cid, {cos_ec} AS cos
          FROM embeddings e CROSS JOIN cent{n} c) s
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
      WHERE vec_id % {ANN_QUERY_EVERY} = 0),
probes AS (
  SELECT qid, cid FROM (
    SELECT s.qid, s.cid,
           row_number() OVER (PARTITION BY s.qid
                              ORDER BY s.cos DESC, s.cid ASC) AS rn
    FROM (SELECT q.qid, c.cid,
                 list_dot_product(q.qv::DOUBLE[], c.cv)
                 / (sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))
                    * sqrt(list_dot_product(c.cv, c.cv))) AS cos
          FROM q CROSS JOIN cent{n} c) s
  ) WHERE rn <= {ANN_IDX_NPROBE}
),
cand AS (SELECT p.qid, a.vec_id FROM probes p JOIN assign a USING (cid)),
scored AS (
  SELECT cd.qid, cd.vec_id,
         round(
           list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[])
           / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                    e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))),
           6) AS cosine
  FROM cand cd
  JOIN embeddings e ON e.vec_id = cd.vec_id
  JOIN q ON q.qid = cd.qid
),
ranked AS (
  SELECT qid, vec_id AS docno, cosine,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cosine DESC, vec_id DESC) AS rank
  FROM scored
)
SELECT qid, docno, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {ANN_IDX_K}
""")


@register("indexed_ann_kmeans_topk", _km_ivf_oracle())
def q_indexed_ann_kmeans_topk(spark, sf_dir):
    """IVF top-k served from a PERSISTED K-MEANS-trained index: Lloyd's
    (3 iterations, deterministic id-sample init — the kmeans_clusters
    trajectory, restricted to the standing side) runs once over the
    standing embeddings, the centers persist under the manifest
    discipline, and the new snapshot folds in O(snapshot) by assignment
    to those centers. Oracle = the unrolled-Lloyd CTEs composed into
    the indexed_ann_topk IVF CTEs — by fold≡rebuild, serving from the
    store equals assigning the union corpus to the standing-trained
    centers."""
    idx_dir = _ann_km_index_dir(spark, sf_dir)
    queries = _ann_queries(spark, sf_dir)
    out = dinc.indexed_ann_topk(queries, idx_dir, k=ANN_IDX_K,
                                nprobe=ANN_IDX_NPROBE)
    return out.select("qid", "docno", "cosine",
                      F.col("rank").cast("int").alias("rank"))


# ---------------------------------------------------------------------------
# incremental duplicate-cluster maintenance (VERDICT r9 missing #3)
# ---------------------------------------------------------------------------

def _cc_oracle_sql(num_hashes: int = 24, bands: int = 8) -> str:
    """From-scratch duplicate clusters over old ∪ new: the same pair
    rule the store maintains (exact-content star edges + banded-LSH
    candidates verified at exact Jaccard >= tau — the minhash_replay
    CTE block), resolved by recursive-CTE reachability to min-id
    labels (the dedup_clusters oracle pattern)."""
    from hadoop_ir_spark.queries.minhash_replay import replay_cte_block

    return f"""
WITH RECURSIVE {_SQL_SPLIT},
docsrc AS (SELECT docno, text FROM uni),
{replay_cte_block(num_hashes, bands)},
np AS (
  SELECT i.da AS a, i.db AS b FROM inter i
  JOIN sizes sa ON sa.docno = i.da
  JOIN sizes sb ON sb.docno = i.db
  WHERE i.i::DOUBLE / (sa.n + sb.n - i.i) >= {INC_TAU}
),
exg AS (SELECT docno, min(docno) OVER (PARTITION BY text) AS m FROM uni),
exs AS (SELECT m AS a, docno AS b FROM exg WHERE docno > m),
allp AS (SELECT a, b FROM np UNION SELECT a, b FROM exs),
edges AS (SELECT a, b FROM allp UNION SELECT b, a FROM allp),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach(node, root) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
)
SELECT node AS docno, CAST(min(root) AS BIGINT) AS cluster_id
FROM reach GROUP BY node
"""


@register("incremental_dedup_clusters", _cc_oracle_sql())
def q_incremental_dedup_clusters(spark, sf_dir):
    """Duplicate-cluster labels MAINTAINED INCREMENTALLY: the standing
    corpus's components are computed once and persisted in the dedup
    index (cc_labels); the new snapshot's fold merges only the
    snapshot's pair edges (exact + verified-LSH, the same per-pair,
    corpus-independent rule) into the standing labels via a contracted
    CC pass and an alias log — incremental union-find: new edges can
    only merge existing components or attach new docs. Oracle =
    from-scratch recursive-CTE components over old ∪ new with the same
    pair rule; fold ≡ rebuild is pinned in
    tests/test_dedup_incremental.py::test_cc_labels_fold_equals_rebuild.
    The labels are read from the ``ccsplit`` store
    (``_cc_split_index_dir``) through its snap view right after the
    new-snapshot fold, before the planted chain and the takedown batch
    that ``incremental_cc_splits`` audits: those snaps, their tombstones
    and their alias rows are not in the view."""
    idx_dir, pre_chain = _cc_split_index_dir(spark, sf_dir)
    return (dinc.cc_labels_frame(spark, idx_dir, snaps=pre_chain)
            .select("docno", F.col("label").alias("cluster_id")))


# ---------------------------------------------------------------------------
# split audit over a retracted label store (r12): the catalog-graded
# form of the cc_health(verify_splits=...) math — standing components
# vs re-derived live connectivity, both fully replayed by the oracle.
# ---------------------------------------------------------------------------

_CC_SPLIT_MOD = 17      # deterministic takedown set: docno % 17 == 3
_CC_SPLIT_REM = 3

# a planted 3-doc near-dup CHAIN guaranteeing the audit's split branch
# is exercised at every SF: adjacent shingle-overlap Jaccard 55/61 ≈
# 0.902 >= tau=0.9, skip-one 52/64 ≈ 0.813 < tau, so the only edges are
# a-b and b-c — and the middle id is ≡ 3 (mod 17), so the takedown
# batch retracts exactly the articulation point: the standing merged
# label conflates {a} and {c} until a rebuild. Ids sit above the
# re-crawl inject offset; texts are built from a dedicated token
# alphabet so they pair with nothing else.
_CC_CHAIN_TOKS = [f"ccs{i}" for i in range(66)]
_CC_CHAIN = [
    (20_000_009, " ".join(_CC_CHAIN_TOKS[0:60])),
    (20_000_010, " ".join(_CC_CHAIN_TOKS[3:63])),   # % 17 == 3: retracted
    (20_000_011, " ".join(_CC_CHAIN_TOKS[6:66])),
]
_CC_CHAIN_VALUES = ", ".join(f"({i}, '{t}', 1)" for i, t in _CC_CHAIN)


def _cc_split_index_dir(spark, sf_dir: str) -> tuple[str, list[int]]:
    """Memoized label store with a RETRACTION history per (process,
    sf_dir), and its snap list right after the new-snapshot fold: build
    old → standing labels ONCE (build_cc_labels) → fold new (only the
    snapshot's pair edges merge: contracted CC + alias log) → read the
    snaps → fold the planted chain → a deterministic takedown batch
    (docno % 17 == 3 of the union corpus, removed with their indexed
    text). The view over those snaps is the maintained labels of
    old ∪ new; the full view is the state cc_split_report audits."""
    def build(out):
        _assert_offset(spark, sf_dir)
        dinc.build_dedup_index(_old_docs(spark, sf_dir), out,
                               min_len=INC_SPAN_LEN, id_col="doc_id")
        dinc.build_cc_labels(spark, out, tau=INC_TAU)
        dinc.update_dedup_index(spark, out, _new_docs(spark, sf_dir),
                                id_col="doc_id")
        pre_chain = list(dinc._read_manifest(out)["snaps"])
        chain = spark.createDataFrame(_CC_CHAIN,
                                      "doc_id long, text string")
        dinc.update_dedup_index(spark, out, chain, id_col="doc_id")
        rm = (_old_docs(spark, sf_dir)
              .unionByName(_new_docs(spark, sf_dir))
              .unionByName(chain)
              .filter(F.col("doc_id") % _CC_SPLIT_MOD == _CC_SPLIT_REM))
        dinc.update_dedup_index(spark, out, removed_docs=rm,
                                id_col="doc_id")
        return out, pre_chain
    return catalog.memo_store(sf_dir, "ccsplit", build)


def _cc_split_oracle_sql(num_hashes: int = 24, bands: int = 8) -> str:
    """Standing components over the ORIGINAL union corpus (recursive-CTE
    reachability — the incremental_dedup_clusters oracle) and current
    connectivity over the SURVIVORS, from ONE shared per-pair edge set:
    the pair rule (content equality / Jaccard >= tau of the two docs) is
    corpus-independent, so near edges restrict to survivors exactly,
    while exact-content star edges are RE-DERIVED over each surviving
    text group (a star through a retracted min would fake a split)."""
    from hadoop_ir_spark.queries.minhash_replay import replay_cte_block

    return f"""
WITH RECURSIVE {_SQL_SPLIT},
uni2 AS (SELECT docno, text, isn FROM uni
         UNION ALL
         SELECT * FROM (VALUES {_CC_CHAIN_VALUES}) AS q(docno, text, isn)),
docsrc AS (SELECT docno, text FROM uni2),
{replay_cte_block(num_hashes, bands)},
np AS (
  SELECT i.da AS a, i.db AS b FROM inter i
  JOIN sizes sa ON sa.docno = i.da
  JOIN sizes sb ON sb.docno = i.db
  WHERE i.i::DOUBLE / (sa.n + sb.n - i.i) >= {INC_TAU}
),
exg AS (SELECT docno, min(docno) OVER (PARTITION BY text) AS m FROM uni2),
exs AS (SELECT m AS a, docno AS b FROM exg WHERE docno > m),
allp AS (SELECT a, b FROM np UNION SELECT a, b FROM exs),
edges AS (SELECT a, b FROM allp UNION SELECT b, a FROM allp),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach(node, root) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
),
stand AS (SELECT node AS docno, min(root) AS label
          FROM reach GROUP BY node),
surv AS (SELECT docno FROM uni2
         WHERE docno % {_CC_SPLIT_MOD} <> {_CC_SPLIT_REM}),
smem AS (SELECT s.docno, s.label
         FROM stand s JOIN surv v ON v.docno = s.docno),
sexg AS (SELECT u.docno, min(u.docno) OVER (PARTITION BY u.text) AS m
         FROM uni2 u JOIN surv v ON v.docno = u.docno),
sexs AS (SELECT m AS a, docno AS b FROM sexg WHERE docno > m),
snp AS (SELECT n.a, n.b FROM np n
        JOIN surv va ON va.docno = n.a
        JOIN surv vb ON vb.docno = n.b),
sallp AS (SELECT a, b FROM snp UNION SELECT a, b FROM sexs),
sedges AS (SELECT a, b FROM sallp UNION SELECT b, a FROM sallp),
sreach(node, root) AS (
  SELECT docno, docno FROM smem
  UNION
  SELECT e.b, r.root FROM sreach r JOIN sedges e ON e.a = r.node
),
scur AS (SELECT node, min(root) AS sub FROM sreach GROUP BY node)
SELECT CAST(m.label AS BIGINT) AS label,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(count(DISTINCT c.sub) AS BIGINT) AS n_subcomponents
FROM smem m JOIN scur c ON c.node = m.docno
GROUP BY m.label
"""


@register("incremental_cc_splits", _cc_split_oracle_sql())
def q_incremental_cc_splits(spark, sf_dir):
    """Deferred-split audit of the standing duplicate-cluster labels
    after a takedown batch (r12 — the catalog-graded form of
    ``cc_health(verify_splits=True)``'s math): for every standing
    resolved component with a live member, re-derive the live members'
    connectivity under the standing build's own pair rule and count the
    subcomponents the merged label now conflates
    (``dedup_incremental.cc_split_report``; n_subcomponents > 1 ⇒ a
    retraction genuinely split the component — the state
    build_cc_labels(rebuild=True) repairs). Oracle = two recursive-CTE
    reachability passes (standing over the original corpus, current
    over the survivors) sharing one per-pair edge replay."""
    idx_dir, _pre_chain = _cc_split_index_dir(spark, sf_dir)
    return dinc.cc_split_report(spark, idx_dir)


# ---------------------------------------------------------------------------
# SQ8 scalar-quantized serving (r12): the third persisted codec — 8
# bits/dim (64 B/vec vs PQ's 8 B/vec and the raw vector's 512 B), near-
# exact cosine, no re-rank stage needed. ann_recall_sq grades the
# memory/recall trade next to ann_recall_ivfpq's PQ curve.
# ---------------------------------------------------------------------------

SQ_DIMS = 64


def _register_indexed_sq():
    _code_lambda = (
        "p -> CASE WHEN p[3] - p[2] > 0 THEN CAST(least(greatest("
        "floor((p[1] - p[2]) / (p[3] - p[2]) * 255.0 + 0.5), 0), 255)"
        " AS INT) ELSE 0 END")
    _dec_lambda = "p -> p[2] + p[1] * (p[3] - p[2]) / 255.0"

    ivfsq_sql = f"""
WITH embd AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
cent AS (
  SELECT vec_id AS cid, v AS cv FROM embd
  WHERE vec_id % 3 <> 0 AND vec_id % {ANN_IDX_EVERY} = 0
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT s.vec_id, s.cid,
           row_number() OVER (PARTITION BY s.vec_id
                              ORDER BY s.cos DESC, s.cid ASC) AS rn
    FROM (SELECT e.vec_id, c.cid,
                 list_dot_product(e.v, c.cv)
                 / (sqrt(list_dot_product(e.v, e.v))
                    * sqrt(list_dot_product(c.cv, c.cv))) AS cos
          FROM embd e CROSS JOIN cent c) s
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS qid, v AS qv FROM embd
      WHERE vec_id % {ANN_QUERY_EVERY} = 0),
probes AS (
  SELECT qid, cid FROM (
    SELECT s.qid, s.cid,
           row_number() OVER (PARTITION BY s.qid
                              ORDER BY s.cos DESC, s.cid ASC) AS rn
    FROM (SELECT q.qid, c.cid,
                 list_dot_product(q.qv, c.cv)
                 / (sqrt(list_dot_product(q.qv, q.qv))
                    * sqrt(list_dot_product(c.cv, c.cv))) AS cos
          FROM q CROSS JOIN cent c) s
  ) WHERE rn <= {ANN_IDX_NPROBE}
),
cand AS (SELECT p.qid, a.vec_id FROM probes p JOIN assign a USING (cid)),
bounds AS (
  SELECT t.d AS d, min(e.v[t.d + 1]) AS lo, max(e.v[t.d + 1]) AS hi
  FROM embd e, range({SQ_DIMS}) t(d)
  WHERE e.vec_id % 3 <> 0
  GROUP BY t.d
),
bl AS (SELECT list(lo ORDER BY d) AS lo, list(hi ORDER BY d) AS hi
       FROM bounds),
enc AS (
  SELECT e.vec_id,
         list_transform(list_zip(e.v, b.lo, b.hi),
                        {_code_lambda}) AS codes
  FROM embd e, bl b
),
dec AS (
  SELECT e.vec_id,
         list_transform(list_zip(e.codes, b.lo, b.hi),
                        {_dec_lambda}) AS xh
  FROM enc e, bl b
),
scored AS (
  SELECT cd.qid, cd.vec_id,
         round(list_dot_product(d.xh, q.qv)
           / (sqrt(list_dot_product(d.xh, d.xh))
              * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
  FROM cand cd
  JOIN dec d ON d.vec_id = cd.vec_id
  JOIN q ON q.qid = cd.qid
),
ranked AS (
  SELECT qid, vec_id AS docno, cosine,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cosine DESC, vec_id DESC) AS rank
  FROM scored
)
SELECT qid, docno, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {ANN_IDX_K}
"""

    @register("indexed_ivfsq_topk", ivfsq_sql)
    def q_indexed_ivfsq_topk(spark, sf_dir):
        """IVF + SQ8 served from the persisted store: probe nprobe
        centroid lists, dequantize ONLY the probed candidates' 8-bit
        code arrays against the trained per-dim bounds (64 B/vec read
        instead of the 512 B raw vector), rank by rounded cosine.
        Oracle replays the whole pipeline — standing-side bounds CTE,
        zip-lambda encode/decode identical to the store's arithmetic,
        probe/candidate CTEs shared with the IVF family — so a strict
        pass proves the PERSISTED codes byte-match an external
        engine's encode (the fold≡rebuild tests carry the
        fold-vs-union half)."""
        idx_dir = _ann_index_dir(spark, sf_dir)
        queries = _ann_queries(spark, sf_dir)
        return dinc.indexed_ivfsq_topk(queries, idx_dir, k=ANN_IDX_K,
                                       nprobe=ANN_IDX_NPROBE)

    inv_k = f"CAST({float(ANN_IDX_K)!r} AS DOUBLE)"
    recall_sq_sql = f"""
WITH brute AS ({ORACLES["ann_cosine_topk"]}),
sqr AS ({ivfsq_sql}),
qset AS (SELECT DISTINCT qid FROM brute),
h1 AS (
  SELECT b.qid, count(*) AS n FROM brute b
  JOIN sqr s ON s.qid = b.qid AND s.docno = b.vec_id
  GROUP BY b.qid
)
SELECT qs.qid,
       CAST(coalesce(h1.n, 0) AS BIGINT) AS n_hits_sq,
       round(coalesce(h1.n, 0) / {inv_k}, 6) AS recall_sq
FROM qset qs
LEFT JOIN h1 ON h1.qid = qs.qid
"""

    @register("ann_recall_sq", recall_sq_sql)
    def q_ann_recall_sq(spark, sf_dir):
        """Per-query recall@k of IVF+SQ8 against exact brute force —
        the memory/recall trade graded: SQ8 keeps 8 bits/dim (64 B/vec,
        8× smaller than the raw vector) and its cosine tracks the exact
        cosine closely, so its recall sits at the IVF probe ceiling
        with NO exact re-rank stage, where the 8 B/vec PQ codes need
        the refine fetch to recover (compare ann_recall_ivfpq's
        recall_adc/recall_refined columns over the same query set)."""
        from hadoop_ir_spark.operators import similarity as sim

        idx_dir = _ann_index_dir(spark, sf_dir)
        queries = _ann_queries(spark, sf_dir)
        exact = QUERIES["ann_cosine_topk"](spark, sf_dir)
        sqr = (dinc.indexed_ivfsq_topk(queries, idx_dir, k=ANN_IDX_K,
                                       nprobe=ANN_IDX_NPROBE)
               .withColumnRenamed("docno", "vec_id"))
        r = sim.recall_vs_exact(exact, sqr, k=ANN_IDX_K,
                                qids=queries.select("qid"))
        return r.select("qid",
                        F.col("n_hits").alias("n_hits_sq"),
                        F.col("recall").alias("recall_sq"))


_register_indexed_sq()
