"""Positional-proximity operators: positional token streams, exact
ordered-bigram (phrase) counts, unordered-window pair counts, and the
building blocks of Metzler-Croft sequential-dependence (SDM) scoring
[Metzler & Croft, SIGIR'05].

Beyond-reference capability: the reference scores bag-of-words only — its
mappers collapse each document to HashMap<term,tf> at tokenization time
(TrecRun.java:123-136, ClueWebRunQueries.java:196-214), discarding
positions — so phrase / proximity evidence is unreachable there. Here the
positional stream is a first-class frame and every proximity count is a
bounded successor scan over the docno-sorted stream, never a
per-document quadratic range probe.

Scale notes (100 TB):

- ``positional_tokens`` filters to the query vocabulary BEFORE any join
  (the same projection-pushdown trick as ``stats.scan_stats``), so all
  pair joins carry only query-term rows — a few hundred positions per
  document at most, independent of document length. It posexplodes the
  token expression directly, so its standalone callers need no cached
  scan (``scan_stats`` explains why an uncached ``qtoks`` explode would
  split the text twice).
- Pair extraction is a WINDOW successor scan (r12 optimization): the
  positional stream is hash-partitioned by docno and sorted by pos ONCE;
  each row looks at its next ``window - 1`` successors via ``lead``.
  Positions are distinct integers, so every co-occurrence within a
  W-token span is among the next W-1 rows of the filtered stream — the
  window pass produces exactly the pairs the old (docno, pos) offset
  self-join produced, with ONE exchange of the unexpanded stream
  instead of two exchanges (one of them W-1x exploded) plus a
  sort-merge join. Shuffle bytes drop ~(W+1)/2x and the ordered and
  unordered extractors share the same exchange (identical child →
  ReusedExchange), which is the shape that survives book-length
  documents at 100 TB.
- Pair-count frames are grouped on (docno, t1, t2), which partial
  aggregation collapses map-side (the docno hash partitioning from the
  window already satisfies the grouping distribution, so no second
  shuffle); collection frequencies are a second tiny aggregate over the
  per-doc counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hadoop_ir_spark.functions.text import tokens_col


def positional_tokens(docs: DataFrame, terms: list[str] | None = None,
                      id_col: str = "docno",
                      text_col: str = "text") -> DataFrame:
    """``(docno, pos, term)`` positional stream; ``pos`` is the 0-based
    ordinal in the FULL token stream (the vocabulary filter is applied
    after posexplode, so adjacency means true adjacency in the original
    text, with non-query terms still occupying their positions)."""
    out = docs.select(
        F.col(id_col).alias("docno"),
        F.posexplode(tokens_col(text_col)).alias("pos", "term"),
    )
    if terms is not None:
        out = out.filter(F.col("term").isin(terms))
    return out


def _pos_w():
    # built lazily: Window.partitionBy needs an active SparkContext,
    # which module import time does not guarantee
    return Window.partitionBy("docno").orderBy("pos")


def best_passage_windows(hits: DataFrame, width: int) -> DataFrame:
    """Best ``width``-token window per (qid, docno): the window holding
    the most query-term hits, earliest start on ties —
    ``(qid, docno, win_start, n_hits)``.

    ``hits``: (qid, docno, ord) with DISTINCT ord per (qid, docno) (one
    token per position). The optimal window always starts at a hit, and
    the hits inside [ord, ord + width - 1] are exactly this row plus its
    next <= width-1 successors in the ord-sorted stream, so one lead()
    window replaces the old width-replica offset-explode self-join (and
    the localCheckpoint that fed it twice): the hits frame is computed
    and shuffled ONCE, unexpanded, and the per-doc argmin below reuses
    the same (qid, docno) partitioning — no second exchange."""
    ws = Window.partitionBy("qid", "docno").orderBy("ord")
    succ = F.array(*[F.lead("ord", d).over(ws) for d in range(1, width)])
    wins = hits.select(
        "qid", "docno", F.col("ord").alias("win_start"),
        (F.size(F.filter(
            succ,
            lambda p: p.isNotNull() & (p <= F.col("ord") + (width - 1)),
        )) + 1).cast("long").alias("n_hits"),
    )
    best = Window.partitionBy("qid", "docno").orderBy(
        F.desc("n_hits"), F.asc("win_start"))
    return (
        wins.withColumn("rn", F.row_number().over(best))
        .filter(F.col("rn") == 1)
        .select("qid", "docno", "win_start", "n_hits")
    )


def ordered_pair_counts(ptoks: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact-adjacency (ordered bigram, Indri ``#1``) counts per document:
    ``(docno, t1, t2, otf)`` where otf = #positions p with t1 at p and t2
    at p+1. ``pairs`` is a tiny (t1, t2) frame (query bigrams) and is
    broadcast.

    Positions are distinct within a document, so t2 sits at p+1 iff the
    NEXT row of the docno-sorted stream sits at p+1 — one ``lead``
    window over the unexpanded stream replaces the old (docno, pos+1)
    self-join (same pairs, one exchange instead of two)."""
    w = _pos_w()
    adj = ptoks.select(
        "docno",
        F.col("term").alias("t1"),
        F.lead("term", 1).over(w).alias("t2"),
        (F.lead("pos", 1).over(w) - F.col("pos")).alias("_gap"),
    ).filter(F.col("_gap") == 1)
    return (
        adj.join(F.broadcast(pairs), ["t1", "t2"])
        .groupBy("docno", "t1", "t2")
        .agg(F.count("*").alias("otf"))
    )


def unordered_pair_counts(ptoks: DataFrame, upairs: DataFrame,
                          window: int = 8) -> DataFrame:
    """Unordered-window (Indri ``#uwN``) counts per document:
    ``(docno, u1, u2, utf)`` where utf = #position pairs (p1 < p2,
    p2 - p1 <= window - 1) whose terms are {u1, u2} in either order.
    ``upairs`` holds normalized pairs (u1 < u2 lexicographically); each
    co-occurrence is counted once.

    Positions are distinct integers, so the partners of a row within the
    next ``window - 1`` POSITIONS are among its next ``window - 1`` ROWS
    of the docno-sorted stream: ``lead(1..W-1)`` + a span filter yields
    exactly the pairs the old skip-gram offset-explode self-join
    produced, shuffling the stream once and unexpanded."""
    w = _pos_w()
    succ = F.array(*[
        F.struct(
            F.lead("pos", d).over(w).alias("p2"),
            F.lead("term", d).over(w).alias("w2"),
        )
        for d in range(1, window)
    ])
    # the window expressions live in their OWN select: a generator
    # (explode) cannot host window functions, so they must be extracted
    # into a Window operator before the explode references the result
    with_succ = ptoks.select(
        "docno", "pos", F.col("term").alias("w1"), succ.alias("nbrs"))
    matched = (
        with_succ.select("docno", "pos", "w1",
                         F.explode("nbrs").alias("nb"))
        .filter(F.col("nb.p2").isNotNull()
                & (F.col("nb.p2") <= F.col("pos") + (window - 1)))
        .select(
            "docno",
            F.least("w1", F.col("nb.w2")).alias("u1"),
            F.greatest("w1", F.col("nb.w2")).alias("u2"),
        )
    )
    return (
        matched.join(F.broadcast(upairs), ["u1", "u2"])
        .groupBy("docno", "u1", "u2")
        .agg(F.count("*").alias("utf"))
    )
