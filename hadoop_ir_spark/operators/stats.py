"""Collection-statistics operators (SURVEY.md §2.3, A1-A6).

The reference computes these as separate MapReduce jobs with hand-rolled
combiners; here each is one declarative aggregation, so Spark's partial
(hash) aggregation replaces the combiner and AQE sizes the shuffle.

Scale notes (100 TB): ``postings`` is the one heavy shuffle of the whole
engine — groupBy(docno, term) over exploded tokens. Exploding multiplies
rows ~doclen×, but partial aggregation collapses per-partition duplicates
before shuffle, so the shuffled volume is the number of *distinct*
(docno, term) pairs, which is the postings size of a real index. Downstream
per-term stats (df/cf) re-shuffle only the postings, not the tokens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_ir_spark.functions.text import tokens_col


def postings(docs: DataFrame, id_col: str = "docno", text_col: str = "text",
             drop_numbers: bool = False) -> DataFrame:
    """A2: exploded postings ``(docno, term, tf)``.

    Reference: per-document HashMap<term,tf> built in every mapper
    (TrecRun.java:123-136, ClueWebRunQueries.java:196-214).
    """
    toks = docs.select(
        F.col(id_col).alias("docno"),
        F.explode(tokens_col(text_col, drop_numbers)).alias("term"),
    )
    return toks.groupBy("docno", "term").agg(F.count("*").alias("tf"))


def scan_stats(docs: DataFrame, terms: list[str], id_col: str = "docno",
               text_col: str = "text", positional: bool = False) -> DataFrame:
    """The one query-vocabulary corpus scan: ``(docno, doc_len, qtoks)``
    from a single tokenize per document, where ``qtoks`` keeps only the
    tokens in ``terms`` (the reference's mapper keeps docTF for query
    terms only, TrecRun.java:123-136) — term strings, or (pos, term)
    structs with the 0-based ordinal in the FULL stream when
    ``positional`` (adjacency means true adjacency; non-query terms
    still occupy their positions).

    Callers derive, from one frame:

    - doc lengths:     ``scan_doc_lengths(scan)`` — ``scan_stats(docs,
      [])`` when only lengths are needed (``qtoks`` is pruned away);
    - postings:        ``scan_postings(scan)``;
    - positional toks: ``scan.select("docno", F.explode("qtoks"))``.

    Plan rules:

    - The token array is bound once: it is projected as its own column
      and ``doc_len`` / ``qtoks`` are derived from it in a second
      select. ``CollapseProject`` does not inline a non-cheap expression
      that is referenced twice, so the optimized plan splits the text
      once per row (inlined, ``size`` and ``filter`` would each split).
    - Anything that explodes ``qtoks`` must read a cached or
      checkpointed scan. Over an uncached scan, ``InferFiltersFromGenerate``
      pushes ``size(qtoks) > 0`` below the projection and the text is
      split twice; ``proximity.positional_tokens`` is the uncached
      positional stream.

    Callers pairing lengths with postings cache the scan of the shared
    query vocabulary (``catalog.QTERMS``, ``id_col="doc_id"``): equal
    plans share one cache, so every such consumer in a session reads
    the corpus once.
    """
    bound = docs.select(F.col(id_col).alias("docno"),
                        tokens_col(text_col).alias("toks"))
    toks = F.col("toks")
    if positional:
        q = F.filter(
            F.transform(
                toks,
                lambda t, i: F.struct(i.alias("pos"), t.alias("term"))),
            lambda s: s["term"].isin(terms))
    else:
        q = F.filter(toks, lambda t: t.isin(terms))
    return bound.select("docno", F.size(toks).alias("doc_len"),
                        q.alias("qtoks"))


def scan_doc_lengths(scan: DataFrame, skip_empty: bool = True) -> DataFrame:
    """A2: ``(docno, doc_len)`` — token count per document, from a
    :func:`scan_stats` frame: a map-side projection, no shuffle.

    ``skip_empty`` applies the T9 doc-length guard (doclength == 0 docs
    skipped before scoring, TrecRun.java:139, ClueWebRunQueries.java:217);
    it also matches the oracle SQL, whose dlen CTE only contains docs with
    at least one token.
    """
    out = scan.select("docno", "doc_len")
    if skip_empty:
        out = out.filter(F.col("doc_len") > 0)
    return out


def scan_postings(scan: DataFrame) -> DataFrame:
    """A2 query-term postings ``(docno, term, tf)`` from a
    :func:`scan_stats` frame: the term filter runs before the (docno,
    term) aggregation, so the heavy shuffle carries only query-term
    rows. Read a cached or checkpointed ``scan``: over an uncached one
    the text is split twice (see ``scan_stats``)."""
    return (
        scan.select("docno", F.explode("qtoks").alias("term"))
        .groupBy("docno", "term").agg(F.count("*").alias("tf"))
    )


def word_count(docs: DataFrame, id_col: str = "docno",
               text_col: str = "text") -> DataFrame:
    """A1: classic word count ``(term, cf)`` (WordCount.java:61-89)."""
    return (
        docs.select(F.explode(tokens_col(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cf"))
    )


def term_stats(post: DataFrame, min_cf: int = 0) -> DataFrame:
    """A3+A4: per-term ``(term, df, cf)`` from postings
    (ClueWebCollectionStats.java:78-131: df = docs containing term,
    cf = total occurrences). ``min_cf`` reproduces the MIN_OCCUR HAVING
    filter (T10, TrecWordCount.java:106-118) when > 0.
    """
    out = post.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("cf"),
    )
    if min_cf > 0:
        out = out.filter(F.col("cf") > min_cf)
    return out


def collection_globals(post: DataFrame) -> DataFrame:
    """A5: one-row ``(n_docs, n_terms, n_tokens)`` global stats.

    The reference carries these as Hadoop counters written into ``#KEY=``
    header lines (ClueWebCollectionStats.java:61-65,158-161); here it is a
    single global aggregate.
    """
    return post.select(
        F.countDistinct("docno").alias("n_docs"),
        F.countDistinct("term").alias("n_terms"),
        F.sum("tf").alias("n_tokens"),
    )


def query_term_stats(post: DataFrame, topics: DataFrame) -> DataFrame:
    """A6: MIREX QueryTermCount (QueryTermCount.java:84-172) — per query
    term: qtf (=1 in the reference writer), df and cf in the corpus; terms
    absent from the corpus get df=0, cf=0 (left join).

    ``topics``: (qid, term)-shaped DataFrame. The stats side is aggregated
    *before* the join so the broadcast is per-distinct-term, and the topics
    side is tiny → broadcast join, no shuffle of the postings.
    """
    qterms = topics.select("qid", "term").distinct()
    needed = qterms.select("term").distinct()
    stats = (
        post.join(F.broadcast(needed), "term")
        .groupBy("term")
        .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
    )
    return (
        qterms.join(stats, "term", "left")
        .select(
            "qid",
            "term",
            F.lit(1).alias("qtf"),
            F.coalesce("df", F.lit(0)).cast("long").alias("df"),
            F.coalesce("cf", F.lit(0)).cast("long").alias("cf"),
        )
    )


def doc_vectors(post: DataFrame) -> DataFrame:
    """The reference's FeatureVector (HashMap<String,Double> + length,
    FeatureVector.java:25-64, Java-serialized into HBase cells at
    IndexTrecToHBase.java:118-146) as a NATIVE MapType column:
    ``(docno, vector: map<term,bigint>, doc_len)``.

    Preferred at scale only for per-doc point access; set-algebra over
    vocabularies (interpolation, clipping) stays on the exploded postings
    form, which joins and aggregates columnar."""
    return post.groupBy("docno").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("term", "tf")))
        ).alias("vector"),
        F.sum("tf").alias("doc_len"),
    )
