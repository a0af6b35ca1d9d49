"""Winnowing span-fingerprint dedup (beyond-reference LLM-pipeline
operator): detect documents sharing duplicated SPANS, not just
whole-document similarity — the substring-level dedup of Lee et al.
2022 (arXiv:2107.06499, "Deduplicating Training Data Makes Language
Models Better") realized with the winnowing fingerprint scheme of
Schleimer, Wilkerson & Aiken (SIGMOD 2003) instead of a distributed
suffix array.

Per document: hash every k-token shingle (portable md5 hash64), then
slide a w-window over the hash sequence keeping each window's MINIMUM —
the winnowing guarantee is that any shared run of at least w+k-1 tokens
contributes at least one IDENTICAL selected fingerprint in both
documents, at an expected density of 2/(w+1). The distinct selected
fingerprints per doc feed a fingerprint equi-join; pairs sharing >=
min_shared fingerprints are span-duplicate candidates.

Scale shape: everything up to the fingerprint table is map-only
expressions (transform/slice over constant k and w — O(n·k) work per
doc, no UDF); the pair stage is a bucketed equi-join on the fingerprint
value with a df-cap (`max_df`) dropping boilerplate fingerprints shared
by many documents — same anti-blowup knob as `dedup.jaccard_pairs`. No
all-pairs path anywhere; at 100 TB the join shuffles fingerprints, of
which winnowing keeps ~2/(w+1) per token.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_ir_spark.functions.hashes import hash64
from hadoop_ir_spark.functions.text import tokens_col


def _let(bound, fn):
    """Expression-level let-binding: evaluate ``bound`` ONCE and pass it
    to ``fn`` as a lambda variable, via transform over a 1-element array.

    Spark's projection collapse inlines upstream Project expressions into
    downstream lambdas, so a naive grams→windows chain re-evaluates the
    full k-gram hash array inside EVERY window lambda element — O(n²·k)
    md5 calls per document (measured: winnowing at sf0.1 went from
    >10 min to ~4 s with the binding). Lambda variables, unlike column
    references, are evaluated once per element — here once total.
    """
    return F.element_at(F.transform(F.array(bound), fn), 1)


def winnow_fingerprints(docs: DataFrame, k: int = 5, w: int = 4,
                        id_col: str = "docno",
                        text_col: str = "text") -> DataFrame:
    """(docno, fp): the distinct winnowing-selected fingerprints of each
    document (k-token shingles, w-wide minimum windows)."""

    def win_mins(toks):
        g = F.transform(
            F.sequence(F.lit(1), F.size(toks) - (k - 1)),
            lambda i: hash64(F.array_join(F.slice(toks, i, k), " ")),
        )
        return _let(g, lambda gg: F.when(
            F.size(gg) >= w,
            F.array_distinct(F.transform(
                F.sequence(F.lit(1), F.size(gg) - (w - 1)),
                lambda j: F.array_min(F.slice(gg, j, w)),
            )),
        ).otherwise(F.array().cast("array<bigint>")))

    fps = docs.select(
        F.col(id_col).alias("docno"),
        _let(tokens_col(text_col), lambda toks: F.when(
            F.size(toks) >= k, win_mins(toks)
        ).otherwise(F.array().cast("array<bigint>"))).alias("fps"),
    )
    return fps.select("docno", F.explode("fps").alias("fp"))


def span_dup_pairs(fps: DataFrame, max_df: int = 50,
                   min_shared: int = 2) -> DataFrame:
    """(doc_a, doc_b, n_shared): document pairs sharing >= ``min_shared``
    selected fingerprints, doc_a < doc_b. Fingerprints appearing in more
    than ``max_df`` documents are dropped before the join (boilerplate
    guard — exactly the hot-key protection a 100 TB run needs).

    The fingerprint frame feeds the df-cap aggregate AND the pair join,
    so it is checkpointed here — without it both branches re-derive the
    md5-per-gram winnowing lineage (measured 2.0× on the Zipf fixture:
    7.3s → 3.6s), the same multi-consumer rule as
    dedup.minhash_near_dups."""
    fps = fps.localCheckpoint()
    rare = (
        fps.groupBy("fp").agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("fp")
    )
    f2 = fps.join(rare, "fp")
    a = f2.select("fp", F.col("docno").alias("doc_a"))
    b = f2.select("fp", F.col("docno").alias("doc_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnow_oracle_sql(k: int = 5, w: int = 4, max_df: int = 50,
                      min_shared: int = 2,
                      src: str = "documents") -> str:
    """DuckDB mirror over the ``documents`` view (same hash, same window
    minima, same df-cap); ``src`` overrides the corpus relation (the
    Zipf fixture entry passes a ``read_parquet(...)`` literal)."""
    return f"""
WITH toked AS (
  SELECT doc_id AS docno,
         list_filter(string_split_regex(lower(text), '[^0-9a-zA-Z]+'),
                     t -> t <> '') AS toks
  FROM {src}
),
grams AS (
  SELECT docno,
         list_transform(range(1, len(toks) - {k} + 2),
           i -> CAST(('0x' || substr(md5(
                  array_to_string(list_slice(toks, i, i + {k} - 1), ' ')),
                  1, 15)) AS BIGINT)) AS g
  FROM toked WHERE len(toks) >= {k}
),
wins AS (
  SELECT docno,
         list_distinct(list_transform(range(1, len(g) - {w} + 2),
           j -> list_min(list_slice(g, j, j + {w} - 1)))) AS fps
  FROM grams WHERE len(g) >= {w}
),
fp AS (SELECT docno, unnest(fps) AS fp FROM wins),
rare AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= {max_df}),
pairs AS (
  SELECT a.docno AS doc_a, b.docno AS doc_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM fp a JOIN rare USING (fp) JOIN fp b USING (fp)
  WHERE a.docno < b.docno
  GROUP BY 1, 2
)
SELECT * FROM pairs WHERE n_shared >= {min_shared}
"""


def duplicated_spans(docs: DataFrame, min_len: int = 8,
                     id_col: str = "docno",
                     text_col: str = "text",
                     gram_key: str = "string") -> DataFrame:
    """(docno, span_start, span_end, span_len): maximal token spans
    covered by length-``min_len`` token windows occurring MORE THAN
    ONCE in the corpus (any document, any position — a second
    occurrence inside the same document counts). This is the EXACT
    counterpart of the winnowing detector above: Lee et al.'s
    ExactSubstr criterion (arXiv:2107.06499 §4.1) with the distributed
    suffix array replaced by an L-gram seed join + per-doc interval
    merge — every position whose L-gram repeats is duplicated
    evidence, and a shared run of T >= L tokens is covered by
    T - L + 1 consecutive duplicated seeds, so merging seed intervals
    [p, p+L-1] (adjacency gap <= L) reconstructs the maximal span
    exactly.

    Plan shape: per-position L-grams are map-only expressions (the
    same ``_let`` binding as winnowing — the transform output feeds
    posexplode once, not once per element); seeds group on the gram
    STRING, which keeps the operator exact and the DuckDB oracle
    byte-identical (at 100 TB swap ``hash64(gram)`` in as the shuffle
    key and keep strings only for in-bucket verification); surviving
    seeds return to their (docno, pos) homes by one more equi-join and
    merge with a lag + running-sum window per document
    (gaps-and-islands). Everything is linear in duplicated positions;
    nothing is quadratic in documents. ``span_start`` is the 0-based
    token ordinal.
    """
    seeds = _dup_seed_frame(docs, min_len, id_col, text_col, gram_key)
    return _merge_islands(seeds.select("docno", "pos"), min_len)


def _gram_stream(docs: DataFrame, min_len: int, id_col: str,
                 text_col: str) -> DataFrame:
    """(docno, pos, gram): every position's ``min_len``-token gram string
    (the ExactSubstr seed universe). Map-only; the ``_let`` binding keeps
    the transform output evaluated once, not once per posexplode element."""
    L = min_len
    return docs.select(
        F.col(id_col).alias("docno"),
        F.posexplode(_let(tokens_col(text_col), lambda t: F.when(
            F.size(t) >= L,
            F.transform(F.sequence(F.lit(1), F.size(t) - (L - 1)),
                        lambda i: F.array_join(F.slice(t, i, L), " ")),
        ).otherwise(F.array().cast("array<string>")))).alias("pos", "gram"),
    )


def _dup_seed_frame(docs: DataFrame, min_len: int, id_col: str,
                    text_col: str, gram_key: str = "string") -> DataFrame:
    """(docno, pos, gram): the positions whose L-gram occurs >= 2 times
    corpus-wide — the duplicated-evidence seeds both removal variants
    consume. One groupBy on the gram key + one equi-join back.

    ``gram_key`` picks the shuffle key: ``"string"`` groups on the
    L-token gram itself (byte-exact against the DuckDB oracle — the
    catalog default), ``"hash"`` on its portable 60-bit ``hash64`` —
    the 100 TB path, 8-byte shuffle keys instead of L-token strings in
    both the count shuffle and the join; identical output absent
    60-bit collisions (equivalence pinned in tests/test_llmdata.py)."""
    if gram_key not in ("string", "hash"):
        raise ValueError(f"unknown gram_key {gram_key!r}")
    grams = _gram_stream(docs, min_len, id_col, text_col)
    if gram_key == "hash":
        from hadoop_ir_spark.functions.hashes import hash64

        grams = grams.select("docno", "pos",
                             hash64(F.col("gram")).alias("gram"))
    dup_grams = (
        grams.groupBy("gram").agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("gram")
    )
    return grams.join(dup_grams, "gram").select("docno", "pos", "gram")


def _merge_islands(dup: DataFrame, min_len: int) -> DataFrame:
    """Merge per-doc seed positions (each covering [pos, pos+L-1]) into
    maximal spans via lag + running-sum gaps-and-islands: consecutive
    seeds with gap <= L cover a contiguous range, so the merged islands
    are EXACTLY the covered position set."""
    from pyspark.sql.window import Window

    L = min_len
    w = Window.partitionBy("docno").orderBy("pos")
    isl = (
        dup.withColumn(
            "_gap",
            F.when(F.col("pos") - F.lag("pos", 1, -(1 << 30)).over(w) > L,
                   1).otherwise(0))
        .withColumn("_island", F.sum("_gap").over(w))
    )
    return (
        isl.groupBy("docno", "_island")
        .agg(F.min("pos").alias("span_start"),
             (F.max("pos") + L - 1).alias("span_end"))
        .select(
            "docno",
            F.col("span_start").cast("int").alias("span_start"),
            F.col("span_end").cast("int").alias("span_end"),
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("int").alias("span_len"),
        )
    )


def duplicated_spans_oracle_sql(min_len: int = 8) -> str:
    """DuckDB mirror over the ``documents`` view (same tokenizer, same
    gram strings, same interval merge)."""
    L = min_len
    return f"""
WITH toked AS (
  SELECT doc_id AS docno,
         list_filter(string_split_regex(lower(text), '[^0-9a-zA-Z]+'),
                     t -> t <> '') AS toks
  FROM documents
),
grams AS (
  SELECT docno, pos,
         array_to_string(list_slice(toks, pos + 1, pos + {L}), ' ') AS gram
  FROM (SELECT docno, toks,
               unnest(range(0, len(toks) - {L} + 1)) AS pos
        FROM toked WHERE len(toks) >= {L})
),
dupg AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
dup AS (SELECT docno, pos FROM grams JOIN dupg USING (gram)),
isl AS (
  SELECT docno, pos,
         CASE WHEN pos - lag(pos, 1, -1073741824)
                      OVER (PARTITION BY docno ORDER BY pos) > {L}
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
       CAST(max(pos) + {L} - 1 AS INT) AS span_end,
       CAST(max(pos) + {L} - min(pos) AS INT) AS span_len
FROM isl2 GROUP BY docno, island
"""


def remove_spans_keep_first_oracle_sql(min_len: int = 8) -> str:
    """DuckDB mirror of ``remove_duplicated_spans(keep="first")`` over
    the ``documents`` view: same tokenizer, same gram strings, same
    lexicographic-min canonical marking, same two island merges, same
    removal predicate (covered-by-dup AND NOT covered-by-canonical),
    same reassembly."""
    L = min_len
    return f"""
WITH toked AS (
  SELECT doc_id AS docno,
         list_filter(string_split_regex(lower(text), '[^0-9a-zA-Z]+'),
                     t -> t <> '') AS toks
  FROM documents
),
grams AS (
  SELECT docno, pos,
         array_to_string(list_slice(toks, pos + 1, pos + {L}), ' ') AS gram
  FROM (SELECT docno, toks,
               unnest(range(0, len(toks) - {L} + 1)) AS pos
        FROM toked WHERE len(toks) >= {L})
),
dupg AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
seeds AS (SELECT g.docno, g.pos, g.gram FROM grams g JOIN dupg USING (gram)),
canon AS (
  SELECT docno, pos FROM (
    SELECT docno, pos,
           row_number() OVER (PARTITION BY gram
                              ORDER BY docno, pos) AS rn
    FROM seeds) WHERE rn = 1
),
isl_a AS (
  SELECT docno, pos,
         CASE WHEN pos - lag(pos, 1, -1073741824)
                      OVER (PARTITION BY docno ORDER BY pos) > {L}
              THEN 1 ELSE 0 END AS gap
  FROM (SELECT DISTINCT docno, pos FROM seeds)
),
spans_all AS (
  SELECT docno, min(pos) AS s, max(pos) + {L} - 1 AS e
  FROM (SELECT docno, pos,
               sum(gap) OVER (PARTITION BY docno ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM isl_a)
  GROUP BY docno, island
),
isl_c AS (
  SELECT docno, pos,
         CASE WHEN pos - lag(pos, 1, -1073741824)
                      OVER (PARTITION BY docno ORDER BY pos) > {L}
              THEN 1 ELSE 0 END AS gap
  FROM canon
),
spans_canon AS (
  SELECT docno, min(pos) AS s, max(pos) + {L} - 1 AS e
  FROM (SELECT docno, pos,
               sum(gap) OVER (PARTITION BY docno ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM isl_c)
  GROUP BY docno, island
),
words AS (
  SELECT docno, unnest(toks) AS term,
         unnest(range(0, len(toks))) AS pos
  FROM toked WHERE len(toks) > 0
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
"""


def remove_duplicated_spans(docs: DataFrame, min_len: int = 8,
                            id_col: str = "docno",
                            text_col: str = "text",
                            keep: str = "none",
                            gram_key: str = "string") -> DataFrame:
    """(docno, clean_text, n_tokens, n_removed): the corpus with tokens
    covered by duplicated spans (see ``duplicated_spans``) excised —
    the pipeline ACTION of Lee et al.'s ExactSubstr dedup
    (arXiv:2107.06499).

    ``keep`` selects the retention policy:

    - ``"none"`` (the paper's distributed-setting choice): EVERY
      occurrence of a duplicated span is removed.
    - ``"first"``: deterministic canonical-copy retention (VERDICT r7
      #4) — the globally FIRST occurrence (lexicographic min
      (docno, pos)) of each duplicated L-gram group is CANONICAL; a
      token position is removed iff it is covered by >= 1 duplicated
      seed and NOT covered by any canonical seed. For a span whose
      text's first occurrence is unique (the common planted-duplicate
      shape), exactly that first copy survives corpus-wide and every
      later copy is excised; where a span's sub-grams first occur in
      DIFFERENT documents, each sub-run survives at its own first
      home — the text is still conserved, possibly split across its
      first-occurrence sites (the inherent granularity of gram-level
      canonicalization; a suffix-array global order has the same
      property at suffix granularity).

    Documents with no duplicated span pass through intact;
    ``clean_text`` is the surviving tokens joined by single spaces
    (the tokenizer's normalization, same as every token-level oracle).

    Plan: spans per doc are FEW (bounded by doc_len / min_len), so the
    token-vs-span containment check is an equi-join on docno with a
    post-filter — never a range/nested-loop join — followed by one
    per-doc ordered reassembly (collect + sort inside an aggregate,
    bounded by doc length). ``keep="first"`` adds ONE global min
    aggregate over the seed frame (the canonical marker) and a second
    docno equi-join for the canonical span set — still linear in
    duplicated positions. ``gram_key="hash"`` swaps the seed shuffle
    key for the 60-bit gram hash (see ``_dup_seed_frame`` — the 100 TB
    path; the catalog default stays "string" for oracle
    byte-equality)."""
    if keep not in ("none", "first"):
        raise ValueError(f"unknown keep policy {keep!r}")
    toks = docs.select(
        F.col(id_col).alias("docno"),
        F.posexplode(tokens_col(text_col)).alias("pos", "term"),
    )
    if keep == "none":
        spans = duplicated_spans(docs, min_len=min_len, id_col=id_col,
                                 text_col=text_col, gram_key=gram_key)
        marked = (
            toks.join(spans, "docno", "left")
            .withColumn("_in", (F.col("pos") >= F.col("span_start"))
                        & (F.col("pos") <= F.col("span_end")))
            .groupBy("docno", "pos", "term")
            .agg(F.max(F.coalesce(F.col("_in"), F.lit(False))).alias("_rm"))
        )
        return _reassemble(marked)
    seeds = _dup_seed_frame(docs, min_len, id_col, text_col,
                            gram_key) \
        .localCheckpoint()   # feeds the canonical min AND both span sets
    canon = seeds.groupBy("gram").agg(
        F.min(F.struct("docno", "pos")).alias("_c"))
    canon_seeds = (
        seeds.join(canon, "gram")
        .filter((F.col("docno") == F.col("_c.docno"))
                & (F.col("pos") == F.col("_c.pos")))
        .select("docno", "pos")
    )
    spans_all = _merge_islands(seeds.select("docno", "pos"), min_len)
    spans_canon = _merge_islands(canon_seeds, min_len)
    return _excise_keep_first(toks, spans_all, spans_canon)


def _excise_keep_first(toks: DataFrame, spans_all: DataFrame,
                       spans_canon: DataFrame) -> DataFrame:
    """The keep-first removal predicate + reassembly, shared verbatim
    with the cross-snapshot operator (``dedup_incremental
    .incremental_clean_keep_first``): a token position is removed iff
    covered by >= 1 duplicated span and NOT covered by any canonical
    span of the same document. Spans per doc are FEW, so both
    containment checks are docno equi-joins with post-filters."""
    in_all = (
        toks.join(spans_all, "docno", "left")
        .withColumn("_in", (F.col("pos") >= F.col("span_start"))
                    & (F.col("pos") <= F.col("span_end")))
        .groupBy("docno", "pos", "term")
        .agg(F.max(F.coalesce(F.col("_in"), F.lit(False))).alias("_a"))
    )
    marked = (
        in_all.join(spans_canon, "docno", "left")
        .withColumn("_in", (F.col("pos") >= F.col("span_start"))
                    & (F.col("pos") <= F.col("span_end")))
        .groupBy("docno", "pos", "term", "_a")
        .agg(F.max(F.coalesce(F.col("_in"), F.lit(False))).alias("_k"))
        .select("docno", "pos", "term",
                (F.col("_a") & ~F.col("_k")).alias("_rm"))
    )
    return _reassemble(marked)


def _reassemble(marked: DataFrame) -> DataFrame:
    """(docno, pos, term, _rm) → (docno, clean_text, n_tokens,
    n_removed): per-doc ordered surviving-token join (collect + sort
    inside an aggregate, bounded by doc length)."""
    return (
        marked.groupBy("docno")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.when(
                        ~F.col("_rm"),
                        F.struct(F.col("pos"), F.col("term"))))),
                    lambda x: x["term"]),
                " ").alias("clean_text"),
            F.count(F.lit(1)).cast("int").alias("n_tokens"),
            F.sum(F.col("_rm").cast("int")).cast("int").alias("n_removed"),
        )
    )
