"""Distributed BPE (byte-pair encoding) tokenizer training — the
canonical LLM-pipeline "train the tokenizer on the corpus" step (beyond-
reference operator set, companion to textstats.token_counts' BPE-ish
counter).

Algorithm (Sennrich et al. 2016, classic word-level BPE): start from the
word-frequency table with words as character sequences; each merge step
counts all adjacent symbol pairs (weighted by word frequency), picks the
most frequent pair (tie-break: lexicographically smallest — makes the
whole training deterministic), and fuses that pair everywhere.

Distributed shape per merge: ONE aggregation over the vocabulary table
(pair counts, map-side partial), a 1-row argmax to the driver (the merge
rule — a scalar, like kmeans centroids), and ONE map-only string rewrite.
The vocabulary table is |distinct words| rows — tiny relative to the
corpus — so 10 merges are 10 cheap passes over an already-aggregated
frame; the corpus itself is scanned exactly once (word count).

Symbol sequences are encoded as strings with a \\x01 separator; a merge
of pair (A, B) is a SYMBOL-BOUNDARY-ALIGNED left fold over the symbol
list (Spark ``aggregate``, DuckDB ``list_reduce`` — both engine-side,
no Python): append each symbol to the accumulator, fusing when the
accumulator's LAST SYMBOL equals A and the incoming symbol equals B.
That is exactly Sennrich greedy left-to-right non-overlapping merge
order ([a,a,a] + (a,a) → [aa,a]; the just-fused symbol AB ≠ A can never
immediately re-fuse). A plain substring ``replace(seq, 'A\\x01B', 'AB')``
would NOT be boundary-aligned — with symbols [a, ab] (serialized
'a\\x01ab') the pattern 'a\\x01a' matches across the second symbol's
prefix and fuses a bogus 'aab'; the fold cannot, because it compares
whole symbols.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SEP = "\x01"    # between symbols in a sequence
PAIR_SEP = "\x02"  # between the two symbols of a pair key
# Most distinct words train_bpe trains on. The whole vocabulary sits in one
# Python worker: the training loop below took 63 s and 335 MB for a million
# random 3-12 character words and 10 merges (one core of a 4-core VM). The
# catalog's corpora have 31 distinct words at sf0.001, sf0.01, sf0.1 and sf1
# (tools/make_sf1.py).
MAX_VOCAB = 1_000_000


def word_seqs(tokens: DataFrame, term_col: str = "term") -> DataFrame:
    """(term, cnt, seq): word-frequency table with each word split into
    its character symbols (the BPE training input)."""
    counted = tokens.groupBy(term_col).agg(F.count("*").alias("cnt"))
    seq = F.array_join(
        F.expr(f"transform(sequence(1, length({term_col})),"
               f" i -> substring({term_col}, i, 1))"),
        SEP,
    )
    return counted.select(term_col, "cnt", seq.alias("seq"))


def _pair_counts(seqs: DataFrame) -> DataFrame:
    l = F.split("seq", SEP)
    pairs = F.expr(
        f"transform(sequence(1, size(_l) - 1),"
        f" i -> concat(element_at(_l, i), '{PAIR_SEP}',"
        f"             element_at(_l, i + 1)))"
    )
    return (
        seqs.select("cnt", l.alias("_l"))
        .filter(F.size("_l") >= 2)
        .select("cnt", F.explode(pairs).alias("pair"))
        .groupBy("pair").agg(F.sum("cnt").alias("pair_cnt"))
    )


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def merge_seq_expr(left: str, right: str):
    """Column: apply merge rule (left, right) to ``seq`` — greedy
    left-to-right, symbol-boundary-aligned.

    Left fold over the symbol list with a string accumulator: fuse when
    the accumulator's last symbol is exactly ``left`` (it IS the whole
    accumulator, or follows a separator — SEP can never occur inside a
    symbol, so ``endswith(acc, SEP||left)`` is a whole-symbol test) and
    the incoming symbol is exactly ``right``.
    """
    a = _sql_quote(left)
    b = _sql_quote(right)
    ab = _sql_quote(left + right)
    sep_a = _sql_quote(SEP + left)
    sep = _sql_quote(SEP)
    drop = f"length(acc) - {len(left) + 1}"
    return F.expr(f"""aggregate(
      split(seq, {sep}),
      cast('' as string),
      (acc, x) -> CASE
        WHEN acc = '' THEN x
        WHEN x = {b} AND acc = {a} THEN {ab}
        WHEN x = {b} AND endswith(acc, {sep_a})
          THEN concat(substring(acc, 1, {drop}), {sep}, {ab})
        ELSE concat(acc, {sep}, x)
      END)""")


def train_bpe(tokens: DataFrame, num_merges: int = 10,
              term_col: str = "term", return_seqs: bool = False):
    """Learn ``num_merges`` BPE merge rules from a token stream:
    (merge_rank, left, right, merged, pair_count). Deterministic: ties
    break on the lexicographically smallest pair key.

    r13 (guide §2.6/§5, VERDICT r12 #5): training is ONE single-
    partition pass. The old loop ran 10 supersteps — per merge, an
    argmax ``collect()`` barrier plus an eager ``localCheckpoint`` of
    the rewritten vocabulary (~21 driver-scheduled jobs for a frame
    that was ALREADY ``coalesce(1)``: the whole algorithm was local,
    only the barriers were distributed). The distributed part that
    matters — collapsing the corpus to the word-frequency table — stays
    a Spark aggregation; the merge loop itself runs where the old shape
    already placed the data, on the vocabulary's single partition
    (``mapInPandas``), emitting the rules AND the final segmentations
    in one job. (A fully in-plan unroll was rejected: the per-merge
    argmax would re-enter the plan as a broadcast scalar, nesting the
    vocabulary subtree ~2^num_merges times — the winnowing
    projection-collapse disease.) Same arithmetic, same tie-break,
    same greedy boundary-aligned fold as the DuckDB oracle's CTE chain.

    With ``return_seqs`` also returns the post-training vocabulary frame
    (term, cnt, seq) whose ``seq`` column is each word's final symbol
    segmentation — the tokenizer-APPLY side (see :func:`encode_lens`)
    reuses it instead of refolding every merge per document.

    A vocabulary of more than ``MAX_VOCAB`` distinct words fails the
    training partition with a ``ValueError`` (raised in the Python worker,
    so the action that runs the frame reports it in a ``PythonException``)
    before it trains.
    """
    nm = int(num_merges)
    max_vocab = MAX_VOCAB
    seqs0 = word_seqs(tokens, term_col).coalesce(1)
    union_schema = (
        "merge_rank int, left_s string, right_s string, merged string,"
        " pair_count bigint, term string, cnt bigint, seq string"
    )

    def _train(batches):
        import pandas as pd

        words: list[tuple[str, int, list[str]]] = []
        for b in batches:
            if len(words) + len(b) > max_vocab:
                raise ValueError(
                    f"train_bpe: the vocabulary has more than {max_vocab} "
                    "distinct words (bpe.MAX_VOCAB); training holds it in "
                    "one partition")
            for t, c, s in zip(b["term"], b["cnt"], b["seq"]):
                words.append((t, int(c), s.split(SEP)))
        rules: list[tuple] = []
        for rank in range(1, nm + 1):
            counts: dict[str, int] = {}
            for _, c, syms in words:
                for i in range(len(syms) - 1):
                    key = syms[i] + PAIR_SEP + syms[i + 1]
                    counts[key] = counts.get(key, 0) + c
            if not counts:
                break
            # argmax with the oracle's exact tie-break: highest count,
            # then lexicographically smallest PAIR KEY (the joined
            # 'A\\x02B' string — \\x02 sorts below every [0-9a-z] symbol
            # char, so the key order equals the SQL ORDER BY pair ASC)
            best_pair, best_cnt = "", -1
            for p in sorted(counts):
                if counts[p] > best_cnt:
                    best_pair, best_cnt = p, counts[p]
            a, b2 = best_pair.split(PAIR_SEP)
            ab = a + b2
            rules.append((rank, a, b2, ab, best_cnt,
                          None, None, None))
            # greedy left-to-right boundary-aligned fold (the
            # merge_seq_expr semantics): fuse when the accumulator's
            # last symbol is exactly `a` and the incoming symbol is
            # exactly `b2`; the just-fused AB != a can never re-fuse
            for idx, (t, c, syms) in enumerate(words):
                out: list[str] = []
                for x in syms:
                    if out and out[-1] == a and x == b2:
                        out[-1] = ab
                    else:
                        out.append(x)
                words[idx] = (t, c, out)
        rows = rules + [
            (None, None, None, None, None, t, c, SEP.join(syms))
            for t, c, syms in words
        ]
        yield pd.DataFrame(rows, columns=[
            "merge_rank", "left_s", "right_s", "merged", "pair_count",
            "term", "cnt", "seq"])

    both = seqs0.mapInPandas(_train, union_schema)
    rules_df = (
        both.filter(F.col("merge_rank").isNotNull())
        .select("merge_rank", "left_s", "right_s", "merged", "pair_count")
    )
    if return_seqs:
        seqs = (both.filter(F.col("merge_rank").isNull())
                .select("term", "cnt", "seq"))
        return rules_df, seqs
    return rules_df


def encode_lens(tokens: DataFrame, seqs: DataFrame,
                doc_col: str = "docno", term_col: str = "term") -> DataFrame:
    """Tokenizer APPLY: per-document BPE token counts under a trained
    merge table — (docno, doc_len, n_bpe_tokens).

    ``seqs`` is the post-training vocabulary (term, cnt, seq) from
    ``train_bpe(..., return_seqs=True)``: each distinct WORD's final
    symbol segmentation was already computed once during training, so
    encoding a corpus is a word-level equi-join (tokens ⋈ vocabulary) +
    a groupBy(doc) — no per-document refolding of the merge rules. This
    is the classic BPE-apply factorization (segmentations depend only on
    the word, not the document), and it's what makes apply scale: the
    vocabulary side is |distinct words| rows (broadcast when small), the
    corpus side is one aggregation.
    """
    sym_count = F.size(F.split("seq", SEP))
    vocab = seqs.select(
        F.col(term_col).alias("_t"), sym_count.alias("_n_sym"))
    per_doc_term = tokens.groupBy(doc_col, term_col).agg(
        F.count("*").alias("_tf"))
    return (
        per_doc_term.join(vocab, per_doc_term[term_col] == vocab["_t"])
        .groupBy(doc_col)
        .agg(
            F.sum("_tf").cast("long").alias("doc_len"),
            F.sum(F.col("_tf") * F.col("_n_sym")).cast("long")
             .alias("n_bpe_tokens"),
        )
    )


def bpe_encode_oracle_sql(tok_doc_cte: str, num_merges: int = 10) -> str:
    """DuckDB mirror of train-then-encode: the same training CTE chain as
    :func:`bpe_oracle_sql`, then a join of the per-(doc, term) counts
    against the final segmentation table. ``tok_doc_cte`` must define
    ``tok(docno, term)`` — one row per token INSTANCE with its document.
    """
    parts = _bpe_train_ctes(tok_doc_cte, num_merges)
    parts.append(
        f"enc AS MATERIALIZED (SELECT term, len(string_split(seq, chr(1))) AS n_sym "
        f"FROM s{num_merges})"
    )
    return "WITH " + ",\n".join(parts) + """
SELECT t.docno, CAST(count(*) AS BIGINT) AS doc_len,
       CAST(sum(e.n_sym) AS BIGINT) AS n_bpe_tokens
FROM tok t JOIN enc e USING (term)
GROUP BY t.docno
"""


def bpe_oracle_sql(tok_cte: str, num_merges: int = 10) -> str:
    """DuckDB mirror: the same training unrolled as CTEs (one pair-count
    + argmax + rewrite trio per merge), argmax via ORDER BY ... LIMIT 1.
    ``tok_cte`` must define ``tok(term)`` (one row per token instance).

    The rewrite mirrors merge_seq_expr's boundary-aligned fold with
    ``list_reduce`` (DuckDB's fold seeds the accumulator with the first
    list element — same result as Spark's '' seed, which maps acc=''→x
    on the first symbol). The merge rule arrives from the 1-row b{k} CTE
    rather than as a literal, so the lambda reads b.left_s/b.right_s.
    """
    parts = _bpe_train_ctes(tok_cte, num_merges)
    selects = " UNION ALL ".join(
        f"SELECT {k} AS merge_rank, left_s, right_s, merged,"
        f" pair_cnt AS pair_count FROM b{k}"
        for k in range(1, num_merges + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + selects


def _bpe_train_ctes(tok_cte: str, num_merges: int) -> list[str]:
    """The shared training CTE chain (tok -> w0 -> s0 -> p/b/s per merge)
    used by both oracle builders. ``tok`` may carry extra columns (e.g.
    docno for the encode mirror); training groups by term only."""
    # AS MATERIALIZED (DuckDB-only syntax; the oracle never runs in
    # Spark): without it DuckDB re-inlines each referenced-twice CTE of
    # the per-merge chain and the 10-merge oracle explodes to ~17-44 s;
    # materialized it is ~0.1 s with identical results (measured sf0.01).
    parts = [
        tok_cte.replace(" AS (", " AS MATERIALIZED (", 1),
        "w0 AS MATERIALIZED (SELECT term, count(*) AS cnt FROM tok"
        " GROUP BY term)",
        "s0 AS MATERIALIZED (SELECT term, cnt, array_to_string("
        "list_transform(range(1, length(term) + 1), i -> substr(term, i,"
        " 1)), chr(1)) AS seq FROM w0)",
    ]
    for k in range(1, num_merges + 1):
        parts.append(
            f"p{k} AS MATERIALIZED (SELECT pair, CAST(sum(cnt) AS BIGINT) AS pair_cnt "
            f"FROM (SELECT cnt, unnest(list_transform(range(1, len(l)), "
            f"i -> l[i] || chr(2) || l[i + 1])) AS pair "
            f"FROM (SELECT cnt, string_split(seq, chr(1)) AS l FROM s{k-1}) "
            f"WHERE len(l) >= 2) GROUP BY pair)"
        )
        parts.append(
            f"b{k} AS MATERIALIZED (SELECT pair, pair_cnt, "
            f"string_split(pair, chr(2))[1] AS left_s, "
            f"string_split(pair, chr(2))[2] AS right_s, "
            f"replace(pair, chr(2), '') AS merged FROM p{k} "
            f"ORDER BY pair_cnt DESC, pair ASC LIMIT 1)"
        )
        parts.append(
            f"s{k} AS MATERIALIZED (SELECT s.term, s.cnt, "
            f"list_reduce(string_split(s.seq, chr(1)), "
            f"(acc, x) -> CASE "
            f"WHEN x = b.right_s AND acc = b.left_s THEN b.merged "
            f"WHEN x = b.right_s AND ends_with(acc, chr(1) || b.left_s) "
            f"THEN substr(acc, 1, length(acc) - length(b.left_s) - 1) "
            f"|| chr(1) || b.merged "
            f"ELSE acc || chr(1) || x END) AS seq "
            f"FROM s{k-1} s CROSS JOIN b{k} b)"
        )
    return parts
