"""Text-analysis operator tests on hand-built fixtures."""

from __future__ import annotations

import pytest

from hadoop_ir_spark.operators import textstats


def test_langid_profiles(spark):
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat and it is happy"),
         (2, "der hund ist nicht mit der katze und das haus"),
         (3, "el perro y la casa de los vecinos en el parque"),
         (4, "xyzzy qwerty plugh")],
        "docno int, text string",
    )
    out = {r["docno"]: (r["lang_pred"], r["lang_score"])
           for r in textstats.langid(docs).collect()}
    assert out[1][0] == "en"
    assert out[2][0] == "de"
    assert out[3][0] == "es"
    assert out[4] == ("und", 0.0)
    # doc1: hits the,on(x0),the,and,it,is -> the,the,and,it,is = 5 of 10 toks
    assert out[1][1] == pytest.approx(0.5)


def test_langid_tie_breaks_lexicographic(spark):
    # "de la" hits de(es profile: 'de') and fr profile: 'la'? both 1 hit ->
    # es vs fr tie -> lexicographically smaller lang wins
    docs = spark.createDataFrame([(1, "de la")], "docno int, text string")
    out = textstats.langid(docs).collect()[0]
    assert out["lang_pred"] == "es"


def test_quality_scores(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, ""), (3, "!!! ### $$$")],
        "docno int, text string",
    )
    out = {r["docno"]: r for r in textstats.quality_scores(docs).collect()}
    r1 = out[1]
    assert r1["n_chars"] == 19
    assert r1["n_tokens"] == 4
    assert r1["mean_token_len"] == pytest.approx(16 / 4)
    assert r1["alpha_ratio"] == pytest.approx(16 / 19)
    assert r1["punct_ratio"] == 0.0
    assert r1["stopword_ratio"] == pytest.approx(0.25)
    assert out[2]["quality"] == 0.0
    # symbol soup: high punct, zero alpha -> floor at 0
    assert out[3]["alpha_ratio"] == 0.0
    assert out[3]["quality"] == pytest.approx(0.0)


def test_token_counts(spark):
    docs = spark.createDataFrame(
        [(1, "hello world, it's 42")], "docno int, text string"
    )
    r = textstats.token_counts(docs).collect()[0]
    assert r["ws_tokens"] == 4
    # BPE-ish runs: hello|world|,|it|'|s|42 = 7
    assert r["bpe_tokens"] == 7
    assert r["char_est_tokens"] == 5  # ceil(20/4)


def test_doc_fingerprints(spark):
    docs = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "abcdefghij"), (3, "zzzzzzzzzz"), (4, "ab")],
        "docno int, text string",
    )
    out = {r["docno"]: r for r in textstats.doc_fingerprints(docs).collect()}
    assert out[1]["fingerprint"] == out[2]["fingerprint"]
    assert out[1]["fingerprint"] != out[3]["fingerprint"]
    assert out[1]["n_grams"] == 3   # 10 chars -> 3 distinct 8-grams
    assert out[3]["n_grams"] == 1   # all grams identical
    assert out[4]["n_grams"] == 1   # short doc -> whole text


def test_fingerprint_order_sensitivity(spark):
    # same multiset of grams (rotation) keeps the min-hash fingerprint
    docs = spark.createDataFrame(
        [(1, "abcdefghij" * 3), (2, "fghijabcde" * 3)],
        "docno int, text string",
    )
    out = {r["docno"]: r["fingerprint"]
           for r in textstats.doc_fingerprints(docs).collect()}
    # rotations of a repeated string share all interior 8-grams
    assert out[1] == out[2]


def test_feature_hash_embed_unit_norm_and_determinism(spark):
    from pyspark.sql import functions as F

    from hadoop_ir_spark.operators.textstats import feature_hash_embed

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma alpha"), (2, "delta"), (3, "")],
        "docno long, text string")
    w = feature_hash_embed(docs, dim=16)
    norms = {r["docno"]: r["n"] for r in
             w.groupBy("docno")
             .agg(F.sum(F.col("weight") * F.col("weight")).alias("n"))
             .collect()}
    assert abs(norms[1] - 1.0) < 1e-12 and abs(norms[2] - 1.0) < 1e-12
    assert 3 not in norms  # empty doc -> no vector, not a NaN vector
    assert w.collect() == w.collect()


def test_bpe_classic_merges(spark):
    """Sennrich et al.'s worked example: {low:5, lower:2, newest:6,
    widest:3} must learn es -> est -> lo as its first three merges
    (es/st tie at 9 breaks lexicographically; lo/ow tie at 7 likewise)."""
    from pyspark.sql import functions as F

    from hadoop_ir_spark.operators import bpe

    words = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    rows = [(w,) for w, c in words for _ in range(c)]
    toks = spark.createDataFrame(rows, "term string")
    got = bpe.train_bpe(toks, num_merges=3).orderBy("merge_rank").collect()
    assert [(r["left_s"], r["right_s"], r["merged"], r["pair_count"])
            for r in got] == [
        ("e", "s", "es", 9),
        ("es", "t", "est", 9),
        ("l", "o", "lo", 7),
    ]


def test_bpe_refuses_a_vocabulary_past_max_vocab(spark, monkeypatch):
    """Training holds the whole vocabulary in one partition: past
    bpe.MAX_VOCAB distinct words it fails with a ValueError, not a
    worker running out of memory; at the limit it trains."""
    import pytest

    from hadoop_ir_spark.operators import bpe

    words = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    toks = spark.createDataFrame(
        [(w,) for w, c in words for _ in range(c)], "term string")
    monkeypatch.setattr(bpe, "MAX_VOCAB", 4)
    assert bpe.train_bpe(toks, num_merges=1).count() == 1
    monkeypatch.setattr(bpe, "MAX_VOCAB", 3)
    with pytest.raises(Exception, match=r"ValueError: train_bpe: the "
                       r"vocabulary has more than 3 distinct words"):
        bpe.train_bpe(toks, num_merges=1).collect()


def test_bpe_merge_is_symbol_boundary_aligned(spark):
    """The merge rewrite must compare WHOLE symbols, not substrings:
    with symbols [a, ab] applying merge (a, a) must be a no-op (a naive
    replace on the serialized string would fuse a bogus 'aab' across the
    second symbol's prefix), and greedy left-to-right semantics must
    hold on runs ([a,a,a] -> [aa,a]; [a,a,a,a] -> [aa,aa])."""
    from pyspark.sql import functions as F

    from hadoop_ir_spark.operators import bpe

    S = bpe.SEP
    cases = [
        (S.join(["a", "ab"]), ("a", "a"), S.join(["a", "ab"])),
        (S.join(["a", "a", "a"]), ("a", "a"), S.join(["aa", "a"])),
        (S.join(["a", "a", "a", "a"]), ("a", "a"), S.join(["aa", "aa"])),
        (S.join(["a", "a", "b"]), ("a", "b"), S.join(["a", "ab"])),
        (S.join(["ab", "ab", "ab"]), ("ab", "ab"),
         S.join(["abab", "ab"])),
        ("x", ("x", "x"), "x"),                       # single symbol
        (S.join(["x", "y"]), ("y", "x"), S.join(["x", "y"])),  # no hit
    ]
    df = spark.createDataFrame(
        [(i, seq) for i, (seq, _, _) in enumerate(cases)],
        "id int, seq string",
    )
    for i, (seq, (a, b), want) in enumerate(cases):
        got = (df.filter(F.col("id") == i)
               .select(bpe.merge_seq_expr(a, b).alias("m"))
               .collect()[0]["m"])
        assert got == want, (seq, a, b, got, want)


def test_bpe_oracle_rewrite_matches_spark(spark):
    """DuckDB list_reduce mirror == Spark aggregate fold on the same
    corpus, including a vocabulary engineered to hit the boundary case
    (prefix-sharing symbols) during training."""
    import duckdb

    from hadoop_ir_spark.operators import bpe

    # 'aab' repeated: after merge (a,a) the seqs contain [aa, b] and
    # after (a, b)->ab variants the prefix-overlap case arises
    words = [("aab", 7), ("aaab", 5), ("ab", 4), ("baa", 3)]
    rows = [(w,) for w, c in words for _ in range(c)]
    toks = spark.createDataFrame(rows, "term string")
    got = [tuple(r) for r in
           bpe.train_bpe(toks, num_merges=4).orderBy("merge_rank")
           .collect()]
    vals = ", ".join(f"('{w}')" for w, c in words for _ in range(c))
    sql = bpe.bpe_oracle_sql(
        f"tok(term) AS (SELECT * FROM (VALUES {vals}))", 4
    )
    want = [tuple(r) for r in duckdb.connect().execute(
        sql + " ORDER BY merge_rank").fetchall()]
    assert got == want


def test_kneser_ney_probabilities_form_a_distribution(spark):
    """On a tiny corpus, p_KN(. | w1) summed over the full vocabulary of
    followers AND the continuation mass must be <= 1 for observed
    followers (the discount moves mass to continuations, never creates
    it), and every scored bigram logprob is finite and negative."""
    import math

    from hadoop_ir_spark.operators.textstats import kneser_ney_logprob

    docs = spark.createDataFrame(
        [(1, "a b a b a c"), (2, "b a b c a b")],
        "docno long, text string",
    )
    out = {r.docno: r for r in kneser_ney_logprob(docs).collect()}
    assert set(out) == {1, 2}
    for r in out.values():
        assert r.n_bigrams == 5
        assert math.isfinite(r.avg_kn_lp) and r.avg_kn_lp < 0
