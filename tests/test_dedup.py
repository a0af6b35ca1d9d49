"""Dedup operator tests on tiny hand-built inputs."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from hadoop_ir_spark.operators import dedup


def test_exact_dedup(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y")],
        "docno int, text string",
    )
    out = {r["keep_docno"]: r["n_copies"] for r in dedup.exact_dedup(docs).collect()}
    assert out == {1: 2, 3: 1}


def test_shingles(spark):
    docs = spark.createDataFrame([(1, "a b c d")], "docno int, text string")
    sh = {r["shingle"] for r in dedup.shingles(docs, k=3).collect()}
    assert sh == {"a b c", "b c d"}
    # doc shorter than k yields no shingles
    short = spark.createDataFrame([(1, "a b")], "docno int, text string")
    assert dedup.shingles(short, k=3).count() == 0


def test_jaccard_pairs(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d x"), (3, "p q r s t")],
        "docno int, text string",
    )
    sh = dedup.shingles(docs, k=3)
    out = {(r["docno_a"], r["docno_b"]): r["jaccard"]
           for r in dedup.jaccard_pairs(sh, tau=0.0).collect()}
    # doc1: {abc,bcd,cde} doc2: {abc,bcd,cdx} -> inter 2, union 4
    assert out[(1, 2)] == pytest.approx(0.5)
    assert (1, 3) not in out


def test_jaccard_max_shingle_df_drops_common(spark):
    docs = spark.createDataFrame(
        [(i, "common one two three") for i in range(1, 5)],
        "docno int, text string",
    )
    sh = dedup.shingles(docs, k=3)
    # every shingle occurs in 4 docs; cap at 3 -> no pairs at all
    assert dedup.jaccard_pairs(sh, tau=0.0, max_shingle_df=3).count() == 0


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [(1, base), (2, base + " ok"), (3, "totally different words here now")],
        "docno int, text string",
    )
    out = dedup.minhash_near_dups(docs, tau=0.5, num_hashes=24, bands=8)
    pairs = {(r["docno_a"], r["docno_b"]) for r in out.collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_minhash_identical_docs_full_jaccard(spark):
    docs = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5"), (2, "w1 w2 w3 w4 w5")],
        "docno int, text string",
    )
    out = dedup.minhash_near_dups(docs, tau=0.99, num_hashes=24, bands=8).collect()
    assert len(out) == 1 and out[0]["jaccard"] == pytest.approx(1.0)


def test_simhash_identical_and_banded_equals_brute(spark):
    post = spark.createDataFrame(
        [(1, "alpha", 3), (1, "beta", 1),
         (2, "alpha", 3), (2, "beta", 1),     # identical -> hamming 0
         (3, "gamma", 5), (3, "delta", 2)],
        "docno int, term string, tf int",
    )
    fps = dedup.simhash_fingerprints(post)
    rows = {r["docno"]: r["fingerprint"] for r in fps.collect()}
    assert rows[1] == rows[2]
    # each fingerprint equals a pure-Python simhash over hash60 terms
    for docno, terms in {1: {"alpha": 3, "beta": 1},
                         3: {"gamma": 5, "delta": 2}}.items():
        h = {t: int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in terms}
        want = sum(1 << i for i in range(dedup.SIMHASH_BITS)
                   if sum((2 * (h[t] >> i & 1) - 1) * tf
                          for t, tf in terms.items()) > 0)
        assert rows[docno] == want
    brute = {(r["docno_a"], r["docno_b"], r["hamming"])
             for r in dedup.simhash_near_dups(fps, max_hamming=3, bands=None).collect()}
    banded = {(r["docno_a"], r["docno_b"], r["hamming"])
              for r in dedup.simhash_near_dups(fps, max_hamming=3, bands=4).collect()}
    assert brute == banded
    assert (1, 2, 0) in brute


def test_cosine_expr(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0]),
         ([3.0, 4.0], [4.0, 3.0])],
        "a array<double>, b array<double>",
    )
    vals = [r["c"] for r in
            df.select(dedup.cosine_expr(F.col("a"), F.col("b")).alias("c")).collect()]
    assert vals[0] == pytest.approx(0.0)
    assert vals[1] == pytest.approx(1.0)
    assert vals[2] == pytest.approx(24 / 25)


def test_embedding_near_dups(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        "vec_id int, embedding array<float>",
    )
    out = {(r["id_a"], r["id_b"]) for r in
           dedup.embedding_near_dups(emb, tau=0.9).collect()}
    assert out == {(1, 2)}


def test_embedding_near_dups_blocked_matches_brute_force(spark):
    """Triangle-blocked path vs a numpy brute force, with enough vectors
    to populate several (p, q) block-pair groups — and a plan check that
    the lineage is a grouped-map (distributed), not a driver collect."""
    import itertools

    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(60, 8))
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    tau = 0.5
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    expected = {
        (i, j): float(norm[i] @ norm[j])
        for i, j in itertools.combinations(range(len(vecs)), 2)
        if norm[i] @ norm[j] >= tau
    }

    out = dedup.embedding_near_dups(emb, tau=tau, n_blocks=4)
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in out.collect()}
    assert set(got) == set(expected)
    for k in expected:
        assert got[k] == pytest.approx(expected[k], abs=1e-12)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan


def test_portable_hash_matches_duckdb(spark):
    import duckdb

    vals = ["hello", "spark shingle text", "x"]
    df = spark.createDataFrame([(v,) for v in vals], "x string")
    got = [r["h"] for r in df.select(dedup.hash60(F.col("x")).alias("h")).collect()]
    con = duckdb.connect()
    for v, g in zip(vals, got):
        (d,) = con.execute(
            "SELECT CAST('0x' || substr(md5(?), 1, 15) AS BIGINT)", [v]
        ).fetchone()
        assert d == g


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3, pair 10-11, isolated pair 20-21 joined via 21-22
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (21, 22), (20, 21)],
        "docno_a int, docno_b int",
    )
    out = {r["node"]: r["cluster_id"]
           for r in dedup.connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_long_chain_converges(spark):
    n = 12
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "docno_a int, docno_b int"
    )
    out = {r["node"]: r["cluster_id"]
           for r in dedup.connected_components(pairs).collect()}
    assert set(out.values()) == {0}
    assert len(out) == n + 1


def test_connected_components_star_matches_label(spark):
    """large-star/small-star == label propagation on chains, islands, a
    star hub, and a seeded random graph (incl. a long chain that needs
    the log-round behavior)."""
    import random

    rng = random.Random(11)
    rand_edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(45)]
    cases = [
        [(1, 2), (2, 3), (10, 11), (21, 22), (20, 21)],
        [(i, i + 1) for i in range(25)],                 # long chain
        [(100, x) for x in range(101, 120)],             # skewed hub
        [(a, b) for a, b in rand_edges if a != b],
    ]
    for pairs_py in cases:
        pairs = spark.createDataFrame(pairs_py, "docno_a int, docno_b int")
        lab = {r["node"]: r["cluster_id"]
               for r in dedup.connected_components(pairs, algorithm="label").collect()}
        star = {r["node"]: r["cluster_id"]
                for r in dedup.connected_components(pairs, algorithm="star").collect()}
        assert star == lab, pairs_py
    with pytest.raises(ValueError):
        dedup.connected_components(
            spark.createDataFrame([(1, 2)], "docno_a int, docno_b int"),
            algorithm="bogus",
        )


def test_edit_distance_pairs_banded():
    """Known small fixture: the banded join must find exactly the pairs
    within distance 2, each once, and never compare across the band."""
    from hadoop_ir_spark.operators import fuzzy
    from hadoop_ir_spark.session import get_spark

    spark = get_spark("tests")
    df = spark.createDataFrame(
        [("kitten",), ("sitten",), ("sittin",), ("sitting",), ("apple",)],
        "title string",
    )
    got = {(r["a"], r["b"]): r["dist"]
           for r in fuzzy.edit_distance_pairs(df, max_dist=2).collect()}
    assert got[("kitten", "sitten")] == 1
    assert got[("sitten", "sittin")] == 1
    assert got[("kitten", "sittin")] == 2
    assert got[("sittin", "sitting")] == 1
    assert got[("sitten", "sitting")] == 2
    assert ("kitten", "sitting") not in got     # dist 3
    assert not any("apple" in p for p in got)


def test_edit_distance_pairs_gram_join_equivalent():
    """method="gram_join" (positional q-gram count filter) must return
    exactly the band method's pair set — the Gravano bound is lossless
    — including short strings (bound <= 0, fallback path) and pairs
    straddling length bands."""
    import itertools

    from hadoop_ir_spark.operators import fuzzy
    from hadoop_ir_spark.session import get_spark

    spark = get_spark("tests")
    words = [
        "kitten", "sitten", "sittin", "sitting", "apple", "appel",
        "ax", "axe", "oak", "a", "", "approximate", "approximately",
        "banana", "bananas", "bandana", "aa", "aaa", "aaaa", "aaab",
        # true mixed short/long pair at q=2, k=2 (short_len=5): len-5
        # "hello" pairs with len-6 "helloo" across the short/long
        # boundary — exercised by the gram join, not the band fallback
        "hello", "helloo",
    ]
    df = spark.createDataFrame([(w,) for w in set(words)], "title string")
    for k in (1, 2, 3):
        band = {(r["a"], r["b"]): r["dist"]
                for r in fuzzy.edit_distance_pairs(
                    df, max_dist=k).collect()}
        gram = {(r["a"], r["b"]): r["dist"]
                for r in fuzzy.edit_distance_pairs(
                    df, max_dist=k, method="gram_join").collect()}
        assert gram == band, f"k={k}"
        if k == 2:
            # the mixed short/long boundary pair must survive the gram
            # path (ADVICE r6: it is NOT handled by the band fallback)
            assert band[("hello", "helloo")] == 1
        # cross-check the band method against brute force once
        if k == 2:
            brute = {}
            for x, y in itertools.combinations(sorted(set(words)), 2):
                d = _lev(x, y)
                if d <= k:
                    brute[(x, y)] = d
            assert band == brute


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_choose_method_corpus_shapes():
    """method="auto" probe: length-concentrated + realistic vocabulary
    -> gram_join; varied lengths or degenerate vocabulary -> band."""
    import random

    from hadoop_ir_spark.operators import fuzzy
    from hadoop_ir_spark.session import get_spark

    spark = get_spark("tests")
    rng = random.Random(7)
    letters = "abcdefghijklmnopqrstuvwxyz"
    # fixed 16-char strings over a full alphabet: the band is one giant
    # bucket (n^2 candidates) and the gram vocabulary is large
    fixed = spark.createDataFrame(
        [("".join(rng.choice(letters) for _ in range(16)),)
         for _ in range(400)], "title string").distinct()
    assert fuzzy.choose_method(fixed, max_dist=2) == "gram_join"
    # varied lengths: the band is selective, keep the default
    varied = spark.createDataFrame(
        [("".join(rng.choice(letters) for _ in range(4 + i % 40)),)
         for i in range(400)], "title string").distinct()
    assert fuzzy.choose_method(varied, max_dist=2) == "band"
    # fixed-length but a 2-letter alphabet: band is non-selective AND
    # the gram vocabulary is degenerate (<= 4 bigrams) -> gram filter
    # cannot prune, keep band
    degenerate = spark.createDataFrame(
        [("".join(rng.choice("ab") for _ in range(16)),)
         for _ in range(400)], "title string").distinct()
    assert fuzzy.choose_method(degenerate, max_dist=2) == "band"
    # dispatch: method="auto" must run end-to-end and match band output
    out_auto = {(r["a"], r["b"]): r["dist"]
                for r in fuzzy.edit_distance_pairs(
                    degenerate, max_dist=1, method="auto").collect()}
    out_band = {(r["a"], r["b"]): r["dist"]
                for r in fuzzy.edit_distance_pairs(
                    degenerate, max_dist=1, method="band").collect()}
    assert out_auto == out_band


def test_gram_join_lossless_property():
    """Property-based Gravano losslessness (VERDICT r6 optional #8):
    apply k random edit operations to random base strings and assert
    every (base, edited) pair within threshold survives the gram path.
    Random edit scripts hit boundary shapes (prefix/suffix edits,
    repeated chars, short/long straddles) the corpus fixtures don't."""
    import random

    from hadoop_ir_spark.operators import fuzzy
    from hadoop_ir_spark.session import get_spark

    spark = get_spark("tests")
    rng = random.Random(1234)
    letters = "abcdef"

    def mutate(s, nops):
        for _ in range(nops):
            op = rng.choice("ids" if s else "i")
            i = rng.randrange(len(s) + (op == "i"))
            if op == "i":
                s = s[:i] + rng.choice(letters) + s[i:]
            elif op == "d":
                s = s[:i] + s[i + 1:]
            else:
                s = s[:i] + rng.choice(letters) + s[i + 1:]
        return s

    for k, q in ((1, 2), (2, 2), (2, 3), (3, 2)):
        words = set()
        expected = {}
        for _ in range(60):
            base = "".join(rng.choice(letters)
                           for _ in range(rng.randrange(1, 15)))
            edited = mutate(base, rng.randrange(1, k + 1))
            words.update((base, edited))
        # ground truth over ALL pairs in the pool (mutations can collide)
        ws = sorted(words)
        for i, x in enumerate(ws):
            for y in ws[i + 1:]:
                d = _lev(x, y)
                if d <= k:
                    expected[(x, y)] = d
        df = spark.createDataFrame([(w,) for w in ws], "title string")
        got = {(r["a"], r["b"]): r["dist"]
               for r in fuzzy.edit_distance_pairs(
                   df, max_dist=k, q=q, method="gram_join").collect()}
        assert got == expected, f"k={k} q={q}"


def test_replay_cte_k_param_matches_spark(spark):
    """ADVICE r9: replay_cte_block hard-coded k=3 shingles. The k
    parameter must mirror dedup.shingles(k=) exactly — pinned here by
    comparing the DuckDB `sh` CTE and the candidate set against the
    Spark pipeline at k=4 (and the k=3 default stays byte-identical to
    the pre-parameter SQL)."""
    import duckdb

    from hadoop_ir_spark.queries.minhash_replay import replay_cte_block

    base = ("the quick brown fox jumps over the lazy dog again and "
            "again today for good measure")
    rows = [(1, base), (2, base + " ok"), (3, "totally different words "
            "in this third document here now friends")]
    for k in (3, 4):
        docs = spark.createDataFrame(rows, "docno int, text string")
        sh_spark = sorted(map(tuple, dedup.shingles(docs, k=k).collect()))
        sigs = dedup.minhash_signatures(dedup.shingles(docs, k=k),
                                        num_hashes=24)
        cand_spark = {(r["docno_a"], r["docno_b"])
                      for r in dedup.lsh_candidates(sigs, bands=8).collect()}
        con = duckdb.connect()
        vals = ", ".join(f"({d}, '{t}')" for d, t in rows)
        pre = (f"WITH docsrc(docno, text) AS (VALUES {vals}),\n"
               + replay_cte_block(24, 8, k=k))
        sh_duck = sorted(map(tuple, con.execute(
            pre + "\nSELECT docno, shingle FROM sh").fetchall()))
        cand_duck = set(map(tuple, con.execute(
            pre + "\nSELECT da, db FROM cand").fetchall()))
        assert sh_spark == sh_duck, f"shingle mismatch at k={k}"
        assert cand_spark == cand_duck, f"candidate mismatch at k={k}"
