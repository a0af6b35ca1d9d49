"""Selectivity regression guards on the committed Zipf fixture
(VERDICT r6 #4): the APSS prefix filter and the fuzzy q-gram filter are
LOSSLESS under any ordering bug — correctness checks cannot catch the
r5 ascending-maxq class of regression (measured 1.0x pruning). These
tests pin the candidate COUNTS the r6 measurements established, so a
filter that stops pruning fails loudly."""

from __future__ import annotations

import pytest

from hadoop_ir_spark.queries.zipf_q import (
    ZIPF_FUZZY_K,
    ZIPF_PARQUET,
    ZIPF_TAU,
    ZIPF_TITLE_LEN,
)

# measured on the fixture (tools/zipf_selectivity.py, SCALING.md r6):
# 17,064 prefix-filtered candidates vs 31,995,939 unfiltered shared-term
# pairs; 54,665 gram-join DP probes vs 26,430,085 banded. The bounds
# leave ~2x headroom for benign filter tweaks while sitting 3 orders of
# magnitude under the degenerate counts.
APSS_CAND_MAX = 40_000
FUZZY_PROBE_MAX = 120_000


@pytest.fixture(scope="module")
def zipf_docs(spark):
    return spark.read.parquet(ZIPF_PARQUET)


def test_apss_prefix_filter_prunes_on_zipf(spark, zipf_docs):
    from hadoop_ir_spark.operators import apss

    cand, _, _, _ = apss.prefix_candidate_pairs(zipf_docs, tau=ZIPF_TAU)
    n = cand.count()
    assert n <= APSS_CAND_MAX, (
        f"{n:,} candidates — the prefix filter stopped pruning "
        "(r5 ascending-maxq regression class); unfiltered is ~32.0M")
    # and it still finds every planted/true pair: the strict oracle
    # (apss_cosine_pairs_zipf) is the losslessness check; here we pin
    # the exact output count so both sides of the trade stay visible
    from hadoop_ir_spark.operators.apss import apss_cosine_pairs
    assert apss_cosine_pairs(zipf_docs, tau=ZIPF_TAU).count() == 179


def test_fuzzy_gram_filter_prunes_on_zipf(spark, zipf_docs):
    from pyspark.sql import functions as F

    from hadoop_ir_spark.operators import fuzzy

    titles = zipf_docs.select(
        F.substring("text", 1, ZIPF_TITLE_LEN).alias("title")).distinct()
    probes = fuzzy.edit_distance_pairs(
        titles, "title", max_dist=ZIPF_FUZZY_K, method="gram_join",
        candidates_only=True).count()
    assert probes <= FUZZY_PROBE_MAX, (
        f"{probes:,} DP probes — the q-gram count filter stopped "
        "pruning; the banded/all-pairs count here is ~26.4M")


def test_fuzzy_auto_selects_gram_join_on_zipf(spark, zipf_docs):
    """The fixed-width Zipf titles are exactly the corpus shape the
    auto selector must route away from the band path."""
    from pyspark.sql import functions as F

    from hadoop_ir_spark.operators import fuzzy

    titles = zipf_docs.select(
        F.substring("text", 1, ZIPF_TITLE_LEN).alias("title")).distinct()
    assert fuzzy.choose_method(titles, max_dist=ZIPF_FUZZY_K) == "gram_join"


# r8 (VERDICT r7 #6): the dedup family's Zipf guards. Measured on the
# fixture: 216 LSH candidate pairs (24 hashes / 8 bands) and 521
# fingerprint-sharing pairs (k=5, w=4) against the same ~32.0M all-pairs
# degenerate count; winnowing keeps 158,513 fingerprints of ~440k corpus
# positions (the 2/(w+1) expected density). Bounds leave >2x headroom.
MINHASH_CAND_MAX = 1_000
WINNOW_PAIR_MAX = 2_000
WINNOW_FP_MAX = 250_000


def test_minhash_banding_prunes_on_zipf(spark, zipf_docs):
    from hadoop_ir_spark.operators import dedup

    sh = dedup.shingles(zipf_docs, k=3, id_col="doc_id").localCheckpoint()
    sigs = dedup.minhash_signatures(sh, num_hashes=24)
    n = dedup.lsh_candidates(sigs, bands=8).count()
    assert n <= MINHASH_CAND_MAX, (
        f"{n:,} LSH candidates — banding stopped bucketing selectively "
        "(degenerate all-pairs here is ~32.0M)")


def test_winnow_fingerprints_prune_on_zipf(spark, zipf_docs):
    from hadoop_ir_spark.operators import winnow
    from hadoop_ir_spark.queries.zipf_q import (
        ZIPF_WIN_K,
        ZIPF_WIN_MAX_DF,
        ZIPF_WIN_W,
    )

    fps = winnow.winnow_fingerprints(
        zipf_docs, k=ZIPF_WIN_K, w=ZIPF_WIN_W,
        id_col="doc_id").localCheckpoint()
    n_fp = fps.count()
    assert n_fp <= WINNOW_FP_MAX, (
        f"{n_fp:,} fingerprints — selection density broke the 2/(w+1) "
        "winnowing bound")
    n = winnow.span_dup_pairs(fps, max_df=ZIPF_WIN_MAX_DF,
                              min_shared=1).count()
    assert n <= WINNOW_PAIR_MAX, (
        f"{n:,} fingerprint-sharing pairs — the fingerprint join stopped "
        "pruning (degenerate all-pairs here is ~32.0M)")


# r9 (VERDICT r8 #5): SimHash banding skew guard. Banding is pigeonhole-
# exact (recall cannot fade), so what needs pinning is BUCKET WIDTH: on the
# Zipf fixture the head terms dominate every fingerprint's bit pattern and
# band keys cluster. Measured at bands=2 (the simhash_near_dups_zipf
# parameterization): max bucket 231 of 8,000 docs, 70,422 candidate pairs
# (455x under the ~32.0M all-pairs), 5,974 true Hamming<=1 pairs. Bounds
# leave ~2x headroom; a skew regression (e.g. a hash change that collapses
# keys) fails here before it becomes a 100 TB shuffle bomb.
SIMHASH_BUCKET_MAX = 500
SIMHASH_CAND_MAX = 150_000
SIMHASH_PAIRS = 5_974


def test_simhash_banding_bucket_skew_on_zipf(spark, zipf_docs):
    from pyspark.sql import functions as F

    from hadoop_ir_spark.operators import dedup, stats
    from hadoop_ir_spark.queries.zipf_q import ZIPF_SIMHASH_K

    bands = ZIPF_SIMHASH_K + 1
    fps = dedup.simhash_fingerprints(
        stats.postings(zipf_docs, id_col="doc_id")).localCheckpoint()
    sizes = (dedup.simhash_band_frame(fps, bands)
             .groupBy("band", "key").count().localCheckpoint())
    mx = sizes.agg(F.max("count")).first()[0]
    cand = sizes.agg(F.sum(F.col("count") * (F.col("count") - 1) / 2)
                     .cast("long")).first()[0]
    assert mx <= SIMHASH_BUCKET_MAX, (
        f"widest simhash band bucket holds {mx} docs — band keys are "
        f"collapsing (skew regression); at scale this is a hot shuffle key")
    assert cand <= SIMHASH_CAND_MAX, (
        f"{cand:,} banded candidate pairs — banding stopped pruning "
        f"(degenerate all-pairs here is ~32.0M)")
    n = dedup.simhash_near_dups(fps, max_hamming=ZIPF_SIMHASH_K,
                                bands=bands).count()
    assert n == SIMHASH_PAIRS, (
        f"{n:,} Hamming<={ZIPF_SIMHASH_K} pairs (expected {SIMHASH_PAIRS:,})"
        " — fingerprints moved on a committed fixture")


# positional-proximity surface (r10, VERDICT r9 optional #9): measured on
# the fixture — 440,032 total positions, 99,612 query-term occurrences
# (the words projection), 145,828 window-8 offset-join matches. On the
# degenerate ~31-term grading vocabulary EVERY position survives the
# query-vocab filter (~3.1M offset matches at this size) — the filter is
# the family's selectivity lever. Bounds leave ~1.6x headroom.
PROX_WORDS_MAX = 160_000
PROX_UW_CAND_MAX = 250_000


def test_proximity_vocab_filter_prunes_on_zipf(spark, zipf_docs):
    from pyspark.sql import functions as F

    from hadoop_ir_spark.operators import proximity
    from hadoop_ir_spark.queries.zipf_q import (
        ZIPF_PROX_TERMS,
        ZIPF_PROX_UW,
    )

    total = zipf_docs.select(
        F.size(F.split(F.lower("text"), "[^0-9a-zA-Z]+")).alias("n")
    ).agg(F.sum("n")).first()[0]
    ptoks = proximity.positional_tokens(zipf_docs, ZIPF_PROX_TERMS,
                                        id_col="doc_id")
    nw = ptoks.count()
    assert nw <= PROX_WORDS_MAX, (
        f"{nw:,} positional rows for {len(ZIPF_PROX_TERMS)} query terms "
        f"of {total:,} positions — the query-vocab filter stopped "
        f"pruning the offset join's input")
    left = ptoks.select(
        "docno", F.col("term").alias("w1"),
        F.explode(F.array(*[F.col("pos") + d
                            for d in range(1, ZIPF_PROX_UW)])).alias("p2"))
    right = ptoks.select("docno", F.col("pos").alias("p2"),
                         F.col("term").alias("w2"))
    cand = left.join(right, ["docno", "p2"]).count()
    assert cand <= PROX_UW_CAND_MAX, (
        f"{cand:,} window-{ZIPF_PROX_UW} offset matches — degenerate-"
        f"vocabulary scale is ~3.1M here; the positional join lost its "
        f"selectivity")


# r12 (VERDICT r11 missing #3): the best_passage windowed-snippet tail.
# Measured on the fixture: the % 41 run keeps 196 of 8,000 docs; the
# query-vocab filter admits 2,519 of their 11,013 token positions, and
# the hits frame (the ONLY window-start candidates the offset join
# sees) is 3,176 rows across both qids — vs total-positions x |qids| =
# 22,026 had the filter stopped pruning. Bounds leave ~1.6x headroom.
BP_PTOKS_MAX = 4_000
BP_HITS_MAX = 5_000


def test_best_passage_window_tail_prunes_on_zipf(spark, zipf_docs):
    from pyspark.sql import functions as F

    from hadoop_ir_spark.operators import proximity
    from hadoop_ir_spark.queries.zipf_q import (
        _BP_TERMS,
        ZIPF_BP_MOD,
        ZIPF_BP_TOPICS,
        q_best_passage_zipf,
    )

    docs = zipf_docs.filter(F.col("doc_id") % ZIPF_BP_MOD == 0)
    ptoks = proximity.positional_tokens(docs, _BP_TERMS,
                                        id_col="doc_id")
    n_ptoks = ptoks.count()
    assert n_ptoks <= BP_PTOKS_MAX, (
        f"{n_ptoks:,} positional rows — the query-vocab filter stopped "
        f"pruning the snippet kernel's input (all positions is 11,013)")
    topics = spark.createDataFrame(
        [(qid, t) for qid, q in ZIPF_BP_TOPICS
         for t in sorted(set(q.split()))], "qid string, term string")
    n_hits = ptoks.join(F.broadcast(topics), "term").count()
    assert n_hits <= BP_HITS_MAX, (
        f"{n_hits:,} hit rows — window-start candidates must be hit "
        f"positions only, never a scan-wide range probe")
    # exact output pin: every (qid, run-doc) has a best window on this
    # fixture (the hot terms saturate the run), and the strict oracle
    # (best_passage_zipf) pins the window choices themselves
    assert q_best_passage_zipf(spark, None).count() == 392
