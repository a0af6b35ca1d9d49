"""trec_eval-subset metrics (SURVEY.md §2.8, E1-E6) over run + qrels
DataFrames.

Reference: edu.gslis.hbase.trec.Eval — precision/recall (Eval.java:23-80),
P@k (:34-47), F1/Fβ (:82-111), KBA utility (:114-123), AP/MAP
(:154-194) — driver-side Java loops there; one window + aggregate here.

Inputs:
- run:   (qid, docno, score, rank)  — rank 1-based with the K3 tie-break
- qrels: (qid, docno, rel)          — graded; relevant = rel >= min_rel

Reference defect NOT replicated (documented in SURVEY.md §3): Eval.map
NPEs when a query has no relevant qrels (Eval.java:159); here such
queries produce ap=NULL and are excluded from MAP, with num_rel=0 rows
still visible in per-query output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

LOG2 = 0.6931471805599453  # ln(2); shared with the SQL mirrors


def _relevant(qrels: DataFrame, min_rel: int) -> DataFrame:
    """(qid, docs): the distinct docs judged relevant (rel >= min_rel) per
    query (a NULL docno is no doc), from one shuffle by qid."""
    return (qrels.filter(F.col("rel") >= min_rel)
            .groupBy("qid").agg(F.collect_set("docno").alias("docs")))


def num_rel(qrels: DataFrame, min_rel: int = 1) -> DataFrame:
    """(qid, num_rel): distinct relevant docs per query (Qrels.java:96-101)."""
    return _relevant(qrels, min_rel).select(
        "qid", F.size("docs").cast("long").alias("num_rel"))


def _per_query(run: DataFrame, qrels: DataFrame, min_rel: int,
               ks: tuple[int, ...] = (), ap: bool = False) -> DataFrame:
    """Every per-query count the binary metrics read, in one pass over the
    run: (qid, num_rel_ret, num_ret[, psum], p_at_<k>..., num_rel).

    The run is broadcast-joined with the distinct relevant qrels (unjudged
    docs count as non-relevant, the trec_eval convention the reference
    follows). That broadcast and num_rel's both read the one qrels
    shuffle of ``_relevant`` (the second as a reused exchange), so a call
    on checkpointed inputs runs 5 jobs and caches nothing. With ``ap``
    one rank window adds the running relevant count
    — the reference's sequential loop re-expressed as ``sum(is_rel) OVER
    (ORDER BY rank)`` partitioned by qid — and ``psum`` sums precision at
    each relevant rank (NULL when none was retrieved). ONE groupBy(qid)
    then yields every column, and num_rel (0 when the query has no
    relevant qrels) joins as a broadcast: the run is read once and no
    metric joins back on qid. p_at_<k> is NULL when no doc ranks <= k.

    Scale: the run is top-k (k rows per query) and the qrels a few judged
    docs per query, so both broadcasts are O(|queries|·k) and the only
    shuffle of the run is the window's (or the aggregate's) one by qid."""
    rel = _relevant(qrels, min_rel).select(
        "qid", F.explode("docs").alias("docno"), F.lit(1).alias("is_rel"))
    j = run.join(F.broadcast(rel), ["qid", "docno"], "left").fillna({"is_rel": 0})
    is_rel, rank = F.col("is_rel"), F.col("rank")
    aggs = [F.sum(is_rel).alias("num_rel_ret"), F.count("*").alias("num_ret")]
    if ap:
        j = j.withColumn("cum_rel", F.sum(is_rel).over(
            Window.partitionBy("qid").orderBy("rank")))
        aggs.append(F.sum(F.when(is_rel == 1, F.col("cum_rel") / rank)).alias("psum"))
    aggs += [(F.sum(F.when(rank <= k, is_rel)) / F.lit(float(k))).alias(f"p_at_{k}")
             for k in ks]
    return (j.groupBy("qid").agg(*aggs)
            .join(F.broadcast(num_rel(qrels, min_rel)), "qid", "left")
            .fillna({"num_rel": 0}))


def _ap(denom: str):
    """AP = psum / denom; NULL when the denominator is 0."""
    return F.when(F.col(denom) > 0,
                  F.coalesce(F.col("psum"), F.lit(0.0)) / F.col(denom)).alias("ap")


def _utility(floor: float):
    """KBA utility = 2*rel_ret - num_ret, floored (Eval.java:114-123)."""
    return F.greatest(
        F.lit(floor),
        (2.0 * F.col("num_rel_ret") - F.col("num_ret")).cast("double"),
    ).alias("utility")


def precision_recall(run: DataFrame, qrels: DataFrame, min_rel: int = 1) -> DataFrame:
    """E1 (Eval.java:23-80): per-query precision, recall, num_rel_ret over
    the full run depth."""
    return _per_query(run, qrels, min_rel).select(
        "qid",
        "num_rel_ret",
        "num_ret",
        "num_rel",
        (F.col("num_rel_ret") / F.col("num_ret")).alias("precision"),
        F.when(F.col("num_rel") > 0,
               F.col("num_rel_ret") / F.col("num_rel")).alias("recall"),
    )


def precision_at_k(run: DataFrame, qrels: DataFrame, k: int,
                   min_rel: int = 1) -> DataFrame:
    """E2 (Eval.java:34-47): P@k — denominator is k even when fewer than k
    docs were retrieved (the reference divides by the cutoff). A query
    with no doc ranked <= k has no row."""
    pk = f"p_at_{k}"
    return (_per_query(run, qrels, min_rel, ks=(k,))
            .filter(F.col(pk).isNotNull()).select("qid", pk))


def f1(precision_col, recall_col, beta: float = 1.0):
    """E3 (Eval.java:82-111): Fβ column expression; 0 when degenerate."""
    b2 = beta * beta
    denom = b2 * precision_col + recall_col
    return F.when(denom > 0,
                  (1 + b2) * precision_col * recall_col / denom).otherwise(0.0)


def utility(run: DataFrame, qrels: DataFrame, min_rel: int = 1,
            floor: float = -100.0) -> DataFrame:
    """E4 (Eval.java:114-123): KBA utility = 2*rel_ret - num_ret, floored."""
    return _per_query(run, qrels, min_rel).select("qid", _utility(floor))


def average_precision(run: DataFrame, qrels: DataFrame, min_rel: int = 1,
                      by_num_ret: bool = False) -> DataFrame:
    """E5 (Eval.java:154-194): AP = mean over relevant retrieved docs of
    precision@their-rank; denominator num_rel (trec_eval) or num_ret (the
    reference's second variant, Eval.java:175-194)."""
    return _per_query(run, qrels, min_rel, ap=True).select(
        "qid", _ap("num_ret" if by_num_ret else "num_rel"))


def mean_average_precision(run: DataFrame, qrels: DataFrame,
                           min_rel: int = 1) -> DataFrame:
    """E5: MAP — mean of per-query AP over queries that have relevant docs
    (NULL-ap queries excluded; see module docstring on the reference NPE)."""
    ap = average_precision(run, qrels, min_rel)
    return ap.agg(F.avg("ap").alias("map"))


def evaluate_run(run: DataFrame, qrels: DataFrame, min_rel: int = 1,
                 ks: tuple[int, ...] = (10, 20)) -> DataFrame:
    """The reference's in-reducer eval block (RunQueryHBase.java:292-296):
    per-query MAP-style AP + P@10 + P@20 in one frame, read off one
    ``_per_query`` pass (a query with no doc ranked <= k gets P@k 0.0)."""
    return _per_query(run, qrels, min_rel, ks, ap=True).select(
        "qid", _ap("num_rel"),
        *[F.coalesce(F.col(f"p_at_{k}"), F.lit(0.0)).alias(f"p_at_{k}") for k in ks])


def f1_utility(run: DataFrame, qrels: DataFrame, min_rel: int = 1,
               beta: float = 1.0, floor: float = -100.0) -> DataFrame:
    """E3+E4 off one ``_per_query`` pass: per-query F(beta) over
    precision and recall (recall 0 when the query has no relevant qrels)
    + KBA utility."""
    precision = F.col("num_rel_ret") / F.col("num_ret")
    recall = F.when(F.col("num_rel") > 0,
                    F.col("num_rel_ret") / F.col("num_rel")).otherwise(0.0)
    return _per_query(run, qrels, min_rel).select(
        "qid", f1(precision, recall, beta).alias("f1"), _utility(floor))


def ndcg(run: DataFrame, qrels: DataFrame, k: int = 10) -> DataFrame:
    """nDCG@k with graded relevance (beyond-reference: the qrels the
    reference loads are graded — Qrels.java keeps the level — but Eval
    only binarizes; nDCG is the standard graded metric on top of them).

    gain = 2^rel - 1, discount = 1/log2(rank+1) (Järvelin & Kekäläinen,
    TOIS'02 / trec_eval's ndcg_cut). IDCG sorts the query's judged docs
    by rel desc (ties broken docno desc — harmless: equal rel ⇒ equal
    gain, so tie order never changes the sum). Queries with no relevant
    docs get ndcg = NULL (excluded from any mean, same convention as AP).

    Scale: two window-rank passes over frames that are already a few
    rows per query (the run is top-k, qrels a few judged docs); both
    partition by qid so they distribute. log2 is computed as ln(x)/ln 2
    to keep Spark and any SQL mirror bit-identical.
    """
    graded = qrels.groupBy("qid", "docno").agg(F.max("rel").alias("rel"))
    j = run.filter(F.col("rank") <= k).join(graded, ["qid", "docno"], "left")
    gain = F.pow(F.lit(2.0), F.coalesce(F.col("rel"), F.lit(0)).cast("double")) - 1.0
    dcg = j.groupBy("qid").agg(
        F.sum(gain * F.lit(LOG2) / F.log(F.col("rank") + 1.0)).alias("dcg")
    )
    w = Window.partitionBy("qid").orderBy(F.col("rel").desc(), F.col("docno").desc())
    ideal = graded.withColumn("pos", F.row_number().over(w)).filter(F.col("pos") <= k)
    igain = F.pow(F.lit(2.0), F.col("rel").cast("double")) - 1.0
    idcg = ideal.groupBy("qid").agg(
        F.sum(igain * F.lit(LOG2) / F.log(F.col("pos") + 1.0)).alias("idcg")
    )
    qids = run.select("qid").distinct()
    return (
        qids.join(dcg, "qid", "left")
        .join(idcg, "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("dcg"), F.lit(0.0)).alias("dcg"),
            F.when(F.col("idcg") > 0,
                   F.coalesce(F.col("dcg"), F.lit(0.0)) / F.col("idcg"))
            .alias("ndcg"),
        )
    )


def rrf_fusion(runs: list[DataFrame], k: int = 10, c: int = 60) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR'09):
    rrf(d) = Σ_runs 1/(c + rank_run(d)), docs absent from a run simply
    contribute nothing. Output re-ranked top-k per query with the K3
    docno-desc tie-break on the rounded score.

    Scale: a union of top-k run frames (k rows per query per run)
    followed by one groupBy and one window top-k — every stage is a few
    rows per query; nothing touches the corpus. On a cluster the runs
    are the materialized outputs of prior retrieval stages, so fusion
    is a cheap post-processing job regardless of corpus size.
    """
    tagged = None
    for r in runs:
        part = r.select(
            "qid", "docno",
            (1.0 / (F.lit(float(c)) + F.col("rank"))).alias("contrib"),
        )
        tagged = part if tagged is None else tagged.unionByName(part)
    fused = tagged.groupBy("qid", "docno").agg(
        F.round(F.sum("contrib"), 6).alias("rrf")
    )
    w = Window.partitionBy("qid").orderBy(F.col("rrf").desc(), F.col("docno").desc())
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "docno", "rrf", "rank")
    )


def kendall_tau(run_a: DataFrame, run_b: DataFrame) -> DataFrame:
    """Per-query Kendall rank correlation between two runs over their
    COMMON documents: tau = (concordant - discordant) / (n*(n-1)/2),
    ties in either ranking excluded from both counts (tau-a over the
    strict pairs; ranks from K1-K3 are already unique per run).

    Scale: the pair comparison is quadratic in the per-query OVERLAP of
    two top-k lists — k(k-1)/2 <= 45 pairs at k=10 — never in the
    corpus. One equi-join on (qid, docno), one per-qid pair join of
    k-row groups, one aggregate.
    """
    a = run_a.select("qid", "docno", F.col("rank").alias("ra"))
    b = run_b.select("qid", "docno", F.col("rank").alias("rb"))
    # Compute-once: the pair self-join would otherwise re-derive BOTH
    # full input pipelines on each side (r3 plan audit: 70 exchanges
    # when the inputs are two complete retrieval runs).
    # The joined frame is tiny (<= k rows per query), so materializing
    # it truncates the lineage at negligible cost; on a cluster this is
    # where the matched run would be checkpointed.
    both = a.join(b, ["qid", "docno"]).localCheckpoint()
    l = both.alias("l")
    r = both.alias("r")
    pairs = l.join(
        r,
        (F.col("l.qid") == F.col("r.qid"))
        & (F.col("l.docno") < F.col("r.docno")),
    ).select(
        F.col("l.qid").alias("qid"),
        (F.signum(F.col("l.ra") - F.col("r.ra"))
         * F.signum(F.col("l.rb") - F.col("r.rb"))).alias("s"),
    )
    return pairs.groupBy("qid").agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.when(F.col("s") > 0, 1).otherwise(0)).alias("concordant"),
        F.sum(F.when(F.col("s") < 0, 1).otherwise(0)).alias("discordant"),
    ).select(
        "qid", "n_pairs", "concordant", "discordant",
        F.when(F.col("n_pairs") > 0,
               (F.col("concordant") - F.col("discordant"))
               / F.col("n_pairs").cast("double")).alias("tau"),
    )
