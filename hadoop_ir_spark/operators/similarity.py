"""Similarity search over an embedding column (beyond-reference operator
set; BASELINE.json north star).

Two paths:
- ``cosine_topk``: exact brute-force top-k — broadcast the (small) query
  set against the corpus, one window per query. The correctness baseline.
- ``ivf_topk``: IVF-style approximate search — vectors are pre-assigned to
  their nearest centroid (one-off pass, like building an index); a query
  probes only the ``nprobe`` nearest centroid lists. At 100 TB the assign
  step is the only full scan; queries touch ~nprobe/|C| of the data. The
  centroid set here is a deterministic id-sample; swap in KMeans centroids
  (pyspark.ml) for production without changing the query plan.

Everything is Column-expression math (zip_with/aggregate dot products) —
JVM-side, no Python in the scoring loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hadoop_ir_spark.operators.dedup import cosine_expr


def _norm(vec):
    return F.sqrt(F.aggregate(
        F.transform(vec, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v,
    ))


def cosine_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding",
                qid_col: str = "qid") -> DataFrame:
    """Exact cosine top-k per query: (qid, vec_id, cosine, rank).

    ``queries``: (qid, embedding) — small, broadcast. Self-matches (a query
    vector finding itself) are NOT excluded; callers filter if needed.
    Ranking uses the rounded cosine with vec_id-desc tie-break so results
    are deterministic and oracle-comparable.
    """
    q = queries.select(F.col(qid_col).alias("qid"), F.col(vec_col).alias("qv"))
    c = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    scored = c.crossJoin(F.broadcast(q)).select(
        "qid", "vec_id",
        F.round(cosine_expr(F.col("v"), F.col("qv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.desc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def centroid_sample(emb: DataFrame, every: int = 50, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    max_k: int | None = None) -> DataFrame:
    """Deterministic centroid set: every ``every``-th vector by id,
    optionally CAPPED at ``max_k`` centroids (the first ``max_k`` by id:
    ``id % every == 0 AND id < every * max_k``). → (centroid_id, cv).

    The cap is the scale knob: without it k grows linearly with the
    corpus and Lloyd's O(n·k·d) turns O(n²) in data (measured 30.7× per
    10× in SCALING.md r4); with it k is a constant and the scan is
    linear. Production: replace with KMeans cluster centers — downstream
    plans are unchanged."""
    cond = F.col(id_col) % every == 0
    if max_k is not None:
        cond = cond & (F.col(id_col) < every * max_k)
    return emb.filter(cond).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cv")
    )


def ivf_assign(emb: DataFrame, centroids: DataFrame,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Assign every vector to its nearest centroid (max cosine; tie-break
    lowest centroid_id): (vec_id, centroid_id) — the 'index build' scan.

    Kernel: the centroid matrix is tiny → broadcast as numpy; each Arrow
    batch argmaxes a BLAS matmul block (the flop-dense inner loop stays
    out of expression interpretation, cf. dedup.embedding_near_dups)."""
    import numpy as np
    import pandas as pd

    cents = centroids.collect()
    cids = np.array([r["centroid_id"] for r in cents], dtype=np.int64)
    C = np.array([r["cv"] for r in cents], dtype=np.float64)
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    # tie-break lowest centroid_id: stable argmax over id-ascending order
    order = np.argsort(cids)
    cids_sorted, C_sorted = cids[order], C[order]
    bc = emb.sparkSession.sparkContext.broadcast((cids_sorted, C_sorted))

    def assign(batches):
        cids_b, Cb = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            A /= np.linalg.norm(A, axis=1, keepdims=True)
            # argmax returns the FIRST max -> lowest centroid_id on ties
            best = cids_b[np.argmax(A @ Cb.T, axis=1)]
            yield pd.DataFrame({
                "vec_id": pdf[id_col].to_numpy(dtype=np.int64),
                "centroid_id": best,
            })

    return emb.select(id_col, vec_col).mapInPandas(
        assign, schema="vec_id long, centroid_id long"
    )


def assign_centroids(emb: DataFrame, centroids: DataFrame,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Expression-path nearest-centroid assignment (max cosine, lowest
    centroid_id tie-break): (vec_id, centroid_id, cos). Unlike
    ``ivf_assign``'s BLAS kernel, this stays in JVM expressions with
    strictly sequential fold order, so the distances are bit-reproducible
    against any engine using a left-fold dot product — the property the
    k-means oracle needs. The groupBy(vec_id) argmin does partial
    aggregation map-side, so the shuffle carries one row per vector.

    Both norms are hoisted OUT of the per-(vector, centroid) expression:
    the corpus norm is a projection below the crossJoin (evaluated once
    per vector, not once per pair), the centroid norm once per centroid —
    the per-pair work is a single dot fold. Same doubles as the full
    ``cosine_expr`` (identical arithmetic on identical operands, just not
    recomputed), so oracle parity is preserved.
    """
    c = emb.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
    ).withColumn("na", _norm(F.col("v")))
    cents = centroids.withColumn("nb", _norm(F.col("cv")))
    dot = F.aggregate(
        F.zip_with(F.col("v"), F.col("cv"),
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v,
    )
    scored = c.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        F.col("centroid_id").alias("cid"),
        (dot / (F.col("na") * F.col("nb"))).alias("cos"),
    )
    best = scored.groupBy("vec_id").agg(
        F.min(F.struct((-F.col("cos")).alias("n"),
                       F.col("cid").alias("cid"))).alias("b")
    )
    return best.select(
        "vec_id", F.col("b.cid").alias("centroid_id"),
        (-F.col("b.n")).alias("cos"),
    )


# above this vector width the centroid update switches to the
# posexplode/groupBy(cid, pos) shape: a `dim`-column aggregate blows past
# whole-stage-codegen's method-size limits at real embedding widths
# (768+) and falls back to interpreted mode, while the exploded groupBy
# stays inside codegen at any width (shuffle carries k·dim skinny rows —
# still scalar traffic)
WIDE_UPDATE_DIM = 100


def kmeans_spherical(emb: DataFrame, init: DataFrame, iters: int = 3,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     round_digits: int = 9, wide_update: bool | None = None):
    """Lloyd's k-means with cosine assignment and deterministic init
    (pass ``centroid_sample`` output). Returns (assignments, centroids):
    assignments = (vec_id, centroid_id, cos) under the FINAL centroids.

    Per iteration: one broadcast crossJoin + argmin (assignment), one
    centroid-update aggregate. New centroids are rounded to
    ``round_digits``, so the trajectory is bit-reproducible regardless
    of partitioning/summation order. Empty clusters keep their previous
    centroid. Centroids are NOT re-normalized between iterations —
    cosine assignment is scale-invariant, so normalization would only
    add float ops without changing any assignment.

    r12 (optimization): the whole trajectory is ONE lazy plan — each
    iteration's k·dim centroid aggregate stays a (broadcast) DataFrame
    instead of being collected to the driver and re-parallelized, so
    Lloyd's runs without any per-iteration driver barrier (guide §5:
    the driver does no data work; §2.6: no synchronous supersteps).
    The rounded means are the same doubles either way, so the
    trajectory — and every downstream catalog oracle — is unchanged.

    The update is width-conditional (``wide_update=None`` → auto at
    dim > WIDE_UPDATE_DIM): narrow vectors use ``dim`` per-dimension
    avg aggregates in one pass (fewest shuffled rows); wide vectors use
    posexplode → groupBy(cid, pos) → avg, which stays inside
    whole-stage codegen at 768+ dims where a 768-column aggregate would
    fall back to interpreted mode. Both paths round identically, so the
    trajectory is bit-identical either way (tested at dim=256).
    """
    # cache the (id, vector) projection once: every iteration re-scans it
    # for assignment AND update, and parquet array decode dominates
    # per-iteration latency otherwise
    emb2 = emb.select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).alias("embedding")).cache()

    cents = init.select(
        "centroid_id", F.col("cv").cast("array<double>").alias("cv")
    )
    # plan-time probe: one row, column width only (no corpus pass)
    dim = cents.select(F.size("cv").alias("d")).first()["d"]

    if wide_update is None:
        wide_update = dim > WIDE_UPDATE_DIM

    # narrow update: ONE groupBy with `dim` per-dimension avg
    # aggregates — no posexplode, fewest shuffled rows (k partial-agg
    # rows per partition). Only viable while `dim` columns fit in
    # whole-stage codegen.
    mean_aggs = [
        F.round(F.avg(F.col("embedding")[i].cast("double")), round_digits)
        .alias(f"d{i}")
        for i in range(dim)
    ]

    def update(assign):
        """Lazy (centroid_id, mv array<double>) means of the assignment."""
        joined = assign.select("vec_id", "centroid_id").join(emb2, "vec_id")
        if not wide_update:
            means = joined.groupBy("centroid_id").agg(*mean_aggs)
            return means.select(
                "centroid_id",
                F.array(*[F.col(f"d{i}") for i in range(dim)]).alias("mv"),
            )
        # wide update: skinny (cid, pos, val) rows keep codegen alive at
        # any dim; the array is reassembled by position afterwards
        return (
            joined.select(
                "centroid_id",
                F.posexplode(F.col("embedding").cast("array<double>"))
                .alias("pos", "val"),
            )
            .groupBy("centroid_id", "pos")
            .agg(F.round(F.avg("val"), round_digits).alias("m"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("mv")
            )
        )

    for _ in range(iters):
        assign = assign_centroids(emb2, cents)
        means = update(assign)
        # empty clusters keep their previous centroid (left join + coalesce
        # replaces the old driver-side dict merge — same semantics)
        cents = cents.join(means, "centroid_id", "left").select(
            "centroid_id", F.coalesce("mv", "cv").alias("cv")
        )

    # pin ONE materialized trajectory (ADVICE r12): the returned
    # assignment and centroid frames would otherwise each re-execute the
    # whole Lloyd's lineage per action; the cache makes the first action
    # freeze the k·dim result both returns (and repeated actions) read
    cents = cents.cache()
    return assign_centroids(emb2, cents), cents


def _probe_ranking(queries: DataFrame, centroids: DataFrame,
                   qid_col: str = "qid",
                   vec_col: str = "embedding") -> DataFrame:
    """Every centroid ranked per query → (qid, qv, centroid_id, _r):
    cosine descending, centroid_id ascending on ties. An IVF probe keeps
    ``_r <= nprobe``."""
    q = queries.select(F.col(qid_col).alias("qid"), F.col(vec_col).alias("qv"))
    qprobe = q.crossJoin(F.broadcast(centroids)).select(
        "qid", "qv", "centroid_id",
        cosine_expr(F.col("qv"), F.col("cv")).alias("csim"),
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("csim"), F.asc("centroid_id"))
    return (
        qprobe.withColumn("_r", F.row_number().over(wq))
        .select("qid", "qv", "centroid_id", "_r")
    )


def ivf_topk(emb: DataFrame, queries: DataFrame, centroids: DataFrame,
             k: int = 10, nprobe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             qid_col: str = "qid", use_blas: bool = True) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` centroids nearest each
    query, score only vectors assigned to those lists.
    → (qid, vec_id, cosine, rank).

    ``use_blas=False`` swaps the assignment kernel for the expression
    path (``assign_centroids``): same argmax semantics, but the cosine
    arithmetic is the left-fold form an external SQL engine reproduces
    bit-for-bit — near-tied centroids can't flip between engines, which
    makes the WHOLE pipeline (assignment → probes → candidate top-k)
    oracle-checkable. BLAS stays the default for production scans."""
    if use_blas:
        assign = ivf_assign(emb, centroids, id_col=id_col, vec_col=vec_col)
    else:
        assign = assign_centroids(
            emb, centroids.select("centroid_id",
                                  F.col("cv").cast("array<double>")
                                  .alias("cv")),
            id_col=id_col, vec_col=vec_col,
        ).select("vec_id", "centroid_id")

    probes = (
        _probe_ranking(queries, centroids, qid_col=qid_col, vec_col=vec_col)
        .filter(F.col("_r") <= nprobe)
        .select("qid", "qv", "centroid_id")
    )

    c = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    cand = (
        assign.join(F.broadcast(probes), "centroid_id")
        .join(c, "vec_id")
    )
    scored = cand.select(
        "qid", "vec_id",
        F.round(cosine_expr(F.col("v"), F.col("qv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.desc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# --------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011): vectors compressed to M small
# codes; queries scored via an asymmetric-distance lookup table (ADC).
# At 100 TB the corpus is stored as M bytes/vector instead of d floats,
# scoring never touches raw vectors, and the LUT (M·K doubles per query)
# is broadcast — the scan reads only the codes table.
# --------------------------------------------------------------------------

PQ_M = 8        # subspaces (64-d embeddings -> 8 dims each)
PQ_K = 32       # codes per subspace
PQ_TRAIN_EVERY = 13  # deterministic training sample: every 13th vector


def dot_expr(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (byte-equal to DuckDB
    list_dot_product, like dedup.cosine_expr's internals)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v,
    )


def _sub_slices(vec: Column, m: int, sub: int, tag: str):
    """Explode a d-dim vector into its m sub-vectors → struct(s, <tag>)."""
    return F.explode(F.array(*[
        F.struct(F.lit(s).alias("s"),
                 F.slice(vec, s * sub + 1, sub).alias(tag))
        for s in range(m)
    ]))


def pq_codebook(emb: DataFrame, m: int = PQ_M, k: int = PQ_K,
                train_every: int = PQ_TRAIN_EVERY,
                id_col: str = "vec_id",
                vec_col: str = "embedding",
                dims: int = 64) -> DataFrame:
    """Deterministic sub-codebooks → (s, code, cv): code c of subspace s
    is the s-th sub-vector of the c-th training sample (the k lowest-id
    vectors of an every-``train_every`` id sample). The global window
    runs AFTER the sample filter, on ~n/train_every rows — an index-build
    step, not a corpus scan; swap in per-subspace k-means for production
    without changing downstream plans."""
    sub = dims // m
    samples = (
        emb.filter(F.col(id_col) % train_every == 0)
        .select(F.col(id_col).alias("_id"),
                F.col(vec_col).cast("array<double>").alias("_v"))
        .withColumn("_rn", F.row_number().over(Window.orderBy("_id")))
        .filter(F.col("_rn") <= k)
    )
    return samples.select(
        (F.col("_rn") - 1).alias("code"),
        _sub_slices(F.col("_v"), m, sub, "cv").alias("_e"),
    ).select(F.col("_e.s").alias("s"), "code", F.col("_e.cv").alias("cv"))


def pq_encode(emb: DataFrame, codebook: DataFrame, m: int = PQ_M,
              id_col: str = "vec_id", vec_col: str = "embedding",
              dims: int = 64) -> DataFrame:
    """Encode every vector → (vec_id, s, code): nearest sub-centroid per
    subspace by L2 (tie-break lowest code). One broadcast join against
    the ≤ m·k-row codebook + a partial-aggregating argmin groupBy; the
    d2 arithmetic is three sequential-fold dots (xx - 2·xc + cc), so the
    chosen codes are engine-reproducible."""
    sub = dims // m
    xs = emb.select(
        F.col(id_col).alias("vec_id"),
        _sub_slices(F.col(vec_col).cast("array<double>"), m, sub, "xv")
        .alias("_e"),
    ).select("vec_id", F.col("_e.s").alias("s"), F.col("_e.xv").alias("xv"))
    d2 = (
        dot_expr(F.col("xv"), F.col("xv"))
        - F.lit(2.0) * dot_expr(F.col("xv"), F.col("cv"))
        + dot_expr(F.col("cv"), F.col("cv"))
    )
    scored = xs.join(F.broadcast(codebook), "s").select(
        "vec_id", "s", d2.alias("_d2"), "code"
    )
    return (
        scored.groupBy("vec_id", "s")
        .agg(F.min(F.struct(F.col("_d2"), F.col("code"))).alias("_b"))
        .select("vec_id", "s", F.col("_b.code").alias("code"))
    )


def pq_lut(queries: DataFrame, codebook: DataFrame, m: int = PQ_M,
           qid_col: str = "qid", vec_col: str = "embedding",
           dims: int = 64, key_cols: tuple = ()) -> DataFrame:
    """ADC lookup table → (qid, *key_cols, s, code, d2_i): the
    query↔sub-centroid L2, quantized to integer micro-units
    (floor(d2·1e6 + 0.5)) so the per-vector sum over subspaces is an
    ORDER-INDEPENDENT integer sum — partial aggregation cannot drift it
    (same trick as the TPC-H integer-cents oracles; real PQ quantizes
    its LUT to float32 anyway). ``key_cols`` are extra columns of
    ``queries`` carried into the key — e.g. ``centroid_id`` for a
    residual LUT, one per (query, probed list).
    """
    sub = dims // m
    qs = queries.select(
        F.col(qid_col).alias("qid"), *key_cols,
        _sub_slices(F.col(vec_col).cast("array<double>"), m, sub, "qv")
        .alias("_e"),
    ).select("qid", *key_cols, F.col("_e.s").alias("s"),
             F.col("_e.qv").alias("qv"))
    d2 = (
        dot_expr(F.col("qv"), F.col("qv"))
        - F.lit(2.0) * dot_expr(F.col("qv"), F.col("cv"))
        + dot_expr(F.col("cv"), F.col("cv"))
    )
    return qs.join(F.broadcast(codebook), "s").select(
        "qid", *key_cols, "s", "code",
        F.floor(d2 * 1e6 + F.lit(0.5)).cast("long").alias("d2_i"),
    )


def pq_topk(codes: DataFrame, lut: DataFrame, k: int = 10) -> DataFrame:
    """ADC top-k → (qid, vec_id, approx_d2, rank): join the codes table
    to the broadcast LUT on (s, code), integer-sum the M per-subspace
    distances, rank ascending (nearest first, vec_id-desc tie-break).
    The corpus-side scan touches only (vec_id, s, code) — never a raw
    vector."""
    scored = (
        codes.join(F.broadcast(lut), ["s", "code"])
        .groupBy("qid", "vec_id")
        .agg(F.sum("d2_i").alias("_di"))
    )
    w = Window.partitionBy("qid").orderBy(F.asc("_di"), F.desc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "qid", "vec_id",
            F.round(F.col("_di").cast("double") / 1e6, 6).alias("approx_d2"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (SimHash-for-vectors) — the third ANN strategy next
# to IVF (partition-probe) and PQ (compressed-scan). Completes the scale
# menu: RP-LSH needs NO trained index structure (hyperplanes are a formula),
# so it is the strategy that works on a cold 100 TB corpus in one pass.
# ---------------------------------------------------------------------------

RP_NH = 16       # hyperplanes (signature bits)
RP_NB = 4        # bands -> candidates share at least one 4-bit band bucket
                 # (width tunes recall vs candidate volume: narrower bands
                 # collide more; 4x4 beats 2x8 on recall at equal bits)
RP_QUANT = 1000  # fixed-point quantization for integer-exact bit decisions


def rp_bands(df: DataFrame, id_col: str = "vec_id",
             vec_col: str = "embedding", nh: int = RP_NH,
             nb: int = RP_NB, out_id: str | None = None) -> DataFrame:
    """(id, band, bucket) random-hyperplane LSH bands.

    Hyperplane j's weight on dimension d is the closed form
    ``((j*37 + d*101) % 19) - 9`` and the vector is fixed-point quantized
    (``floor(x*1000 + 0.5)``), so every signature bit is an INTEGER sign
    decision — bit-identical across engines and summation orders, which a
    float dot product near zero would not be. One map-only pass, no
    Python; the per-band explode is x``nb``.
    """
    width = nh // nb
    bits = F.expr(
        f"transform(sequence(0, {nh - 1}), j -> "
        f"  aggregate("
        f"    zip_with({vec_col}, sequence(0, size({vec_col}) - 1),"
        f"      (x, d) -> cast(floor(cast(x as double) * {RP_QUANT} + 0.5)"
        f"                     as bigint)"
        f"                * (((j * 37 + d * 101) % 19) - 9)),"
        f"    0L, (acc, t) -> acc + t) >= 0L)"
    )
    keys = F.expr(
        f"transform(sequence(0, {nb - 1}), b -> "
        f"  aggregate(sequence(0, {width - 1}), 0L,"
        f"    (acc, i) -> acc + if(element_at(_bits, b * {width} + i + 1),"
        f"                         shiftleft(1L, i), 0L)))"
    )
    out_id = out_id or id_col
    return (
        df.select(F.col(id_col).alias(out_id), bits.alias("_bits"))
        .select(out_id, F.posexplode(keys).alias("band", "bucket"))
    )


def rp_lsh_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding",
                qid_col: str = "qid", nh: int = RP_NH,
                nb: int = RP_NB) -> DataFrame:
    """Approximate cosine top-k: candidates = corpus vectors sharing at
    least one LSH band bucket with the query; exact cosine re-rank on the
    candidate set only. (qid, vec_id, cosine, rank).

    Scale shape: ONE equi-join on (band, bucket) — no cross join. The
    corpus side is bucketed by the signature; hot buckets (dense regions)
    are the LSH analogue of skew and would be salted/capped in production.
    """
    cb = rp_bands(emb, id_col, vec_col, nh, nb)
    qb = rp_bands(queries, qid_col, vec_col, nh, nb, out_id="qid")
    cand = (
        cb.join(qb, ["band", "bucket"])
        .select("qid", id_col)
        .distinct()
    )
    c = emb.select(F.col(id_col), F.col(vec_col).alias("v"))
    q = queries.select(F.col(qid_col).alias("qid"),
                       F.col(vec_col).alias("qv"))
    scored = (
        cand.join(c, id_col)
        .join(F.broadcast(q), "qid")
        .select(
            "qid", id_col,
            F.round(cosine_expr(F.col("v"), F.col("qv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.desc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def recall_vs_exact(exact: DataFrame, approx: DataFrame,
                    k: int = 10, qids: DataFrame | None = None) -> DataFrame:
    """ANN quality evaluation: per-query recall@k of an approximate
    result against the exact brute-force result — (qid, n_hits, recall).

    Both inputs are (qid, vec_id, ...) top-k frames. One equi-join on
    (qid, vec_id) + a groupBy(qid); queries the approximate index missed
    entirely still appear with recall 0 via the left join from the exact
    side's query set. The evaluation cost is O(|queries|·k), independent
    of corpus size — safe to run continuously as an index-quality canary
    at 100 TB.

    ``qids`` (optional): the query-id universe as a cheap frame. Without
    it the universe is derived as ``exact.select("qid").distinct()``,
    which re-plans the whole brute-force pipeline a second time just to
    list qids — the column-pruned subtree no longer matches the scoring
    subtree, so runtime exchange reuse cannot dedupe it (r12 profile:
    the recall canaries were paying the exact scan twice). Callers that
    know their query set (every Nth vector) pass it directly.

    Join strategy (r13, ADVICE r12): both sides are O(|queries|·k)
    rows, but |queries| is a fixed FRACTION of the corpus at every call
    site (every Nth vector), so a forced broadcast would hit the 8 GB /
    512M-row broadcast cap at the 100 TB target and fail outright. No
    hint: AQE converts the exchanges to a broadcast join at runtime
    from the ACTUAL post-top-k sizes while they fit, and degrades to a
    partitioned join when they no longer do.
    """
    hits = (
        exact.select("qid", "vec_id")
        .join(approx.select("qid", "vec_id"),
              ["qid", "vec_id"])
        .groupBy("qid")
        .agg(F.count("*").alias("n_hits"))
    )
    if qids is None:
        qids = exact.select("qid").distinct()
    return qids.join(hits, "qid", "left").select(
        "qid",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        F.round(F.coalesce("n_hits", F.lit(0)) / float(k), 6).alias("recall"),
    )
