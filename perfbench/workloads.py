"""The three workloads. Each is one closed-loop client: it calls the
engine's public functions and waits for each result before the next call.

A workload repeats its unit of work (one run, one sweep, one CDC round)
until the run's seconds are spent, and reports per-unit wall and CPU
times. Outputs are kept and checked against the DuckDB twin after the
loop, so the twin never competes with the engine for cores or memory.
Spans name the layer a call enters (see ``README.md``); in the untraced
run they cost nothing.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from hadoop_ir_spark.io import index, runfile
from hadoop_ir_spark.operators import dedup_incremental as dinc
from hadoop_ir_spark.operators import evaluate, feedback, rank, scoring, stats
from perfbench import meter, twins
from perfbench.trace import NullTracer, scanned_mb

MU = 2500.0
RUN_DEPTH = 1000            # scan_run: the MIREX top-1000 run
SWEEP_DEPTH = 100
SWEEP_MUS = [1000.0, 2500.0]
SWEEP_LAMBDAS = [0.5]
SWEEP_BM25 = [(1.2, 0.75)]
FB_DOCS, FB_TERMS, FB_LAMBDA = [10], [10], [0.5]
BM25_K1, BM25_B = 1.2, 0.75
SERVE_K = 10
NPROBE = 2
REFINE = 256                # > any planted cluster: its exact re-rank is complete
DEDUP_TAU = 0.9


@dataclass
class Outcome:
    """What a workload measured and how many of its operations failed."""

    walls: list = field(default_factory=list)
    cpus: list = field(default_factory=list)
    traced: list = field(default_factory=list)    # per unit: was it traced
    phases: dict = field(default_factory=dict)    # phase -> [seconds]
    build_wall: float = 0.0
    build_cpu: float = 0.0
    peak_rss_mb: float = 0.0
    attempted: int = 0
    failed: int = 0
    notes: list = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"twin mismatch: {what}")

    def timed(self, phase: str, t0: float) -> None:
        self.phases.setdefault(phase, []).append(time.perf_counter() - t0)


def du_mb(path: str) -> float:
    """MB of the files under ``path``; ``glob`` skips the hidden checksum
    files, so for a parquet table this is the data Spark reads."""
    return sum(os.path.getsize(p) for p in glob.glob(f"{path}/**", recursive=True)
               if os.path.isfile(p)) / 1e6


class Workload:
    """The closed loop. Subclasses define ``unit`` (one timed unit of
    work), ``check`` (the twin comparison, after the loop) and optionally
    ``build`` (timed once, before the units) and ``more``."""

    def __init__(self, spark, tracer_for, inputs: str, work: str):
        self.spark = spark
        self.tracer_for = tracer_for      # unit index (None: build) -> tracer
        self.inputs, self.work = inputs, work
        self.out = Outcome()

    def path(self, *parts) -> str:
        return os.path.join(self.inputs, *parts)

    def read(self, *parts):
        return self.spark.read.parquet(self.path(*parts))

    def build(self, tr) -> None:
        """What the units need and a user would build once; timed."""

    def warm_up(self) -> None:
        """One untimed, unchecked unit, so that JIT compilation and lazy
        set-up in the fresh JVM are done before the measured units."""
        self.unit(NullTracer(), -1)

    def more(self, i: int) -> bool:
        return True

    def record(self, i: int) -> None:
        """Keep unit ``i``'s outputs for ``check``; runs outside timing."""

    def run(self, seconds: float, traced: bool) -> Outcome:
        """Build, then repeat units for ``seconds`` (at least one; the
        traced run warms up first and makes at least two more, one untraced
        and one traced), then check."""
        min_units = 2 if traced else 1
        pid = os.getpid()
        tr = self.tracer_for(None)
        c0, t0 = meter.cpu_seconds(pid), time.perf_counter()
        self.build(tr)
        self.out.build_wall = time.perf_counter() - t0
        self.out.build_cpu = meter.cpu_seconds(pid) - c0
        tr.finish_iteration()
        if traced:
            t0 = time.perf_counter()
            self.warm_up()
            self.out.timed("warm_up", t0)
        with meter.PeakRss(pid) as rss:
            t_end = time.perf_counter() + seconds
            i = 0
            while self.more(i) and (i < min_units or time.perf_counter() < t_end):
                tr = self.tracer_for(i)
                tr.iteration = i
                c0, t0 = meter.cpu_seconds(pid), time.perf_counter()
                self.unit(tr, i)
                self.out.walls.append(time.perf_counter() - t0)
                self.out.cpus.append(meter.cpu_seconds(pid) - c0)
                self.out.traced.append(tr.enabled)
                tr.finish_iteration()
                self.record(i)
                i += 1
        self.out.peak_rss_mb = rss.peak
        t0 = time.perf_counter()
        con = twins.connect()
        try:
            self.check(con)
        finally:
            con.close()
        self.out.timed("check", t0)
        return self.out


def _topic_terms(path: str) -> list[str]:
    return sorted(set(pq.read_table(path).column("term").to_pylist()))


def _scan(tr, docs, terms):
    """The shared scan: doc lengths and query-term postings in one pass."""
    with tr.span("stats.scan_stats") as sp:
        scan = stats.scan_stats(docs, terms).cache()
        dlen = stats.scan_doc_lengths(scan)
        g = dlen.agg(F.count("*").alias("n"), F.sum("doc_len").alias("len")).collect()[0]
        sp.add(tokens=g["len"])
    return scan, dlen, g["n"], g["len"]


def _topk(tr, scored, depth: int):
    with tr.span("rank.topk") as sp:
        run = tr.force(rank.topk(scored, k=depth)
                       .select("qid", "docno", "score", "rank"))
    tr.tally(sp, kept=run.count, scored_pairs=scored.count)
    return run


def _gslis(tr, matched, qstats, dlen, coll_len, **params):
    with tr.span("scoring.score_gslis") as sp:
        scored = tr.force(
            scoring.score_gslis(matched, qstats, dlen, coll_len, **params)
            .withColumn("score", F.round("score", 6)))
    tr.tally(sp, matched_rows=matched.count, scored_pairs=scored.count)
    return scored


def _twin_inputs(con, inputs: str) -> None:
    for t in ("corpus", "qrels", "topics"):
        twins.view(con, t, os.path.join(inputs, t))
    con.execute("CREATE VIEW documents AS SELECT docno AS doc_id, text FROM corpus")
    con.execute("CREATE TABLE qtopics AS "
                "SELECT qid, term, 1.0::DOUBLE AS qweight FROM topics")


def _rm3_pass(tr, docs, fbrun, qw, dlen, coll_len, mu, score_fn) -> dict:
    """RM3 feedback on ``fbrun`` over full-vocabulary postings, then a
    second Dirichlet pass per (fbDocs, fbTerms); ``score_fn(tr, scored)``
    turns each second-pass frame into the result kept for the check."""
    with tr.span("stats.postings") as sp:
        full = stats.postings(docs).cache()
        cf_all = full.groupBy("term").agg(F.sum("tf").alias("cf")).cache()
        cf_all.count()
    tr.tally(sp, tokens=lambda: full.agg(F.sum("tf")).collect()[0][0])
    with tr.span("feedback.rm1_sweep") as sp:
        rm1 = tr.force(feedback.rm1_sweep(fbrun, full, dlen, FB_DOCS, FB_TERMS))
    tr.tally(sp, fb_postings_rows=lambda: full.join(
        fbrun.filter(F.col("rank") <= max(FB_DOCS)).select("docno").distinct(),
        "docno").count())
    with tr.span("feedback.rm3_sweep"):
        rm3 = (feedback.rm3_sweep(rm1, qw, FB_DOCS, FB_TERMS, FB_LAMBDA)
               .withColumn("weight", F.round("weight", 6))
               .filter(F.col("weight") > 0).cache())
        rm3.count()
    res = {}
    for fd in FB_DOCS:
        for ft in FB_TERMS:
            q2 = (rm3.filter((F.col("fb_docs") == fd) & (F.col("fb_terms") == ft))
                  .select("qid", "term", F.col("weight").alias("qweight"))
                  .join(cf_all, "term", "left").fillna({"cf": 0}))
            m2 = scoring.matched_terms(full, q2, doc_len=dlen)
            scored = _gslis(tr, m2, q2, dlen, coll_len, model="dirichlet", mu=mu)
            res[f"rm3:{fd}:{ft}"] = score_fn(tr, scored)
    for df in (rm3, cf_all, full):
        df.unpersist()
    return res


def _twin_rm3(con, fbrun: str, mu: float, depth: int, evaluate_fn) -> dict:
    """The twin of ``_rm3_pass`` on the run in table ``fbrun``."""
    con.execute(f"CREATE OR REPLACE TABLE rm3w AS WITH "
                f"{twins.rm3_sql(fbrun, FB_DOCS, FB_TERMS, FB_LAMBDA)} "
                f"SELECT * FROM rm3 WHERE weight > 0")
    out = {}
    for fd in FB_DOCS:
        for ft in FB_TERMS:
            con.execute(f"CREATE OR REPLACE TABLE q2 AS "
                        f"SELECT qid, term, weight AS qweight FROM rm3w "
                        f"WHERE fb_docs = {fd} AND fb_terms = {ft}")
            con.execute(f"CREATE OR REPLACE TABLE r2 AS WITH "
                        f"{twins.dirichlet_sql(mu, depth, topics='q2')} SELECT * FROM run")
            out[f"rm3:{fd}:{ft}"] = evaluate_fn(twins.evaluate(con, "r2"))
    return out


def _per_query(rows) -> dict:
    return {r["qid"]: (r["ap"], r["p_at_10"], r["p_at_20"]) for r in rows}


class ScanRun(Workload):
    """The MIREX experiment: one Dirichlet top-1000 run over the corpus,
    written as a TREC run file, read back and evaluated; then RM3 feedback
    on that run file and the expanded top-1000 run, evaluated."""

    first = None          # outputs of the first unit
    same = True           # every later unit reproduced the first

    def unit(self, tr, i):
        docs, topics = self.read("corpus"), self.read("topics")
        scan, dlen, _, coll_len = _scan(tr, docs, _topic_terms(self.path("topics")))
        post = stats.scan_postings(scan)
        cf = post.groupBy("term").agg(F.sum("tf").alias("cf"))
        qstats = (topics.withColumn("qweight", F.lit(1.0))
                  .join(cf, "term", "left").fillna({"cf": 0}))
        matched = scoring.matched_terms(post, qstats, doc_len=dlen)
        scored = _gslis(tr, matched, qstats, dlen, coll_len, model="dirichlet", mu=MU)
        run = _topk(tr, scored, RUN_DEPTH)
        run_dir = os.path.join(self.work, f"run-{i}")
        with tr.span("io.runfile.write_run") as sp:
            runfile.write_run(run, run_dir)
        sp.add(output_mb=du_mb(run_dir))
        qrels = self.read("qrels")
        fbrun = runfile.read_run(self.spark, run_dir)
        with tr.span("evaluate.evaluate_run") as sp:
            rows = evaluate.evaluate_run(fbrun, qrels).collect()
            sp.add(configs=1)

        def rm3_eval(tr, scored):
            run2 = _topk(tr, scored, RUN_DEPTH)
            with tr.span("evaluate.evaluate_run") as sp:
                out = _per_query(evaluate.evaluate_run(run2, qrels).collect())
                sp.add(configs=1)
            return out

        rm3 = _rm3_pass(tr, docs, fbrun, topics.withColumn("qweight", F.lit(1.0)),
                        dlen, coll_len, MU, rm3_eval)
        scan.unpersist()
        self.last = (rows, run_dir, rm3)

    def warm_up(self):
        super().warm_up()
        shutil.rmtree(self.last[1])

    def record(self, i):
        rows, run_dir, rm3 = self.last
        got = (_per_query(rows), self._read_run_file(run_dir), rm3)
        shutil.rmtree(run_dir)
        if self.first is None:
            self.first = got
        else:
            self.same = self.same and got == self.first

    @staticmethod
    def _read_run_file(run_dir: str) -> list[tuple]:
        out = []
        for p in sorted(glob.glob(os.path.join(run_dir, "part-*"))):
            with open(p) as f:
                for line in f:
                    q, _, d, r, s, _ = line.split()
                    out.append((q, int(d), float(s), int(r)))
        return out

    def check(self, con):
        _twin_inputs(con, self.inputs)
        con.execute(f"CREATE TABLE want AS WITH {twins.dirichlet_sql(MU, RUN_DEPTH)} "
                    f"SELECT * FROM run")
        got_eval, got_run, got_rm3 = self.first
        run_ok = twins.runs_agree(got_run, con.execute("SELECT * FROM want").fetchall())
        eval_ok = twins.evals_agree(got_eval, twins.evaluate(con, "want"))
        want_rm3 = _twin_rm3(con, "want", MU, RUN_DEPTH, lambda per_q: per_q)
        rm3_ok = all(twins.evals_agree(got_rm3[k], v) for k, v in want_rm3.items())
        # every unit produced the first unit's outputs, checked once here
        for i in range(len(self.out.walls)):
            self.out.check(run_ok and self.same, f"run file, unit {i}")
            self.out.check(eval_ok and self.same, f"evaluate_run, unit {i}")
            self.out.check(rm3_ok and self.same, f"RM3 run evaluation, unit {i}")


class SweepFeedback(Workload):
    """A tuning experiment: Dirichlet mu, JM lambda and BM25 (k1, b)
    grids, then an RM3 second pass over an fbDocs x fbTerms grid on the
    best Dirichlet run. Every configuration's MAP and P@10 are collected
    to the driver and checked."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.got = []         # per unit: (best mu, {config: (MAP, P@10)})

    def warm_up(self):
        super().warm_up()
        self.got.pop()

    def _config(self, tr, scored, qrels, depth=SWEEP_DEPTH):
        run = _topk(tr, scored, depth)
        with tr.span("evaluate.evaluate_run") as sp:
            m = (evaluate.evaluate_run(run, qrels)
                 .agg(F.avg("ap").alias("map"), F.avg("p_at_10").alias("p10"))
                 .collect()[0])
            sp.add(configs=1)
        return run, (m["map"], m["p10"])

    def unit(self, tr, i):
        docs, topics, qrels = self.read("corpus"), self.read("topics"), self.read("qrels")
        scan, dlen, n_docs, coll_len = _scan(tr, docs, _topic_terms(self.path("topics")))
        post = stats.scan_postings(scan)
        tstats = post.groupBy("term").agg(F.count("*").alias("df"),
                                          F.sum("tf").alias("cf"))
        qw = topics.withColumn("qweight", F.lit(1.0))
        qstats = qw.join(tstats.select("term", "cf"), "term", "left").fillna({"cf": 0})
        matched = scoring.matched_terms(post, qstats, doc_len=dlen)
        res, runs = {}, {}
        for mu in SWEEP_MUS:
            s = _gslis(tr, matched, qstats, dlen, coll_len, model="dirichlet", mu=mu)
            runs[mu], res[f"dir:{mu}"] = self._config(tr, s, qrels)
        for lam in SWEEP_LAMBDAS:
            s = _gslis(tr, matched, qstats, dlen, coll_len, model="jm", lambda_=lam)
            res[f"jm:{lam}"] = self._config(tr, s, qrels)[1]
        bm = scoring.matched_terms(post, topics.withColumn("qtf", F.lit(1)),
                                   doc_len=dlen, stats=tstats.select("term", "df"))
        for k1, b in SWEEP_BM25:
            with tr.span("scoring.score_bm25") as sp:
                s = tr.force(scoring.score_bm25(bm, n_docs, coll_len / n_docs, k1, b)
                             .withColumn("score", F.round("score", 6)))
            tr.tally(sp, matched_rows=bm.count, scored_pairs=s.count)
            res[f"bm25:{k1}:{b}"] = self._config(tr, s, qrels)[1]

        # RM3 second pass on the best Dirichlet run, over full postings
        best = max(SWEEP_MUS, key=lambda m: res[f"dir:{m}"][0])
        res.update(_rm3_pass(tr, docs, runs[best], qw, dlen, coll_len, best,
                             lambda tr, s: self._config(tr, s, qrels)[1]))
        scan.unpersist()
        self.got.append((best, res))

    def check(self, con):
        _twin_inputs(con, self.inputs)
        want = {}
        for mu in SWEEP_MUS:
            want[f"dir:{mu}"] = self._twin(con, twins.dirichlet_sql(mu, SWEEP_DEPTH))
        for lam in SWEEP_LAMBDAS:
            want[f"jm:{lam}"] = self._twin(con, twins.jm_sql(lam, SWEEP_DEPTH))
        for k1, b in SWEEP_BM25:
            want[f"bm25:{k1}:{b}"] = self._twin(con, twins.bm25_sql(k1, b, SWEEP_DEPTH))
        rm3 = {}
        for i, (best, res) in enumerate(self.got):
            if best not in rm3:
                self._twin(con, twins.dirichlet_sql(best, SWEEP_DEPTH), "fbrun")
                rm3[best] = _twin_rm3(con, "fbrun", best, SWEEP_DEPTH, twins.summary)
            for name, (got_map, got_p10) in res.items():
                want_map, want_p10 = {**want, **rm3[best]}[name]
                self.out.check(abs(got_map - want_map) <= twins.EVAL_TOL
                               and abs(got_p10 - want_p10) <= twins.EVAL_TOL,
                               f"{name} MAP/P@10, unit {i}")

    @staticmethod
    def _twin(con, sql: str, table: str = "r"):
        con.execute(f"CREATE OR REPLACE TABLE {table} AS WITH {sql} SELECT * FROM run")
        return twins.summary(twins.evaluate(con, table))


class StoreCdc(Workload):
    """Index maintenance beside serving: build the inverted index and the
    dedup/ANN store over the base corpus, then fold one CDC batch per
    round into both and serve a topic batch and a vector batch."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        with open(self.path("shape.json")) as f:
            self.shape = json.load(f)
        self.store = os.path.join(self.work, "store")
        self.dropped = []     # per round: docnos dedup_incremental dropped

    def more(self, i):
        return i < self.shape["rounds"]

    def warm_up(self):
        """The build has warmed the JVM; every round changes the stores,
        so none is spent untimed."""

    def _snap(self, r: int) -> str:
        return os.path.join(self.work, f"index-{r}")

    def build(self, tr):
        base = self.read("corpus")
        docs = base.select("docno", "text")
        t0 = time.perf_counter()
        with tr.span("io.index.build_index") as sp:
            index.build_index(docs, self._snap(0))
        sp.add(output_mb=du_mb(self._snap(0)))
        with tr.span("dedup.build_dedup_index") as sp:
            dinc.build_dedup_index(docs, self.store,
                                   embeddings=base.select("docno", "embedding"))
            dinc.train_ann_index(self.spark, self.store, every=self.shape["every"],
                                 max_k=self.shape["clusters"])
            dinc.train_pq_index(self.spark, self.store)
        sp.add(output_mb=du_mb(self.store))
        self.out.timed("index_build", t0)

    def unit(self, tr, i):
        rd = ("cdc", f"r{i}")
        new, old = self.read(*rd, "new"), self.read(*rd, "old")
        t0 = time.perf_counter()
        with tr.span("io.index.update_index") as sp:
            index.update_index(self.spark, self._snap(i), self._snap(i + 1),
                               added_docs=new.select("docno", "text"),
                               removed_docnos=old.filter(F.col("kind") == "remove")
                               .select("docno"))
        sp.add(output_mb=du_mb(self._snap(i + 1)))
        with tr.span("dedup.dedup_incremental") as sp:
            statuses = dinc.dedup_incremental(new.select("docno", "text"), self.store,
                                              tau=DEDUP_TAU).collect()
        dropped = {r["docno"] for r in statuses if r["status"] == "dropped"}
        sp.add(batch_docs=len(statuses), dropped=len(dropped))
        self.dropped.append(dropped)
        before = du_mb(self.store)
        with tr.span("dedup.update_dedup_index") as sp:
            dinc.update_dedup_index(self.spark, self.store,
                                    new_docs=new.select("docno", "text"),
                                    removed_docs=old.select("docno", "text"),
                                    new_embeddings=new.select("docno", "embedding"))
        with open(os.path.join(self.store, "MANIFEST.json")) as f:
            snaps = len(json.load(f)["snaps"])
        sp.add(output_mb=du_mb(self.store) - before, snaps=snaps)
        self.out.timed("update", t0)
        shutil.rmtree(self._snap(i))

        t0 = time.perf_counter()
        topics = self.read(*rd, "topics").withColumn("qtf", F.lit(1))
        with tr.span("io.index.serve") as sp:
            tabs = index.load_index(self.spark, self._snap(i + 1))
            g = index.index_globals(self.spark, self._snap(i + 1))
            with tr.span("scoring.score_bm25") as sp2:
                matched = scoring.matched_terms(
                    tabs["postings"], topics, doc_len=tabs["doc_lengths"],
                    stats=tabs["term_stats"].select("term", "df"))
                scored = tr.force(
                    scoring.score_bm25(matched, g["n_docs"], g["n_tokens"] / g["n_docs"],
                                       BM25_K1, BM25_B)
                    .withColumn("score", F.round("score", 6)))
            with tr.span("rank.topk") as sp3:
                served = [tuple(r) for r in rank.topk(scored, k=SERVE_K)
                          .select("qid", "docno", "score", "rank").collect()]
        # counted after the serve span closes, so that it times the serve alone
        tr.tally(sp2, matched_rows=matched.count, scored_pairs=scored.count)
        tr.tally(sp3, kept=lambda: len(served), scored_pairs=scored.count)
        postings = os.path.join(self._snap(i + 1), "postings")
        tr.tally(sp, postings_read_mb=lambda: scanned_mb(scored, postings),
                 stored_mb=lambda: du_mb(postings))
        vq = self.read(*rd, "vq")
        with tr.span("dedup.indexed_ivfpq_topk") as sp:
            vserved = [tuple(r) for r in dinc.indexed_ivfpq_topk(
                vq, self.store, k=SERVE_K, nprobe=NPROBE, refine=REFINE).collect()]
        tr.tally(sp, candidate_frac=lambda: self._candidate_frac(vq))
        self.out.timed("serve", t0)
        self.served = (i, served, vserved)

    def _candidate_frac(self, vq) -> float:
        """Share of the (query, live vector) pairs the IVF probe admits."""
        probes = dinc.ivfpq_ranked_probes(vq, self.store).filter(F.col("_r") <= NPROBE)
        assign = dinc.load_dedup_index(self.spark, self.store)[dinc.ANN_ASSIGN]
        return probes.join(assign, "centroid_id").count() / (vq.count() * assign.count())

    def check(self, con):
        twins.view(con, "base", self.path("corpus"))
        con.execute("CREATE TABLE live AS SELECT docno, text, embedding FROM base")
        for i, dropped in enumerate(self.dropped):
            rd = self.path("cdc", f"r{i}")
            twins.view(con, "new_r", os.path.join(rd, "new"))
            twins.view(con, "old_r", os.path.join(rd, "old"))
            want = twins.dedup_dropped(con, "new_r", "live", DEDUP_TAU)
            self.out.check(want == dropped, f"dedup_incremental statuses, round {i}")
            con.execute("DELETE FROM live WHERE docno IN (SELECT docno FROM old_r)")
            con.execute("INSERT INTO live SELECT docno, text, embedding FROM new_r")
        # serving, checked after the last fold against a from-scratch scan
        last, served, vserved = self.served
        rd = self.path("cdc", f"r{last}")
        twins.view(con, "topics_r", os.path.join(rd, "topics"))
        twins.view(con, "vq_r", os.path.join(rd, "vq"))
        con.execute("CREATE VIEW documents AS SELECT docno AS doc_id, text FROM live")
        con.execute("CREATE VIEW qtopics AS "
                    "SELECT qid, term, 1.0::DOUBLE AS qweight FROM topics_r")
        self.out.check(twins.runs_agree(served, twins.run(con, twins.bm25_sql(
            BM25_K1, BM25_B, SERVE_K))), "BM25 top-k served after the last fold")
        self.out.check(twins.runs_agree(vserved, twins.cosine_topk(
            con, "live", "vq_r", SERVE_K)), "IVF-PQ top-k served after the last fold")


WORKLOADS = {"scan_run": ScanRun, "sweep_feedback": SweepFeedback,
             "store_cdc": StoreCdc}
