"""Benchmark harness: runs every catalog query at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test data) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "exec_cpu_s": ..., "sf": ...}.

Each query runs twice. A rep times exactly
``QUERIES[name](spark, sf_dir).count()`` (a count-style action: no
driver-side collect of payload rows) inside one ``perfbench.trace.Tracer``
span. After the rep, outside the timer, the listener bus is drained and the
tracer reads the jobs the rep ran and their executor CPU from Spark's status
store, as ``tools/query_record.py`` does. The reported number is the min of
the two reps. A memoized store build (``catalog.memo_store``) runs in a
``store`` span of its own.

BENCH_FULL.json holds, per query under "records": the kept wall time
(``wall_s``), both reps, the row count, the tracer's counters of the kept
rep (jobs, tasks, driver_s, exec_run_s, exec_cpu_s, shuffle_write_mb,
spill_mb) and, for the query whose rep built a store, a ``store`` layer.

A query whose kept time exceeds HIST_RATIO x the previous record's (same SF)
is listed in "regression_suspects" with its executor-CPU share
(exec_cpu_s / wall) then and now. The verdict is "contended" when the share
fell below CPU_SHARE_FRAC x the previous one: wall grew and executor CPU did
not, so the host was busy. Otherwise it is "regression": executor CPU grew
with wall, so the code got slower.

The harness that runs the bench keeps only the last 2000 characters of
stdout, so the printed line stays under LINE_BUDGET characters: its
"queries" are a stable subset (:func:`printed_subset`) and BENCH_FULL.json
has the rest.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from hadoop_ir_spark import catalog  # noqa: E402
from hadoop_ir_spark.session import get_spark  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from tools.query_record import layer, traced_stores  # noqa: E402

HEADLINE = [
    "dirichlet_topk",       # flagship scan-and-score retrieval
    "bm25_topk",
    "dirichlet_mu_sweep",   # J3 param grid
    "mirex_baselines",      # 4 models, one scan
    "indexed_dirichlet_topk",
    "term_stats",
    "wordcount",
    "collection_globals",
    "query_term_stats",
    "eval_map_pk",          # run + qrels + metrics end-to-end
    "emim",                 # co-occurrence self-join
    "rm3_feedback",         # feedback chain on top of the flagship run
    "dedup_minhash_lsh",    # shingle -> minhash -> LSH -> verify
    "simhash_near_dups",
    "ann_cosine_topk",      # brute-force vector search
    "ann_ivf_topk",         # approximate vector search
    "langid",
    "quality_scores",
    "doc_fingerprints",
    "event_window_counts",
    "kba_filter_grid",
    "curation_pipeline",    # quality -> dedup -> sample, end-to-end
    "sketch_distinct_hll",
    "approx_quantiles",
    # round-2 additions
    "tpch_q5",              # fact-fact shuffle joins + broadcast dims
    "line_dedup_docs",
    "pq_ann_topk",          # product-quantization ADC scan
    "cms_term_counts",
    "jdbc_spam_lookup",     # embedded-Derby JDBC source e2e
    # round-3 additions
    "media_wav_real",       # real RIFF decode via mapInPandas
    "media_bmp_real",
    "event_asof_click",     # as-of join (union-tag plan)
    "event_sessions",
    # round-6 additions
    "indexed_bm25_topk",    # index-served scoring family
]

CPU_SHARE_FRAC = 0.55   # a share below this fraction of the previous
                        # record's means the query got fewer cores
HIST_RATIO = 1.5        # kept time growth that makes a suspect
LINE_BUDGET = 1700      # characters of the printed line


def measure(spark, tracer: Tracer, name: str, sf_dir: str) -> dict:
    """The record of one catalog query: min-of-2 wall time of
    ``QUERIES[name](spark, sf_dir).count()``, the tracer's counters of that
    rep and, if a rep built a memoized store, its ``store`` layer."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    runs = []
    for _ in range(2):
        with tracer.span("rep") as span, traced_stores(tracer):
            t0 = time.time()
            rows = catalog.QUERIES[name](spark, sf_dir).count()
            wall = time.time() - t0
        bus.waitUntilEmpty()        # the status store is complete
        tracer.finish_iteration()
        runs.append((wall, span))
    wall, kept = min(runs, key=lambda r: r[0])
    rec = {"wall_s": round(wall, 3), "reps": [round(w, 3) for w, _ in runs],
           "rows": rows}
    # the rep's self time is its wall time, already in wall_s
    rec.update((k, v) for k, v in layer([kept]).items() if k != "self_s")
    if stores := [c for _, s in runs for c in s.children]:
        rec["store"] = layer(stores)
    return rec


def cpu_share(rec: dict) -> float:
    """Executor CPU seconds per wall second of a query record."""
    return round(rec["exec_cpu_s"] / max(rec["wall_s"], 1e-9), 2)


def classify_suspect(prev_ratio: float | None, now_ratio: float,
                     frac: float = CPU_SHARE_FRAC) -> str:
    """History verdict for a regression suspect: wall grew — did the
    core share collapse with it (contention) or did cpu grow too (a
    real slowdown)?"""
    if prev_ratio and prev_ratio > 0 and now_ratio < frac * prev_ratio:
        return "contended"
    return "regression"


def regression_suspects(records: dict[str, dict], prev_full: dict) -> dict:
    """Queries whose kept time grew past HIST_RATIO x the previous
    record ``prev_full`` (a BENCH_FULL.json at the same SF), with both
    executor-CPU shares and the verdict."""
    prev = prev_full.get("queries", {})
    prev_recs = prev_full.get("records", {})
    out = {}
    for n, r in records.items():
        if prev.get(n, 0) > 0.2 and r["wall_s"] / prev[n] > HIST_RATIO:
            was = cpu_share(prev_recs[n]) if n in prev_recs else None
            now = cpu_share(r)
            out[n] = {"prev": prev[n], "now": r["wall_s"],
                      "prev_cpu_share": was, "now_cpu_share": now,
                      "verdict": classify_suspect(was, now)}
    return out


def printed_subset(timings: dict[str, float], prev_printed: list[str],
                   char_budget: int = 1700) -> list[str]:
    """The STABLE printed-line query subset (VERDICT r12 #3): previous
    record's printed names first (in their recorded order), then the
    remaining queries by current time desc — additions only — trimmed
    from the END until a compact {name: sec} dict fits the budget. A
    query can only leave the printed set when the budget forces it,
    never because it got faster."""
    base = [n for n in prev_printed if n in timings]
    extras = sorted((n for n in timings if n not in set(base)),
                    key=timings.get, reverse=True)
    kept = base + extras
    while kept and len(json.dumps({k: timings[k] for k in kept},
                                  separators=(",", ":"))) > char_budget:
        kept.pop()
    return kept


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf = float(sf) if sf.replace(".", "").isdigit() else sf
    spark = get_spark("bench", cpus=cpus)

    names = [n for n in HEADLINE if n in catalog.QUERIES]
    names += [n for n in catalog.QUERIES if n not in names]

    # warm the JVM (codegen, shuffle, window, broadcast paths) with the
    # flagship at the smallest SF so per-query times measure the query,
    # not first-use JIT compilation
    spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).count()
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        catalog.QUERIES["dirichlet_topk"](spark, warm_dir).count()

    try:
        with open(os.path.join(HERE, "BENCH_FULL.json")) as f:
            prev_full = json.load(f)
    except (OSError, ValueError):
        prev_full = {}

    tracer = Tracer(spark.sparkContext)
    records = {}
    for name in names:
        r = records[name] = measure(spark, tracer, name, sf_dir)
        print(f"# {name}: {r['wall_s']}s (reps {r['reps']}, {r['jobs']} "
              f"jobs, exec cpu {r['exec_cpu_s']}s, {r['rows']} rows)",
              file=sys.stderr)

    timings = {n: r["wall_s"] for n, r in records.items()}
    suspects = regression_suspects(
        records, prev_full if prev_full.get("sf") == sf else {})
    full = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf,
        "exec_cpu_s": round(sum(r["exec_cpu_s"] for r in records.values()),
                            3),
        "queries": timings,
        "records": records,
        "regression_suspects": suspects,
    }
    out = {k: full[k] for k in ("metric", "value", "unit", "sf",
                                "exec_cpu_s")}
    out.update(n_queries=len(timings), n_regression_suspects=len(suspects),
               full_detail="BENCH_FULL.json")
    # records are compared by their printed "queries": print the previous
    # record's set, plus whatever else fits
    kept = printed_subset(timings, prev_full.get("printed_set") or [],
                          char_budget=10 ** 9)    # order only; trim below
    while True:
        out["queries"] = {k: timings[k] for k in kept}
        out["n_elided"] = len(timings) - len(kept)
        if not kept or len(json.dumps(out, separators=(",", ":"))) \
                <= LINE_BUDGET:
            break
        kept.pop()
    full["printed_set"] = kept
    with open(os.path.join(HERE, "BENCH_FULL.json"), "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
