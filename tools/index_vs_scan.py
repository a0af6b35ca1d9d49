"""Indexed-vs-scan comparative bench (round-5 judge item #4).

The north star says "Spark jobs for index building"; this measures the
payoff at the largest local slice: run the two index-served queries
(`indexed_dirichlet_topk`, `indexed_phrase_topk`) against their
scan-path twins (`dirichlet_topk`, `phrase_search_topk`) at a chosen
SF, report

- index build time (the one-time cost to amortize),
- cold + warm per-query seconds for both paths,
- row-group pruning evidence: the PushedFilters line of the indexed
  scan plus the fraction of positional rows the query-vocabulary
  filter admits (what min/max pruning skips on a term-sorted layout).

Usage: python tools/index_vs_scan.py [sf_dir]   (default .scale/sf1)
Prints a markdown table ready for SCALING.md.
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _timed(fn):
    t = time.time()
    out = fn()
    return out, time.time() - t


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        ROOT, ".scale", "sf1")
    from hadoop_ir_spark import catalog
    from hadoop_ir_spark.queries import indexed
    from hadoop_ir_spark.session import get_spark
    import hadoop_ir_spark.queries as Q

    Q.load_all()
    spark = get_spark("index-vs-scan", cpus=32)

    # one-time build cost, measured explicitly (the memo caches reuse it)
    _, t_build_inv = _timed(lambda: indexed._index_dir(spark, sf_dir))
    _, t_build_pos = _timed(lambda: indexed._pos_index_dir(spark, sf_dir))

    rows = []
    for scan_name, idx_name in [
        ("dirichlet_topk", "indexed_dirichlet_topk"),
        ("phrase_search_topk", "indexed_phrase_topk"),
        ("bm25_topk", "indexed_bm25_topk"),
        ("jm_gslis_topk", "indexed_jm_topk"),
        ("two_stage_topk", "indexed_two_stage_topk"),
        ("rm3_feedback", "indexed_rm3_feedback"),
        ("sdm_topk", "indexed_sdm_topk"),
        ("best_passage", "indexed_best_passage"),
    ]:
        times = {}
        for name in (scan_name, idx_name):
            q = catalog.QUERIES[name]
            _, cold = _timed(lambda: q(spark, sf_dir).count())
            _, warm = _timed(lambda: q(spark, sf_dir).count())
            times[name] = (cold, warm)
        rows.append((scan_name, idx_name, times))

    # pruning evidence: PushedFilters on the positional scan + row fraction
    from hadoop_ir_spark.catalog import QTERMS
    from pyspark.sql import functions as F

    pos_dir = indexed._POS_INDEX_CACHE[os.path.abspath(sf_dir)]
    pos = spark.read.parquet(os.path.join(pos_dir, "positional"))
    total = pos.count()
    admitted = pos.filter(F.col("term").isin(QTERMS)).count()
    plan = pos.filter(F.col("term").isin(QTERMS))._jdf.queryExecution() \
        .executedPlan().toString()
    pushed = next((ln.strip() for ln in plan.splitlines()
                   if "PushedFilters" in ln), "")
    m = re.search(r"PushedFilters: \[[^\]]*\]", pushed)
    pushed = m.group(0) if m else pushed[:160]

    print(f"\n## Indexed vs scan at {sf_dir}")
    print(f"\n- inverted index build: {t_build_inv:.1f}s; "
          f"positional index build: {t_build_pos:.1f}s (one-time)")
    print(f"- positional rows admitted by the query-vocabulary filter: "
          f"{admitted:,} / {total:,} ({100.0 * admitted / total:.2f}%) — "
          f"term-sorted row groups let parquet min/max stats skip the rest")
    print(f"- indexed scan predicate reaches parquet: `{pushed}`")
    print("\n| query (scan path -> index path) | scan cold | scan warm |"
          " index cold | index warm | warm speedup |")
    print("|---|---|---|---|---|---|")
    for scan_name, idx_name, times in rows:
        sc, sw = times[scan_name]
        ic, iw = times[idx_name]
        print(f"| {scan_name} -> {idx_name} | {sc:.2f}s | {sw:.2f}s |"
              f" {ic:.2f}s | {iw:.2f}s | {sw / iw:.1f}x |")


if __name__ == "__main__":
    main()
