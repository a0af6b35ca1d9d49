"""One record per catalog query: layer times, Spark counters and a digest
of the AQE final plan.

Each query runs once, in one session, under three spans of
``perfbench.trace.Tracer``: ``build`` (``QUERIES[name](spark, sf_dir)``,
eager jobs included), ``optimize`` (``queryExecution().optimizedPlan()``)
and ``execute`` (the plan run once through a ``noop`` write). Each span
reports the tracer's generic counters. The digest counts the operators
of the plan the noop write ran after adaptive execution: the newest SQL
execution in the status store, printed with ``isFinalPlan=true``.

One JSON line per query goes to stdout. Without query names the whole
catalog runs and PLAN_AUDIT.md is rewritten. ``--plans-dir DIR`` writes
each final plan to ``DIR/<name>.txt``. Cores: ``$SPARK_GRAFT_CPUS``, else
every core this process may run on. Exits 1 if a query fails, its plan
is not final or holds a CartesianProduct.

Usage: python tools/query_record.py <sf_dir> [--plans-dir DIR] [name ...]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from hadoop_ir_spark import catalog  # noqa: E402
from hadoop_ir_spark.session import get_spark  # noqa: E402
from perfbench.trace import GENERIC, Tracer  # noqa: E402

FIELDS = tuple(GENERIC)

# one operator line of a formatted plan tree: "+- * SortMergeJoin Inner (5)"
NODE = re.compile(r"^[ :+\-]*(?:\* )?([A-Z]\w*)(?: [^()]*)? \(\d+\)$")
PYTHON = re.compile(r"Python|Pandas|InArrow")


def final_operators(plan: str) -> list[str]:
    """Operator names of the plan trees in ``plan``, leaving out every
    ``== Initial Plan ==`` subtree (AQE prints it next to the final one)."""
    names, skip_from = [], None
    for line in plan.splitlines():
        col = len(line) - len(line.lstrip(" :+-"))
        if skip_from is not None and col >= skip_from and line.strip():
            continue
        skip_from = None
        if "== Initial Plan ==" in line:
            skip_from = col
            continue
        m = NODE.match(line)
        if m:
            names.append(m.group(1))
    return names


def digest(plan: str) -> dict:
    ops = final_operators(plan)
    return {
        "final": "isFinalPlan=true" in plan,
        "exch": ops.count("Exchange"),
        "bhj": ops.count("BroadcastHashJoin"),
        "smj": ops.count("SortMergeJoin"),
        "bnlj": ops.count("BroadcastNestedLoopJoin"),
        "cart": ops.count("CartesianProduct"),
        "py": sum(bool(PYTHON.search(o)) for o in ops),
        "topk_limit": "WindowGroupLimit" in ops,
    }


def final_plan(spark) -> str:
    """Plan of the newest SQL execution (the store keeps them, UI off)."""
    store = spark._jsparkSession.sharedState().statusStore()
    newest = store.executionsList(store.executionsCount() - 1, 1)
    return newest.apply(0).physicalPlanDescription()


def record(spark, tracer: Tracer, name: str, sf_dir: str) -> tuple[dict, str]:
    """(record, final plan text) of one catalog query. ``tracer`` must
    serve the whole session: its span groups are numbered per tracer."""
    spans = {}
    try:
        with tracer.span("build") as spans["build"]:
            df = catalog.QUERIES[name](spark, sf_dir)
        with tracer.span("optimize") as spans["optimize"]:
            df._jdf.queryExecution().optimizedPlan()
        with tracer.span("execute") as spans["execute"]:
            df.write.format("noop").mode("overwrite").save()
    finally:
        # the status store is fed by the listener bus: drain it so the
        # counters and the final plan are complete
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        tracer.finish_iteration()
    plan = final_plan(spark)
    rec = {"name": name}
    for layer, s in spans.items():
        vals = {"self_s": s.self_s, "driver_s": s.driver_s, **s.counts}
        rec[layer] = {k: round(vals[k], 3) for k in FIELDS}
    rec["plan"] = digest(plan)
    return rec, plan


def audit_md(sf_dir: str, recs: list[dict], problems: list[str]) -> str:
    sf = os.path.basename(os.path.normpath(sf_dir))
    out = ["# PLAN_AUDIT — AQE final plans of every catalog query",
           "",
           f"Generated by tools/query_record.py at {sf}: "
           "the plan each query ran (one noop write), as AQE left it "
           "(isFinalPlan=true). Eager jobs of the build are not in it.",
           "",
           "| query | exch | BHJ | SMJ | BNLJ | cart | py | topk-limit |",
           "|---|---|---|---|---|---|---|---|"]
    for r in (r for r in recs if "plan" in r):     # failures are flags
        d = r["plan"]
        out.append(f"| {r['name']} | {d['exch']} | {d['bhj']} | {d['smj']} "
                   f"| {d['bnlj']} | {d['cart']} | {d['py']} "
                   f"| {'y' if d['topk_limit'] else ''} |")
    out += ["", "## Flags", ""] + ([f"- {p}" for p in problems] or ["- none"])
    return "\n".join(out) + "\n"


def main() -> int:
    ap = argparse.ArgumentParser(usage=__doc__.rsplit("Usage: ", 1)[1])
    ap.add_argument("sf_dir")
    ap.add_argument("names", nargs="*")
    ap.add_argument("--plans-dir")
    args = ap.parse_intermixed_args()
    if unknown := [n for n in args.names if n not in catalog.QUERIES]:
        raise SystemExit(f"unknown queries: {unknown}")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))
    spark = get_spark("query_record", cpus=cpus)
    # else AQE skips plans with no exchange or subquery: none would be final
    spark.conf.set("spark.sql.adaptive.forceApply", "true")
    tracer = Tracer(spark.sparkContext)
    recs, problems = [], []
    for name in args.names or sorted(catalog.QUERIES):
        try:
            rec, plan = record(spark, tracer, name, args.sf_dir)
            d = rec["plan"]
            problems += [f"{name}: plan not final"] * (not d["final"])
            problems += [f"{name}: CartesianProduct in plan"] * bool(d["cart"])
        except Exception as e:  # noqa: BLE001 — record it, keep going
            err = " ".join(f"{type(e).__name__}: {e}".split())[:300]
            rec, plan = {"name": name, "error": err}, None
            problems.append(f"{name}: {err}")
        recs.append(rec)
        print(json.dumps(rec), flush=True)
        if args.plans_dir and plan is not None:
            os.makedirs(args.plans_dir, exist_ok=True)
            with open(os.path.join(args.plans_dir, f"{name}.txt"), "w") as f:
                f.write(plan)
    if not args.names:
        with open(os.path.join(ROOT, "PLAN_AUDIT.md"), "w") as f:
            f.write(audit_md(args.sf_dir, recs, problems))
    print(f"{len(recs)} queries, {len(problems)} flags", file=sys.stderr)
    for p in problems:
        print("FLAG:", p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
