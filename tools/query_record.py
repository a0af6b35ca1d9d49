"""One record per catalog query: layer times, Spark counters and a digest
of the AQE final plan.

Each query runs once, in one session, under three spans of
``perfbench.trace.Tracer``: ``build`` (``QUERIES[name](spark, sf_dir)``,
eager jobs included), ``optimize`` (``queryExecution().optimizedPlan()``)
and ``execute`` (the plan run once through a ``noop`` write). A memoized
store the build has to make (``catalog.memo_store``) runs in a ``store``
span inside ``build``, so it is not in ``build``'s own counters; the
record has a ``store`` layer only for the query that built one. Each
layer reports the tracer's generic counters. The digest counts the operators
of the plan the noop write ran after adaptive execution: the first root SQL
execution the status store holds from the write on, its plan printed with
``isFinalPlan=true``. The counts come from the status store's plan graph of
that execution, which Spark builds from the executed plan. It holds no
Initial Plan. It holds a cached relation's plan once per scan of it, but
each exchange once, a reused one too.

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
from collections import Counter
from unittest import mock

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from hadoop_ir_spark import catalog  # noqa: E402
from hadoop_ir_spark.session import get_spark  # noqa: E402
from perfbench.trace import GENERIC, Tracer  # noqa: E402

FIELDS = tuple(GENERIC)

PYTHON = re.compile(r"Python|Pandas|InArrow")


def digest(plan: str, ops: list[str]) -> dict:
    """The digest of a final plan: ``plan`` is its text, ``ops`` the node
    names of its plan graph."""
    n = Counter(ops)
    return {
        "final": "isFinalPlan=true" in plan,
        "exch": n["Exchange"],
        "bhj": n["BroadcastHashJoin"],
        "smj": n["SortMergeJoin"],
        "bnlj": n["BroadcastNestedLoopJoin"],
        "cart": n["CartesianProduct"],
        "py": sum(bool(PYTHON.search(o)) for o in ops),
        "topk_limit": "WindowGroupLimit" in n,
    }


def newest_execution(store) -> int:
    """Id of the newest SQL execution in ``store``, -1 if it holds none."""
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1


def final_plan(store, since: int) -> tuple[str, list[str]]:
    """(plan text, plan-graph node names) of the first root SQL execution
    newer than execution ``since``: the one a write started after
    ``since`` was noted. Executions it nested (``rootExecutionId`` not its
    own id) and later ones are passed over. Ids grow by one per
    execution; the store keeps the newest ones (UI off), sorted by id."""
    k = newest_execution(store) - since
    execs = store.executionsList(max(store.executionsCount() - k, 0), k)
    for e in (execs.apply(i) for i in range(execs.size())):
        if e.executionId() > since and e.rootExecutionId() == e.executionId():
            nodes = store.planGraph(e.executionId()).allNodes()
            return e.physicalPlanDescription(), [
                nodes.apply(i).name() for i in range(nodes.size())]
    raise RuntimeError(f"no root SQL execution after execution {since}")


def traced_stores(tracer: Tracer):
    """Patch ``catalog.memo_store`` so that each store build runs in a
    ``store`` span; a store already built opens none."""
    memo_store = catalog.memo_store

    def traced(sf_dir, tag, build):
        def build_in_span(out):
            with tracer.span("store"):
                return build(out)
        return memo_store(sf_dir, tag, build_in_span)
    return mock.patch.object(catalog, "memo_store", traced)


def layer(spans) -> dict:
    """The generic counters of ``spans``, summed."""
    vals = [{"self_s": s.self_s, "driver_s": s.driver_s, **s.counts}
            for s in spans]
    return {k: round(sum(v[k] for v in vals), 3) for k in FIELDS}


def record(spark, tracer: Tracer, name: str, sf_dir: str) -> tuple[dict, str]:
    """(record, final plan text) of one catalog query. ``tracer`` must
    serve the whole session: its span groups are numbered per tracer."""
    spans = {}
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()
    try:
        with tracer.span("build") as spans["build"], traced_stores(tracer):
            df = catalog.QUERIES[name](spark, sf_dir)
        with tracer.span("optimize") as spans["optimize"]:
            df._jdf.queryExecution().optimizedPlan()
        bus.waitUntilEmpty()    # every execution of the build is stored
        since = newest_execution(store)
        with tracer.span("execute") as spans["execute"]:
            df.write.format("noop").mode("overwrite").save()
    finally:
        # the status store is fed by the listener bus: drain it so the
        # counters and the final plan are complete
        bus.waitUntilEmpty()
        tracer.finish_iteration()
    plan, ops = final_plan(store, since)
    rec = {"name": name}
    for key, s in spans.items():
        rec[key] = layer([s])
    if stores := spans["build"].children:
        rec["store"] = layer(stores)
    rec["plan"] = digest(plan, ops)
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
