"""Count the corpus tokenize work each catalog query runs.

Usage: python tokenize_passes.py <repo_dir> <sf_dir> <out.json> [name ...]

Every job-running call a query makes while it builds (collect, count,
toPandas, localCheckpoint, checkpoint, writes) and one collect of the
final frame are recorded. For each, the physical plan after execution
(the AQE final plan) is walked and the tokenizer ``split(lower(`` is
counted two ways:

- ``passes``: corpus reads whose pipeline tokenizes — tokenizing
  operators grouped by the leaf their unary chain sits on, so a Filter
  and a Project over the same scan are one pass;
- ``evals``: tokenizer expressions evaluated per row, summed over those
  operators (a Filter and a Project that each split the text count 2).

A cached frame counts once, at the first plan that reads it; every later
read counts 0, as does a reused exchange or a checkpoint read. The cache
is cleared before each query so no query inherits another's scan.
"""

from __future__ import annotations

import json
import os
import sys
import threading

TOKEN = "split(lower("
_UNARY_SKIP = ("Exchange", "QueryStage")


def main() -> None:
    repo, sf_dir, out_path, *names = sys.argv[1:]
    sys.path.insert(0, os.path.abspath(repo))
    from pyspark.sql import DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame

    from hadoop_ir_spark import catalog
    from hadoop_ir_spark.session import get_spark

    spark = get_spark("tokenize_passes", cpus=2)
    jvm = spark._jvm
    lock = threading.Lock()
    state = {"log": None, "seen": set()}

    def ident(obj):
        return jvm.System.identityHashCode(obj)

    def kids(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return [node.executedPlan()]
        if name.endswith("QueryStageExec") and not name.startswith("Reused"):
            return [node.plan()]
        if name == "InMemoryTableScanExec":
            key = ident(node.relation().cacheBuilder())
            if key in state["seen"]:
                return []
            state["seen"].add(key)
            return [node.relation().cachedPlan()]
        ch = node.children()
        return [ch.apply(i) for i in range(ch.size())]

    def leaf_of(node):
        # descend the unary chain below a tokenizing operator
        while True:
            name = node.getClass().getSimpleName()
            ch = node.children()
            if ch.size() != 1 or any(s in name for s in _UNARY_SKIP):
                return ident(node)
            node = ch.apply(0)

    def count(plan):
        passes, evals, stack = set(), 0, [plan]
        while stack:
            node = stack.pop()
            name = node.getClass().getSimpleName()
            if not name.startswith(("FileSourceScan", "BatchScan")):
                n = node.expressions().toString().count(TOKEN)
                if n:
                    evals += n
                    passes.add(leaf_of(node))
            stack.extend(kids(node))
        return len(passes), evals

    def record(kind, df):
        with lock:
            if state["log"] is None:
                return
            p, e = count(df._jdf.queryExecution().executedPlan())
            state["log"].append({"call": kind, "passes": p, "evals": e})

    def hook(cls, meth, getdf=lambda self: self):
        orig = getattr(cls, meth)

        def wrapped(self, *a, **kw):
            out = orig(self, *a, **kw)
            record(meth, getdf(self))
            return out
        setattr(cls, meth, wrapped)

    for m in ("collect", "_collect_as_arrow", "localCheckpoint", "checkpoint"):
        hook(DataFrame, m)
    for m in ("save", "parquet", "saveAsTable", "insertInto"):
        hook(DataFrameWriter, m, lambda self: self._df)
    DataFrame.count = lambda self: int(self.groupBy().count().collect()[0][0])

    names = names or sorted(catalog.QUERIES)
    result = {}
    for name in names:
        spark.catalog.clearCache()
        state["log"], state["seen"] = [], set()
        df = catalog.QUERIES[name](spark, sf_dir)
        df.collect()
        log, state["log"] = state["log"], None
        log[-1]["call"] = "final"
        result[name] = {
            "passes": sum(r["passes"] for r in log),
            "evals": sum(r["evals"] for r in log),
            "calls": log,
        }
        print(name, result[name]["passes"], result[name]["evals"], flush=True)
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)


if __name__ == "__main__":
    main()
