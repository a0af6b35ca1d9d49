"""Check the query record's plan digest against the status store's plan
graph: for each catalog query, the shuffle Exchange count the digest reads
from the final plan's text against the Exchange nodes of the plan graph
Spark keeps for the same SQL execution (built from the executed plan, so it
holds no Initial Plan; a reused exchange is one node).

Usage: python plans/pr9/digest_vs_graph.py <sf_dir> [name ...]
Prints one OK/DIFF line per query and the number of mismatches.
"""

import os
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

import query_record as Q  # noqa: E402
from hadoop_ir_spark import catalog  # noqa: E402
from hadoop_ir_spark.session import get_spark  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


def main() -> int:
    sf_dir, names = sys.argv[1], sys.argv[2:] or sorted(catalog.QUERIES)
    spark = get_spark("digest_vs_graph", cpus=4)
    spark.conf.set("spark.sql.adaptive.forceApply", "true")
    tracer = Tracer(spark.sparkContext)
    store = spark._jsparkSession.sharedState().statusStore()
    bad = 0
    for name in names:
        rec, plan = Q.record(spark, tracer, name, sf_dir)
        n = store.executionsCount()
        execs = store.executionsList(max(n - 30, 0), min(n, 30))
        eid = next(e.executionId() for e in
                   (execs.apply(i) for i in range(execs.size()))
                   if e.physicalPlanDescription() == plan)
        nodes = store.planGraph(eid).allNodes()
        graph = Counter(nodes.apply(i).name() for i in range(nodes.size()))
        ok = rec["plan"]["exch"] == graph["Exchange"]
        bad += not ok
        print("OK  " if ok else "DIFF", name, "digest", rec["plan"]["exch"],
              "graph", graph["Exchange"], flush=True)
    print("mismatches", bad)
    return 0


if __name__ == "__main__":
    sys.exit(main())
