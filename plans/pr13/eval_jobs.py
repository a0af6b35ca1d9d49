"""Spark jobs per evaluation call on checkpointed inputs.

Builds the Dirichlet flagship run and the qrels of a catalog SF,
localCheckpoints both, then calls each evaluation operator twice with an
empty cache manager and prints its jobs, wall time and whether the call
left a cache entry behind.

Usage: python plans/pr13/eval_jobs.py <repo> <sf_dir>
"""
import sys
import time

repo, sf = sys.argv[1], sys.argv[2]
sys.path.insert(0, repo)

from hadoop_ir_spark import catalog  # noqa: E402
from hadoop_ir_spark.operators import evaluate  # noqa: E402
from hadoop_ir_spark.session import get_spark  # noqa: E402

spark = get_spark("eval-jobs", cpus=4)
sc = spark.sparkContext
bus = sc._jsc.sc().listenerBus()
cm = spark._jsparkSession.sharedState().cacheManager()
run = catalog.dirichlet_topk(spark, sf).localCheckpoint()
qrels = catalog.qrels_df(spark, sf).localCheckpoint()
CALLS = [
    ("evaluate_run", lambda: evaluate.evaluate_run(run, qrels)),
    ("f1_utility", lambda: evaluate.f1_utility(run, qrels)),
    ("precision_recall", lambda: evaluate.precision_recall(run, qrels)),
    ("average_precision", lambda: evaluate.average_precision(run, qrels)),
    ("precision_at_k", lambda: evaluate.precision_at_k(run, qrels, 10)),
    ("utility", lambda: evaluate.utility(run, qrels)),
    ("ndcg", lambda: evaluate.ndcg(run, qrels)),
]
for rep in range(2):
    for name, call in CALLS:
        spark.catalog.clearCache()
        group = f"eval-jobs-{rep}-{name}"
        sc.setJobGroup(group, name)
        t = time.time()
        call().collect()
        dt = time.time() - t
        sc.setLocalProperty("spark.jobGroup.id", None)
        bus.waitUntilEmpty()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        print(f"{rep} {name}: jobs={jobs} wall={dt:.2f}s "
              f"cache_left={not cm.isEmpty()}", flush=True)
