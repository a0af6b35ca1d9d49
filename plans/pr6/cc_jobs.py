"""Spark jobs and results of each cc-label call of the dedup store.

Builds one small store: a near-duplicate chain 1-2-3-4 (adjacent docs at
Jaccard ~0.90, skip-one ~0.81, so tau 0.9 links only neighbours), an
exact triple {10, 11, 12} and 20 unrelated docs. Then runs, in order:
build_cc_labels(tau=0.9); a fold that adds an exact copy of doc 1 as
doc 0 (an alias merge), a fourth copy of the triple, an exact new-new
pair {41, 42} and one unrelated doc, and removes doc 2 (a real split);
cc_health with and without verify_splits; cc_split_report;
compact_dedup_index (full merge); then the two cc_health calls and
cc_split_report again. Each call runs in its own Spark job group; the
script records its job count, the manifest's cc block after it and its
return value (cc_split_report's rows, sorted).

Usage: python cc_jobs.py <repo> <out.json>
Run it on two checkouts and compare the JSON files.
"""
import json
import os
import sys
import tempfile

repo, out_path = sys.argv[1], sys.argv[2]
sys.path.insert(0, repo)

from hadoop_ir_spark.operators import dedup_incremental as dinc  # noqa: E402
from hadoop_ir_spark.session import get_spark  # noqa: E402

spark = get_spark("cc_jobs", cpus=2)
sc = spark.sparkContext

ws = [f"tok{i}" for i in range(70)]
CHAIN = {1 + j: " ".join(ws[3 * j:60 + 3 * j]) for j in range(4)}
TRIPLE = "completely separate content " + " ".join(
    f"x{i}" for i in range(30))
PAIR = "another duplicated body " + " ".join(f"y{i}" for i in range(30))


def other(i):
    return f"doc {i} body " + " ".join(f"t{i}w{j}" for j in range(12))


def docs(rows):
    return spark.createDataFrame(sorted(rows.items()),
                                 "docno long, text string")


old = {**CHAIN, 10: TRIPLE, 11: TRIPLE, 12: TRIPLE,
       **{i: other(i) for i in range(20, 40)}}
idx = os.path.join(tempfile.mkdtemp(prefix="cc_jobs_"), "idx")
dinc.build_dedup_index(docs(old), idx)


def split_rows():
    return sorted(tuple(r) for r in
                  dinc.cc_split_report(spark, idx).collect())


calls = [
    ("build_cc_labels", lambda: dinc.build_cc_labels(spark, idx, tau=0.9)),
    ("update_dedup_index(cc fold)", lambda: dinc.update_dedup_index(
        spark, idx, docs({0: CHAIN[1], 13: TRIPLE, 40: other(40),
                          41: PAIR, 42: PAIR}),
        removed_docs=docs({2: CHAIN[2]}))),
    ("cc_health", lambda: dinc.cc_health(spark, idx)),
    ("cc_health(verify_splits)",
     lambda: dinc.cc_health(spark, idx, verify_splits=True)),
    ("cc_split_report", split_rows),
    ("compact_dedup_index", lambda: dinc.compact_dedup_index(spark, idx)),
    ("cc_health after compact", lambda: dinc.cc_health(spark, idx)),
    ("cc_health(verify_splits) after compact",
     lambda: dinc.cc_health(spark, idx, verify_splits=True)),
    ("cc_split_report after compact", split_rows),
]
report = []
for name, call in calls:
    group = f"cc-{len(report)}"
    sc.setJobGroup(group, name)
    ret = call()
    sc.setJobGroup("", "")
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    report.append({"call": name, "jobs": jobs,
                   "cc": dinc._read_manifest(idx).get("cc"),
                   "returned": ret})
    print(f"{name}: {jobs} jobs", file=sys.stderr)

with open(out_path, "w") as f:
    json.dump(report, f, indent=1, sort_keys=True, default=str)
spark.stop()
