"""Spark jobs and written rows of each trained-block lifecycle call.

Builds one small store (30 docs with 8-dim embeddings), then runs, in
order: train_ann_index, train_pq_index (plain), train_pq_index
(residual, retrain), train_sq_index, an embedding fold with a removal,
compact_dedup_index, ann_health and maintain_dedup_index. For each call
it records the Spark jobs the call ran (one job group per call), a
digest of every parquet dir the call wrote (rows sorted, so the digest
is independent of file layout), the manifest after the call and the
call's return value.

Usage: python lifecycle_jobs.py <repo> <out.json>
Run it on two checkouts and compare the JSON files.
"""
import hashlib
import json
import os
import sys
import tempfile

repo, out_path = sys.argv[1], sys.argv[2]
sys.path.insert(0, repo)

import pyarrow.parquet as pq  # noqa: E402

from hadoop_ir_spark.operators import dedup_incremental as dinc  # noqa: E402
from hadoop_ir_spark.session import get_spark  # noqa: E402


def vec(i, dim=8):
    return [float((i * 31 + d * 17) % 23 - 11) / 11.0 + 0.01 * d
            for d in range(dim)]


def snap_dirs(idx):
    out = set()
    for t in sorted(os.listdir(idx)):
        p = os.path.join(idx, t)
        if os.path.isdir(p):
            out.update((t, s) for s in os.listdir(p)
                       if s.startswith("snap=") and ".tmp-" not in s)
    return out


def digest(path):
    rows = pq.read_table(path).to_pylist()
    body = sorted(json.dumps(r, sort_keys=True) for r in rows)
    return {"rows": len(rows),
            "sha256": hashlib.sha256("\n".join(body).encode()).hexdigest()}


spark = get_spark("lifecycle_jobs", cpus=2)
sc = spark.sparkContext


def docs(ids):
    return spark.createDataFrame(
        [(i, f"doc {i} body " + " ".join(f"t{i}w{j}" for j in range(12)))
         for i in ids], "docno long, text string")


def emb(ids):
    return spark.createDataFrame([(i, vec(i)) for i in ids],
                                 "docno long, embedding array<double>")


idx = os.path.join(tempfile.mkdtemp(prefix="lifecycle_"), "idx")
old, new = list(range(30)), list(range(30, 38))
dinc.build_dedup_index(docs(old), idx, embeddings=emb(old))

calls = [
    ("train_ann_index", lambda: dinc.train_ann_index(spark, idx, every=4)),
    ("train_pq_index", lambda: dinc.train_pq_index(
        spark, idx, m=4, kk=4, train_every=3, dims=8)),
    ("train_pq_index(residual)", lambda: dinc.train_pq_index(
        spark, idx, m=4, kk=4, train_every=3, dims=8, residual=True,
        retrain=True)),
    ("train_sq_index", lambda: dinc.train_sq_index(spark, idx)),
    ("update_dedup_index(embedding fold)", lambda: dinc.update_dedup_index(
        spark, idx, docs(new), new_embeddings=emb(new),
        removed_docs=docs([5, 7]))),
    ("compact_dedup_index", lambda: dinc.compact_dedup_index(spark, idx)),
    ("ann_health", lambda: dinc.ann_health(spark, idx)),
    ("maintain_dedup_index", lambda: dinc.maintain_dedup_index(
        spark, idx, ann_health_kwargs={"fold_retrain_threshold": 0.05})),
]
report = []
for name, call in calls:
    before = snap_dirs(idx)
    group = f"lifecycle-{len(report)}"
    sc.setJobGroup(group, name)
    ret = call()
    sc.setJobGroup("", "")
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    wrote = {f"{t}/{s}": digest(os.path.join(idx, t, s))
             for t, s in sorted(snap_dirs(idx) - before)}
    report.append({"call": name, "jobs": jobs, "wrote": wrote,
                   "manifest": dinc._read_manifest(idx), "returned": ret})
    print(f"{name}: {jobs} jobs, wrote {len(wrote)} dirs", file=sys.stderr)

with open(out_path, "w") as f:
    json.dump(report, f, indent=1, sort_keys=True, default=str)
spark.stop()
