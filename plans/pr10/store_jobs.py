"""Spark jobs, manifest reads and results of the store's build and load.

Builds one small store (30 docs with 8-dim embeddings), trains all three
vector blocks, builds cc labels and folds a batch that adds, embeds and
removes docs. Recorded calls, in order: the build; load_dedup_index of
the full store; load_dedup_index of the pre-fold view (``snaps=``); a
second build into the same directory over fewer docs with embeddings;
a third one there without embeddings; load_dedup_index after each. For
each call it records the Spark jobs the call ran (one job group per
call), how often it read the manifest, a digest of every parquet dir it
wrote, the manifest after it and, for a load, a digest of every table it
returned (rows sorted, collected outside the call's job group).

Usage: python store_jobs.py <repo> <out.json>
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


def rows_digest(rows):
    body = sorted(json.dumps(r, sort_keys=True, default=str) for r in rows)
    return {"rows": len(rows),
            "sha256": hashlib.sha256("\n".join(body).encode()).hexdigest()}


spark = get_spark("store_jobs", cpus=2)
sc = spark.sparkContext


def docs(ids):
    # docs 0 and 1 share a text, so the cc block has a component
    return spark.createDataFrame(
        [(i, "doc body " + " ".join(f"t{max(i, 1)}w{j}" for j in range(12)))
         for i in ids], "docno long, text string")


def emb(ids):
    return spark.createDataFrame([(i, vec(i)) for i in ids],
                                 "docno long, embedding array<double>")


idx = os.path.join(tempfile.mkdtemp(prefix="store_jobs_"), "idx")
old, new = list(range(30)), list(range(30, 38))
reads = []
_read = dinc._read_manifest
dinc._read_manifest = lambda d: reads.append(d) or _read(d)


def setup():
    dinc.train_ann_index(spark, idx, every=4)
    dinc.train_pq_index(spark, idx, m=4, kk=4, train_every=3, dims=8)
    dinc.train_sq_index(spark, idx)
    dinc.build_cc_labels(spark, idx)
    pre[:] = _read(idx)["snaps"]
    dinc.update_dedup_index(spark, idx, docs(new), new_embeddings=emb(new),
                            removed_docs=docs([5, 7]))


pre = []
calls = [
    ("build_dedup_index", lambda: dinc.build_dedup_index(
        docs(old), idx, embeddings=emb(old))),
    (None, setup),
    ("load_dedup_index", lambda: dinc.load_dedup_index(spark, idx)),
    ("load_dedup_index(pre-fold snaps)",
     lambda: dinc.load_dedup_index(spark, idx, snaps=pre)),
    ("build_dedup_index(existing store)", lambda: dinc.build_dedup_index(
        docs(old[:20]), idx, embeddings=emb(old[:20]))),
    ("load_dedup_index(rebuilt)", lambda: dinc.load_dedup_index(spark, idx)),
    ("build_dedup_index(existing store, no embeddings)",
     lambda: dinc.build_dedup_index(docs(old[:10]), idx)),
    ("load_dedup_index(rebuilt, no embeddings)",
     lambda: dinc.load_dedup_index(spark, idx)),
]
report = []
for name, call in calls:
    if name is None:
        call()
        continue
    before = snap_dirs(idx) if os.path.isdir(idx) else set()
    group = f"store-{len(report)}"
    reads.clear()
    sc.setJobGroup(group, name)
    ret = call()
    sc.setJobGroup("", "")
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    n_reads = len(reads)
    wrote = {f"{t}/{s}": rows_digest(
        pq.read_table(os.path.join(idx, t, s)).to_pylist())
        for t, s in sorted(snap_dirs(idx) - before)}
    if isinstance(ret, dict):
        ret = {t: rows_digest([r.asDict() for r in df.collect()])
               for t, df in ret.items()}
    report.append({"call": name, "jobs": jobs, "manifest_reads": n_reads,
                   "wrote": wrote, "manifest": _read(idx), "returned": ret})
    print(f"{name}: {jobs} jobs, {n_reads} manifest reads, wrote "
          f"{len(wrote)} dirs", file=sys.stderr)

with open(out_path, "w") as f:
    json.dump(report, f, indent=1, sort_keys=True, default=str)
spark.stop()
