"""The generator: same seed, same bytes; inputs shaped as the workloads need."""

import hashlib
import os

import pyarrow.parquet as pq
import pytest

from perfbench import gen


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(gen.SHAPES))
def test_same_seed_same_bytes(tmp_path, workload):
    gen.make(workload, 7, str(tmp_path / "a"))
    gen.make(workload, 7, str(tmp_path / "b"))
    gen.make(workload, 8, str(tmp_path / "c"))
    a, b, c = (_digest(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a.keys() == c.keys()
    assert a != c


def test_corpus_is_split_for_parallel_scans(tmp_path):
    gen.make("sweep_feedback", 1, str(tmp_path))
    parts = os.listdir(tmp_path / "corpus")
    assert len(parts) == gen.PARTS >= 4
    qrels = pq.read_table(tmp_path / "qrels").to_pydict()
    assert set(qrels["rel"]) == {1, 2}
    topics = pq.read_table(tmp_path / "topics").to_pydict()
    per_topic = {}
    for q in topics["qid"]:
        per_topic[q] = per_topic.get(q, 0) + 1
    assert len(per_topic) == gen.SHAPES["sweep_feedback"].topics
    assert set(per_topic.values()) <= {2, 3, 4}


def test_cdc_batches_plant_near_duplicates(tmp_path):
    s = gen.make("store_cdc", 3, str(tmp_path))
    base = pq.read_table(tmp_path / "corpus").to_pydict()
    live = dict(zip(base["docno"], base["text"]))
    new = pq.read_table(tmp_path / "cdc" / "r0" / "new").to_pydict()
    old = pq.read_table(tmp_path / "cdc" / "r0" / "old").to_pydict()
    assert new["kind"].count("add") == s.adds
    assert new["kind"].count("replace") == old["kind"].count("replace") == s.replaces
    assert old["kind"].count("remove") == s.removes
    # retracted rows carry the text that was indexed
    assert all(live[d] == t for d, t in zip(old["docno"], old["text"]))
    prefixes = {t for t in live.values()}
    planted = [t for t in new["text"] if t.rsplit(" ", 1)[0] in prefixes]
    assert len(planted) >= s.near_dups
    # document every*c sits next to the centre of cluster c
    assert all(len(v) == gen.EMB_DIMS for v in base["embedding"][:10])
