"""catalog.memo_store (one memoized store per (sf_dir, tag)) and the
error path of catalog.parallel_frames."""

from __future__ import annotations

import os
import time
from unittest import mock

import pytest

from hadoop_ir_spark import catalog


def test_memo_store_builds_once_per_sf_dir_and_tag(tmp_path):
    built = []

    def build(out):
        built.append(out)
        return {"dir": out}

    sf, other = str(tmp_path / "sf"), str(tmp_path / "other")
    with mock.patch.dict(catalog._STORES, clear=True):
        first = catalog.memo_store(sf, "index", build)
        again = catalog.memo_store(sf + "/", "index", build)   # same abspath
        tagged = catalog.memo_store(sf, "posindex", build)
        elsewhere = catalog.memo_store(other, "index", build)
        assert catalog.memo_store(sf, "posindex", build) is tagged
    assert again is first                 # the returned value is memoized
    assert first == {"dir": built[0]}
    assert len(built) == 3                # one build per (sf_dir, tag)
    assert len(set(built)) == 3           # each key has its own directory
    assert tagged["dir"] != first["dir"] != elsewhere["dir"]
    assert len({os.path.dirname(p) for p in built}) == 1   # one temp root


def test_parallel_frames_cancels_siblings_when_one_raises(spark):
    sc = spark.sparkContext
    group = "test-parallel-frames-cancel"

    def slow():
        return (sc.parallelize([0], 1)
                .map(lambda x: __import__("time").sleep(60) or x).collect())

    def boom():
        deadline = time.time() + 30     # raise once the sibling's job runs
        while (not sc.statusTracker().getActiveJobsIds()
               and time.time() < deadline):
            time.sleep(0.1)
        raise ValueError("boom")

    sc.setJobGroup(group, "parallel_frames cancel")
    try:
        t0 = time.time()
        with pytest.raises(ValueError, match="boom"):
            catalog.parallel_frames(boom, slow)
        elapsed = time.time() - t0
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert elapsed < 30
    assert [j.status for j in jobs] == ["FAILED"]    # cancelled, not run out
    assert not sc.getJobTags()                       # the call's tag is gone
