"""The bench's per-query record (bench.measure) and the verdict its
regression suspects carry: executor CPU read from the tracer stands
beside wall time, so contention (wall grows, executor CPU does not) is
told apart from a slowdown (both grow)."""

from __future__ import annotations

from unittest import mock

import bench


def test_classify_suspect():
    # wall grew and the executor-CPU share collapsed: the host was busy
    assert bench.classify_suspect(3.0, 1.0) == "contended"
    # executor CPU moved with wall: the code got slower
    assert bench.classify_suspect(3.0, 3.0 * 0.9) == "regression"
    # no previous share to compare with
    assert bench.classify_suspect(None, 1.0) == "regression"


def test_regression_suspects_read_the_executor_cpu_share():
    prev = {"queries": {"a": 1.0, "b": 1.0, "c": 1.0, "tiny": 0.1},
            "records": {"a": {"wall_s": 1.0, "exec_cpu_s": 3.0},
                        "b": {"wall_s": 1.0, "exec_cpu_s": 3.0}}}
    now = {"a": {"wall_s": 2.0, "exec_cpu_s": 3.0},     # same CPU, 2x wall
           "b": {"wall_s": 2.0, "exec_cpu_s": 6.0},     # CPU grew with wall
           "c": {"wall_s": 1.2, "exec_cpu_s": 1.0},     # within HIST_RATIO
           "tiny": {"wall_s": 0.5, "exec_cpu_s": 0.1}}  # below 0.2 s before
    got = bench.regression_suspects(now, prev)
    assert set(got) == {"a", "b"}
    assert got["a"]["verdict"] == "contended"
    assert (got["a"]["prev_cpu_share"], got["a"]["now_cpu_share"]) == \
        (3.0, 1.5)
    assert got["b"]["verdict"] == "regression"


def test_measure_records_jobs_cpu_and_the_store_build(spark, sf_dir):
    """Two queries that read the one ``index`` store: both records carry
    the tracer's jobs and executor CPU; only the first, whose first rep
    built the store, has a ``store`` layer."""
    from hadoop_ir_spark import catalog
    from perfbench.trace import Tracer

    tracer = Tracer(spark.sparkContext)
    with mock.patch.dict(catalog._STORES, clear=True):
        first = bench.measure(spark, tracer, "indexed_dirichlet_topk", sf_dir)
        second = bench.measure(spark, tracer, "indexed_bm25_topk", sf_dir)
    for rec in (first, second):
        assert rec["jobs"] > 0
        assert rec["exec_cpu_s"] > 0
        assert rec["wall_s"] == min(rec["reps"]) and len(rec["reps"]) == 2
        assert "self_s" not in rec
    assert first["store"]["jobs"] > 0
    assert "store" not in second
