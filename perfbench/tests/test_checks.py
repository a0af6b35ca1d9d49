"""Failure counting and the tolerant comparison of ranked outputs."""

from perfbench import twins
from perfbench.workloads import Outcome, du_mb


def test_fail_frac_counts_every_mismatch():
    out = Outcome()
    for ok in (True, True, False, True, False):
        out.check(ok, "x")
    assert (out.attempted, out.failed) == (5, 2)
    assert out.failed / out.attempted == 0.4
    assert len(out.notes) == 2


def test_same_ranking_allows_only_ties_at_the_cutoff():
    want = [(10, 3.0), (11, 2.0), (12, 1.0)]
    assert twins.same_ranking(list(want), want)
    # a rounding difference within tolerance
    assert twins.same_ranking([(10, 3.0), (11, 2.0000004), (12, 1.0)], want)
    # a different document tied with the last one may take its place
    assert twins.same_ranking([(10, 3.0), (11, 2.0), (13, 1.0)], want)
    # but not one that scores differently, nor a reordering of distinct scores
    assert not twins.same_ranking([(10, 3.0), (11, 2.0), (13, 0.5)], want)
    assert not twins.same_ranking([(11, 3.0), (10, 2.0), (12, 1.0)], want)
    assert not twins.same_ranking(want[:2], want)


def test_runs_and_evaluations_compare_per_query():
    want = [("q1", 1, 0.5, 1), ("q1", 2, 0.4, 2), ("q2", 3, 0.9, 1)]
    assert twins.runs_agree(list(reversed(want)), want)
    assert not twins.runs_agree(want[:2], want)
    ev = {"q1": (0.5, 0.1, 0.05), "q2": (None, 0.0, 0.0)}
    assert twins.evals_agree(dict(ev), ev)
    assert not twins.evals_agree({"q1": (0.5, 0.1, 0.05), "q2": (0.0, 0.0, 0.0)}, ev)


def test_stored_bytes_leave_out_hidden_checksums(tmp_path):
    (tmp_path / "part-0.parquet").write_bytes(b"x" * 3000)
    (tmp_path / ".part-0.parquet.crc").write_bytes(b"x" * 40)
    (tmp_path / "_SUCCESS").write_bytes(b"")
    assert du_mb(str(tmp_path)) == 3000 / 1e6
