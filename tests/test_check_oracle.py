"""tools/check_oracle.py stops when the JVM behind its Spark gateway
exits, instead of hanging on the dead gateway."""

from __future__ import annotations

import os
import queue
import subprocess
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))

import check_oracle  # noqa: E402


def _child(code: int, after_s: float) -> subprocess.Popen:
    """A process standing in for the JVM: exits with ``code``."""
    return subprocess.Popen([sys.executable, "-c",
                             f"import time; time.sleep({after_s}); "
                             f"raise SystemExit({code})"])


def test_watch_jvm_fails_the_run_when_the_jvm_exits(capsys):
    proc = _child(3, 0.2)
    exits = queue.Queue()
    t0 = time.time()
    check_oracle.watch_jvm(proc, lambda: "tpch_q5", interval_s=0.05,
                           exit=exits.put)
    assert exits.get(timeout=10) == 1
    assert time.time() - t0 < 10
    assert "FAIL tpch_q5: JVM exited (3)" in capsys.readouterr().out


def test_watch_jvm_is_quiet_after_a_normal_finish(capsys):
    proc = _child(0, 0.3)
    exits = queue.Queue()
    finished = check_oracle.watch_jvm(proc, lambda: "tpch_q5",
                                      interval_s=0.05, exit=exits.put)
    finished.set()          # the run ended; its shutdown stops the JVM
    proc.wait(timeout=10)
    time.sleep(0.3)
    assert exits.empty()
    assert "FAIL" not in capsys.readouterr().out
