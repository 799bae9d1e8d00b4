"""The CPU meter behind the end-to-end metrics: it counts a busy child,
and leaves out an excluded one."""

from __future__ import annotations

import os
import subprocess
import sys
import time

from perfbench import host

BUSY = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


def _busy_child(seconds: float) -> subprocess.Popen:
    return subprocess.Popen([sys.executable, "-c", BUSY.format(s=seconds)])


def test_counts_live_and_reaped_children():
    before = host.tree_cpu_s(os.getpid())
    child = _busy_child(0.6)
    time.sleep(0.3)
    # Still running: counted through the live child.
    assert host.tree_cpu_s(os.getpid()) - before > 0.1
    child.wait()
    # Reaped: its time moved into this process's children totals.
    assert host.tree_cpu_s(os.getpid()) - before >= 0.5


def test_excluded_subtree_is_left_out():
    child = _busy_child(0.6)
    try:
        before = host.tree_cpu_s(os.getpid(), exclude=(child.pid,))
        time.sleep(0.5)
        assert host.tree_cpu_s(os.getpid(), exclude=(child.pid,)) - before < 0.2
    finally:
        child.wait()
