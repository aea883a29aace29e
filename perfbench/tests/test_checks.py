"""The output checks each pass runs, and the CPU time a pass is charged."""

import subprocess
import sys
import time

import pandas as pd
import pytest

from perfbench.workloads import CheckFailed, _check_partition, check_clusters, engine_cpu_s


def test_check_partition():
    want = {"a": "x", "b": "x", "c": "y"}
    _check_partition({"a": 1, "b": 1, "c": 2}, want, "same")
    with pytest.raises(CheckFailed, match="clusters"):
        _check_partition({"a": 1, "b": 1, "c": 1}, want, "merged")
    with pytest.raises(CheckFailed, match="partition"):
        _check_partition({"a": 1, "b": 2, "c": 2}, want, "moved")
    with pytest.raises(CheckFailed, match="urls"):
        _check_partition({"a": 1, "b": 1}, want, "missing")


def _table(winners):
    return pd.DataFrame({"url": ["a", "b", "c"], "cluster_id": [1, 1, 2], "is_winner": winners})


def test_check_clusters():
    want = {"a": "x", "b": "x", "c": "y"}
    labels, recall = check_clusters(_table([True, False, True]), want, [("a", "b")], "ok")
    assert labels == {"a": 1, "b": 1, "c": 2} and recall == 1.0
    with pytest.raises(CheckFailed, match="winner"):
        check_clusters(_table([True, True, True]), want, [("a", "b")], "two winners")
    with pytest.raises(CheckFailed, match="recall"):
        # a truth pair the expected partition does not hold either
        check_clusters(_table([True, False, True]), want, [("a", "c")], "missed pair")


BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5:\n    pass\n"


def test_engine_cpu_counts_the_process_tree():
    # a stand-in for the JVM, whose child burns 0.5 s of CPU and is reaped
    code = f"import subprocess, sys\nsubprocess.run([sys.executable, '-c', {BURN!r}])\nsys.stdin.read()\n"
    parent = subprocess.Popen([sys.executable, "-c", code], stdin=subprocess.PIPE)
    try:
        deadline = time.monotonic() + 20
        while (charged := engine_cpu_s(parent.pid) - time.process_time()) < 0.5:
            assert time.monotonic() < deadline, charged
            time.sleep(0.1)
        assert charged < 1.5
    finally:
        parent.stdin.close()
        parent.wait(timeout=10)
