"""Process-tree sums and the positive-delta CPU integration."""

import os

import pytest

from perfbench import procstat


def test_tree_cpu_sums_descendants_and_skips_excluded_subtrees():
    procs = {
        1: (0, 1.0),  # the benchmark
        2: (1, 5.0),  # JVM
        3: (2, 2.0),  # python worker under the JVM
        4: (1, 7.0),  # origin server (excluded)
        5: (4, 3.0),  # a child of the excluded process
        6: (0, 9.0),  # unrelated
    }
    assert procstat.tree_cpu(1, procs=procs) == 18.0
    assert procstat.tree_cpu(1, exclude={4}, procs=procs) == 8.0


def test_sampler_integrates_only_positive_deltas(monkeypatch):
    # a worker exiting takes its CPU out of the tree total: the reading
    # drops, and that drop must not be booked as negative work
    readings = iter([10.0, 12.0, 11.0, 15.0, 15.5])
    pss = iter([3, 7])
    monkeypatch.setattr(procstat, "tree_cpu", lambda root, exclude: next(readings))
    monkeypatch.setattr(procstat, "tree_pss", lambda root, exclude: next(pss))
    s = procstat.TreeSampler()
    for _ in range(5):
        s.sample()
    assert s.cpu_integral == pytest.approx(2.0 + 0.0 + 4.0 + 0.5)
    assert s.peak_pss == 7  # read on samples 0 and 4 only


def test_cpu_between_interpolates_the_timeline():
    s = procstat.TreeSampler()
    s.timeline = [(0.0, 0.0), (1.0, 2.0), (2.0, 2.0), (3.0, 5.0)]
    assert s.cpu_between(0.5, 2.5) == pytest.approx(1.0 + 0.0 + 1.5)
    assert s.cpu_between(-1.0, 9.0) == pytest.approx(5.0)


def test_read_procs_sees_this_process():
    procs = procstat.read_procs()
    ppid, cpu = procs[os.getpid()]
    assert ppid == os.getppid() and cpu > 0


def test_tree_pss_counts_this_process():
    with open("/proc/self/status") as f:
        rss = next(int(ln.split()[1]) * 1024 for ln in f if ln.startswith("VmRSS"))
    assert 0 < procstat.tree_pss(os.getpid()) <= 2 * rss
