"""BENCHMARK.json names exactly the workloads and metrics run.py emits."""

import json
import os

from perfbench.run import end_to_end, per_layer
from perfbench.stats import Rep
from perfbench.workloads import WORKLOADS

SPEC = json.load(open(os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")))


def _units(entries):
    return {m["name"]: m["unit"] for m in entries}


def test_workloads_match():
    assert {w["name"] for w in SPEC["workloads"]} == set(WORKLOADS)


def test_end_to_end_metrics_match():
    rep = Rep(setup_s=20.0, run_s=10.0, cpu_s=30.0, urls=300, errors=6,
              round_s=[7.0, 6.0, 8.0], ok=True)
    got = end_to_end(rep, 2**30)
    assert {k: u for k, (_, u) in got.items()} == _units(SPEC["end_to_end"])
    assert got["crawl_urls_per_s"][0] == 30.0 and got["cpu_s_per_kurl"][0] == 100.0
    assert got["peak_rss_mb"][0] == 1024.0 and got["failed_frac"][0] == 0.02
    assert got["round_s_p50"][0] == 7.0 and got["setup_s"][0] == 20.0


def test_per_layer_metrics_match_and_survive_a_crash():
    got = per_layer(None, Rep(urls=300), 4, 300)  # a crawl that left no record
    assert {k: u for k, (_, u) in got.items()} == _units(SPEC["per_layer"])
    assert all(v == 0 for v, _ in got.values())
