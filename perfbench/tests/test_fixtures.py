"""The reference digest: order independence, mismatch detection, and
the seed-stable URL counts the workloads are sized for."""

import pytest

from perfbench.fixtures import digest_outputs, make_inputs, mismatches, simulate_digest
from perfbench.workloads import N_ERROR_SEEDS, WORKLOADS, Workload

DOC = {"doc_id": "http://h1.example.com/p/1", "seq": 3, "spans": [
    {"kind": "text", "text": "a b", "media_ref": None, "offset": 0},
    {"kind": "link", "text": "x", "media_ref": "http://h2.example.com/p/9", "offset": 1},
]}
DOC2 = {"doc_id": "http://h2.example.com/p/9", "seq": 7, "spans": []}


def test_digest_ignores_row_order():
    a = digest_outputs([(1, 0, "u0"), (1, 1, "u1")], ["u1", "u0"], [DOC, DOC2])
    b = digest_outputs([(1, 1, "u1"), (1, 0, "u0")], ["u0", "u1"], [DOC2, DOC])
    assert a == b and not mismatches(a, b)
    assert a["links_out"] == 1 and a["n_docs"] == 2


def test_digest_sees_span_order_and_content():
    base = digest_outputs([], [], [DOC])
    swapped = dict(DOC, spans=list(reversed(DOC["spans"])))
    edited = dict(DOC, spans=[dict(DOC["spans"][0], text="a c"), DOC["spans"][1]])
    assert mismatches(digest_outputs([], [], [swapped]), base) == ["docs"]
    assert mismatches(digest_outputs([], [], [edited]), base) == ["docs"]
    assert mismatches(digest_outputs([(2, 0, "u")], ["u"], [DOC]), base) == ["fetch", "seen"]


def test_simulator_digest_is_a_function_of_the_seed():
    w = Workload(name="tiny", why="", n_pages=300, min_spans=3, span_spread=6,
                 n_seeds=20, robots=True, live=False,
                 crawl=dict(max_rounds=3, round_budget=30))
    one = simulate_digest(w, *make_inputs(w, 5))
    assert one == simulate_digest(w, *make_inputs(w, 5))
    assert one["fetch"] != simulate_digest(w, *make_inputs(w, 6))["fetch"]
    assert one["errors"] == N_ERROR_SEEDS  # the loop and dead-link seeds


@pytest.mark.parametrize("name", sorted(WORKLOADS))
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_workload_rounds_fill_their_budget(name, seed):
    """Every round is budget-bound and the erroring seeds are fixed, so
    URLs per crawl and engine errors among them do not depend on the
    seed."""
    w = WORKLOADS[name]
    rows, seeds, robots = make_inputs(w, seed)
    d = simulate_digest(w, rows, seeds, robots)
    assert d["rounds"] == w.crawl["max_rounds"]
    assert d["n_fetch"] == w.crawl["max_rounds"] * w.crawl["round_budget"]
    assert d["errors"] == N_ERROR_SEEDS


def test_live_fixture_has_no_retryable_redirect_targets():
    rows, _, _ = make_inputs(WORKLOADS["live_proxy"], 3)
    targets = {r["redirect_to"] for r in rows if r["redirect_to"]}
    assert not [r for r in rows if r["url"] in targets and r["attempts_until_ok"]]
