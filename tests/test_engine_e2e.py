"""End-to-end crawl: the Spark engine must reproduce the golden
simulator exactly on the three invariants of SURVEY.md §3.4:

(a) final URL-seen set equality,
(b) dequeue (fetch) order equality,
(c) per-document span-sequence equality (kind, text, media_ref, order).

Both sides run the same deterministic offline web (seed=42) under the
same politeness budget — the BASELINE.json correctness gate.
"""

from __future__ import annotations

import pytest

from silkworm_spark.plans.engine import CrawlConfig, run_crawl
from silkworm_spark.plans.simulator import SimConfig, simulate
from silkworm_spark.schemas import WEB_SCHEMA
from silkworm_spark.sources.webgen import robots_df, seeds_df


def _spans_tuple(spans):
    return tuple((s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans or [])


def _run_both(spark, small_web, tmp_path, cfg_kwargs, with_robots):
    web = spark.createDataFrame(small_web["web"], WEB_SCHEMA)
    seeds = seeds_df(spark, small_web["seeds"])
    robots_rows = small_web["robots"] if with_robots else None
    robots = robots_df(spark, robots_rows) if with_robots else None

    engine = run_crawl(
        spark, web, seeds, robots, str(tmp_path / "ckpt"),
        CrawlConfig(**cfg_kwargs),
    )
    sim_fields = set(SimConfig.__dataclass_fields__)
    sim = simulate(
        small_web["web"], small_web["seeds"], robots_rows,
        SimConfig(**{k: v for k, v in cfg_kwargs.items() if k in sim_fields}),
    )
    return engine, sim


def _assert_invariants(engine, sim):
    # (b) dequeue order: (round, seq) sorted == simulator fetch order
    log = [
        (r["round"], r["seq"], r["url"])
        for r in engine.fetch_log().orderBy("round", "seq").collect()
    ]
    assert log == sim.fetch_order

    # (a) final seen set
    got_seen = {r["url"] for r in engine.seen().collect()}
    assert got_seen == sim.seen

    # (c) span-sequence equality per document (same multiset of docs)
    got_docs = sorted(
        (r["doc_id"], r["seq"], _spans_tuple([s.asDict() for s in (r["spans"] or [])]))
        for r in engine.documents().collect()
    )
    want_docs = sorted(
        (d["doc_id"], d["seq"], _spans_tuple(d["spans"])) for d in sim.documents
    )
    assert got_docs == want_docs


@pytest.mark.parametrize("force_bloom", [
    pytest.param(False, id="default"),  # small seen set: broadcast path
    # seen_broadcast_max_rows=0: every round runs the shard-local
    # BloomTable probe + delta commits + the merge-on-read part fold
    # (the 10^10 path)
    pytest.param(True, id="bloom_path"),
])
def test_e2e_no_politeness(spark, small_web, tmp_path, force_bloom):
    """Pure reference semantics: unlimited budget, no robots — engine
    order must equal reference FIFO order (concurrency=1)."""
    cfg = dict(max_rounds=30)
    if force_bloom:
        cfg["seen_broadcast_max_rows"] = 0
    engine, sim = _run_both(spark, small_web, tmp_path, cfg, with_robots=False)
    assert sim.rounds > 2 and len(sim.fetch_order) > 100
    assert engine.stats.rounds == sim.rounds
    _assert_invariants(engine, sim)


def test_e2e_with_robots_and_politeness(spark, small_web, tmp_path):
    """North-rule additions active: robots disallow + crawl_delay +
    fetch budgets + per-host caps."""
    cfg = dict(max_rounds=18, per_host_cap=20, round_seconds=1.0)
    engine, sim = _run_both(spark, small_web, tmp_path, cfg, with_robots=True)
    assert sim.robots_denied > 0 or engine.stats.robots_denied == 0
    assert engine.stats.robots_denied == sim.robots_denied
    _assert_invariants(engine, sim)


def _mixed_priorities(small_web):
    """Seeds with priorities cycling {0,1,2} — demotes the engine off
    every uniform-priority fast assumption."""
    return dict(
        small_web,
        seeds=[dict(s, priority=int(s["seq"]) % 3) for s in small_web["seeds"]],
    )


def test_e2e_mixed_priority_no_politeness(spark, small_web, tmp_path):
    """With no politeness rules every host cap is infinite, so priority
    cannot influence the batch (the global budget cut is by seq — the
    simulator's `selected.sort(seq)[:budget]`): the FIFO fast path must
    stay provably equivalent under ANY priority mix."""
    cfg = dict(max_rounds=30, round_budget=40)
    engine, sim = _run_both(
        spark, _mixed_priorities(small_web), tmp_path, cfg, with_robots=False
    )
    assert sim.rounds > 2 and len(sim.fetch_order) > 100
    _assert_invariants(engine, sim)


def test_e2e_mixed_priority_with_politeness(spark, small_web, tmp_path):
    """Mixed priorities + robots rules: finite caps make priority
    matter (a ruled host's cap prefers high-priority rows regardless of
    seq). Exercises the ruled-host-exempt seq horizon — a tight
    horizon_factor forces pruning plus the widening/audit loop — and
    must still reproduce the simulator row for row."""
    cfg = dict(max_rounds=18, round_seconds=1.0, round_budget=30,
               horizon_factor=1)
    engine, sim = _run_both(
        spark, _mixed_priorities(small_web), tmp_path, cfg, with_robots=True
    )
    assert len(sim.fetch_order) > 50
    assert engine.stats.robots_denied == sim.robots_denied
    _assert_invariants(engine, sim)


def test_e2e_slow_host_drains(spark, tmp_path):
    """crawl_delay_ms > round_seconds*1000 must NOT starve the host:
    with ceil politeness each window grants ≥1 slot once next_free <
    window_end, so the frontier drains (ADVICE r1: floor left such
    hosts permanently unfetched)."""
    from silkworm_spark.sources.webgen import build_seeds, gen_web_rows, host_name

    n_pages, n_hosts = 60, 4
    web = gen_web_rows(n_pages, n_hosts, seed=42)
    robots = [
        dict(host=host_name(k), disallow_prefixes=[],
             crawl_delay_ms=2000, fetch_budget=None)
        for k in range(n_hosts)
    ]
    tiny = dict(web=web, seeds=build_seeds(4, n_pages, n_hosts, seed=42), robots=robots)
    cfg = dict(max_rounds=60, round_seconds=1.0)
    engine, sim = _run_both(spark, tiny, tmp_path, cfg, with_robots=True)
    # every unique reachable URL is eventually fetched (nothing starves)
    assert len(sim.fetch_order) > len(tiny["seeds"])
    assert engine.stats.requests_sent == len(sim.fetch_order)
    _assert_invariants(engine, sim)


def test_e2e_round_budget(spark, tmp_path):
    """Global round budget bounds each batch (the backpressure analog
    of the reference's concurrency*10 queue bound, engine.py:52-59)."""
    from silkworm_spark.sources.webgen import build_seeds, gen_web_rows

    tiny = dict(
        n_pages=80, n_hosts=6,
        web=gen_web_rows(80, 6, seed=42),
        seeds=build_seeds(4, 80, 6, seed=42),
        robots=None,
    )
    cfg = dict(max_rounds=15, round_budget=25)
    engine, sim = _run_both(spark, tiny, tmp_path, cfg, with_robots=False)
    per_round = engine.fetch_log().groupBy("round").count().collect()
    assert all(r["count"] <= 25 for r in per_round)
    _assert_invariants(engine, sim)


def test_e2e_mixed_priority_with_global_host_cap(spark, small_web, tmp_path):
    """Mixed priorities + a global per_host_cap: the one dequeue
    combination that must fall back to the full-frontier window
    (a finite cap applies to RULE-LESS hosts, so no horizon is exact).
    Correctness still must match the simulator row for row."""
    cfg = dict(max_rounds=14, round_budget=25, per_host_cap=3)
    engine, sim = _run_both(
        spark, _mixed_priorities(small_web), tmp_path, cfg, with_robots=True
    )
    assert len(sim.fetch_order) > 40
    _assert_invariants(engine, sim)
