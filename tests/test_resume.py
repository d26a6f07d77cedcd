"""Exact-resume contract (north rule): a crawl interrupted after K
rounds and resumed from its checkpoint produces byte-identical state
to an uninterrupted crawl — fetch order, seen set, documents, and the
delta-compacted frontier all line up."""

from __future__ import annotations

from silkworm_spark.plans.engine import CrawlConfig, CrawlEngine, run_crawl
from silkworm_spark.schemas import WEB_SCHEMA
from silkworm_spark.sources.webgen import robots_df, seeds_df


def _state(engine):
    order = [(r["round"], r["seq"], r["url"]) for r in engine.fetch_log().orderBy("round", "seq").collect()]
    seen = sorted(r["url"] for r in engine.seen().collect())
    docs = sorted((r["doc_id"], r["seq"]) for r in engine.documents().collect())
    frontier = sorted(r["seq"] for r in engine.ckpt.read_frontier().collect())
    return order, seen, docs, frontier


def test_resume_matches_uninterrupted(spark, small_web, tmp_path):
    web = spark.createDataFrame(small_web["web"], WEB_SCHEMA)
    seeds = seeds_df(spark, small_web["seeds"])
    robots = robots_df(spark, small_web["robots"])
    cfg = dict(round_budget=40)

    full = run_crawl(spark, web, seeds, robots, str(tmp_path / "full"),
                     CrawlConfig(max_rounds=8, **cfg))

    partial = run_crawl(spark, web, seeds, robots, str(tmp_path / "part"),
                        CrawlConfig(max_rounds=3, **cfg))
    assert partial.stats.rounds == 3
    resumed = CrawlEngine(spark, str(tmp_path / "part"),
                          CrawlConfig(max_rounds=8, **cfg), web=web)
    resumed.run()

    assert _state(resumed) == _state(full)


def test_resume_with_parse_spill_pointer(spark, small_web, tmp_path):
    """The documents table is committed as a POINTER into each round's
    partitioned parse output — resume, replay, and the documents/seen/
    frontier state must all be identical to an uninterrupted run."""
    web = spark.createDataFrame(small_web["web"], WEB_SCHEMA)
    seeds = seeds_df(spark, small_web["seeds"])
    robots = robots_df(spark, small_web["robots"])

    golden = run_crawl(spark, web, seeds, robots, str(tmp_path / "gold"),
                       CrawlConfig(max_rounds=6, round_budget=40))

    cfg = dict(round_budget=40)
    partial = run_crawl(spark, web, seeds, robots, str(tmp_path / "sp"),
                        CrawlConfig(max_rounds=3, **cfg))
    assert partial.stats.rounds == 3
    docs_paths = partial.ckpt.manifest["tables"]["documents"]
    assert docs_paths and all("out_kind=item" in p for p in docs_paths)

    resumed = CrawlEngine(spark, str(tmp_path / "sp"),
                          CrawlConfig(max_rounds=6, **cfg), web=web)
    resumed.run()
    assert _state(resumed) == _state(golden)


def test_compaction_preserves_frontier(spark, small_web, tmp_path):
    """compact_every=2 forces several compactions mid-crawl; the live
    frontier must be unaffected (vs a no-compaction run)."""
    web = spark.createDataFrame(small_web["web"], WEB_SCHEMA)
    seeds = seeds_df(spark, small_web["seeds"])

    a = CrawlEngine(spark, str(tmp_path / "a"), CrawlConfig(max_rounds=4, round_budget=30), web=web)
    a.ckpt.compact_every = 2
    a.initialize(seeds, None)
    a.run()
    b = run_crawl(spark, web, seeds, None, str(tmp_path / "b"),
                  CrawlConfig(max_rounds=4, round_budget=30))
    fa = sorted(r["seq"] for r in a.ckpt.read_frontier().collect())
    fb = sorted(r["seq"] for r in b.ckpt.read_frontier().collect())
    assert fa == fb
    assert len(a.ckpt.manifest["tables"]["frontier_delta"]) <= 2


def test_crash_mid_write_behind_commit(spark, small_web, tmp_path, monkeypatch):
    """Fault-inject the write-behind commit (VERDICT r5 item 2): abort
    the background sink pool mid-write after round 3 — manifest 3 must
    never publish, no partial table may be visible through the
    manifest, and resume from round 2 must reproduce the golden crawl
    exactly (orphan round-3 files from the aborted writes are inert and
    overwritten by the replay)."""
    import os

    import silkworm_spark.plans.checkpoint as cp

    web = spark.createDataFrame(small_web["web"], WEB_SCHEMA)
    seeds = seeds_df(spark, small_web["seeds"])
    robots = robots_df(spark, small_web["robots"])
    cfg = dict(round_budget=40)

    full = run_crawl(spark, web, seeds, robots, str(tmp_path / "full"),
                     CrawlConfig(max_rounds=6, **cfg))

    crash_dir = str(tmp_path / "crash")
    pools = []
    orig_finalize = cp.PendingCommit.finalize

    def boom(self):
        if self.new_manifest["round"] == 3:
            # the crash: cancel queued writes, abandon in-flight ones,
            # drop a partial junk file into the round dir, and never
            # reach _compact_and_publish
            pools.append(self.pool)
            self.pool.shutdown(wait=False, cancel_futures=True)
            rdir = os.path.join(self.ckpt.root, self.rdir)
            os.makedirs(rdir, exist_ok=True)
            with open(os.path.join(rdir, "part-junk.parquet"), "wb") as f:
                f.write(b"\x00" * 128)  # torn write, not valid parquet
            raise RuntimeError("simulated crash mid write-behind commit")
        return orig_finalize(self)

    monkeypatch.setattr(cp.PendingCommit, "finalize", boom)
    eng = CrawlEngine(spark, crash_dir, CrawlConfig(max_rounds=6, **cfg), web=web)
    eng.initialize(seeds, robots)
    try:
        eng.run()
        raise AssertionError("expected simulated crash")
    except RuntimeError as e:
        assert "simulated crash" in str(e)
    monkeypatch.setattr(cp.PendingCommit, "finalize", orig_finalize)
    for p in pools:  # let in-flight orphan writes drain before resuming
        p.shutdown(wait=True)

    # manifest on disk still points at round 2; nothing from round 3 is
    # reachable through it
    resumed = CrawlEngine(spark, crash_dir, CrawlConfig(max_rounds=6, **cfg), web=web)
    assert int(resumed.ckpt.manifest["round"]) == 2
    for paths in resumed.ckpt.manifest["tables"].values():
        assert not any("round_00003" in p for p in paths)

    resumed.run()
    assert _state(resumed) == _state(full)


def test_resume_mixed_priority_with_politeness(spark, small_web, tmp_path):
    """Exact resume under the round-3 mixed-priority dequeue (ruled-
    host-exempt horizon + audit): the uniform_priority flag, per-band
    state and horizon floors must all round-trip through the manifest."""
    web = spark.createDataFrame(small_web["web"], WEB_SCHEMA)
    mixed = [dict(s, priority=int(s["seq"]) % 3) for s in small_web["seeds"]]
    seeds = seeds_df(spark, mixed)
    robots = robots_df(spark, small_web["robots"])
    cfg = dict(round_budget=30, horizon_factor=1)

    full = run_crawl(spark, web, seeds, robots, str(tmp_path / "full"),
                     CrawlConfig(max_rounds=8, **cfg))

    partial = run_crawl(spark, web, seeds, robots, str(tmp_path / "part"),
                        CrawlConfig(max_rounds=3, **cfg))
    assert partial.stats.rounds == 3
    resumed = CrawlEngine(spark, str(tmp_path / "part"),
                          CrawlConfig(max_rounds=8, **cfg), web=web)
    resumed.run()

    assert _state(resumed) == _state(full)
