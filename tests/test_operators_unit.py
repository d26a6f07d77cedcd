"""Unit tests for individual operators (reference parity notes inline)."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from silkworm_spark.operators.dedup import dedup_candidates, first_wins_intra_round
from silkworm_spark.operators.order import assign_dense_seq
from silkworm_spark.operators.retry import split_retries
from silkworm_spark.operators.scheduler import dequeue_round
from silkworm_spark.plans.bloom import ShardedBloom
from silkworm_spark.schemas import FRONTIER_SCHEMA, HOST_STATE_SCHEMA, ROBOTS_SCHEMA, SEEN_SCHEMA


def _frontier_row(url, seq, host="h0", priority=0, dont_filter=False,
                  retry_times=0, not_before=0.0, parent_seq=-1, child_index=0):
    return dict(url=url, url_hash=hash(url) % (1 << 40), host=host, depth=0,
                parent_seq=parent_seq, child_index=child_index, seq=seq,
                callback="parse", priority=priority, dont_filter=dont_filter,
                retry_times=retry_times, not_before=not_before, round_added=0,
                method=None, headers=None, params=None, meta=None,
                data=None, timeout=None)


# ---- bloom filter ----

def test_bloom_no_false_negatives_and_low_fp():
    bf = ShardedBloom(n_shards=8, bits_per_shard=1 << 13, k=7)
    added = np.arange(1000, dtype=np.int64) * 7919 - 500
    bf.add_many(added)
    assert bf.contains_many(added).all()  # no false negatives, ever
    probe = np.arange(100_000, 120_000, dtype=np.int64) * 104729
    fp = bf.contains_many(probe).mean()
    assert fp < 0.05


def test_bloom_save_load_roundtrip(tmp_path):
    bf = ShardedBloom(n_shards=4, bits_per_shard=1 << 10, k=5)
    bf.add_many(np.array([1, 2, 3], dtype=np.int64))
    p = str(tmp_path / "b.npz")
    bf.save(p)
    bf2 = ShardedBloom.load(p)
    assert (bf2.bits == bf.bits).all() and bf2.k == bf.k and bf2.count == 3
    assert bf2.n_shards == 4 and bf2.bits_per_shard == 1 << 10


def test_bloom_executor_update_equals_driver_add(spark):
    """The executor-side sharded merge (applyInPandas OR-deltas) must
    produce bit-identical filters to driver-side add_many — the
    invariant that makes the scale path a drop-in swap."""
    hashes = (np.arange(5000, dtype=np.int64) * 2654435761) - (1 << 40)
    a = ShardedBloom(n_shards=8, bits_per_shard=1 << 12, k=5)
    a.add_many(hashes)
    b = ShardedBloom(n_shards=8, bits_per_shard=1 << 12, k=5)
    df = spark.createDataFrame([(int(h),) for h in hashes], "url_hash long")
    b.update_from_df(df.repartition(7))  # arbitrary physical layout
    assert (a.bits == b.bits).all() and a.count == b.count == 5000
    # and the shard-local table probe agrees with the local probe:
    # every inserted hash must come back as a maybe (no false negatives)
    maybe = {r["url_hash"] for r in b.maybe_hashes(df).collect()}
    assert maybe == {int(h) for h in hashes}


# ---- dense seq ----

def test_assign_dense_seq_orders_and_is_dense(spark):
    rows = [dict(parent_seq=p, child_index=c, payload=f"{p}:{c}")
            for p in (5, 1, 9) for c in (2, 0, 1)]
    df = spark.createDataFrame(rows)
    out, n = assign_dense_seq(df, ["parent_seq", "child_index"], start=100)
    got = {(r["parent_seq"], r["child_index"]): r["seq"] for r in out.collect()}
    want_order = sorted(got)
    assert n == 9
    assert [got[k] for k in want_order] == list(range(100, 109))


def test_assign_dense_seq_degenerate_lead(spark):
    # all parent_seq equal (the seed case) — must still bucket/number
    rows = [dict(parent_seq=-1, child_index=c) for c in range(50)]
    out, n = assign_dense_seq(spark.createDataFrame(rows), ["parent_seq", "child_index"], start=0)
    got = sorted((r["child_index"], r["seq"]) for r in out.collect())
    assert n == 50 and [s for _, s in got] == list(range(50))


def test_assign_dense_seq_empty(spark):
    df = spark.createDataFrame([], "parent_seq long, child_index int")
    out, n = assign_dense_seq(df, ["parent_seq", "child_index"], start=7)
    assert n == 0 and out.count() == 0


# ---- dedup ----

def test_first_wins_and_seen_bypass(spark):
    # reference engine.py:99-106: first occurrence wins; dont_filter
    # rows bypass both the check and the insert
    cand = spark.createDataFrame([
        _frontier_row("http://a/1", -1, parent_seq=2, child_index=1),
        _frontier_row("http://a/1", -1, parent_seq=1, child_index=3),  # first
        _frontier_row("http://a/2", -1, parent_seq=3, child_index=0, dont_filter=True),
        _frontier_row("http://a/3", -1, parent_seq=4, child_index=0),
    ], FRONTIER_SCHEMA)
    seen = spark.createDataFrame(
        [dict(url_hash=_frontier_row("http://a/3", 0)["url_hash"], url="http://a/3", round_added=0),
         dict(url_hash=_frontier_row("http://a/2", 0)["url_hash"], url="http://a/2", round_added=0)],
        SEEN_SCHEMA,
    )
    out = dedup_candidates(cand, seen).collect()
    got = sorted((r["url"], r["parent_seq"]) for r in out)
    # a/1: first occurrence (parent_seq=1); a/2: bypasses seen via dont_filter; a/3: dropped
    assert got == [("http://a/1", 1), ("http://a/2", 3)]


def test_dedup_with_bloom_equals_exact(spark):
    urls = [f"http://h/{i}" for i in range(200)]
    cand = spark.createDataFrame(
        [_frontier_row(u, -1, parent_seq=i, child_index=0) for i, u in enumerate(urls)],
        FRONTIER_SCHEMA,
    )
    seen_rows = [dict(url_hash=_frontier_row(u, 0)["url_hash"], url=u, round_added=0)
                 for u in urls[:100]]
    seen = spark.createDataFrame(seen_rows, SEEN_SCHEMA)
    bloom = ShardedBloom(n_shards=4, bits_per_shard=1 << 12, k=7)
    bloom.add_many(np.array([r["url_hash"] for r in seen_rows], dtype=np.int64))
    exact = sorted(r["url"] for r in dedup_candidates(cand, seen).collect())
    with_bloom = sorted(r["url"] for r in dedup_candidates(cand, seen, bloom).collect())
    assert exact == with_bloom == sorted(urls[100:])


# ---- retry ----

def test_split_retries_codes_backoff_and_exhaustion(spark):
    rows = [
        dict(_frontier_row("http://h/ok", 1), final_url="http://h/ok", status=200,
             redirect_times=0, error=None, part=0),
        dict(_frontier_row("http://h/503", 2), final_url="http://h/503", status=503,
             redirect_times=0, error=None, part=0),
        dict(_frontier_row("http://h/503x", 3, retry_times=3), final_url="http://h/503x",
             status=503, redirect_times=0, error=None, part=0),
        dict(_frontier_row("http://h/404", 4), final_url="http://h/404", status=404,
             redirect_times=0, error=None, part=0),
        dict(_frontier_row("http://h/err", 5), final_url=None, status=None,
             redirect_times=0, error="fetch_error", part=0),
    ]
    from pyspark.sql import types as T

    # note: StructType.add() mutates in place — never call it on the
    # shared schema constants
    schema = T.StructType(
        FRONTIER_SCHEMA.fields
        + [
            T.StructField("final_url", T.StringType()),
            T.StructField("status", T.IntegerType()),
            T.StructField("redirect_times", T.IntegerType()),
            T.StructField("error", T.StringType()),
            T.StructField("part", T.IntegerType()),
        ]
    )
    fetched = spark.createDataFrame(
        [tuple(r[f.name] for f in schema.fields) for r in rows], schema
    )
    ok, retries, gave_up = split_retries(fetched, vtime=10.0, max_times=3, backoff_base=0.5)
    r = retries.collect()
    assert [x["url"] for x in r] == ["http://h/503"]
    # reference middlewares.py:137-141: dont_filter, times+1, base*2^(n-1)
    assert r[0]["dont_filter"] and r[0]["retry_times"] == 1
    assert r[0]["not_before"] == 10.5 and r[0]["parent_seq"] == 2
    assert [x["url"] for x in gave_up.collect()] == ["http://h/503x"]
    assert sorted(x["url"] for x in ok.collect()) == [
        "http://h/404", "http://h/err", "http://h/ok"]


# ---- scheduler ----

def _dequeue(spark, frontier_rows, robots_rows, host_rows, vtime=0.0, **kw):
    frontier = spark.createDataFrame(frontier_rows, FRONTIER_SCHEMA)
    robots = spark.createDataFrame(robots_rows, ROBOTS_SCHEMA)
    hs = spark.createDataFrame(host_rows, HOST_STATE_SCHEMA)
    return dequeue_round(frontier, robots, hs, vtime, **kw)


def test_dequeue_priority_then_fifo(spark):
    rows = [
        _frontier_row("http://h0/a", 1, priority=0),
        _frontier_row("http://h0/b", 2, priority=5),
        _frontier_row("http://h0/c", 3, priority=5),
    ]
    dq = _dequeue(spark, rows, [], [], per_host_cap=2)
    got = [r["url"] for r in dq.batch.orderBy("seq").collect()]
    # priority desc first (request.py:25 activated), FIFO within a class
    assert sorted(got) == ["http://h0/b", "http://h0/c"]
    dq.release()


def test_dequeue_robots_disallow_and_budget(spark):
    rows = [
        _frontier_row("http://h0/private/x", 1),
        _frontier_row("http://h0/p/1", 2),
        _frontier_row("http://h0/p/2", 3),
        _frontier_row("http://h0/p/3", 4),
    ]
    robots = [dict(host="h0", disallow_prefixes=["/private"], crawl_delay_ms=None, fetch_budget=2)]
    dq = _dequeue(spark, rows, robots, [])
    assert [r["url"] for r in dq.denied.collect()] == ["http://h0/private/x"]
    assert sorted(r["url"] for r in dq.batch.collect()) == ["http://h0/p/1", "http://h0/p/2"]
    dq.release()


def test_dequeue_crawl_delay_caps_per_round(spark):
    rows = [_frontier_row(f"http://h0/{i}", i) for i in range(10)]
    robots = [dict(host="h0", disallow_prefixes=[], crawl_delay_ms=250, fetch_budget=None)]
    dq = _dequeue(spark, rows, robots, [], vtime=0.0, round_seconds=1.0)
    assert dq.batch.count() == 4  # floor(1.0 / 0.25)
    st = {r["host"]: r for r in dq.new_host_state.collect()}
    assert st["h0"]["fetched"] == 4 and abs(st["h0"]["next_free"] - 1.0) < 1e-9
    dq.release()


def test_dequeue_not_before_gates_eligibility(spark):
    rows = [
        _frontier_row("http://h0/now", 1, not_before=0.0),
        _frontier_row("http://h0/later", 2, not_before=5.0),
    ]
    dq = _dequeue(spark, rows, [], [], vtime=0.0)
    assert [r["url"] for r in dq.batch.collect()] == ["http://h0/now"]
    dq.release()
    dq2 = _dequeue(spark, rows, [], [], vtime=5.0)
    assert dq2.batch.count() == 2
    dq2.release()


def test_dequeue_budget_threshold_exact(spark):
    rows = [_frontier_row(f"http://h{i%4}/{i}", i, host=f"h{i%4}") for i in range(50)]
    dq = _dequeue(spark, rows, [], [], round_budget=20)
    got = sorted(r["seq"] for r in dq.batch.collect())
    assert got == list(range(20))  # FIFO by seq, exactly budget rows
    assert dq.n_batch == 20
    dq.release()


def test_dequeue_fifo_fast_path_equals_general(spark):
    """The no-politeness FIFO fast path must select EXACTLY the rows
    the general windowed path selects when robots is empty, priorities
    are uniform, and there is no per-host cap — including the retry
    not_before eligibility filter and the budget cutoff."""
    rows = [
        _frontier_row(f"http://h{i % 5}/p{i}", i, host=f"h{i % 5}")
        for i in range(40)
    ]
    rows[7] = _frontier_row("http://h2/late", 7, host="h2", not_before=99.0)
    for kw in (dict(round_budget=10), dict(round_budget=10, horizon=(0, 40, 2))):
        slow = _dequeue(spark, rows, [], [], **kw)
        fast = _dequeue(spark, rows, [], [], no_politeness=True, **kw)
        s = sorted(r["seq"] for r in slow.batch.collect())
        f = sorted(r["seq"] for r in fast.batch.collect())
        assert s == f and fast.n_batch == slow.n_batch == 10
        assert fast.n_denied == 0
        assert fast.seq_bounds == slow.seq_bounds
        # host fetched counts match (next_free stays at vtime: no delays)
        hs_s = {r["host"]: r["fetched"] for r in slow.new_host_state.collect()}
        hs_f = {r["host"]: r["fetched"] for r in fast.new_host_state.collect()}
        assert hs_s == hs_f
        # the fast path owns its batch cache; release() frees it
        assert fast.batch.is_cached
        slow.release()
        fast.release()
        assert not fast.batch.is_cached


def test_bloom_table_probe_equals_driver_filter(spark):
    """The shard-local table probe must return EXACTLY the hashes the
    driver-resident reference filter flags (identical false-positive
    set — same bits, same splitmix64 positions), and never miss an
    inserted hash (a bloom false negative would re-enqueue seen URLs)."""
    bf = ShardedBloom(n_shards=8, bits_per_shard=1 << 10, k=3)  # small → real fp
    ins = (np.arange(3000, dtype=np.int64) * 2654435761) % (1 << 50)
    bf.add_many(ins)
    pop = np.concatenate(
        [ins[:500], np.arange(4000, dtype=np.int64) * 7919 + (1 << 45)]
    )
    df = spark.createDataFrame([(int(h),) for h in pop], "url_hash long")
    maybe = {r["url_hash"] for r in bf.maybe_hashes(df).collect()}
    local = {int(h) for h, m in zip(pop, bf.contains_many(pop)) if m}
    assert maybe == local
    assert {int(h) for h in ins[:500]} <= maybe  # no false negatives
    assert len(maybe) < len(pop)  # and the filter actually filters


def test_bloom_geometry_pinned_on_resume(spark, tmp_path):
    """The geometry that WROTE the checkpoint's bloom parts must win
    over config on resume: probing existing bits with a different
    (n_shards, bits_per_shard, k) indexes past the stored arrays or
    yields silent false negatives, and a changed n_shards mis-keys the
    probe cogroup."""
    from silkworm_spark.plans.checkpoint import CrawlCheckpoint

    ck = CrawlCheckpoint(spark, str(tmp_path / "ck"))
    bt = ck.load_bloom(8, 1 << 12, 5)
    assert (bt.n_shards, bt.bits_per_shard, bt.k) == (8, 1 << 12, 5)
    assert ck.manifest["bloom_geometry"] == [8, 1 << 12, 5]

    # once parts exist, changed config geometry must NOT reshape probes
    ck.manifest["bloom_parts"] = ["r0/bloom"]
    bt2 = ck.load_bloom(4096, 1 << 25, 7)
    assert (bt2.n_shards, bt2.bits_per_shard, bt2.k) == (8, 1 << 12, 5)

    # a fresh checkpoint (no parts yet) takes the config geometry
    ck2 = CrawlCheckpoint(spark, str(tmp_path / "ck2"))
    bt3 = ck2.load_bloom(16, 1 << 13, 3)
    assert (bt3.n_shards, bt3.bits_per_shard, bt3.k) == (16, 1 << 13, 3)


def test_decode_content_bounds_decompression():
    """A gzip bomb must never materialize its full expansion in the
    fetch worker: output is capped (truncated prefix lands in the
    engine's oversize accounting); normal bodies roundtrip exactly."""
    import gzip

    from silkworm_spark.operators.fetch import _decode_content

    page = b"<html><body><p>ok</p></body></html>"
    hdr = {"Content-Encoding": "gzip"}
    assert _decode_content(gzip.compress(page), hdr) == page

    bomb = gzip.compress(b"\0" * (32 * 1024 * 1024))  # 32 MB of zeros
    out = _decode_content(bomb, hdr, max_out=1 << 20)
    assert len(out) <= 1 << 20  # bounded, not 32 MB

    import zlib

    raw = zlib.compressobj(wbits=-zlib.MAX_WBITS)
    deflated = raw.compress(page) + raw.flush()
    assert _decode_content(deflated, {"Content-Encoding": "deflate"}) == page
