"""Seeded benchmark inputs and the reference digest they must produce.

A fixture is everything the crawl consumes — the synthetic web as
parquet, the seed list and the robots rules — plus the digest of the
pure-Python reference simulator's output on the same inputs. All of
it is a pure function of (workload, seed), so it is cached on disk
under that key; generation and the simulator run are timed apart from
the crawl's set-up.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass
from time import perf_counter

from perfbench.workloads import N_ERROR_SEEDS, N_HOSTS, Workload

MAX_CACHED = 24  # fixture directories kept; the oldest are evicted


@dataclass
class Fixture:
    root: str
    digest: dict
    gen_s: float  # generation + simulator time spent by THIS process

    @property
    def web_path(self) -> str:
        return os.path.join(self.root, "web")

    @property
    def seeds_path(self) -> str:
        return os.path.join(self.root, "seeds")

    @property
    def robots_path(self) -> str | None:
        path = os.path.join(self.root, "robots")
        return path if os.path.isdir(path) else None


def _sha(obj) -> str:
    raw = json.dumps(obj, separators=(",", ":"), ensure_ascii=False)
    return hashlib.sha256(raw.encode()).hexdigest()


def digest_outputs(fetch_rows, seen_urls, docs) -> dict:
    """The three crawl invariants as order-independent digests:
    fetch order as sorted (round, seq, url), the final seen set, and
    each document's (doc_id, seq, [(kind, text, media_ref, offset)])."""
    fetch = sorted([int(r), int(s), u] for r, s, u in fetch_rows)
    seen = sorted(seen_urls)
    spans = sorted(
        [d["doc_id"], int(d["seq"]),
         [[s["kind"], s["text"], s["media_ref"], int(s["offset"])]
          for s in d["spans"] or []]]
        for d in docs
    )
    links = sum(
        1 for _, _, ss in spans for kind, _, ref, _ in ss if kind == "link" and ref
    )
    return {
        "fetch": _sha(fetch), "seen": _sha(seen), "docs": _sha(spans),
        "n_fetch": len(fetch), "n_seen": len(seen), "n_docs": len(spans),
        "links_out": links,
    }


def mismatches(got: dict, want: dict) -> list[str]:
    return [k for k in ("fetch", "seen", "docs") if got.get(k) != want.get(k)]


def make_inputs(w: Workload, seed: int):
    """(web rows, seed rows, robots rows | None) for one workload seed."""
    from silkworm_spark.sources.webgen import (
        _LOOP_A, _LOOP_B, build_robots, build_seeds, gen_web_rows, host_id, host_name,
        url_of,
    )

    rows = gen_web_rows(w.n_pages, N_HOSTS, seed, w.min_spans, w.span_spread)
    if w.live:
        # the origin emulates retryable statuses by counting hits per URL,
        # so a page must be reachable by ONE request chain: a redirect
        # target that is also retryable would be counted by two chains
        targets = {r["redirect_to"] for r in rows if r["redirect_to"]}
        for r in rows:
            if r["url"] in targets and r["attempts_until_ok"]:
                r["attempts_until_ok"], r["status"] = 0, 200
    # seeds that must end in an engine error, first in FIFO order so
    # every crawl fetches them: the web's forced redirect loop pages
    # (unless robots deny them), topped up with dead links on hosts no
    # robots rule caps. A fixed error count keeps failed_frac seed-stable.
    bad = [u for u in (url_of(i, N_HOSTS, seed) for i in (_LOOP_A, _LOOP_B))
           if not (w.robots and "/private/" in u)]
    ruled = {r["host"] for r in build_robots(N_HOSTS, seed)
             if r["disallow_prefixes"] or r["crawl_delay_ms"] or r["fetch_budget"]}
    i = w.n_pages
    while len(bad) < N_ERROR_SEEDS:
        k = host_id(i, N_HOSTS, seed)
        if host_name(k) not in ruled:
            bad.append(url_of(i, N_HOSTS, seed))
        i += 1
    live = [s["url"] for s in build_seeds(w.n_seeds, w.n_pages, N_HOSTS, seed)]
    seeds = [dict(url=u, seq=k, priority=0) for k, u in enumerate(bad + live)]
    robots = build_robots(N_HOSTS, seed) if w.robots else None
    return rows, seeds, robots


def simulate_digest(w: Workload, rows, seeds, robots) -> dict:
    from silkworm_spark.plans.simulator import SimConfig, simulate

    fields = set(SimConfig.__dataclass_fields__)
    cfg = SimConfig(**{k: v for k, v in w.crawl.items() if k in fields})
    sim = simulate(rows, seeds, robots, cfg)
    out = digest_outputs(sim.fetch_order, sim.seen, sim.documents)
    out.update(errors=sim.errors, robots_denied=sim.robots_denied, rounds=sim.rounds)
    return out


def _write_parquet(rows, schema, path: str) -> None:
    """Rows as a one-file parquet table the crawl reads JVM-side (a
    createDataFrame of Python rows would re-run Python workers on every
    scan of the inputs)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    os.makedirs(path)
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def load_or_build(w: Workload, seed: int, cache_dir: str) -> Fixture:
    root = os.path.join(cache_dir, w.key(seed))
    meta_path = os.path.join(root, "digest.json")
    gen_s = 0.0
    if not os.path.exists(meta_path):
        t0 = perf_counter()
        rows, seeds, robots = make_inputs(w, seed)
        digest = simulate_digest(w, rows, seeds, robots)
        tmp = root + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        from silkworm_spark.schemas import ROBOTS_SCHEMA, SEEDS_SCHEMA, WEB_SCHEMA

        _write_parquet(rows, WEB_SCHEMA, os.path.join(tmp, "web"))
        _write_parquet(seeds, SEEDS_SCHEMA, os.path.join(tmp, "seeds"))
        if robots is not None:
            _write_parquet(robots, ROBOTS_SCHEMA, os.path.join(tmp, "robots"))
        with open(os.path.join(tmp, "digest.json"), "w") as f:
            json.dump(digest, f)
        shutil.rmtree(root, ignore_errors=True)
        os.replace(tmp, root)
        gen_s = perf_counter() - t0
        _evict(cache_dir, keep=root)
    with open(meta_path) as f:
        digest = json.load(f)
    os.utime(root)  # recency for eviction
    return Fixture(root, digest, gen_s)


def _evict(cache_dir: str, keep: str) -> None:
    dirs = [
        os.path.join(cache_dir, d) for d in os.listdir(cache_dir)
        if not d.endswith(".tmp")
    ]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[MAX_CACHED:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)
