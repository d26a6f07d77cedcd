#!/usr/bin/env python3
"""Crawl benchmark: drives ``CrawlEngine`` from outside on one workload.

    python3 perfbench/run.py --workload discover --seed 1 --seconds 30 --trace 0

Inputs are generated from ``--seed`` by ``sources/webgen.py`` and
cached under ``perfbench/_work/cache``; the generation time is printed
but is not part of any metric. A run is one set-up and one crawl of the
workload's fixed number of rounds in a fresh Spark session, so its
length is set by the workload, not by ``--seconds``. The crawl's fetch
order, seen set and document spans must equal the reference
simulator's digest on the same inputs; a mismatch or a crash marks the
run failed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
engine's layer calls and reads Spark's stage metrics, and prints the
per-layer metrics instead. The last stdout line is one JSON object.
Everything the run writes stays under ``perfbench/_work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import traceback
from time import perf_counter, sleep

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

_PROXY_VARS = ("http_proxy", "https_proxy", "ftp_proxy", "all_proxy", "no_proxy")


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _import_program() -> None:
    """The program under test is the checkout's own ``silkworm_spark``;
    without it (or with a copy from elsewhere) there is nothing to run."""
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401
        import silkworm_spark
    except ImportError as exc:
        _fail(f"cannot import the program under test: {exc}")
    if not os.path.abspath(silkworm_spark.__file__).startswith(ROOT + os.sep):
        _fail(f"silkworm_spark resolved outside the checkout: {silkworm_spark.__file__}")


def _configure_env(run_dir: str) -> int:
    """Environment the Spark JVM and its Python workers inherit. Returns
    the core count the session gets."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    with open("/proc/meminfo") as f:
        total_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    # a sixth of RAM, 1-4 GB: the box is shared, and the inputs are small
    heap_gb = max(1, min(4, total_kb // (6 * 1024 * 1024)))
    # no hsperfdata files in /tmp from the launcher JVM or Spark's JVM
    no_perf_file = "-XX:+PerfDisableSharedMem"
    os.environ.update(
        SPARK_DRIVER_MEMORY=f"{heap_gb}g",
        SPARK_LAUNCHER_OPTS=no_perf_file,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        PYSPARK_SUBMIT_ARGS=" ".join([
            "--conf", shlex.quote(
                f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} {no_perf_file}"),
            "--conf", "spark.ui.showConsoleProgress=false",
            # plan descriptions keep a scanned table's whole path, so the
            # traced run can tell which scans read the resolved web
            "--conf", "spark.sql.maxMetadataStringLength=1000",
            "pyspark-shell",
        ]),
    )
    # live fetches must go to the loopback proxy and nowhere else: an
    # inherited no_proxy could make urllib bypass it for the fixture hosts
    for var in _PROXY_VARS:
        os.environ.pop(var, None)
        os.environ.pop(var.upper(), None)
    # the workloads pin everything they vary; the program's own tuning
    # variables stay at their defaults
    for var in ("SILKWORM_SEEN_BCAST_MAX", "SPARK_GRAFT_SPLIT_BYTES"):
        os.environ.pop(var, None)
    return cores


class OriginProcess:
    """The loopback origin/proxy server as a child process."""

    def __init__(self, web_path: str, run_dir: str) -> None:
        port_file = os.path.join(run_dir, "origin.port")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "origin.py"), web_path, port_file],
            stdin=subprocess.DEVNULL,
        )
        deadline = perf_counter() + 60
        while not os.path.exists(port_file):
            if self.proc.poll() is not None or perf_counter() > deadline:
                self.stop()
                raise RuntimeError("origin server did not start")
            sleep(0.05)
        with open(port_file) as f:
            self.port = int(f.read())

    @property
    def proxy(self) -> str:
        return f"http://127.0.0.1:{self.port}"

    def _control(self, path: str) -> dict:
        import http.client

        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=30)
        try:
            conn.request("POST" if path == "/__reset" else "GET", path)
            body = conn.getresponse().read()
        finally:
            conn.close()
        return json.loads(body) if body else {}

    def reset(self) -> None:
        self._control("/__reset")

    def counts(self) -> dict:
        return self._control("/__stats")

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(timeout=15)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


def _check_loopback_only() -> None:
    import urllib.request

    if urllib.request.getproxies() or urllib.request.proxy_bypass("h0.example.com"):
        raise RuntimeError("environment proxy settings would bypass the loopback proxy")


def _engine_digest(engine) -> dict:
    from perfbench.fixtures import digest_outputs

    fetch = engine.fetch_log().select("round", "seq", "url").toArrow().to_pylist()
    seen = engine.seen().select("url").toArrow().column("url").to_pylist()
    docs = engine.documents().select("doc_id", "seq", "spans").toArrow().to_pylist()
    return digest_outputs(
        [(r["round"], r["seq"], r["url"]) for r in fetch], seen, docs
    )


class Bench:
    def __init__(self, workload, fixture, seed: int, cores: int, run_dir: str,
                 sampler, origin: OriginProcess | None, traced: bool) -> None:
        self.w = workload
        self.fx = fixture
        self.seed = seed
        self.cores = cores
        self.run_dir = run_dir
        self.sampler = sampler
        self.origin = origin
        self.traced = traced
        self.spark = None
        self.layer: dict | None = None  # traced measurements

    def crawl(self):
        """Set-up + crawl + correctness check → a stats.Rep."""
        from perfbench.fixtures import mismatches
        from perfbench.stats import Rep
        from silkworm_spark.plans.engine import CrawlConfig, CrawlEngine
        from silkworm_spark.session import get_spark

        w, rep = self.w, Rep()
        ckpt = os.path.join(self.run_dir, "ckpt")
        cfg = dict(w.crawl)
        if w.live:
            cfg.update(proxies=[self.origin.proxy], request_timeout=20.0)
        t0 = perf_counter()
        spark = self.spark = get_spark(app_name="perfbench", master=f"local[{self.cores}]")
        spark.sparkContext.setLogLevel("ERROR")
        t1 = perf_counter()
        engine = CrawlEngine(
            spark, ckpt, CrawlConfig(**cfg),
            fetch_mode="live" if w.live else "offline",
            web=None if w.live else spark.read.parquet(self.fx.web_path),
        )
        engine.ckpt.compact_every = w.compact_every
        if not w.live:
            engine._resolved_web()
        t2 = perf_counter()
        engine.initialize(
            spark.read.parquet(self.fx.seeds_path),
            spark.read.parquet(self.fx.robots_path) if self.fx.robots_path else None,
        )
        t3 = perf_counter()
        rep.setup_s = t3 - t0
        if self.origin is not None:
            self.origin.reset()

        tracer = stages = None
        if self.traced:
            from perfbench.trace import StageReader, Tracer, install_layer_wrappers

            stages = StageReader(spark)
            ids0 = stages.max_ids()
            tracer = Tracer()
            install_layer_wrappers(tracer)
        from perfbench.procstat import cpu_steal

        steal0 = cpu_steal()
        cpu0 = self.sampler.mark()
        r0 = perf_counter()
        try:
            stats = engine.run()
        finally:
            r1 = perf_counter()
            cpu1 = self.sampler.mark()
            steal1 = cpu_steal()
            if tracer is not None:
                tracer.restore()
        if stages is not None:  # before the correctness check's own jobs
            stage_rows, n_jobs = stages.since(ids0[0], ids0[1])
            resolved = getattr(engine, "_resolved_path", None)
            scan_rows = stages.scan_rows(ids0[2], resolved) if resolved else 0
        rep.run_s = r1 - r0
        rep.cpu_s = cpu1 - cpu0
        rep.urls = stats.requests_sent
        rep.errors = stats.errors
        rep.round_s = [pr["elapsed_ms"] / 1e3 for pr in stats.per_round]

        got = _engine_digest(engine)
        bad = mismatches(got, self.fx.digest)
        rep.ok = not bad
        print(f"crawl: session {t1 - t0:.2f} s, resolve {t2 - t1:.2f} s, "
              f"initialize {t3 - t2:.2f} s, run {rep.run_s:.2f} s, "
              f"{rep.urls} URLs, {rep.errors} errors, rounds "
              f"{[round(x, 2) for x in rep.round_s]}, machine CPU stolen by other "
              f"guests {(steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]):.1%}, "
              f"{'matches the reference' if rep.ok else 'MISMATCH in ' + ','.join(bad)}",
              flush=True)
        if tracer is not None:
            self.layer = self._layer(stats, got, tracer, stage_rows, n_jobs, scan_rows,
                                     run_s=r1 - r0, resolve_s=t2 - t1)
        return rep

    def _layer(self, stats, got, tracer, stage_rows, n_jobs, scan_rows, run_s,
               resolve_s) -> dict:
        from perfbench.trace import observed_counts

        cand, probed, maybe = observed_counts(tracer)
        http = self.origin.counts() if self.origin is not None else {}
        # phase windows from the engine's own round timings, anchored at
        # each round's dequeue_round span (the round's first layer call;
        # a dequeue that took nothing only moved the virtual clock)
        starts = [s["start"] for s in tracer.spans
                  if s["name"] == "scheduler.dequeue_round"
                  and (s.get("batch") or s.get("denied"))]
        windows = []
        for t_start, pr in zip(starts, stats.per_round):
            t = t_start
            for phase, ms in pr["timings"].items():
                windows.append((phase, t, t + ms / 1e3))
                t += ms / 1e3
        parse_cpu = sum(self.sampler.cpu_between(a, b) for p, a, b in windows if p == "parse")
        tracer.dump(
            os.path.join(WORK, "traces", f"{self.w.name}-s{self.seed}.json"),
            {"stages": stage_rows, "phases": windows, "per_round": stats.per_round},
        )
        return dict(
            rounds=stats.rounds, run_s=run_s, urls=stats.requests_sent,
            denied=stats.robots_denied, retries=stats.retries, gave_up=stats.gave_up,
            per_round=stats.per_round, final_commit_s=stats.final_commit_s,
            jobs=n_jobs, stages=stage_rows, parse_cpu_s=parse_cpu,
            resolve_s=resolve_s, scan_rows=scan_rows,
            frontier_files=tracer.counts.get("checkpoint.frontier_files_read", 0),
            candidates=cand, probed=probed, maybe=maybe, http=http, docs=got["n_docs"],
            links_out=got["links_out"], spans=len(tracer.spans),
        )

    def close(self) -> None:
        """Stop Spark and wait for the JVM and its Python workers."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except (AttributeError, OSError):
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _reap_children() -> None:
    """Wait for every process this one started to end; kill stragglers."""
    from perfbench.procstat import read_procs

    def descendants() -> list[int]:
        procs = read_procs()
        out, stack = [], [os.getpid()]
        while stack:
            p = stack.pop()
            kids = [c for c, (pp, _) in procs.items() if pp == p]
            out += kids
            stack += kids
        return out

    deadline = perf_counter() + 30
    while descendants() and perf_counter() < deadline:
        sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while True:  # collect direct children so none is left a zombie
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                break
        except ChildProcessError:
            break


def end_to_end(rep, peak_mem: int) -> dict:
    from perfbench.stats import failed_frac

    return {
        "crawl_urls_per_s": (rep.urls / rep.run_s if rep.run_s else 0.0, "1/s"),
        "round_s_p50": (statistics.median(rep.round_s) if rep.round_s else 0.0, "s"),
        "cpu_s_per_kurl": (rep.cpu_s / (rep.urls / 1e3) if rep.urls else 0.0, "s"),
        "peak_rss_mb": (peak_mem / 2**20, "MB"),
        "setup_s": (rep.setup_s, "s"),
        "failed_frac": (failed_frac(rep), "ratio"),
    }


def per_layer(layer: dict | None, rep, cores: int, round_budget: int) -> dict:
    """Per-layer metrics of the traced crawl: counts are per crawl,
    phase times are medians over its rounds. A crawl that crashed left
    no layer record; the metrics then read 0."""
    x = layer or dict(
        rounds=0, run_s=0.0, urls=0, denied=0, retries=0, gave_up=0, per_round=[],
        final_commit_s=0.0, jobs=0, stages=[], parse_cpu_s=0.0, resolve_s=0.0,
        scan_rows=0, frontier_files=0, candidates=0, probed=0, maybe=0, http={},
        docs=0, links_out=0, spans=0,
    )

    def phase(name):
        vals = [pr["timings"].get(name, 0.0) / 1e3 for pr in x["per_round"]]
        return statistics.median(vals) if vals else 0.0

    def stage_sum(field):
        return sum(s[field] for s in x["stages"])

    rounds = x["rounds"] or 1
    urls, scan_rows, cand = x["urls"], x["scan_rows"], x["candidates"]
    fresh = sum(pr["new"] for pr in x["per_round"])
    req, conn = x["http"].get("requests", 0), x["http"].get("connections", 0)
    return {
        "engine.jobs_per_round": (x["jobs"] / rounds, "count"),
        "engine.task_busy_frac": (
            stage_sum("run_s") / (x["run_s"] * cores) if x["run_s"] else 0.0, "ratio"),
        "scheduler.dequeue_s": (phase("dequeue"), "s"),
        "scheduler.batch_rows": (urls, "count"),
        "scheduler.denied_rows": (x["denied"], "count"),
        "scheduler.budget_fill": (urls / (rounds * round_budget), "ratio"),
        "fetch.scan_rows": (scan_rows, "count"),
        "fetch.scan_useful_ratio": (urls / scan_rows if scan_rows else 0.0, "ratio"),
        "fetch.meta_s": (phase("fetch"), "s"),
        "fetch.resolve_s": (x["resolve_s"], "s"),
        "fetch.http_requests": (req, "count"),
        "fetch.http_connections": (conn, "count"),
        "fetch.conn_reuse_ratio": (req / conn if conn else 0.0, "ratio"),
        "fetch.http_errors": (x["http"].get("errors", 0), "count"),
        "parse.s": (phase("parse"), "s"),
        "parse.task_cpu_s": (x["parse_cpu_s"], "s"),
        "parse.docs": (x["docs"], "count"),
        "parse.links_out": (x["links_out"], "count"),
        "retry.retries": (x["retries"], "count"),
        "retry.gave_up": (x["gave_up"], "count"),
        "dedup.candidates": (cand, "count"),
        "dedup.fresh": (fresh, "count"),
        "dedup.fresh_ratio": (fresh / cand if cand else 0.0, "ratio"),
        "dedup.bloom_maybe_ratio": (x["maybe"] / x["probed"] if x["probed"] else 0.0, "ratio"),
        "order.dedup_seq_s": (phase("dedup_seq"), "s"),
        "checkpoint.commit_s": (phase("commit"), "s"),
        "checkpoint.commit_join_s": (phase("commit_join"), "s"),
        "checkpoint.final_commit_s": (x["final_commit_s"], "s"),
        "checkpoint.bytes_written": (stage_sum("output_bytes"), "B"),
        "checkpoint.frontier_files_read": (x["frontier_files"], "count"),
        "spark.shuffle_write_bytes": (stage_sum("shuffle_write"), "B"),
        "spark.spill_bytes": (stage_sum("spill"), "B"),
        "spark.gc_s": (stage_sum("gc_s"), "s"),
        "spark.failed_tasks": (stage_sum("failed_tasks"), "count"),
        "trace.crawl_urls_per_s": (rep.urls / rep.run_s if rep.run_s else 0.0, "1/s"),
        "trace.spans": (x["spans"], "count"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted, but a run is one crawl whose length the workload fixes")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and the origin (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    _import_program()

    from perfbench.fixtures import load_or_build
    from perfbench.procstat import TreeSampler
    from perfbench.stats import Rep, describe
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    w = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, "run")  # checkpoints, shuffle, temp files
    shutil.rmtree(run_dir, ignore_errors=True)
    cache = os.path.join(WORK, "cache")
    os.makedirs(cache, exist_ok=True)
    cores = _configure_env(run_dir)
    fx = load_or_build(w, args.seed, cache)
    print(f"inputs {w.key(args.seed)}: "
          + (f"generated + simulated in {fx.gen_s:.2f} s" if fx.gen_s else "cached"),
          flush=True)

    rep = Rep(urls=fx.digest["n_fetch"])  # until the crawl ends: all failed
    origin = bench = None
    try:
        if w.live:
            _check_loopback_only()
            origin = OriginProcess(fx.web_path, run_dir)
        exclude = {origin.proc.pid} if origin else set()
        with TreeSampler(exclude=exclude) as sampler:
            bench = Bench(w, fx, args.seed, cores, run_dir, sampler, origin,
                          traced=bool(args.trace))
            try:
                rep = bench.crawl()
            except Exception:
                traceback.print_exc()
    finally:
        if bench is not None:
            bench.close()
        if origin is not None:
            origin.stop()
        _reap_children()
        shutil.rmtree(run_dir, ignore_errors=True)

    if rep.round_s:
        print(describe("round time", rep.round_s, "s"))
    if args.trace:
        metrics = per_layer(bench.layer, rep, cores, w.crawl["round_budget"])
    else:
        metrics = end_to_end(rep, sampler.peak_pss)
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": rep.ok,
        "attempted": max(1, rep.urls),
        "failed": 0 if rep.ok else rep.urls,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
