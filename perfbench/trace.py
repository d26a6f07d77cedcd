"""Traced run: spans around the layer calls the engine makes, plus
Spark's own stage and SQL metrics.

Spans come only from this file: the public functions ``plans/engine.py``
calls are replaced by timing wrappers for the duration of a crawl and
restored afterwards. Plans are lazy, so a wrapper's span covers plan
BUILDING (and any eager job the function runs itself, as
``dequeue_round`` and ``assign_dense_seq`` do); where the work really
executes is read from two other sources — the engine's per-round phase
timings and Spark's in-process status store (the UI is off, so the
REST API is not there), whose stages carry their call site (``collect at
.../operators/order.py:64``) and so name the module that launched them,
and whose SQL plan graphs give the rows each table scan produced.
Row counts that no store holds (dedup input, bloom probe verdicts) come
from Observations attached to the wrapped calls' DataFrames.
Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import re
import threading
from contextlib import contextmanager
from time import perf_counter

_MODULE = re.compile(r"(\w+)\.py:\d+")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self.observations: list = []  # (probed, maybe) Observation pairs
        self.candidate_observations: list = []  # one per dedup call
        self._tls = threading.local()
        self._saved: list[tuple] = []
        self._lock = threading.Lock()

    # ---- spans ----
    @contextmanager
    def span(self, name: str):
        stack = self._tls.__dict__.setdefault("stack", [])
        sp = {"name": name, "start": perf_counter(), "end": None,
              "parent": stack[-1]["id"] if stack else None,
              "thread": threading.get_ident()}
        with self._lock:
            sp["id"] = len(self.spans)
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = perf_counter()
            stack.pop()

    def add(self, key: str, value: float) -> None:
        with self._lock:
            self.counts[key] = self.counts.get(key, 0) + value

    # ---- wrapping ----
    def wrap(self, owner, attr: str, name: str, after=None, call=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper.
        ``call(orig, *args, **kwargs)`` may stand in for the plain call;
        ``after(span, args, result)`` may record counts."""
        had_own = attr in vars(owner)
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            with self.span(name) as sp:
                out = (orig(*args, **kwargs) if call is None
                       else call(orig, *args, **kwargs))
                if after is not None:
                    after(sp, args, out)
                return out

        wrapper.__wrapped__ = orig
        wrapper.__name__ = getattr(orig, "__name__", attr)
        setattr(owner, attr, wrapper)
        self._saved.append((owner, attr, orig, had_own))

    def restore(self) -> None:
        while self._saved:
            owner, attr, orig, had_own = self._saved.pop()
            if had_own:
                setattr(owner, attr, orig)
            else:  # was inherited: drop the shadowing wrapper
                delattr(owner, attr)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts, **extra}, f)


def install_layer_wrappers(tracer: Tracer) -> None:
    """Wrap every layer entry point the engine reaches during run()."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from silkworm_spark.operators import middleware, retry
    from silkworm_spark.plans import engine
    from silkworm_spark.plans.bloom import BloomTable
    from silkworm_spark.plans.checkpoint import CrawlCheckpoint, PendingCommit

    def dequeued(sp, args, dq):
        sp.update(batch=int(dq.n_batch), denied=int(dq.n_denied))

    def frontier_files(sp, args, out):
        ckpt = args[0]
        n = 0
        for name in ("frontier_delta", "consumed"):
            for rel in ckpt.manifest["tables"].get(name, []):
                d = os.path.join(ckpt.root, rel)
                n += sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
        tracer.add("checkpoint.frontier_files_read", n)

    def n():  # a Column needs the active session, so built per call
        return F.count(F.lit(1)).alias("n")

    def bloom_probe(orig, self_, df, hash_col="url_hash"):
        # count probed rows and "maybe seen" verdicts where the probe
        # plan executes — no extra job
        probed, maybe = Observation(), Observation()
        tracer.observations.append((probed, maybe))
        return orig(self_, df.observe(probed, n()), hash_col).observe(maybe, n())

    def dedup_input(orig, candidates, *args, **kwargs):
        # candidate rows entering dedup, counted where the plan executes
        obs = Observation()
        tracer.candidate_observations.append(obs)
        return orig(candidates.observe(obs, n()), *args, **kwargs)

    for owner, attr, name, after in (
        (engine, "dequeue_round", "scheduler.dequeue_round", dequeued),
        (engine, "offline_fetch_missing", "fetch.offline_fetch_missing", None),
        (engine, "offline_fetch_resolved", "fetch.offline_fetch_resolved", None),
        (engine, "live_fetch", "fetch.live_fetch", None),
        (middleware, "apply_request_middlewares", "middleware.apply_request_middlewares", None),
        (engine, "run_parse_stage", "parse.run_parse_stage", None),
        (retry, "split_retries", "retry.split_retries", None),
        (engine, "assign_dense_seq", "order.assign_dense_seq", None),
        (CrawlCheckpoint, "commit", "checkpoint.commit", None),
        (CrawlCheckpoint, "read_frontier", "checkpoint.read_frontier", frontier_files),
        (PendingCommit, "finalize", "checkpoint.finalize", None),
    ):
        tracer.wrap(owner, attr, name, after=after)

    tracer.wrap(engine, "dedup_candidates", "dedup.dedup_candidates", call=dedup_input)
    tracer.wrap(BloomTable, "maybe_hashes", "dedup.bloom_maybe_hashes", call=bloom_probe)


def _observed(o) -> int | None:
    """An Observation's row count, or None if its plan never executed
    (``get`` would then wait forever, so the read is bounded)."""
    box: list = []
    t = threading.Thread(target=lambda: box.append(o.get), daemon=True)
    t.start()
    t.join(5.0)
    return int(box[0].get("n") or 0) if box else None


def observed_counts(tracer: Tracer) -> tuple[int, int, int]:
    """(dedup candidates, rows bloom-probed, rows maybe-seen), each
    summed over the observed plans that ran."""
    cand = sum(v for v in map(_observed, tracer.candidate_observations) if v)
    probed = maybe = 0
    for o_in, o_out in tracer.observations:
        vals = [_observed(o_in), _observed(o_out)]
        if None not in vals:
            probed += vals[0]
            maybe += vals[1]
    return cand, probed, maybe


def _iterate(seq):
    """Iterate a Scala collection returned through py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class StageReader:
    """Stage, job and SQL-execution records from Spark's in-process
    status stores (the UI is off, so there is no REST API to ask)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._gw = sc._gateway
        self._jvm = sc._jvm

    def _stages(self):
        return _iterate(self._store.stageList(
            None, False, False, self._gw.new_array(self._jvm.double, 0), None
        ))

    def max_ids(self) -> tuple[int, int, int]:
        """(last stage id, last job id, last SQL execution id)."""
        st = max((s.stageId() for s in self._stages()), default=-1)
        jb = max((j.jobId() for j in _iterate(self._store.jobsList(None))), default=-1)
        ex = max((e.executionId() for e in _iterate(self._sql.executionsList())),
                 default=-1)
        return st, jb, ex

    def scan_rows(self, execution_id: int, path: str) -> int:
        """Rows that file scans of the table at ``path`` produced in the
        SQL executions after ``execution_id``: the "number of output
        rows" metric of each scan node in the executed plan graphs.
        A table cached in memory is scanned once, in the execution that
        fills the cache, so it is counted once. Scan descriptions carry
        the table's location only if ``spark.sql.maxMetadataStringLength``
        leaves the path whole."""
        at = re.compile(re.escape(path) + r"[\],]")  # the whole path, not a prefix
        total = 0
        for e in _iterate(self._sql.executionsList()):
            eid = e.executionId()
            if eid <= execution_id:
                continue
            values = {kv._1(): kv._2() for kv in _iterate(self._sql.executionMetrics(eid))}
            for node in _iterate(self._sql.planGraph(eid).allNodes()):
                if not node.name().startswith("Scan") or not at.search(node.desc()):
                    continue
                for m in _iterate(node.metrics()):
                    if m.name() == "number of output rows":
                        total += int(values.get(m.accumulatorId(), "0").replace(",", ""))
        return total

    def since(self, stage_id: int, job_id: int) -> tuple[list[dict], int]:
        """(stage records with id > stage_id, jobs with id > job_id)."""
        rows = []
        for s in self._stages():
            if s.stageId() <= stage_id:
                continue
            m = _MODULE.search(s.name() or "")
            rows.append(dict(
                id=s.stageId(), name=s.name(), module=m.group(1) if m else "?",
                status=str(s.status()), tasks=s.numTasks(),
                run_s=s.executorRunTime() / 1e3, cpu_s=s.executorCpuTime() / 1e9,
                gc_s=s.jvmGcTime() / 1e3, shuffle_write=s.shuffleWriteBytes(),
                spill=s.memoryBytesSpilled() + s.diskBytesSpilled(),
                output_bytes=s.outputBytes(), failed_tasks=s.numFailedTasks(),
            ))
        jobs = sum(1 for j in _iterate(self._store.jobsList(None)) if j.jobId() > job_id)
        return rows, jobs
