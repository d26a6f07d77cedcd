"""Atomic per-round checkpointing (Iceberg-contract tables on Parquet).

No Iceberg runtime ships in this sandbox (no network for jars), so the
same contract — snapshot isolation, atomic commit, exact resume — is
realized as Parquet table-directories plus a JSON manifest committed by
write-temp + atomic rename. Append-log tables (seen, documents,
metrics, fetch_log) accumulate one directory per round and are read as
a multi-path union (partition-pruned scans); snapshot tables (frontier,
host_state) point at the latest round only. The bloom filter bits ride
along in the same commit, so resume never rebuilds them from the seen
table.

This is the rebuild of the reference's implicit state — the in-memory
queue/seen/stats that vanish on crash (engine.py:52-77) — as durable,
resumable state (north rule: "resumes exactly, carrying per-partition
lineage and fetch/parse metrics").
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.types import StructType

from silkworm_spark import schemas
from silkworm_spark.plans.bloom import (
    BITS_SCHEMA, BloomTable, ShardedBloom, fold_bits,
)

_APPEND_TABLES = (
    "seen", "documents", "items", "metrics", "fetch_log", "frontier_delta", "consumed"
)
_SNAPSHOT_TABLES = ("host_state", "robots")

TABLE_SCHEMAS: dict[str, StructType] = {
    "frontier_delta": schemas.FRONTIER_SCHEMA,
    "consumed": StructType([T.StructField("seq", T.LongType(), False)]),
    "seen": schemas.SEEN_SCHEMA,
    "documents": schemas.DOCUMENTS_SCHEMA,
    "items": schemas.ITEMS_SCHEMA,
    "metrics": schemas.METRICS_SCHEMA,
    "host_state": schemas.HOST_STATE_SCHEMA,
    "robots": schemas.ROBOTS_SCHEMA,
    "fetch_log": StructType(
        [
            T.StructField("round", T.IntegerType()),
            T.StructField("seq", T.LongType()),
            T.StructField("url", T.StringType()),
            T.StructField("host", T.StringType()),
        ]
    ),
}


def _empty_df(spark: SparkSession, schema: StructType) -> DataFrame:
    """Empty DataFrame built JVM-side. ``createDataFrame([], schema)``
    parallelizes through defaultParallelism PICKLED python partitions —
    every scan of it launches a python worker per partition (~0.1-0.2 s
    each), a real per-round cost when empty tables join the plan."""
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def _pa_schema(schema: StructType):
    """pyarrow schema for a flat Spark StructType (driver-local tables)."""
    import pyarrow as pa

    _MAP = {
        "bigint": pa.int64(), "int": pa.int32(), "double": pa.float64(),
        "float": pa.float32(), "string": pa.string(), "boolean": pa.bool_(),
        "binary": pa.binary(),
    }

    def conv(dt):
        s = dt.simpleString()
        if s.startswith("array<"):
            return pa.list_(conv(dt.elementType))
        return _MAP[s]

    return pa.schema([(f.name, conv(f.dataType)) for f in schema.fields])


def write_driver_table(path: str, rows: list[tuple], schema: StructType) -> None:
    """Write a driver-local row list straight to parquet with pyarrow —
    no Spark job at all. Round metrics are a few dozen rows the driver
    already holds; shipping them through createDataFrame→python
    partitions→task cost ~3 s/round (the largest single fixed cost
    found while chasing the r1 N→4N scaling miss)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pa_schema = _pa_schema(schema)
    cols = list(zip(*rows)) if rows else [[] for _ in schema.fields]
    table = pa.table(
        {f.name: list(c) for f, c in zip(schema.fields, cols)}, schema=pa_schema
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


class PendingCommit:
    """Write-behind half of a two-phase commit: the packed append-table
    write and the executor-side bloom merge keep running on driver
    threads while the engine starts the next round's compute;
    ``finalize()`` joins them, runs compaction, and atomically
    publishes the manifest."""

    def __init__(self, ckpt: "CrawlCheckpoint", pool, packed_future,
                 bloom_future, new_manifest: dict, rdir: str) -> None:
        self.ckpt = ckpt
        self.pool = pool
        self.packed_future = packed_future
        self.bloom_future = bloom_future
        self.new_manifest = new_manifest
        self.rdir = rdir
        self._done = False

    def finalize(self) -> None:
        if self._done:
            return
        self._done = True
        bloom_rel = None
        try:
            if self.packed_future is not None:
                for name, rel in self.packed_future.result():
                    self.new_manifest["tables"].setdefault(name, []).append(rel)
            if self.bloom_future is not None:
                bloom_rel = self.bloom_future.result()
        finally:
            self.pool.shutdown(wait=True)
        self.ckpt._compact_and_publish(self.new_manifest, self.rdir, bloom_rel)


class CrawlCheckpoint:
    def __init__(self, spark: SparkSession, root: str, compact_every: int = 8) -> None:
        self.spark = spark
        self.root = root
        self.compact_every = compact_every
        os.makedirs(root, exist_ok=True)
        self.manifest: dict[str, Any] = {
            "round": -1,
            "vtime": 0.0,
            "seq_next": 0,
            "tables": {name: [] for name in (*_APPEND_TABLES, *_SNAPSHOT_TABLES)},
            "bloom_parts": [],
        }
        self._load_manifest()

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def _load_manifest(self) -> None:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                self.manifest = json.load(f)

    def exists(self) -> bool:
        return os.path.exists(self.manifest_path)

    def read(self, name: str) -> DataFrame:
        paths = self.manifest["tables"].get(name, [])
        if not paths:
            return _empty_df(self.spark, TABLE_SCHEMAS[name])
        abs_paths = [os.path.join(self.root, p) for p in paths]
        return self.spark.read.schema(TABLE_SCHEMAS[name]).parquet(*abs_paths)

    def read_frontier(self) -> DataFrame:
        """The live frontier is merge-on-read: appended per-round deltas
        (new enqueues) minus consumed seqs (fetched or robots-denied).
        Per-round commit cost is O(round budget), never O(frontier) —
        the property that keeps a 10^10-row frontier checkpointable.
        Compaction (in ``commit``) bounds the read-side anti-join."""
        deltas = self.read("frontier_delta")
        consumed = self.read("consumed")
        if not self.manifest["tables"].get("consumed"):
            return deltas
        return deltas.join(consumed, "seq", "left_anti")

    def load_bloom(self, n_shards: int, bits_per_shard: int, k: int) -> BloomTable:
        """The checkpoint's bloom as a path-backed BloomTable (bits stay
        in (shard, bits) parquet parts; nothing loads driver-side). A
        pre-table checkpoint (single npz blob) is migrated once into
        part form — skipping it would silently produce bloom false
        negatives, i.e. re-enqueue seen URLs.

        The geometry (n_shards, bits_per_shard, k) that WROTE the parts
        is persisted in the manifest and always wins over the config
        arguments on resume: probing existing bits with a different
        geometry indexes past the stored arrays (larger bps) or yields
        silent false negatives (smaller bps / different k), and a
        changed n_shards mis-keys the probe cogroup entirely. Config
        geometry applies only to a checkpoint with no bloom bits yet."""
        if self.manifest.get("bloom") and not self.manifest.get("bloom_parts"):
            old = ShardedBloom.load(os.path.join(self.root, self.manifest["bloom"]))
            rel = "bloom_migrated"
            old.bits_df(self.spark).write.mode("overwrite").parquet(
                os.path.join(self.root, rel)
            )
            self.manifest["bloom_parts"] = [rel]
            self.manifest["bloom"] = None
            # published at the next commit; until then re-entry re-runs
            # the (idempotent) migration and re-derives the same values
            self.manifest["bloom_geometry"] = [old.n_shards, old.bits_per_shard, old.k]
            return BloomTable(self, old.n_shards, old.bits_per_shard, old.k)
        geo = self.manifest.get("bloom_geometry")
        if geo and self.manifest.get("bloom_parts"):
            return BloomTable(self, int(geo[0]), int(geo[1]), int(geo[2]))
        self.manifest["bloom_geometry"] = [n_shards, bits_per_shard, k]
        return BloomTable(self, n_shards, bits_per_shard, k)

    def commit(
        self,
        round_no: int,
        vtime: float,
        seq_next: int,
        appends: dict[str, DataFrame],
        snapshots: dict[str, DataFrame],
        bloom: BloomTable,
        bloom_update: DataFrame,
        known_counts: dict[str, int] | None = None,
        extras: dict[str, Any] | None = None,
        driver_appends: dict[str, list[tuple]] | None = None,
        pointer_appends: dict[str, str] | None = None,
    ) -> PendingCommit:
        """Write this round's data; the returned ``PendingCommit``
        publishes the manifest atomically when finalized.

        A crash before the rename leaves the previous manifest intact →
        the next run resumes from the prior round exactly; orphan round
        directories are inert.

        Every append table is written behind: one packed background job
        whose writes may OVERLAP the next round's compute. The caller
        must ``finalize()`` the result before anything reads those
        tables THROUGH THE CHECKPOINT or depends on the shared bloom
        bits (the engine does so before the next round's dedup — so
        `seen` may be deferred freely, and `frontier_delta`/`consumed`
        may be deferred as long as the next DEQUEUE patches its
        frontier read with the same data held as in-memory DataFrames;
        see engine.run). Snapshots (`host_state`, `robots`) write
        synchronously and land in the in-memory manifest immediately.
        The on-disk manifest lags one round — a crash in the window
        replays the whole round deterministically from the previous
        manifest (same exact-resume contract, write-behind).

        ``known_counts`` lets the engine skip empty-table writes without
        the per-table ``isEmpty()`` job round 1 paid (6 driver jobs per
        round). ``bloom_update`` runs the executor-side sharded bloom
        merge inside the same thread pool as the writes, so it adds no
        sequential latency; the updated bits land in this commit.
        ``extras`` are engine scalars (seq_floor, uniform_priority)
        published atomically with everything else.

        ``pointer_appends`` maps table name → an ALREADY-WRITTEN
        relative path to append to that table's manifest entry without
        any write job — the zero-copy commit for data a prior stage of
        the same round materialized in its final form (the engine's
        parse output IS the round's documents append). Atomicity is
        unchanged: the path only becomes reachable when the manifest
        publishes.
        """
        import concurrent.futures as cf

        rdir = f"round_{round_no:05d}"
        new_manifest = json.loads(json.dumps(self.manifest))  # deep copy
        new_manifest["round"] = round_no
        new_manifest["vtime"] = vtime
        new_manifest["seq_next"] = seq_next
        if extras:
            new_manifest.update(extras)
        counts = known_counts or {}

        def write_packed(tables: dict[str, DataFrame]) -> list[tuple[str, str]]:
            """All append tables land in ONE write job partitioned
            by a `table` column (row-group columns = union of schemas;
            readers prune back to each table's declared schema). One
            round-1 lesson: per-table jobs cost ~0.3-0.7 s of launch
            latency each — at 6 tables that fixed cost dominated small
            rounds and killed N→4N scaling."""
            cols: dict[str, T.DataType] = {}
            for name in tables:
                for fld in TABLE_SCHEMAS[name].fields:
                    cols.setdefault(fld.name, fld.dataType)
            packed = None
            for name, df in tables.items():
                have = set(df.columns)
                sel = [
                    (F.col(c) if c in have else F.lit(None)).cast(t).alias(c)
                    for c, t in cols.items()
                ]
                part = df.select(*sel).withColumn("table", F.lit(name))
                packed = part if packed is None else packed.unionByName(part)
            packed.write.mode("overwrite").partitionBy("table").parquet(
                os.path.join(self.root, rdir, "packed")
            )
            return [
                (name, os.path.join(rdir, "packed", f"table={name}"))
                for name in tables
                # a table with unknown count that turned out empty
                # produces no partition dir — don't record it
                if os.path.isdir(
                    os.path.join(self.root, rdir, "packed", f"table={name}")
                )
            ]

        def write_snapshot(name: str, df: DataFrame) -> tuple[str, str]:
            rel = os.path.join(rdir, name)
            df.write.mode("overwrite").parquet(os.path.join(self.root, rel))
            return name, rel

        def write_bloom_delta() -> str:
            # merge-on-read: only this round's delta bits land on disk
            # (touched shards only) — O(new URLs), built and written
            # entirely executor-side
            rel = os.path.join(rdir, "bloom")
            bloom.delta_for(bloom_update).write.mode("overwrite").parquet(
                os.path.join(self.root, rel)
            )
            return rel

        # pointer appends: data already on disk in final form — just
        # record the path (reachable only once the manifest publishes)
        for name, rel in (pointer_appends or {}).items():
            new_manifest["tables"].setdefault(name, []).append(rel)

        # driver-local tables (round metrics): straight pyarrow writes,
        # zero Spark jobs
        for name, rows in (driver_appends or {}).items():
            rel = os.path.join(rdir, name)
            write_driver_table(
                os.path.join(self.root, rel), rows, TABLE_SCHEMAS[name]
            )
            new_manifest["tables"].setdefault(name, []).append(rel)

        packed = {n: df for n, df in appends.items() if counts.get(n, 1) != 0}
        pool = cf.ThreadPoolExecutor(max_workers=len(snapshots) + 2)
        try:
            bfut = (
                pool.submit(write_bloom_delta)
                if counts.get("seen", 1) != 0 else None
            )
            pfut = pool.submit(write_packed, packed) if packed else None
            sfuts = [pool.submit(write_snapshot, n, df) for n, df in snapshots.items()]
            for f in sfuts:
                name, rel = f.result()
                new_manifest["tables"][name] = [rel]
        except BaseException:
            pool.shutdown(wait=True, cancel_futures=True)
            raise

        # the in-memory manifest advances NOW: the next round reads the
        # snapshots through it; the FILE publishes in finalize()
        self.manifest = new_manifest
        return PendingCommit(
            ckpt=self, pool=pool, packed_future=pfut, bloom_future=bfut,
            new_manifest=new_manifest, rdir=rdir,
        )

    def _compact_and_publish(self, new_manifest: dict, rdir: str,
                             bloom_rel: str | None) -> None:
        # merge-on-read compaction: once enough deltas accumulate, fold
        # deltas ⊖ consumed into one base so the read-side anti-join
        # stays bounded. Still atomic — the compacted base is written
        # before the manifest flips to it; old dirs become inert.
        if len(new_manifest["tables"].get("frontier_delta", [])) >= self.compact_every:
            dpaths = [os.path.join(self.root, p) for p in new_manifest["tables"]["frontier_delta"]]
            live = self.spark.read.schema(TABLE_SCHEMAS["frontier_delta"]).parquet(*dpaths)
            cpaths = [os.path.join(self.root, p) for p in new_manifest["tables"].get("consumed", [])]
            if cpaths:
                consumed = self.spark.read.schema(TABLE_SCHEMAS["consumed"]).parquet(*cpaths)
                live = live.join(consumed, "seq", "left_anti")
            base_rel = os.path.join(rdir, "frontier_base")
            # range-layout by seq so post-compaction files keep disjoint
            # seq ranges — the dequeue's seq-horizon filter then prunes
            # whole files via parquet min/max stats, same as the
            # per-round delta files it replaces
            live.repartitionByRange("seq").write.mode("overwrite").parquet(
                os.path.join(self.root, base_rel)
            )
            new_manifest["tables"]["frontier_delta"] = [base_rel]
            new_manifest["tables"]["consumed"] = []
        if bloom_rel is not None:
            parts = list(new_manifest.get("bloom_parts") or []) + [bloom_rel]
            # same merge-on-read compaction as the frontier: fold the
            # per-round delta parts into one row per shard so the probe
            # ORs a bounded number of parts
            if len(parts) >= self.compact_every:
                paths = [os.path.join(self.root, p) for p in parts]
                base_rel = os.path.join(rdir, "bloom_base")
                fold_bits(
                    self.spark.read.schema(BITS_SCHEMA).parquet(*paths)
                ).write.mode("overwrite").parquet(os.path.join(self.root, base_rel))
                parts = [base_rel]
            new_manifest["bloom_parts"] = parts

        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(new_manifest, f)
        os.replace(tmp, self.manifest_path)  # atomic on POSIX
        self.manifest = new_manifest
