"""SparkSession factory tuned for the crawl workload.

Local-mode defaults mirror what a 1000-executor cluster deployment
would set: AQE on (runtime join-strategy + skew splitting), modest
shuffle partitioning sized to cores, Arrow enabled for the pandas-UDF
fetch/parse stages with a batch size matched to politeness windows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap used when ``SPARK_DRIVER_MEMORY`` is unset: a quarter
    of physical RAM (``MemTotal``), between 1g and 20g. In local mode
    the driver JVM is also the executor, so it wants room, but a heap
    larger than the machine gets the whole process OOM-killed. Without
    a readable ``meminfo`` the 1g floor applies."""
    try:
        with open(meminfo) as f:
            total_kb = next(
                int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError, IndexError):
        total_kb = 0
    mb = max(1024, min(20 * 1024, total_kb // (4 * 1024)))
    return f"{mb}m"


def get_spark(
    app_name: str = "silkworm-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 8192,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    if shuffle_partitions is None:
        cores = os.cpu_count() or 8
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            if inner.isdigit():
                cores = int(inner)
        shuffle_partitions = max(8, cores)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        # body-heavy tables (6 KB+/row): smaller splits keep the scan →
        # fetch-join → parse chain at ~4 tasks/core without any explicit
        # repartition (which would shuffle bodies). 22 splits at 16
        # cores = 1.4 task waves — stragglers idled 40% of the cores and
        # capped measured parse scaling at ~0.5; ~4 waves of small tasks
        # pack tightly at any width
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_SPLIT_BYTES", str(8 * 1024 * 1024)),
        )
        # tmpfs/page-cache file opens are not worth the 4 MB default
        # padding — it inflates split packing 50% for many-small-files
        # tables like the resolved web
        .config("spark.sql.files.openCostInBytes", str(128 * 1024))
        # the crawl is python-CPU-bound with abundant memory: lz4-in-
        # memory columnar compression burns cores for nothing on the
        # per-round body/span caches
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode: the driver JVM IS the executor — size the heap for
        # the per-round body cache (~rows x page size) or GC pauses
        # dominate wide (16+) task widths
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    return builder.getOrCreate()
