"""The traced run's readers against a real (small) Spark session: the
status-store calls, the scan-row count and the dedup-input observation."""

import os

import pytest

from perfbench.trace import StageReader, Tracer, install_layer_wrappers, observed_counts


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]").appName("perfbench-test")
        .config("spark.driver.memory", "1g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.maxMetadataStringLength", "1000")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_scan_rows_counts_only_the_named_table(spark, tmp_path):
    big, small = str(tmp_path / "resolved_web"), str(tmp_path / "other")
    spark.range(500).selectExpr("cast(id as string) as url").write.parquet(big)
    spark.range(40).selectExpr("cast(id as string) as url").write.parquet(small)
    reader = StageReader(spark)
    stage0, job0, exec0 = reader.max_ids()
    a, b = spark.read.parquet(big), spark.read.parquet(small)
    assert a.join(b, "url").count() == 40
    assert a.count() == 500
    # both plans scan the 500-row table once
    assert reader.scan_rows(exec0, os.path.abspath(big)) == 1000
    assert reader.scan_rows(exec0, os.path.abspath(small)) == 40
    stages, jobs = reader.since(stage0, job0)
    assert jobs >= 2 and stages
    assert {"run_s", "shuffle_write", "output_bytes", "module"} <= set(stages[0])


def test_dedup_input_is_observed(spark, monkeypatch):
    from silkworm_spark.plans import engine

    monkeypatch.setattr(engine, "dedup_candidates", lambda cand, *a, **k: cand)
    tracer = Tracer()
    install_layer_wrappers(tracer)
    try:
        out = engine.dedup_candidates(spark.range(123), None)
        assert out.count() == 123
    finally:
        tracer.restore()
    assert observed_counts(tracer) == (123, 0, 0)
