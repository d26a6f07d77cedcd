"""Stateful / windowed Structured Streaming operators (§2.10):
watermarked dedup, windowed rate, applyInPandasWithState host rollup.

Driven as real streams: parquet file source fed one round-directory at
a time, processed with availableNow + memory sinks."""

from __future__ import annotations

import pytest

from silkworm_spark.plans.checkpoint import TABLE_SCHEMAS
from silkworm_spark.streaming import (
    documents_stream,
    streaming_dedup,
    streaming_host_rollup,
    windowed_crawl_rate,
)


def _doc(doc_id, rnd, kinds):
    spans = [dict(kind=k, text=("t" if k == "text" else None),
                  media_ref=("http://x/m" if k != "text" else None), offset=i)
             for i, k in enumerate(kinds)]
    return dict(doc_id=doc_id, spans=spans, status=200, depth=0,
                seq=rnd * 10, round=rnd)


@pytest.fixture()
def ckpt_dir(spark, tmp_path):
    root = tmp_path / "ckpt"
    r1 = [
        _doc("http://a.test/1", 1, ["text", "link", "link"]),
        _doc("http://a.test/2", 1, ["text"]),
        _doc("http://b.test/1", 1, ["link"]),
    ]
    r2 = [
        _doc("http://a.test/1", 2, ["text", "link", "link"]),  # duplicate id
        _doc("http://b.test/2", 2, ["text", "image"]),
    ]
    for rnd, rows in ((1, r1), (2, r2)):
        spark.createDataFrame(
            [tuple(r[f.name] for f in TABLE_SCHEMAS["documents"].fields) for r in rows],
            TABLE_SCHEMAS["documents"],
        ).write.parquet(str(root / f"round_{rnd:05d}" / "parse" / "out_kind=item"))
    return str(root)


def _run(stream_df, name, mode):
    q = (
        stream_df.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    return name


def test_streaming_dedup_drops_cross_batch_duplicate(spark, ckpt_dir):
    docs = documents_stream(spark, ckpt_dir)
    name = _run(streaming_dedup(docs), "dedup_sink", "append")
    got = sorted(r["doc_id"] for r in spark.sql(f"select * from {name}").collect())
    assert got == ["http://a.test/1", "http://a.test/2",
                   "http://b.test/1", "http://b.test/2"]


def test_windowed_crawl_rate(spark, ckpt_dir, tmp_path):
    # build a metrics table with driver-total rows for rounds 1..12
    rows = [
        (rnd, -1, 100 + rnd, 100 + rnd, 10, 1, 0, 0, 0, 0, 5.0)
        for rnd in range(1, 13)
    ]
    mdir = tmp_path / "metrics_rounds"
    spark.createDataFrame(rows, TABLE_SCHEMAS["metrics"]).write.parquet(str(mdir / "round_all" / "metrics"))
    m = (
        spark.readStream.schema(TABLE_SCHEMAS["metrics"])
        .option("pathGlobFilter", "*.parquet")
        .parquet(f"{mdir}/round_*/metrics")
    )
    name = _run(windowed_crawl_rate(m, rounds_per_window=5), "rate_sink", "append")
    got = {r["window_start"].minute * 60 + r["window_start"].second: r["requests"]
           for r in spark.sql(f"select * from {name}").collect()}
    # rounds 1-12 at 60s/round: max event time 720s, watermark delay
    # 300s ⇒ watermark 420s ⇒ only the [0,300) window (rounds 1-4) has
    # CLOSED; later windows are held as state for late rounds — the
    # exact append-mode late-data contract
    assert got == {0: sum(100 + r for r in range(1, 5))}


def test_streaming_host_rollup_accumulates_state(spark, ckpt_dir):
    docs = documents_stream(spark, ckpt_dir)
    # one file-source batch per round dir is not guaranteed; state
    # correctness holds regardless — totals must equal the batch truth
    name = _run(streaming_host_rollup(docs), "rollup_sink", "update")
    rows = spark.sql(
        "select host, docs, spans, links, last_round from ("
        f"  select *, row_number() over (partition by host order by docs desc) rn"
        f"  from {name}) where rn = 1"
    ).collect()
    got = {r["host"]: (r["docs"], r["spans"], r["links"]) for r in rows}
    assert got["a.test"] == (3, 7, 4)   # 3 docs (incl. dup id), 3+1+3 spans, 2+0+2 links
    assert got["b.test"] == (2, 3, 1)
    assert max(r["last_round"] for r in rows) == 2
