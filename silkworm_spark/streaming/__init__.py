"""Streaming surface.

The reference is a bounded batch job (runs until ``queue.join()``,
engine.py:354) — no watermarks, windows, or late data — so the rebuild
deliberately uses iterative, checkpointed DataFrame rounds instead of
Structured Streaming (SURVEY.md §2.10): explicit table state is
exactly-resumable and the round boundary is the natural politeness
unit.

What Structured Streaming *is* the right tool for here is consuming
the crawl's output as it lands: each round's atomic commit appends new
parquet files under the checkpoint, which downstream jobs can tail as
a file-source stream without coordinating with the crawler.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from silkworm_spark.plans.checkpoint import TABLE_SCHEMAS


def documents_stream(spark: SparkSession, checkpoint_root: str) -> DataFrame:
    """readStream over the crawl's documents output: downstream
    pipelines (dedup, quality filtering, indexing) attach here and see
    each round's documents as a micro-batch. A round's documents are
    the item partition of its parse output (the checkpoint commits
    them as a pointer), read column-pruned to the documents schema."""
    return (
        spark.readStream.schema(TABLE_SCHEMAS["documents"])
        .option("pathGlobFilter", "*.parquet")
        .parquet(f"{checkpoint_root}/round_*/parse/out_kind=item")
    )


def metrics_stream(spark: SparkSession, checkpoint_root: str) -> DataFrame:
    """Per-round, per-partition crawl metrics as a stream — the live
    analog of the reference's periodic stats logger (engine.py:318-337)."""
    return (
        spark.readStream.schema(TABLE_SCHEMAS["metrics"])
        .option("pathGlobFilter", "*.parquet")
        .parquet(f"{checkpoint_root}/round_*/metrics")
    )


def span_texts_stream(docs: DataFrame) -> DataFrame:
    """Explode a documents stream into (doc_id, offset, kind, text,
    media_ref) span rows — the typical shape for downstream text
    pipelines. Works on batch DataFrames too."""
    return docs.select(
        "doc_id", F.explode("spans").alias("s")
    ).select("doc_id", "s.offset", "s.kind", "s.text", "s.media_ref")


def with_round_time(df: DataFrame, seconds_per_round: int = 60) -> DataFrame:
    """Synthetic event time from the deterministic round counter (the
    crawl's virtual clock) — gives the output streams a watermarkable
    timestamp without injecting wall-clock nondeterminism."""
    return df.withColumn(
        "event_time", F.timestamp_seconds(F.col("round").cast("long") * seconds_per_round)
    )


def streaming_dedup(docs: DataFrame, lateness_rounds: int = 3,
                    seconds_per_round: int = 60) -> DataFrame:
    """Exactly-once doc_id stream dedup: watermark + dropDuplicates —
    Structured Streaming keeps the seen-ids state store and expires it
    past the watermark, the streaming twin of the crawl's URL-seen
    table. Works on batch frames too (watermark is then a no-op)."""
    return (
        with_round_time(docs, seconds_per_round)
        .withWatermark("event_time", f"{lateness_rounds * seconds_per_round} seconds")
        .dropDuplicates(["doc_id"])
    )


def windowed_crawl_rate(metrics: DataFrame, rounds_per_window: int = 5,
                        seconds_per_round: int = 60) -> DataFrame:
    """Watermarked tumbling-window aggregation over the metrics stream:
    requests/responses/items per window — the live analog of the
    reference's periodic stats logger (engine.py:318-337), late rounds
    tolerated up to one window."""
    m = with_round_time(metrics.filter(F.col("partition_id") == -1), seconds_per_round)
    win = F.window("event_time", f"{rounds_per_window * seconds_per_round} seconds")
    return (
        m.withWatermark("event_time", f"{rounds_per_window * seconds_per_round} seconds")
        .groupBy(win.alias("w"))
        .agg(
            F.sum("requests_sent").alias("requests"),
            F.sum("responses_received").alias("responses"),
            F.sum("items_scraped").alias("items"),
            F.sum("errors").alias("errors"),
        )
        .select(F.col("w.start").alias("window_start"), "requests",
                "responses", "items", "errors")
    )


def streaming_host_rollup(docs: DataFrame, timeout_rounds: int | None = None,
                          seconds_per_round: int = 60) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-host totals (documents, spans, link spans) maintained in the
    state store across micro-batches, one updated row emitted per host
    per batch. This is the pattern the engine would use for continuous
    per-host crawl accounting if the frontier ran as a true stream."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField, StructType,
    )

    out_schema = StructType([
        StructField("host", StringType()),
        StructField("docs", LongType()),
        StructField("spans", LongType()),
        StructField("links", LongType()),
        StructField("last_round", IntegerType()),
    ])
    state_schema = StructType([
        StructField("docs", LongType()),
        StructField("spans", LongType()),
        StructField("links", LongType()),
        StructField("last_round", IntegerType()),
    ])

    def update(key, pdfs, state: GroupState):
        docs_n = spans_n = links_n = 0
        last_round = 0
        for pdf in pdfs:
            docs_n += len(pdf)
            spans_n += int(pdf["n_spans"].sum())
            links_n += int(pdf["n_links"].sum())
            if len(pdf):
                last_round = max(last_round, int(pdf["round"].max()))
        if state.exists:
            d, s, l, r = state.get
            docs_n += d; spans_n += s; links_n += l
            last_round = max(last_round, r)
        state.update((docs_n, spans_n, links_n, last_round))
        yield pd.DataFrame(
            [dict(host=key[0], docs=docs_n, spans=spans_n,
                  links=links_n, last_round=last_round)]
        )

    shaped = docs.select(
        # doc_id is the canonical URL; host = authority token
        F.regexp_extract("doc_id", r"^[a-z]+://([^/]+)", 1).alias("host"),
        F.size("spans").alias("n_spans"),
        F.size(F.filter("spans", lambda s: s["kind"] == F.lit("link"))).alias("n_links"),
        "round",
    )
    return shaped.groupBy("host").applyInPandasWithState(
        update, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout,
    )
