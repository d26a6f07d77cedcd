"""URL-seen dedup — the join of this engine.

Reference semantics (engine.py:99-106): at *enqueue* time, unless
``dont_filter``, drop the URL if seen, else insert into seen and
enqueue. Insert-at-enqueue means duplicates discovered within the same
round must also be suppressed, first occurrence (by FIFO enqueue order)
winning — `dropDuplicates` alone would pick an arbitrary survivor, so
the intra-round step is an explicit first-wins window over the order
key ``(parent_seq, child_index)``.

Scale path: a sharded bloom filter over canonical-URL xxhash64
pre-filters candidates before the exact anti-join — definitely-unseen
rows skip the join entirely; only "maybe seen" rows (true dupes +
~fp-rate) shuffle against the seen table. The filter lives as a
(shard, bits) table in the checkpoint and is probed shard-locally —
only the hash column is exchanged, nothing is broadcast, no process
holds more than one shard's bits (see plans/bloom.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def first_wins_intra_round(candidates: DataFrame) -> DataFrame:
    """Keep the first occurrence of each URL within the round, by
    FIFO enqueue order (reference gets this free from enqueue-time
    insert into the in-memory set).

    Implemented as ``min_by`` over the (parent_seq, child_index) order
    key — a hash aggregation with map-side partial combine, so
    duplicate URLs (the common case in a link graph) collapse *before*
    the shuffle. The row_number-window formulation shuffles and sorts
    every candidate; this shuffles one row per distinct URL."""
    cols = candidates.columns
    others = [c for c in cols if c not in ("url_hash", "url")]
    return (
        candidates.groupBy("url_hash", "url")
        .agg(
            F.min_by(
                F.struct(*others), F.struct("parent_seq", "child_index")
            ).alias("_r")
        )
        .select("url_hash", "url", *[F.col(f"_r.{c}").alias(c) for c in others])
        .select(*cols)
    )


def dedup_candidates(
    candidates: DataFrame,
    seen: DataFrame,
    bloom=None,  # BloomTable | ShardedBloom (duck-typed: is_empty + maybe_hashes)
    n_seen: int | None = None,
    broadcast_max_rows: int = 4_000_000,
) -> DataFrame:
    """Candidates (with url, url_hash, dont_filter, parent_seq,
    child_index) → rows to actually enqueue.

    ``dont_filter`` rows bypass both the check and the seen insert
    (engine.py:99-106; retries rely on this — middlewares.py:137-139,
    verified end-to-end by reference tests test_silkworm_core.py:450-487).

    Two physical strategies, chosen by the size of the seen set:

    - seen fits a broadcast (``n_seen <= broadcast_max_rows``): one
      LINEAR pass — map-side broadcast anti-join, then the first-wins
      aggregation. No bloom probe (pure overhead when the join is
      already map-side), no plan branch, nothing computed twice.
      Anti-join-then-first-wins equals first-wins-then-anti-join:
      the seen filter removes every occurrence of a URL or none.
    - seen too big to broadcast (the 10^10 path): the sharded bloom
      pre-filters candidates so only "maybe seen" rows (true dupes +
      fp-rate) enter the shuffle anti-join. The probe is SHARD-LOCAL
      (bloom.maybe_hashes): only the candidates' 8-byte hash column is
      exchanged, cogrouped with the (shard, bits) table — no broadcast
      of filter bits, no driver residency. The maybe verdicts join back
      onto the first-wins output by url_hash (AQE picks broadcast when
      the maybe set is small). The flagged frame is cached and
      force-materialized, because both branches (maybe /
      definitely-new) consume it in one downstream job — an
      unmaterialized cache would be computed twice concurrently. The
      cache handle rides on ``fresh._dedup_cache`` for the caller to
      release after the round.
    """
    bypass = candidates.filter(F.col("dont_filter"))
    nf = candidates.filter(~F.col("dont_filter"))
    seen_keys = seen.select("url_hash", "url")

    probe_bloom = (
        bloom is not None
        and not bloom.is_empty
        and (n_seen is None or n_seen > broadcast_max_rows)
    )
    if not probe_bloom:
        fresh = first_wins_intra_round(
            nf.join(F.broadcast(seen_keys), on=["url_hash", "url"], how="left_anti")
        )
        out = fresh.unionByName(bypass)
        out._dedup_cache = None
        return out

    maybe = bloom.maybe_hashes(nf, "url_hash").withColumn("_maybe", F.lit(True))
    checked = first_wins_intra_round(nf).join(maybe, on="url_hash", how="left").cache()
    checked.count()  # materialize before the branches fan out
    cols = candidates.columns
    fresh = (
        checked.filter(F.col("_maybe")).drop("_maybe")
        .join(seen_keys, on=["url_hash", "url"], how="left_anti")
        .unionByName(checked.filter(F.col("_maybe").isNull()).drop("_maybe"))
        .select(*cols)
    )
    out = fresh.unionByName(bypass)
    out._dedup_cache = checked
    return out
