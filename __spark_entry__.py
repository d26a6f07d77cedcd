"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship crawl (the silkworm rebuild's core
capability) over a synthetic web derived from the sf0.001 documents
table. ``queries()``/``oracle_sql()`` cover the SQL-expressible
operator inventory of SURVEY.md §2 (dedup anti-join, first-wins
windows, priority dequeue, retry/backoff, politeness budgets, salting,
union-dedup) plus the training-data pipeline operators (exact /
n-gram-Jaccard / MinHash-LSH / SimHash / embedding dedup, ANN,
text analysis, multimodal plumbing) and join/agg plumbing checks.

Every hash in the corpus operators derives from md5 so the DuckDB
oracle recomputes identical values (xxhash64 exists only in Spark).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from silkworm_spark.operators.dedup_corpus import (  # noqa: E402
    MINHASH_P,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_params,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from silkworm_spark.operators.multimodal import attach_media, decode_media  # noqa: E402
from silkworm_spark.operators.similarity import (  # noqa: E402
    ann_lsh_topk,
    cosine_col,
    cosine_topk,
    embedding_neardup_pairs,
    hyperplanes,
)
from silkworm_spark.operators.textstats import (  # noqa: E402
    LANG_MARKERS,
    _marker_regex,
    fingerprint,
    lang_guess,
    quality_score,
    token_stats,
)

SF_DEFAULT = "/root/testdata/sf0.01"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# flagship: one real crawl, end to end (SURVEY.md §7 step 2)
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Crawl a synthetic web derived from the sf0.001 documents table:
    3 budgeted rounds of dequeue → dedup → fetch-join → parse →
    re-enqueue, checkpointed; returns the harvested documents table
    (doc_id + interleaved span array)."""
    import tempfile

    from silkworm_spark.plans.engine import CrawlConfig, run_crawl
    from silkworm_spark.schemas import SEEDS_SCHEMA, WEB_SCHEMA
    from silkworm_spark.sources.webgen import build_seeds, build_web_df

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    n_pages = docs.count()  # web size = corpus size (ties entry to sf0.001)
    n_hosts = 16
    web = build_web_df(spark, n_pages, n_hosts)
    seeds = spark.createDataFrame(build_seeds(6, n_pages, n_hosts), SEEDS_SCHEMA)
    ckpt = tempfile.mkdtemp(prefix="silkworm_entry_")
    engine = run_crawl(
        spark, web, seeds, None, ckpt,
        CrawlConfig(max_rounds=3, round_budget=100_000),
    )
    return engine.documents()


# --------------------------------------------------------------------------
# queries + oracles
# --------------------------------------------------------------------------

_Q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_SQL: dict[str, str] = {}


def _reg(name: str, fn: Callable[[SparkSession, str], DataFrame], sql: str | None) -> None:
    _Q[name] = fn
    if sql is not None:
        _SQL[name] = sql


# ---- crawl-operator analogs over the events table ----

def _seen_anti_join(spark, sf):
    """Dedup anti-join (engine.py:99-106): drop rows whose key is in
    the seen set. Mid-crawl, the seen set holds a PREFIX of history —
    modeled as users who signed up in the first 10% of the event log —
    so the survivor set is non-empty and the anti-join semantics are
    value-verified (an all-seen fixture would match trivially on 0
    rows). The cut is a 1-row broadcast, not a driver collect."""
    ev = _t(spark, sf, "events")
    cut = ev.agg(F.floor(F.max("event_id") / F.lit(10)).cast("long").alias("cut"))
    seen = (
        ev.crossJoin(F.broadcast(cut))
        .filter((F.col("event_type") == "signup") & (F.col("event_id") < F.col("cut")))
        .select("user_id")
        .distinct()
    )
    return ev.join(seen, "user_id", "left_anti").select("event_id", "user_id")


_reg("seen_anti_join", _seen_anti_join, """
SELECT e.event_id, e.user_id FROM events e
WHERE NOT EXISTS (
  SELECT 1 FROM events s
  WHERE s.event_type = 'signup' AND s.user_id = e.user_id
    AND s.event_id < (SELECT CAST(floor(max(event_id) / 10) AS BIGINT) FROM events))
""")


def _first_wins_window(spark, sf):
    """Intra-round first-wins dedup (operators/dedup.py): first
    occurrence per key by total order (ts, event_id)."""
    from pyspark.sql import Window

    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_id").alias("first_event_id"))
    )


_reg("first_wins_window", _first_wins_window, """
SELECT user_id, event_id AS first_event_id FROM (
  SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events) WHERE rn = 1
""")


def _priority_dequeue_topk(spark, sf):
    """Per-host priority dequeue window (operators/scheduler.py):
    rank by priority within partition, take top-k."""
    from pyspark.sql import Window

    ev = _t(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("event_type", "event_id", "value", "rnk")
    )


_reg("priority_dequeue_topk", _priority_dequeue_topk, """
SELECT event_type, event_id, value, rnk FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rnk
  FROM events) WHERE rnk <= 5
""")


def _retry_backoff(spark, sf):
    """RetryMiddleware columns (operators/retry.py, reference
    middlewares.py:99-153): eligibility filter + exponential backoff."""
    ev = _t(spark, sf, "events").filter(F.col("event_type") == "error")
    retry = (F.col("event_id") % 4).cast("int")
    return (
        ev.withColumn("retry_times", retry)
        .filter(F.col("retry_times") < 3)
        .select(
            "event_id", "retry_times",
            (F.lit(0.5) * F.pow(F.lit(2.0), F.col("retry_times").cast("double"))).alias("backoff_s"),
        )
    )


_reg("retry_backoff", _retry_backoff, """
SELECT event_id, CAST(event_id % 4 AS INT) AS retry_times,
       0.5 * power(2.0, CAST(event_id % 4 AS DOUBLE)) AS backoff_s
FROM events WHERE event_type = 'error' AND event_id % 4 < 3
""")


def _politeness_budget_cap(spark, sf):
    """Per-host budget accounting (operators/scheduler.py): cap each
    key at 3 by arrival order, report rows taken."""
    from pyspark.sql import Window

    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_taken"))
    )


_reg("politeness_budget_cap", _politeness_budget_cap, """
SELECT user_id, count(*) ::BIGINT AS n_taken FROM (
  SELECT user_id, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events) WHERE rn <= 3 GROUP BY user_id
""")


def _frontier_union_dedup(spark, sf):
    """Retries ∪ new-requests union then first-wins (engine round:
    unionByName → dedup)."""
    from pyspark.sql import Window

    ev = _t(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    views = ev.filter(F.col("event_type") == "view")
    cand = clicks.unionByName(views)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


_reg("frontier_union_dedup", _frontier_union_dedup, """
SELECT user_id, event_id, event_type FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM (SELECT * FROM events WHERE event_type = 'click'
        UNION ALL SELECT * FROM events WHERE event_type = 'view'))
WHERE rn = 1
""")


def _hot_key_salts(spark, sf):
    """Hot-host salting plan (operators/scheduler.py): per-key row
    counts and the salt fan-out ceil(cnt/50) each key would get."""
    ev = _t(spark, sf, "events")
    return ev.groupBy("user_id").agg(
        F.count("*").alias("cnt"),
        F.ceil(F.count("*") / 50.0).cast("bigint").alias("salts"),
    )


_reg("hot_key_salts", _hot_key_salts, """
SELECT user_id, count(*)::BIGINT AS cnt, CAST(ceil(count(*) / 50.0) AS BIGINT) AS salts
FROM events GROUP BY user_id
""")


def _sessionize(spark, sf):
    """Stateful-stream analog (SURVEY.md §2.10): session counts per
    user with a 30-minute inactivity gap."""
    from pyspark.sql import Window

    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    return (
        ev.withColumn("new_sess", new_sess)
        .groupBy("user_id")
        .agg(F.sum("new_sess").cast("bigint").alias("n_sessions"))
    )


_reg("sessionize", _sessionize, """
SELECT user_id, sum(new_sess)::BIGINT AS n_sessions FROM (
  SELECT user_id,
         CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
               OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events) GROUP BY user_id
""")


# ---- join / aggregation plumbing (TPC-H-shaped) ----

def _tpch_q1(spark, sf):
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


_reg("tpch_q1", _tpch_q1, """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       count(*)::BIGINT AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""")


def _tpch_q3_topk(spark, sf):
    cust = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = _t(spark, sf, "lineitem")
    return (
        li.join(F.broadcast(orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)),
                li.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_reg("tpch_q3_topk", _tpch_q3_topk, """
SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10
""")


def _tpch_q6(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


_reg("tpch_q6", _tpch_q6, """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
""")


def _tpch_q5(spark, sf):
    """Multi-way join shape (TPC-H Q5, local supplier volume): the
    dim chain region→nation→{customer, supplier} stays broadcast
    (config-scale sides, like robots/host-state in the engine); only
    the two fact tables lineitem⋈orders shuffle, on their join key."""
    reg = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    nat = _t(spark, sf, "nation").join(
        F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    cust = _t(spark, sf, "customer").join(
        F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", "c_nationkey")
    supp = _t(spark, sf, "supplier").join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_nationkey", "n_name")
    orders = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


_reg("tpch_q5", _tpch_q5, """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
""")


def _dim_broadcast_join(spark, sf):
    """Broadcast-dim join (the robots/host-state join shape in
    operators/scheduler.py)."""
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


_reg("dim_broadcast_join", _dim_broadcast_join, """
SELECT c_mktsegment, count(*)::BIGINT AS n_orders, round(sum(o_totalprice), 2) AS total
FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment
""")


# ---- corpus dedup (documents table) ----

_SHINGLE_SQL = r"""
WITH words AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id, ('0x' || substr(md5(array_to_string(w[i:i+{lastoff}], ' ')), 1, 8))::BIGINT AS h
  FROM words, UNNEST(range(1, len(w) - {nm2})) AS t(i))
"""


def _shingle_cte(n: int) -> str:
    return _SHINGLE_SQL.format(lastoff=n - 1, nm2=n - 2)


def _dedup_exact(spark, sf):
    return exact_dedup(_t(spark, sf, "documents"))


_reg("dedup_exact", _dedup_exact, r"""
SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
       min(doc_id) AS keep_doc_id, count(*)::BIGINT AS group_size
FROM documents GROUP BY 1
""")


def _dedup_ngram_jaccard(spark, sf):
    # max_doc_freq=50: the scale guard against stop-shingle join blowup
    # (operators/dedup_corpus.py) — the oracle applies the same df cap
    return ngram_jaccard_pairs(
        _t(spark, sf, "documents"), n=4, threshold=0.1, max_doc_freq=50
    )


_reg("dedup_ngram_jaccard", _dedup_ngram_jaccard, _shingle_cte(4) + """
, dfreq AS (SELECT h, count(*) AS c FROM sh GROUP BY h),
shc AS (SELECT sh.doc_id, sh.h FROM sh JOIN dfreq USING (h) WHERE c <= 50),
sizes AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY doc_id),
inter AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n
          FROM shc a JOIN shc b USING (h) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT a, b, round(n * 1.0 / (sa.sz + sb.sz - n), 4) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
WHERE round(n * 1.0 / (sa.sz + sb.sz - n), 4) >= 0.1
""")


def _minhash_sql(k: int) -> str:
    mins = ",\n    ".join(
        f"min(({a} * (h % {MINHASH_P}) + {b}) % {MINHASH_P}) AS m{i}"
        for i, (a, b) in enumerate(minhash_params(k))
    )
    return mins


def _dedup_minhash_lsh(spark, sf):
    return minhash_lsh_pairs(_t(spark, sf, "documents"), k=16, bands=4, n=4)


def _minhash_lsh_oracle(k: int = 16, bands: int = 4, n: int = 4) -> str:
    r = k // bands
    band_exprs = ",\n      ".join(
        "md5(" + " || ',' || ".join(f"m{j}::VARCHAR" for j in range(b * r, (b + 1) * r)) + f") AS bk{b}"
        for b in range(bands)
    )
    bucket_rows = " UNION ALL ".join(
        f"SELECT doc_id, '{b}:' || bk{b} AS bucket FROM bandkeys" for b in range(bands)
    )
    match_terms = " + ".join(
        f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)" for i in range(k)
    )
    return (
        _shingle_cte(n)
        + f"""
, sig AS (SELECT doc_id, {_minhash_sql(k)} FROM sh GROUP BY doc_id),
bandkeys AS (SELECT doc_id, {band_exprs} FROM sig),
buckets AS ({bucket_rows}),
cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         FROM buckets a JOIN buckets b USING (bucket) WHERE a.doc_id < b.doc_id)
SELECT cand.a, cand.b, round(({match_terms}) * 1.0 / {k}, 4) AS est_jaccard
FROM cand JOIN sig sa ON sa.doc_id = cand.a JOIN sig sb ON sb.doc_id = cand.b
"""
    )


_reg("dedup_minhash_lsh", _dedup_minhash_lsh, _minhash_lsh_oracle())


def _dedup_simhash(spark, sf):
    return simhash_pairs(_t(spark, sf, "documents"), max_hamming=3)


def _simhash_oracle(bits: int = 32, max_hamming: int = 3) -> str:
    sums = ",\n    ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}" for b in range(bits)
    )
    fp = " + ".join(f"(CASE WHEN s{b} > 0 THEN {1 << b}::BIGINT ELSE 0 END)" for b in range(bits))
    return rf"""
WITH w AS (
  SELECT doc_id, ('0x' || substr(md5(word), 1, 8))::BIGINT AS h
  FROM documents, UNNEST(string_split_regex(trim(lower(text)), '\s+')) AS t(word)),
agg AS (SELECT doc_id, {sums} FROM w GROUP BY doc_id),
fp AS (SELECT doc_id, {fp} AS simhash FROM agg)
SELECT a.doc_id AS a, b.doc_id AS b, bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM fp a, fp b WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


_reg("dedup_simhash", _dedup_simhash, _simhash_oracle())


# ---- similarity search (embeddings table) ----

def _embed_cosine_topk(spark, sf):
    emb = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return cosine_topk(emb.filter(F.col("vec_id") != 0), qvec, k=10)


_reg("embed_cosine_topk", _embed_cosine_topk, """
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       round(list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
              sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))), 4) AS cosine
FROM embeddings e, q WHERE e.vec_id != 0
ORDER BY cosine DESC, e.vec_id LIMIT 10
""")


_ANN_PLANES = hyperplanes(4, 64, seed=42)


def _embed_ann_lsh(spark, sf):
    emb = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return ann_lsh_topk(emb.filter(F.col("vec_id") != 0), qvec, n_planes=4, k=5, seed=42)


def _ann_oracle() -> str:
    plane_lits = [
        "[" + ", ".join(f"{x!r}" for x in p) + "]::DOUBLE[]" for p in _ANN_PLANES
    ]
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(v, {pl}) > 0 THEN {1 << i} ELSE 0 END)"
        for i, pl in enumerate(plane_lits)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
q AS (SELECT v AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
SELECT b.vec_id,
       round(list_dot_product(b.v, q.qv) /
             (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
FROM b, q WHERE b.vec_id != 0 AND b.bucket = q.qbucket
ORDER BY cosine DESC, b.vec_id LIMIT 5
"""


_reg("embed_ann_lsh", _embed_ann_lsh, _ann_oracle())


def _embed_ivf_topk(spark, sf):
    """IVF coarse-quantizer ANN (similarity.py): verified in EXACT
    mode — probing every inverted list degenerates to brute force, so
    the DuckDB brute-force top-k is a value-exact oracle. The small-
    nprobe approximate path's recall is pinned in
    tests/test_similarity_recall.py."""
    from silkworm_spark.operators.similarity import ivf_centroids, ivf_topk

    emb = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    cents = ivf_centroids(emb.filter(F.col("vec_id") != 0), n_clusters=8)
    return ivf_topk(
        emb.filter(F.col("vec_id") != 0), cents, qvec, k=10, nprobe=8
    )


_reg("embed_ivf_topk", _embed_ivf_topk, """
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       round(list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
              sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))), 4) AS cosine
FROM embeddings e, q WHERE e.vec_id != 0
ORDER BY cosine DESC, e.vec_id LIMIT 10
""")


def _embed_ivf_topk_nprobe(spark, sf):
    """The PRODUCTION IVF config — partial probe (nprobe=2 of 8 lists),
    the pruned-scan path the engine exists for at 100 TB. Value-exact
    oracle: the quantizer is the deterministic prefix-centroid set
    (first 8 vectors, unit-normalized, 6-dp rounded — no k-means), so
    DuckDB recomputes assignment, probe ranking, and the pruned rerank
    bit-for-bit. The learned-quantizer path stays covered by
    embed_ivf_topk (exact mode) + the recall floor in
    tests/test_similarity_recall.py."""
    from silkworm_spark.operators.similarity import ivf_topk, prefix_centroids

    emb = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    rest = emb.filter(F.col("vec_id") != 0)
    cents = prefix_centroids(rest, n_clusters=8)
    return ivf_topk(rest, cents, qvec, k=10, nprobe=2)


_reg("embed_ivf_topk_nprobe", _embed_ivf_topk_nprobe, """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id != 0),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
         list_transform(v, x -> round(x / sqrt(list_dot_product(v, v)), 6)) AS cv
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)
),
assign AS (
  SELECT vec_id, v, cid,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY list_dot_product(v, cv) DESC, cid) AS rn
  FROM e CROSS JOIN cents
),
probe AS (
  SELECT cid FROM cents, q
  ORDER BY list_dot_product(cv, qv) DESC, cid LIMIT 2
)
SELECT a.vec_id,
       round(list_dot_product(a.v, q.qv) /
             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
FROM assign a, q
WHERE a.rn = 1 AND a.cid IN (SELECT cid FROM probe)
ORDER BY cosine DESC, a.vec_id LIMIT 10
""")


# embed_neardup is the deliberate brute-force crossJoin BASELINE for
# the LSH variant — refuse to run it past oracle-fixture scale so a
# future bench/config change can never launch an all-pairs join on a
# real corpus (VERDICT r5 item 9). 256 MB of embedding parquet ≈ 10^6
# vectors ≈ 5·10^11 pairs.
_NEARDUP_BRUTE_MAX_BYTES = 256 * 1024 * 1024


def _embed_neardup(spark, sf):
    """Brute-force near-dup pairs (exact oracle); the LSH-bucketed
    variant is embed_neardup_lsh (rows-only check)."""
    from silkworm_spark.operators.dedup_corpus import _source_bytes

    emb = _t(spark, sf, "embeddings")
    nb = _source_bytes(emb)
    if nb is not None and nb > _NEARDUP_BRUTE_MAX_BYTES:
        raise ValueError(
            "embed_neardup is the brute-force (all-pairs) oracle baseline; "
            f"refusing {nb} bytes of embeddings (> {_NEARDUP_BRUTE_MAX_BYTES}). "
            "Use embed_neardup_lsh at scale."
        )
    a = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    cos = cosine_col(F.col("va").cast("array<double>"), F.col("vb").cast("array<double>"))
    return (
        a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .withColumn("cosine", F.round(cos, 4))
        .filter(F.col("cosine") >= 0.4)
        .select("a", "b", "cosine")
    )


_reg("embed_neardup", _embed_neardup, """
SELECT a.vec_id AS a, b.vec_id AS b,
       round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
              sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4) AS cosine
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
            (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
             sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4) >= 0.4
""")


def _embed_neardup_lsh(spark, sf):
    """LSH-bucketed near-dup (the 10^10-scale path), verified VALUE-
    EXACT against the brute-force oracle: precision is structural
    (every candidate passes the true-cosine post-filter, so output ⊆
    brute pairs at any config), and this registered configuration
    (2 planes × 12 tables, seed 7) achieves total candidate coverage
    on the sf0.01 fixture — measured recall 1.0, so LSH output ==
    brute output and the crossJoin SQL below is a value-exact oracle.
    Approximate-config recall bounds (fewer tables) are pinned in
    tests/test_similarity_recall.py."""
    return embedding_neardup_pairs(
        _t(spark, sf, "embeddings"), threshold=0.4, n_planes=2, n_tables=12
    )


_reg("embed_neardup_lsh", _embed_neardup_lsh, """
SELECT a.vec_id AS a, b.vec_id AS b,
       round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
              sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4) AS cosine
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
            (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
             sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4) >= 0.4
""")


def _embed_semantic_dedup(spark, sf):
    """SemDeDup (similarity.semantic_dedup): coarse-quantizer clusters
    bound the candidate pairs (the paper's Σ n_c² shape — never
    all-pairs), exact-cosine rerank, connected components, min-id
    representative keep/drop. Value-exact oracle for the same reason
    as embed_ivf_topk_nprobe: the quantizer is the deterministic
    prefix-centroid set (first 8 vectors, unit-normalized, 6-dp), so
    DuckDB recomputes assignment, the within-cluster pair set, and the
    recursive-CTE closure bit-for-bit. The learned-quantizer path
    (ivf_centroids default) stays covered by
    tests/test_corpus_round3.py::test_semantic_dedup_invariants."""
    from silkworm_spark.operators.similarity import prefix_centroids, semantic_dedup

    emb = _t(spark, sf, "embeddings")
    cents = prefix_centroids(emb, n_clusters=8)
    return semantic_dedup(emb, threshold=0.4, centroids=cents)


_reg("embed_semantic_dedup", _embed_semantic_dedup, """
WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
         list_transform(v, x -> round(x / sqrt(list_dot_product(v, v)), 6)) AS cv
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)
),
assign AS (
  SELECT vec_id, v, cid,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY list_dot_product(v, cv) DESC, cid) AS rn
  FROM e CROSS JOIN cents
),
m AS (SELECT vec_id, v, cid FROM assign WHERE rn = 1),
pairs AS (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM m a JOIN m b ON a.cid = b.cid
  WHERE a.vec_id < b.vec_id
    AND round(list_dot_product(a.v, b.v) /
              (sqrt(list_dot_product(a.v, a.v)) *
               sqrt(list_dot_product(b.v, b.v))), 4) >= 0.4),
und AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
reach AS (
  SELECT src, dst FROM und
  UNION
  SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src),
comp AS (SELECT src AS vec_id, min(dst) AS cluster FROM reach GROUP BY src)
SELECT e.vec_id,
       coalesce(c.cluster, e.vec_id) AS cluster,
       coalesce(c.cluster, e.vec_id) = e.vec_id AS keep
FROM e LEFT JOIN comp c USING (vec_id)
""")


# ---- text analysis (documents table) ----

def _text_token_stats(spark, sf):
    return token_stats(_t(spark, sf, "documents"))


_reg("text_token_stats", _text_token_stats, r"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\s+'))::INT AS n_tokens,
       length(text)::INT AS n_chars,
       round(length(regexp_replace(text, '\s+', '', 'g')) * 1.0
             / len(string_split_regex(trim(text), '\s+')), 4) AS avg_token_len
FROM documents
""")


def _text_bpe_tokens(spark, sf):
    """GPT-2 pre-tokenizer token accounting (textstats.bpe_token_stats):
    the RE2-expressible subset of the published pattern, so DuckDB's
    regexp_extract_all counts the same matches (both engines use
    leftmost-first alternation)."""
    from silkworm_spark.operators.textstats import bpe_token_stats

    return bpe_token_stats(_t(spark, sf, "documents"))


_reg("text_bpe_tokens", _text_bpe_tokens, r"""
SELECT doc_id,
       len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+'))::INT AS n_bpe_tokens,
       len(string_split_regex(trim(text), '\s+'))::INT AS n_ws_tokens,
       round(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+')) * 1.0
             / len(string_split_regex(trim(text), '\s+')), 4) AS bpe_per_ws_token
FROM documents
""")


def _script_profile(spark, sf):
    """Unicode-script composition (textstats.script_profile): explicit
    codepoint-block classes, identical in Java regex and RE2, so the
    counts match character-for-character; dominant = first maximal
    ratio in block order, mirrored by the ordered CASE below."""
    from silkworm_spark.operators.textstats import script_profile

    return script_profile(_t(spark, sf, "documents"))


_reg("script_profile", _script_profile, r"""
WITH r AS (
  SELECT doc_id,
         coalesce(round(length(regexp_replace(text, '[^A-Za-zÀ-ɏ]', '', 'g')) * 1.0
               / nullif(length(regexp_replace(text, '\s+', '', 'g')), 0), 4), 0.0) AS latin_ratio,
         coalesce(round(length(regexp_replace(text, '[^Ѐ-ӿ]', '', 'g')) * 1.0
               / nullif(length(regexp_replace(text, '\s+', '', 'g')), 0), 4), 0.0) AS cyrillic_ratio,
         coalesce(round(length(regexp_replace(text, '[^぀-ヿ一-鿿가-힯]', '', 'g')) * 1.0
               / nullif(length(regexp_replace(text, '\s+', '', 'g')), 0), 4), 0.0) AS cjk_ratio,
         coalesce(round(length(regexp_replace(text, '[^؀-ۿ]', '', 'g')) * 1.0
               / nullif(length(regexp_replace(text, '\s+', '', 'g')), 0), 4), 0.0) AS arabic_ratio
  FROM documents)
SELECT doc_id, latin_ratio, cyrillic_ratio, cjk_ratio, arabic_ratio,
       CASE WHEN latin_ratio >= cyrillic_ratio AND latin_ratio >= cjk_ratio
                 AND latin_ratio >= arabic_ratio AND latin_ratio > 0 THEN 'latin'
            WHEN cyrillic_ratio >= cjk_ratio AND cyrillic_ratio >= arabic_ratio
                 AND cyrillic_ratio > 0 THEN 'cyrillic'
            WHEN cjk_ratio >= arabic_ratio AND cjk_ratio > 0 THEN 'cjk'
            WHEN arabic_ratio > 0 THEN 'arabic'
            ELSE 'other' END AS dominant_script
FROM r
""")


def _text_quality(spark, sf):
    return quality_score(_t(spark, sf, "documents"))


_EN_RE = _marker_regex(LANG_MARKERS["en"])

_reg("text_quality", _text_quality, rf"""
SELECT doc_id,
       round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / length(text), 4) AS alpha_ratio,
       round(length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / length(text), 4) AS digit_ratio,
       round(len(regexp_extract_all(lower(text), '{_EN_RE}')) * 1.0
             / len(string_split_regex(trim(text), '\s+')), 4) AS stopword_ratio,
       CASE WHEN length(text) < 100 THEN 'short'
            WHEN length(text) < 300 THEN 'medium' ELSE 'long' END AS len_band
FROM documents
""")


def _lang_id(spark, sf):
    return lang_guess(_t(spark, sf, "documents"))


def _lang_oracle() -> str:
    # argmax by (hits, code) — mirrors array_max over (hits, code) structs
    structs = ", ".join(
        f"{{'hits': len(regexp_extract_all(lower(text), '{_marker_regex(w)}')), 'code': '{c}'}}"
        for c, w in sorted(LANG_MARKERS.items(), reverse=True)
    )
    return f"""
WITH scored AS (SELECT doc_id, list_max([{structs}]) AS best FROM documents)
SELECT doc_id, best.code AS lang_guess, best.hits::INT AS marker_hits FROM scored
"""


_reg("lang_id", _lang_id, _lang_oracle())


def _doc_fingerprint(spark, sf):
    return fingerprint(_t(spark, sf, "documents"))


_reg("doc_fingerprint", _doc_fingerprint, r"""
SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp FROM documents
""")


# ---- multimodal plumbing (documents table as byte source) ----

def _multimodal_decode(spark, sf):
    return decode_media(attach_media(_t(spark, sf, "documents")))


_reg("multimodal_decode", _multimodal_decode, """
WITH m AS (
  SELECT doc_id,
         (['image', 'audio', 'video'])[(doc_id % 3) + 1] AS kind,
         octet_length(encode(text))::INT AS n
  FROM documents)
SELECT doc_id, kind, n AS n_bytes,
       (n % 640 + 1)::INT AS width, ((n * 7) % 480 + 1)::INT AS height,
       (CASE WHEN kind = 'video' THEN n % 24 + 1 ELSE 1 END)::INT AS n_frames,
       'stub' AS decoder
FROM m
""")


def _multimodal_real_decode(spark, sf):
    """REAL stdlib codecs end to end (operators/multimodal +
    functions/media): every document gets genuine container bytes —
    a valid PNG (zlib-deflated pixels), WAV, or multi-frame GIF89a
    (minimal-LZW) — synthesized with dimensions that are pure
    arithmetic on (doc_id, text length); decode_media then actually
    parses those bytes (PNG IHDR, RIFF chunks, GIF block walk), so the
    oracle's arithmetic matches only if the decoders read the real
    containers correctly."""
    from silkworm_spark.operators.multimodal import decode_media, synthesize_media

    docs = _t(spark, sf, "documents")
    return decode_media(synthesize_media(docs)).select(
        "doc_id", "kind", "width", "height", "n_frames", "decoder"
    )


_reg("multimodal_real_decode", _multimodal_real_decode, """
WITH m AS (
  SELECT doc_id,
         (['image', 'audio', 'video'])[(doc_id % 3) + 1] AS kind,
         octet_length(encode(text))::INT AS n
  FROM documents)
SELECT doc_id, kind,
       (CASE kind WHEN 'image' THEN doc_id % 31 + 2
                  WHEN 'audio' THEN 1
                  ELSE doc_id % 15 + 2 END)::INT AS width,
       (CASE kind WHEN 'image' THEN (doc_id * 7) % 23 + 2
                  WHEN 'audio' THEN 8000
                  ELSE (doc_id * 3) % 11 + 2 END)::INT AS height,
       (CASE kind WHEN 'image' THEN 1
                  WHEN 'audio' THEN n % 400 + 20
                  ELSE doc_id % 5 + 2 END)::INT AS n_frames,
       CASE kind WHEN 'image' THEN 'stdlib-png'
                 WHEN 'audio' THEN 'stdlib-wav'
                 ELSE 'stdlib-gif' END AS decoder
FROM m
""")


def _multimodal_frame_sample(spark, sf):
    """Uniform temporal frame sampling over decoded video features:
    floor(i*n/k) indices, computed JVM-side (operators/multimodal.
    frame_sample) over frame counts the GIF decoder read from real
    container bytes."""
    from silkworm_spark.operators.multimodal import (
        decode_media, frame_sample, synthesize_media,
    )

    docs = _t(spark, sf, "documents")
    return frame_sample(decode_media(synthesize_media(docs)), k=4)


_reg("multimodal_frame_sample", _multimodal_frame_sample, """
WITH v AS (
  SELECT doc_id, (doc_id % 5 + 2)::INT AS n
  FROM documents WHERE doc_id % 3 = 2),
s AS (SELECT doc_id, n, unnest(range(least(4, n))) AS i FROM v)
SELECT doc_id, (i * n // least(4, n))::INT AS frame_index FROM s
""")


# ---- composed training-data pipeline (corpus_pipeline.py) ----

def _corpus_clean_pipeline(spark, sf):
    """End-to-end cleaning composition (exact-dedup winners → quality
    filter → per-language token accounting) verified as ONE value —
    the stage outputs compose correctly, not just individually."""
    from silkworm_spark.operators.corpus_pipeline import clean_corpus

    return clean_corpus(_t(spark, sf, "documents"))


_reg("corpus_clean_pipeline", _corpus_clean_pipeline, rf"""
WITH winners AS (
  SELECT min(doc_id) AS doc_id
  FROM documents
  GROUP BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
),
kept AS (SELECT d.doc_id, d.text FROM documents d JOIN winners USING (doc_id)),
q AS (
  SELECT doc_id,
         round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
               / length(text), 4) AS alpha_ratio,
         CASE WHEN length(text) < 100 THEN 'short'
              WHEN length(text) < 300 THEN 'medium' ELSE 'long' END AS len_band
  FROM kept),
lang AS (
  SELECT doc_id, list_max([{", ".join(
      f"{{'hits': len(regexp_extract_all(lower(text), '{_marker_regex(w)}')), 'code': '{c}'}}"
      for c, w in sorted(LANG_MARKERS.items(), reverse=True))}]).code AS lang_guess
  FROM kept),
toks AS (
  SELECT doc_id, len(string_split_regex(trim(text), '\s+'))::INT AS n_tokens
  FROM kept)
SELECT lang_guess, count(*)::BIGINT AS n_docs,
       sum(n_tokens)::BIGINT AS n_tokens,
       round(avg(alpha_ratio), 4) AS avg_alpha
FROM q JOIN lang USING (doc_id) JOIN toks USING (doc_id)
WHERE alpha_ratio >= 0.5 AND len_band != 'short'
GROUP BY lang_guess
""")


def _corpus_hash_sample(spark, sf):
    """Deterministic per-language downsampling by content-hash bucket
    (reproducible across engines/repartitions — the sampling form a
    resumable 100 TB job needs; sampleBy's RNG is not)."""
    from silkworm_spark.operators.corpus_pipeline import hash_stratified_sample

    return hash_stratified_sample(
        _t(spark, sf, "documents"),
        rates_permille={"en": 500, "de": 250, "fr": 250},
        default_permille=100,
    )


_reg("corpus_hash_sample", _corpus_hash_sample, rf"""
WITH lang AS (
  SELECT doc_id, list_max([{", ".join(
      f"{{'hits': len(regexp_extract_all(lower(text), '{_marker_regex(w)}')), 'code': '{c}'}}"
      for c, w in sorted(LANG_MARKERS.items(), reverse=True))}]).code AS lang_guess
  FROM documents)
SELECT d.doc_id, l.lang_guess,
       (('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT % 1000) AS sample_bucket
FROM documents d JOIN lang l USING (doc_id)
WHERE (('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT % 1000) <
      (CASE l.lang_guess WHEN 'en' THEN 500 WHEN 'de' THEN 250
                         WHEN 'fr' THEN 250 ELSE 100 END)
""")


# ---- Gopher-style repetition signals (textstats.repetition_stats) ----

_REPETITION_CTES = r"""
WITH words AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
t1 AS (
  SELECT doc_id, max(c) AS m1, count(*) AS nd1, sum(c) AS n1
  FROM (SELECT doc_id, g, count(*) AS c
        FROM (SELECT doc_id, unnest(w) AS g FROM words) GROUP BY 1, 2)
  GROUP BY 1),
g2 AS (SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g
       FROM words, UNNEST(range(1, len(w))) AS t(i)),
t2 AS (SELECT doc_id, max(c) AS m2, sum(c) AS n2
       FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY 1),
g3 AS (SELECT doc_id, array_to_string(w[i:i+2], ' ') AS g
       FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)),
t3 AS (SELECT doc_id, max(c) AS m3, sum(c) AS n3
       FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2) GROUP BY 1),
rep AS (
  SELECT t1.doc_id, n1::BIGINT AS n_tokens,
         round(m1 * 1.0 / n1, 4) AS top_token_frac,
         round(nd1 * 1.0 / n1, 4) AS distinct_token_ratio,
         coalesce(round(m2 * 1.0 / n2, 4), 0.0) AS top_2gram_frac,
         coalesce(round(m3 * 1.0 / n3, 4), 0.0) AS top_3gram_frac
  FROM t1 LEFT JOIN t2 ON t1.doc_id = t2.doc_id
          LEFT JOIN t3 ON t1.doc_id = t3.doc_id)
"""


def _text_repetition(spark, sf):
    """Gopher repetition filters (Rae et al. 2021): top token / 2-gram /
    3-gram slot occupancy + distinct-token ratio, per document — pure
    per-doc hash aggs, no cross-document joins (textstats.
    repetition_stats)."""
    from silkworm_spark.operators.textstats import repetition_stats

    return repetition_stats(_t(spark, sf, "documents"))


_reg("text_repetition", _text_repetition, _REPETITION_CTES + """
SELECT doc_id, n_tokens, top_token_frac, distinct_token_ratio,
       top_2gram_frac, top_3gram_frac
FROM rep
""")


def _contamination_ngrams(spark, sf):
    """Benchmark decontamination: 4-gram overlap of the corpus
    (doc_id % 50 != 0) against a held-out benchmark slice
    (doc_id % 50 = 0); benchmark gram set broadcast, corpus never
    shuffled (operators/decontam.py)."""
    from silkworm_spark.operators.decontam import ngram_contamination

    docs = _t(spark, sf, "documents")
    return ngram_contamination(
        docs.filter(F.col("doc_id") % 50 != 0),
        docs.filter(F.col("doc_id") % 50 == 0),
        n=4,
    )


_reg("contamination_ngrams", _contamination_ngrams, _shingle_cte(4) + """
, bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 50 = 0),
corp AS (SELECT doc_id, h FROM sh WHERE doc_id % 50 != 0),
sizes AS (SELECT doc_id, count(*) AS n_grams FROM corp GROUP BY 1),
hits AS (SELECT doc_id, count(*) AS n_overlap FROM corp JOIN bench USING (h) GROUP BY 1)
SELECT doc_id, n_overlap::BIGINT AS n_overlap, n_grams::BIGINT AS n_grams,
       round(n_overlap * 1.0 / n_grams, 4) AS overlap_frac
FROM hits JOIN sizes USING (doc_id)
""")


def _dedup_clusters(spark, sf):
    """Near-dup pairs → connected components (hash-min label
    propagation, operators/graph.py): each clustered doc labeled with
    its component's min doc_id — the keep/drop partition corpus dedup
    actually applies (pairs alone aren't transitive)."""
    from silkworm_spark.operators.graph import connected_components

    edges = ngram_jaccard_pairs(
        _t(spark, sf, "documents"), n=4, threshold=0.1, max_doc_freq=50
    )
    return connected_components(edges)


_reg(
    "dedup_clusters",
    _dedup_clusters,
    _shingle_cte(4).replace("WITH words", "WITH RECURSIVE words", 1) + """
, dfreq AS (SELECT h, count(*) AS c FROM sh GROUP BY h),
shc AS (SELECT sh.doc_id, sh.h FROM sh JOIN dfreq USING (h) WHERE c <= 50),
sizes AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY doc_id),
inter AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n
          FROM shc a JOIN shc b USING (h) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
pairs AS (
  SELECT a, b
  FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
  WHERE round(n * 1.0 / (sa.sz + sb.sz - n), 4) >= 0.1),
und AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
reach AS (
  SELECT src, dst FROM und
  UNION
  SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src)
SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src
""",
)


def _link_pagerank(spark, sf):
    """Fixed-point PageRank (operators/graph.py) over a deterministic
    synthetic link graph: each doc links to 3 affine-hash targets
    ``(doc_id*m + a) % n_docs`` — the documents table has no URL
    column, so the graph is derived identically on both sides. Ranks
    are BIGINT fixed-point (scale 10^12, integer division throughout)
    so the DuckDB oracle matches bit-for-bit; float PageRank can't be
    value-hash-oracled because partial-sum order differs per engine."""
    from silkworm_spark.operators.graph import pagerank_fixed_point

    docs = _t(spark, sf, "documents").select("doc_id")
    n = docs.count()
    d = F.col("doc_id")
    # one quadratic map (2-to-1-ish: skewed in-degree), one
    # permutation (keeps the graph connected), one hub map (doc_id %
    # 16: 16 high-authority hubs) — a uniform-in-degree graph would
    # make PageRank trivially uniform and the oracle vacuous
    edges = None
    for dst in ((d * d + 7) % n, (d * 13 + 11) % n, d % 16):
        e = docs.select(d.alias("src"), dst.alias("dst"))
        edges = e if edges is None else edges.unionByName(e)
    edges = edges.filter(F.col("src") != F.col("dst"))
    return pagerank_fixed_point(edges, iterations=3, damping_pct=85)


_PAGERANK_ITER = """
c{i} AS (SELECT e.dst AS node, sum(r.rank // o.outdeg) AS s
       FROM edges e JOIN r{p} r ON r.node = e.src
       JOIN outdeg o ON o.src = e.src GROUP BY e.dst),
r{i} AS (SELECT n.node,
                (SELECT tele FROM consts) + (85 * COALESCE(c.s, 0)) // 100 AS rank
         FROM nodes n LEFT JOIN c{i} c ON c.node = n.node)"""

_reg(
    "link_pagerank",
    _link_pagerank,
    """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * doc_id + 7) % nn.n AS dst FROM documents, nn
  UNION ALL SELECT doc_id, (doc_id * 13 + 11) % nn.n FROM documents, nn
  UNION ALL SELECT doc_id, doc_id % 16 FROM documents),
edges AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
np AS (SELECT count(*) AS n FROM nodes),
outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
consts AS (SELECT 1000000000000 // n AS base,
                  (1000000000000 * 15) // (100 * n) AS tele FROM np),
r0 AS (SELECT node, (SELECT base FROM consts) AS rank FROM nodes),"""
    + ",".join(_PAGERANK_ITER.format(i=i, p=i - 1) for i in (1, 2, 3))
    + """
SELECT node, CAST(rank AS BIGINT) AS rank FROM r3
""",
)


def _corpus_filter_policy(spark, sf):
    """The combined keep/drop policy (corpus_pipeline.filter_corpus):
    token floor + repetition caps + alpha floor, emitting survivors
    with their audit features."""
    from silkworm_spark.operators.corpus_pipeline import filter_corpus

    return filter_corpus(_t(spark, sf, "documents"))


_reg("corpus_filter_policy", _corpus_filter_policy, _REPETITION_CTES + rf"""
, q AS (
  SELECT doc_id,
         round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
               / length(text), 4) AS alpha_ratio
  FROM documents),
lang AS (
  SELECT doc_id, list_max([{", ".join(
      f"{{'hits': len(regexp_extract_all(lower(text), '{_marker_regex(w)}')), 'code': '{c}'}}"
      for c, w in sorted(LANG_MARKERS.items(), reverse=True))}]).code AS lang_guess
  FROM documents)
SELECT rep.doc_id, lang_guess, n_tokens, alpha_ratio,
       top_token_frac, distinct_token_ratio, top_2gram_frac
FROM rep JOIN q ON q.doc_id = rep.doc_id JOIN lang ON lang.doc_id = rep.doc_id
WHERE n_tokens >= 30 AND top_token_frac <= 0.15
  AND distinct_token_ratio >= 0.35 AND top_2gram_frac <= 0.08
  AND alpha_ratio >= 0.5
""")


def _source_mix(spark, sf):
    """Per-(source, language) composition report (corpus_pipeline.
    source_mix): the mixture table a data recipe is checked against."""
    from silkworm_spark.operators.corpus_pipeline import source_mix

    return source_mix(_t(spark, sf, "documents"))


_reg("source_mix", _source_mix, r"""
SELECT source, lang, count(*)::BIGINT AS n_docs,
       sum(len(string_split_regex(trim(text), '\s+')))::BIGINT AS n_tokens,
       round(avg(n_chars), 2) AS avg_chars
FROM documents GROUP BY 1, 2
""")


def _source_mix_weights(spark, sf):
    """Temperature-scaled (α=0.5) per-source sampling weights — the
    data-MIXING step of a pre-training recipe
    (corpus_pipeline.source_mix_weights). sqrt is IEEE-exact, so the
    weight is recomputable cross-engine; round(…, 6) absorbs the
    normalizing sum's order sensitivity over the handful of sources."""
    from silkworm_spark.operators.corpus_pipeline import source_mix_weights

    return source_mix_weights(_t(spark, sf, "documents"))


_reg("source_mix_weights", _source_mix_weights, r"""
WITH t AS (
  SELECT source,
         sum(len(string_split_regex(trim(text), '\s+')))::BIGINT AS n_tokens
  FROM documents GROUP BY 1)
SELECT source, n_tokens,
       round(sqrt(n_tokens::DOUBLE) / sum(sqrt(n_tokens::DOUBLE)) OVER (), 6) AS weight
FROM t
""")


def _token_budget_pack(spark, sf):
    """Mixing recipe → actual epoch sample (corpus_pipeline.
    token_budget_pack): global 12k-token budget allocated per source by
    the √-scaled weights, filled greedily in doc_id order. Value-exact:
    floor(6-dp weight × budget) and an integer window cumsum — every
    intermediate recomputable in SQL."""
    from silkworm_spark.operators.corpus_pipeline import token_budget_pack

    return token_budget_pack(_t(spark, sf, "documents"), budget_tokens=12_000)


_reg("token_budget_pack", _token_budget_pack, r"""
WITH t AS (
  SELECT source,
         sum(len(string_split_regex(trim(text), '\s+')))::BIGINT AS n_tokens
  FROM documents GROUP BY 1),
b AS (
  SELECT source,
         floor(round(sqrt(n_tokens::DOUBLE) / sum(sqrt(n_tokens::DOUBLE)) OVER (), 6)
               * 12000)::BIGINT AS source_budget
  FROM t),
d AS (
  SELECT doc_id, source,
         len(string_split_regex(trim(text), '\s+'))::INT AS n_tokens,
         sum(len(string_split_regex(trim(text), '\s+')))
             OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_tokens
  FROM documents)
SELECT d.doc_id, d.source, d.n_tokens, d.cum_tokens, b.source_budget
FROM d JOIN b USING (source)
WHERE d.cum_tokens <= b.source_budget
""")


def _dedup_substring(spark, sf):
    """Sliding-window exact-substring duplication (Lee et al. 2022
    style): fraction of a doc's distinct 8-gram windows that occur in
    ≥2 documents (dedup_corpus.substring_dup_stats)."""
    from silkworm_spark.operators.dedup_corpus import substring_dup_stats

    return substring_dup_stats(_t(spark, sf, "documents"), n=8)


_reg("dedup_substring", _dedup_substring, _shingle_cte(8) + """
, dfq AS (SELECT h, count(*) AS df FROM sh GROUP BY 1)
SELECT doc_id, count(*)::BIGINT AS n_windows,
       sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_windows,
       round(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS dup_frac
FROM sh JOIN dfq USING (h) GROUP BY doc_id
""")


def _text_entropy(spark, sf):
    """Unigram token Shannon entropy — the cheap perplexity proxy
    (textstats.token_entropy)."""
    from silkworm_spark.operators.textstats import token_entropy

    return token_entropy(_t(spark, sf, "documents"))


_reg("text_entropy", _text_entropy, r"""
WITH words AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
c AS (SELECT doc_id, g, count(*) AS c
      FROM (SELECT doc_id, unnest(w) AS g FROM words) GROUP BY 1, 2),
a AS (SELECT doc_id, sum(c) AS n, sum(c * log2(c)) AS s FROM c GROUP BY 1)
SELECT doc_id, n::BIGINT AS n_tokens, round(log2(n) - s / n, 4) AS entropy
FROM a
""")


def _tfidf_top_terms(spark, sf):
    """Top-3 tf·idf terms per doc (textstats.tfidf_top_terms): term
    aggs + per-doc row_number window, rank key rounded for
    cross-engine order determinism."""
    from silkworm_spark.operators.textstats import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf, "documents"), k=3)


_reg("tfidf_top_terms", _tfidf_top_terms, r"""
WITH words AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
tf AS (SELECT doc_id, g AS term, count(*) AS tf
       FROM (SELECT doc_id, unnest(w) AS g FROM words) GROUP BY 1, 2),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS nd FROM documents),
s AS (SELECT doc_id, term, tf, df, nd,
             round(tf * ln(nd * 1.0 / df), 6) AS s6
      FROM tf JOIN dfq USING (term) CROSS JOIN n),
r AS (SELECT doc_id, term,
             round(tf * ln(nd * 1.0 / df), 4) AS tfidf,
             row_number() OVER (PARTITION BY doc_id ORDER BY s6 DESC, term) AS rank
      FROM s)
SELECT doc_id, term, tfidf, rank::INT AS rank FROM r WHERE rank <= 3
""")


# ---- PII scan / redaction (operators/pii.py) ----
# The synthetic documents contain no organic PII, so the query plants
# it deterministically (same precedent as synthesize_media): every
# 7th/11th/13th doc gains an email / phone / private IP derived from
# its doc_id — the oracle recomputes the identical augmentation, so
# detection AND redaction are value-verified end to end.

_PII_AUG_SQL = r"""
WITH aug AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 7 = 0
            THEN ' contact User' || doc_id::VARCHAR || '@Example.COM'
            ELSE '' END
    || CASE WHEN doc_id % 11 = 0
            THEN ' call 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
            ELSE '' END
    || CASE WHEN doc_id % 13 = 0
            THEN ' from 10.0.' || (doc_id % 256)::VARCHAR || '.'
                 || (doc_id % 100)::VARCHAR
            ELSE '' END AS t
  FROM documents)
"""


def _pii_augment(docs):
    did = F.col("doc_id")
    # Mixed-case on purpose: proves the (?i) email pattern end to end.
    email = F.when(
        did % 7 == 0,
        F.concat(F.lit(" contact User"), did.cast("string"), F.lit("@Example.COM")),
    ).otherwise(F.lit(""))
    phone = F.when(
        did % 11 == 0,
        F.concat(F.lit(" call 555-"),
                 F.lpad((did % 10000).cast("string"), 4, "0")),
    ).otherwise(F.lit(""))
    ip = F.when(
        did % 13 == 0,
        F.concat(F.lit(" from 10.0."), (did % 256).cast("string"),
                 F.lit("."), (did % 100).cast("string")),
    ).otherwise(F.lit(""))
    return docs.withColumn("text_aug", F.concat(F.col("text"), email, phone, ip))


def _pii_scan(spark, sf):
    """PII match counts over the deterministically-augmented corpus
    (operators/pii.py — pure codegen regex, no shuffle)."""
    from silkworm_spark.operators.pii import pii_scan

    return pii_scan(_pii_augment(_t(spark, sf, "documents")), "text_aug")


_reg("pii_scan", _pii_scan, _PII_AUG_SQL + r"""
SELECT doc_id,
       len(regexp_extract_all(t, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))::INT AS n_emails,
       len(regexp_extract_all(t, '\b[0-9]{3}-[0-9]{4}\b'))::INT AS n_phones,
       len(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))::INT AS n_ips,
       (len(regexp_extract_all(t, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))
        + len(regexp_extract_all(t, '\b[0-9]{3}-[0-9]{4}\b'))
        + len(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))) > 0 AS has_pii
FROM aug
""")


def _pii_redact(spark, sf):
    """Redaction twin: every planted email/phone/IP replaced by its
    category token; value-oracled against DuckDB's regexp_replace."""
    from silkworm_spark.operators.pii import redact_pii

    return redact_pii(_pii_augment(_t(spark, sf, "documents")), "text_aug")


_reg("pii_redact", _pii_redact, _PII_AUG_SQL + r"""
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(t, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
           '\b[0-9]{3}-[0-9]{4}\b', '[PHONE]', 'g'),
         '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g') AS redacted
FROM aug
""")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_Q)


def oracle_sql() -> dict[str, str]:
    return dict(_SQL)
