"""Query registry: the engine's operator coverage, one runnable query per
operator family from SURVEY.md §2, each with a DuckDB-equivalent oracle.

Contract (driver's __spark_entry__ protocol):
- ``QUERIES[name](spark, sf_dir) -> DataFrame``
- ``ORACLES[name]`` = ANSI SQL DuckDB can run over the same parquet views
  (omitted for non-SQL-expressible ops → rows-only check).

Determinism rules used throughout (so value-hashes match across engines):
- money-column sums accumulate as decimal(18,2) then cast to double
  (order-independent — see operators.aggregates.exact_money_sum);
- integer-valued doubles (l_quantity, counts) sum exactly in fp;
- stddev/variance computed from sum/sumsq, not streaming moments;
- every hash is md5-based (functions.hashing) — portable across engines;
- floating reductions over embeddings are rounded to 9 decimals on both
  sides (error ~1e-15, boundary risk negligible);
- ranking queries always carry a unique tie-break column.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hadoop_gpu_spark.operators import aggregates as agg_ops
from hadoop_gpu_spark.operators import fields as field_ops
from hadoop_gpu_spark.operators import joins as join_ops
from hadoop_gpu_spark.operators import sampling as sample_ops
from hadoop_gpu_spark.operators import sort as sort_ops
from hadoop_gpu_spark.functions.hashing import bucket, bucket_sql, md5_hex
from hadoop_gpu_spark.utils import eager_persist, hierarchical_prefix_sum

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# Queries whose returned frame is a snapshot-read of a sink the query
# already materialized by running a Structured Streaming pipeline at
# construction time. Their BATCH plan says nothing about the streaming
# pipeline (tests/test_streaming.py asserts on those pipelines
# directly), so the registry-wide plan audit skips them. Membership is
# this DECLARED set, not a name-prefix match — a future non-streaming
# query that merely starts with "q_stream" gets audited like everything
# else (tests/test_plan_invariants.py proves the audit flags such a
# query, and test_streaming_snapshot_set_matches_streaming_callers pins
# the set against the queries that actually drive a streaming sink, in
# both directions).
STREAMING_SNAPSHOT: set[str] = {
    "q_stream_hourly",
    "q_stream_sessionize",
    "q_stream_sliding",
    "q_stream_join",
    "q_stream_dedup",
    "q_stream_topk",
    "q_stream_quantiles",
    # r14 registrations (their docstrings required joining this set on
    # registration): the CMS and HLL sketches as Structured Streaming
    # complete-mode aggregates
    "q_stream_cms_freq",
    "q_stream_hll_distinct",
    # r16 continuation: the MinHash-LSH near-dedup census (complete-mode
    # aggregate over band buckets — the dedup family's streaming member)
    "q_stream_lsh_dedup",
}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from hadoop_gpu_spark.tables import load_table

    return load_table(spark, name, sf_dir)


# ---------------------------------------------------------------------------
# §2.4 aggregation — TPC-H Q1-shaped pricing summary (flagship).
# Reference analog: ValueAggregatorJob multi-aggregate single pass
# (M/lib/aggregate/ValueAggregatorJob.java:81) + combiner (X/WordCount.java:61).
# ---------------------------------------------------------------------------
@query(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
           SUM(l_quantity) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    price_dec = F.col("l_extendedprice").cast("decimal(18,2)")
    disc_price = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(12,2)")
    )
    g = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.sum(price_dec).cast("double").alias("sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        (F.col("sum_qty") / F.col("count_order")).alias("avg_qty"),
        (F.col("sum_base_price") / F.col("count_order")).alias("avg_price"),
        "count_order",
    )


# ---------------------------------------------------------------------------
# §2.11 WordCount (X/WordCount.java:17-62): tokenize → explode → count.
# ---------------------------------------------------------------------------
@query(
    "q_wordcount",
    oracle="""
    SELECT token, COUNT(*) AS cnt
    FROM (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token
    """,
)
def q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    return field_ops.token_counts(T(spark, sf_dir, "documents"), "text")


# ---------------------------------------------------------------------------
# §2.11 Grep (X/Grep.java:34-82): regex extract → count (+ rank idiom).
# ---------------------------------------------------------------------------
@query(
    "q_grep",
    oracle="""
    SELECT match, COUNT(*) AS cnt
    FROM (SELECT unnest(regexp_extract_all(text, 's[a-z]+', 0)) AS match FROM documents)
    GROUP BY match
    """,
)
def q_grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return field_ops.regex_extract_counts(T(spark, sf_dir, "documents"), "text", "s[a-z]+")


# ---------------------------------------------------------------------------
# §2.3 reduce-side join (DJ/DataJoinReducerBase.java:92-214) as a star join;
# dims broadcast (DistributedCache idiom, C/filecache/DistributedCache.java:115).
# ---------------------------------------------------------------------------
@query(
    "q_join_star",
    oracle="""
    SELECT r_name, n_name,
           COUNT(*) AS order_cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def q_join_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = T(spark, sf_dir, "orders")
    customer = T(spark, sf_dir, "customer")
    nation = T(spark, sf_dir, "nation")
    region = T(spark, sf_dir, "region")
    j = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return j.groupBy("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("order_cnt"),
        agg_ops.exact_money_sum("o_totalprice", "total_value"),
    )


@query(
    "q_join_broadcast",
    oracle="""
    SELECT p_brand, COUNT(*) AS cnt,
           SUM(l_quantity) AS sum_qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = join_ops.broadcast_join(li, part, on=[li.l_partkey == part.p_partkey])
    return j.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("l_quantity").alias("sum_qty")
    )


# ---------------------------------------------------------------------------
# §2.3 override(...) — rightmost-non-null wins (M/join/OverrideRecordReader.java:36).
# src_a = customer balances; src_b = per-customer max order value (overrides).
# ---------------------------------------------------------------------------
@query(
    "q_join_override",
    oracle="""
    WITH a AS (SELECT c_custkey AS k, c_acctbal AS val FROM customer),
         b AS (SELECT o_custkey AS k, MAX(o_totalprice) AS val FROM orders GROUP BY o_custkey)
    SELECT COALESCE(a.k, b.k) AS k, COALESCE(b.val, a.val) AS val
    FROM a FULL OUTER JOIN b ON a.k = b.k
    """,
)
def q_join_override(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    a = customer.select(F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("val"))
    b = orders.groupBy(F.col("o_custkey").alias("k")).agg(F.max("o_totalprice").alias("val"))
    return join_ops.override_join([a, b], on="k")


@query(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return join_ops.semi_join(customer, orders, on="c_custkey").select("c_custkey", "c_name")


@query(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                            WHERE o_orderpriority = '1-URGENT')
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Restricted to urgent orders so the anti side is non-empty at every SF
    # (every customer has *some* order in this dataset — an unfiltered anti
    # join would pass vacuously on 0 rows).
    customer = T(spark, sf_dir, "customer")
    orders = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return join_ops.anti_join(customer, orders, on="c_custkey").select("c_custkey", "c_name")


@query(
    "q_join_outer_counts",
    oracle="""
    SELECT c_custkey, COUNT(o_orderkey) AS order_cnt
    FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def q_join_outer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    j = customer.join(orders, customer.c_custkey == orders.o_custkey, "left_outer")
    return j.groupBy("c_custkey").agg(F.count("o_orderkey").alias("order_cnt"))


# ---------------------------------------------------------------------------
# §2.5/§2.6 secondary sort (X/SecondarySort.java:51) as ranking analytics.
# ---------------------------------------------------------------------------
@query(
    "q_secondary_sort",
    oracle="""
    SELECT c_nationkey, c_custkey, rn FROM (
      SELECT c_nationkey, c_custkey,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
      FROM customer) WHERE rn <= 3
    """,
)
def q_secondary_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = T(spark, sf_dir, "customer")
    ranked = sort_ops.ranked_within_group(
        customer, ["c_nationkey"], [F.col("c_acctbal").desc(), F.col("c_custkey").asc()]
    )
    return ranked.filter(F.col("rn") <= 3).select(
        "c_nationkey", "c_custkey", F.col("rn").cast("long").alias("rn")
    )


@query(
    "q_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = T(spark, sf_dir, "orders")
    return sort_ops.top_k(
        orders.select("o_orderkey", "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        10,
    )


# ---------------------------------------------------------------------------
# §2.6 total-order sort (M/lib/TotalOrderPartitioner.java:41, X/Sort.java:53).
# Verifiable form: the global rank assigned by the sort.
# ---------------------------------------------------------------------------
@query(
    "q_total_order_sort",
    oracle="""
    SELECT o_orderkey,
           ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
    FROM orders
    """,
)
def q_total_order_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global rank under (o_totalprice DESC, o_orderkey ASC) — the
    total-order-sort gate, restructured r13 from a single global
    row_number window (WindowExec funnels the WHOLE table through one
    task — the plan was the worst soak member at 11.3x for 10x data)
    to the deterministic two-pass rank the sequence-pack pattern uses:

    - bucket = floor(o_totalprice / 64), a pure function of the SORT
      KEY and monotone in it (higher bucket => strictly higher price
      block), so both passes agree under ANY partitioning or caching —
      no sampled range bounds (the r03 q_sequence_pack incident class);
    - pass 1: per-bucket counts -> hierarchical_prefix_sum in bucket-
      DESC order (the shared two-level cumsum; its one global window
      runs over the |buckets|/4096-row superbucket totals);
    - pass 2: within-bucket row_number, parallel across buckets;
      rank = bucket base + within-bucket rank.

    Bucket COUNT is bounded by the price domain (~600k/64 ≈ 9k at any
    SF), so per-bucket rows grow linearly with data — size the width
    literal down if a 100 TB price distribution concentrates further.
    """
    B = 64
    orders = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.floor(F.col("o_totalprice") / B).cast("long").alias("__bucket"),
    )
    sizes = eager_persist(
        orders.groupBy("__bucket").agg(F.count(F.lit(1)).alias("__n"))
    )
    base = hierarchical_prefix_sum(sizes, "__bucket", "__n", descending=True)
    w = (
        Window.partitionBy("__bucket")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    )
    return (
        orders.join(base, "__bucket")
        .select(
            "o_orderkey",
            (F.col("__base") + F.row_number().over(w)).cast("long").alias("rn"),
        )
    )


# ---------------------------------------------------------------------------
# §2.2 field selection (M/lib/FieldSelectionMapReduce.java:64).
# ---------------------------------------------------------------------------
@query(
    "q_field_selection",
    oracle="""
    SELECT doc_id,
           string_split(text, ' ')[1] AS f0,
           string_split(text, ' ')[3] AS f2
    FROM documents
    """,
)
def q_field_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    return field_ops.field_selection(
        docs, "text", " ", [0, 2], aliases=["f0", "f2"], keep_cols=["doc_id"]
    )


# ---------------------------------------------------------------------------
# Beyond-reference scalar: JSON extraction (events.props).
# ---------------------------------------------------------------------------
@query(
    "q_json_extract",
    oracle="""
    SELECT event_type,
           SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS sum_k,
           COUNT(*) AS cnt
    FROM events GROUP BY event_type
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.count(F.lit(1)).alias("cnt")
    )


# ---------------------------------------------------------------------------
# §2.1 deterministic samplers (M/SequenceFileInputFilter.java:146,195).
# ---------------------------------------------------------------------------
@query(
    "q_md5_sample",
    oracle=f"""
    SELECT l_returnflag, COUNT(*) AS cnt, SUM(l_quantity) AS sum_qty
    FROM lineitem
    WHERE {bucket_sql('l_orderkey', 16)} = 0
    GROUP BY l_returnflag
    """,
)
def q_md5_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    s = sample_ops.md5_sample(li, "l_orderkey", 16)
    return s.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("l_quantity").alias("sum_qty")
    )


# ---------------------------------------------------------------------------
# §2.4 ValueHistogram (M/lib/aggregate/ValueHistogram.java:33).
# ---------------------------------------------------------------------------
@query(
    "q_value_histogram",
    oracle=agg_ops.value_histogram_oracle_sql(["l_returnflag"], "l_quantity", "lineitem"),
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg_ops.value_histogram(T(spark, sf_dir, "lineitem"), ["l_returnflag"], "l_quantity")


# ---------------------------------------------------------------------------
# §2.4 descriptor-driven multi-aggregate (ValueAggregatorJob.java:81).
# ---------------------------------------------------------------------------
@query(
    "q_descriptor_agg",
    oracle="""
    SELECT o_orderstatus,
           COUNT(o_orderkey) AS cnt,
           MAX(o_totalprice) AS max_price,
           MIN(o_totalprice) AS min_price,
           COUNT(DISTINCT o_custkey) AS uniq_customers,
           MIN(o_orderpriority) AS min_priority,
           MAX(o_orderpriority) AS max_priority
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_descriptor_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = T(spark, sf_dir, "orders")
    g = orders.groupBy("o_orderstatus").agg(
        F.count("o_orderkey").alias("cnt"),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_totalprice").alias("min_price"),
        F.countDistinct("o_custkey").alias("uniq_customers"),
        F.min("o_orderpriority").alias("min_priority"),
        F.max("o_orderpriority").alias("max_priority"),
    )
    return g


@query(
    "q_uniq_value_count",
    oracle="""
    SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS uniq_count
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_uniq_value_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg_ops.uniq_value_count(T(spark, sf_dir, "lineitem"), ["l_returnflag"], "l_suppkey")


# ---------------------------------------------------------------------------
# §2.7 set operations.
# ---------------------------------------------------------------------------
@query(
    "q_intersect",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 1000
    """,
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    a = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = orders.filter(F.col("o_totalprice") > 1000).select(F.col("o_custkey").alias("c_custkey"))
    return a.intersect(b)


@query(
    "q_except",
    oracle="""
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Subtrahend restricted to finished orders so the difference is
    # non-empty at every SF (see q_join_anti note).
    customer = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return customer.select("c_custkey").exceptAll(
        orders.select(F.col("o_custkey").alias("c_custkey"))
    ).distinct()


@query(
    "q_union_distinct",
    oracle="""
    SELECT k FROM (
      SELECT c_custkey AS k FROM customer WHERE c_acctbal > 0
      UNION
      SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
    )
    """,
)
def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.operators.setops import union_all

    customer = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    a = customer.filter(F.col("c_acctbal") > 0).select(F.col("c_custkey").alias("k"))
    b = orders.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("k"))
    return union_all([a, b]).distinct()


# ---------------------------------------------------------------------------
# Time-bucketed aggregation over events (batch analog of a tumbling window).
# ---------------------------------------------------------------------------
@query(
    "q_events_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour, event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        agg_ops.exact_money_sum("value", "sum_value"),
    )


# ---------------------------------------------------------------------------
# Exact deduplication (hash-groupBy) over documents — LLM-pipeline op.
# ---------------------------------------------------------------------------
@query(
    "q_dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS copies
    FROM documents GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    return docs.groupBy(md5_hex("text").alias("text_hash")).agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("copies")
    )


# ===========================================================================
# Batch 2 — LLM-pipeline operators (north-star surface) + temporal joins +
# the reference's compute workloads.
# ===========================================================================

_SQL_TOKS = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"


# ---------------------------------------------------------------------------
# Text analysis: token counting, quality scoring, fingerprinting.
# ---------------------------------------------------------------------------
@query(
    "q_text_stats",
    oracle=f"""
    SELECT doc_id,
           len({_SQL_TOKS}) AS n_tokens,
           length(text) AS n_chars_ck,
           length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) / length(text) AS punct_ratio,
           list_sum(list_transform({_SQL_TOKS}, t -> length(t))) / len({_SQL_TOKS}) AS mean_tok_len,
           substr(md5(array_to_string(list_sort(list_distinct({_SQL_TOKS})), ' ')), 1, 16) AS fp
    FROM documents
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.functions import text as tx

    docs = T(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.token_count("text").cast("long").alias("n_tokens"),
        tx.char_count("text").cast("long").alias("n_chars_ck"),
        tx.punct_ratio("text").alias("punct_ratio"),
        tx.mean_token_len("text").cast("double").alias("mean_tok_len"),
        tx.fingerprint("text").alias("fp"),
    )


def _lang_hits_sql(markers: list[str]) -> str:
    arr = "[" + ", ".join(f"'{m}'" for m in markers) + "]"
    return f"len(list_filter({_SQL_TOKS}, t -> list_contains({arr}, t)))"


def _lang_id_sql() -> str:
    from hadoop_gpu_spark.functions.text import LANG_MARKERS

    hits = {lang: _lang_hits_sql(m) for lang, m in LANG_MARKERS.items()}
    m = "greatest(" + ", ".join(f"h_{l}" for l in hits) + ")"
    whens = " ".join(f"WHEN h_{l} = __m THEN '{l}'" for l in hits)  # dict order = tie order
    cols = ", ".join(f"{e} AS h_{l}" for l, e in hits.items())
    return f"""
    WITH h AS (SELECT doc_id, lang, {cols} FROM documents),
         g AS (SELECT *, {m} AS __m FROM h)
    SELECT lang, CASE WHEN __m = 0 THEN 'und' {whens} END AS lang_pred, COUNT(*) AS cnt
    FROM g GROUP BY lang, lang_pred
    """


@query("q_lang_id_confusion", oracle=_lang_id_sql())
def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.functions import text as tx

    docs = T(spark, sf_dir, "documents")
    return (
        docs.select("lang", tx.lang_id("text").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "q_quality_score",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             len({_SQL_TOKS})::DOUBLE AS n,
             length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) / length(text) AS pr,
             list_sum(list_transform({_SQL_TOKS}, t -> length(t))) / len({_SQL_TOKS}) AS mtl
      FROM documents)
    SELECT doc_id,
           CASE WHEN mtl >= 2 AND mtl <= 12
                THEN least(n, 256.0) / 256.0 * (1.0 - pr)
                ELSE least(n, 256.0) / 256.0 * (1.0 - pr) / 2 END AS quality
    FROM s
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.functions import text as tx

    docs = T(spark, sf_dir, "documents")
    return docs.select("doc_id", tx.quality_score("text").alias("quality"))


# ---------------------------------------------------------------------------
# MinHash signatures + LSH candidate pairs (dedup.minhash).
# ---------------------------------------------------------------------------
def _minhash_sig_sql() -> str:
    from hadoop_gpu_spark.dedup.minhash import sql_signature_exprs

    return "SELECT doc_id, " + ", ".join(sql_signature_exprs()) + " FROM documents"


@query("q_dedup_minhash", oracle=_minhash_sig_sql())
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.dedup.minhash import minhash_signatures_pandas

    # Arrow-batched numpy fast path, proven bit-identical to
    # minhash_signatures (tests/test_operators.py) — same oracle.
    return minhash_signatures_pandas(T(spark, sf_dir, "documents"), "text", "doc_id")


def _minhash_pairs_sql() -> str:
    from hadoop_gpu_spark.dedup.minhash import NUM_HASHES, ROWS_PER_BAND, sql_band_hash_expr

    bands = NUM_HASHES // ROWS_PER_BAND
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {sql_band_hash_expr(b)} AS band_hash FROM sig"
        for b in range(bands)
    )
    return f"""
    WITH sig AS ({_minhash_sig_sql()}),
         bands AS ({band_selects}),
         ok AS (SELECT band, band_hash FROM bands
                GROUP BY band, band_hash HAVING COUNT(*) BETWEEN 2 AND 64)
    SELECT DISTINCT b1.doc_id AS a, b2.doc_id AS b
    FROM bands b1
    JOIN bands b2 ON b1.band = b2.band AND b1.band_hash = b2.band_hash
                 AND b1.doc_id < b2.doc_id
    JOIN ok ON ok.band = b1.band AND ok.band_hash = b1.band_hash
    """


@query("q_dedup_minhash_pairs", oracle=_minhash_pairs_sql())
def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.dedup.minhash import lsh_candidate_pairs

    return lsh_candidate_pairs(T(spark, sf_dir, "documents"), "text", "doc_id")


# ---------------------------------------------------------------------------
# SimHash fingerprints (dedup.simhash).
# ---------------------------------------------------------------------------
def _simhash_sql() -> str:
    ones = ", ".join(
        f"SUM((h >> {j}) & 1) AS o{j}" for j in range(60)
    )
    packed = " + ".join(f"(CASE WHEN 2 * o{j} > n THEN {1 << j}::BIGINT ELSE 0 END)" for j in range(60))
    return f"""
    WITH tok AS (
      SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h
      FROM (SELECT doc_id, unnest({_SQL_TOKS}) AS t FROM documents)),
    bits AS (SELECT doc_id, COUNT(*) AS n, {ones} FROM tok GROUP BY doc_id)
    SELECT doc_id, {packed} AS simhash FROM bits
    """


@query("q_dedup_simhash", oracle=_simhash_sql())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.dedup.simhash import simhash64_pandas

    # Arrow-batched numpy fast path, proven bit-identical to simhash64
    # (tests/test_operators.py) — same oracle.
    return simhash64_pandas(T(spark, sf_dir, "documents"), "text", "doc_id")


# ---------------------------------------------------------------------------
# n-gram Jaccard verification over LSH candidates (dedup.ngram).
# ---------------------------------------------------------------------------
def _ngram_jaccard_sql() -> str:
    grams = (
        f"list_distinct(list_transform(range(1, greatest(len({_SQL_TOKS}) - 2, 1) + 1), "
        f"i -> array_to_string(list_slice({_SQL_TOKS}, i, i + 2), ' ')))"
    )
    return f"""
    WITH pairs AS ({_minhash_pairs_sql()}),
         g AS (SELECT doc_id, unnest({grams}) AS gram FROM documents),
         sizes AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY doc_id),
         inter AS (SELECT p.a, p.b, COUNT(*) AS i
                   FROM pairs p
                   JOIN g ga ON ga.doc_id = p.a
                   JOIN g gb ON gb.doc_id = p.b AND gb.gram = ga.gram
                   GROUP BY p.a, p.b)
    SELECT p.a, p.b,
           COALESCE(i, 0) / (sa.sz + sb.sz - COALESCE(i, 0)) AS jaccard
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.a
    JOIN sizes sb ON sb.doc_id = p.b
    LEFT JOIN inter ON inter.a = p.a AND inter.b = p.b
    """


@query("q_dedup_ngram_jaccard", oracle=_ngram_jaccard_sql())
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.dedup.minhash import lsh_candidate_pairs
    from hadoop_gpu_spark.dedup.ngram import ngram_jaccard_pairs

    docs = T(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs, "text", "doc_id")
    return ngram_jaccard_pairs(pairs, docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# Similarity search: brute-force cosine top-k (similarity.ann) + gram-matrix
# matmul (ml.matmul — the reference's matmul workload, cell form).
# ---------------------------------------------------------------------------
_COS_SQL = (
    "list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) / "
    "sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]) * "
    "list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))"
)


@query(
    "q_ann_topk",
    oracle=f"""
    WITH scored AS (
      SELECT q.vec_id AS qid, e.vec_id AS nid, {_COS_SQL} AS score
      FROM embeddings q, embeddings e
      WHERE q.vec_id < 8 AND q.vec_id <> e.vec_id),
    ranked AS (
      SELECT qid, nid, score,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nid ASC) AS rank
      FROM scored)
    SELECT qid, nid, round(score, 9) AS score, rank FROM ranked WHERE rank <= 5
    """,
)
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.similarity.ann import brute_force_topk

    emb = T(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8)
    out = brute_force_topk(emb, queries_df, "embedding", "vec_id", k=5)
    return out.select(
        "qid", "nid", F.round("score", 9).alias("score"), F.col("rank").cast("long").alias("rank")
    )


@query(
    "q_matmul_gram",
    oracle="""
    SELECT a.vec_id AS i, b.vec_id AS j,
           round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 9) AS c
    FROM embeddings a, embeddings b
    WHERE a.vec_id < 32 AND b.vec_id < 32 AND a.vec_id <= b.vec_id
    """,
)
def q_matmul_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.ml.matmul import gram_matrix

    emb = T(spark, sf_dir, "embeddings")
    out = gram_matrix(emb, "vec_id", "embedding", 32)
    return out.select("i", "j", F.round("c", 9).alias("c"))


# ---------------------------------------------------------------------------
# k-means (ml.kmeans) — the reference's flagship GPU workload
# (apps/pipes/kmeans/cpu-kmeans2D/cpu-kmeans2D.cc:100-170: assign by
# squared euclidean, recalc = mean of assigned, fixed iteration budget).
#
# The gate runs on integer-quantized coordinates (floor(x * 1e6)): every
# per-cluster SUM is then exact in fp regardless of accumulation order, the
# centroid update is a single deterministic IEEE division, and each
# distance/argmin decision is bit-identical across engines — so the full
# 5-iteration Lloyd loop is SQL-expressible and hash-checkable (unrolled
# DuckDB CTEs below). Ties in the argmin break on cluster id in both
# engines (struct-min in Spark, ORDER BY d, cid in SQL).
# ---------------------------------------------------------------------------
def _kmeans_oracle_sql(k: int = 8, iters: int = 5, scale: int = 1_000_000) -> str:
    parts = [
        f"""
    WITH pts AS (
      SELECT vec_id,
             floor(CAST(embedding[1] AS DOUBLE) * {scale}) AS x,
             floor(CAST(embedding[2] AS DOUBLE) * {scale}) AS y
      FROM embeddings),
    c0 AS (SELECT vec_id AS cid, x, y FROM pts WHERE vec_id < {k})"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""
    a{i} AS (
      SELECT p.vec_id, p.x, p.y, c.cid
      FROM pts p CROSS JOIN c{i - 1} c
      QUALIFY ROW_NUMBER() OVER (PARTITION BY p.vec_id
          ORDER BY (p.x-c.x)*(p.x-c.x)+(p.y-c.y)*(p.y-c.y), c.cid) = 1),
    c{i} AS (
      SELECT c.cid,
             COALESCE(SUM(a.x)/COUNT(a.vec_id), c.x) AS x,
             COALESCE(SUM(a.y)/COUNT(a.vec_id), c.y) AS y,
             COUNT(a.vec_id) AS n
      FROM c{i - 1} c LEFT JOIN a{i} a ON a.cid = c.cid
      GROUP BY c.cid, c.x, c.y)"""
        )
    return (
        ",".join(parts)
        + f"""
    SELECT cid AS cluster_id, x AS c_x, y AS c_y, CAST(n AS BIGINT) AS n_points
    FROM c{iters}"""
    )


@query("q_kmeans", oracle=_kmeans_oracle_sql())
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.ml.kmeans import kmeans_dataframe

    emb = T(spark, sf_dir, "embeddings")
    points = emb.select(
        "vec_id",
        F.floor(F.col("embedding")[0].cast("double") * 1_000_000).cast("double").alias("x"),
        F.floor(F.col("embedding")[1].cast("double") * 1_000_000).cast("double").alias("y"),
    )
    init = points.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("long").alias("cluster_id"), "x", "y"
    )
    return kmeans_dataframe(points, init, ["x", "y"], k=8, max_iter=5)


# ---------------------------------------------------------------------------
# As-of join + sessionization over events (beyond-reference temporal ops).
# ---------------------------------------------------------------------------
@query(
    "q_asof_join",
    oracle="""
    SELECT l.event_id, r.event_id AS signup_event
    FROM (SELECT * FROM events WHERE event_type = 'purchase') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .select("event_id", "user_id", "ts")
        .withColumnRenamed("event_id", "signup_event")
    )
    out = join_ops.asof_join(
        purchases, signups, on="ts", by=["user_id"], right_cols=["signup_event"]
    )
    return out.select("event_id", "signup_event")


@query(
    "q_sessionization",
    oracle="""
    WITH w AS (
      SELECT user_id, event_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events),
    flags AS (
      SELECT user_id, event_id, ts,
             CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts::TIMESTAMP) - epoch_us(prev_ts::TIMESTAMP) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM w)
    SELECT user_id, event_id,
           CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
    FROM flags
    """,
)
def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull() | (gap_us > 1_800_000_000), 1).otherwise(0),
    )
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return flagged.select(
        "user_id", "event_id", F.sum("new_session").over(wsum).alias("session_no")
    )


@query(
    "q_range_join",
    oracle="""
    SELECT b.bucket_id, COUNT(*) AS cnt,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events e
    JOIN (SELECT range AS bucket_id, range * 25.0 AS lo, (range + 1) * 25.0 AS hi
          FROM range(0, 40)) b
      ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.bucket_id
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    buckets = (
        spark.range(0, 40)
        .select(
            F.col("id").alias("bucket_id"),
            (F.col("id") * 25.0).alias("lo"),
            ((F.col("id") + 1) * 25.0).alias("hi"),
        )
    )
    j = join_ops.range_join(ev, F.broadcast(buckets), "value", "lo", "hi")
    return j.groupBy("bucket_id").agg(
        F.count(F.lit(1)).alias("cnt"),
        agg_ops.exact_money_sum("value", "sum_value"),
    )


# ===========================================================================
# Batch 3 — remaining reference-surface coverage through the gate.
# ===========================================================================

# ---------------------------------------------------------------------------
# §2.2 InverseMapper (M/lib/InverseMapper.java:33).
# ---------------------------------------------------------------------------
@query(
    "q_inverse_map",
    oracle="SELECT n_name AS k, n_nationkey AS v FROM nation",
)
def q_inverse_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("v"), F.col("n_name").alias("k")
    )
    return field_ops.inverse(nation, key="v", value="k")


# ---------------------------------------------------------------------------
# §2.11 Grep phase 2: rank matches by count desc (X/Grep.java:71-82,
# LongWritable.DecreasingComparator + single reducer).
# ---------------------------------------------------------------------------
@query(
    "q_grep_ranked",
    oracle="""
    WITH counts AS (
      SELECT match, COUNT(*) AS cnt
      FROM (SELECT unnest(regexp_extract_all(text, 's[a-z]+', 0)) AS match FROM documents)
      GROUP BY match)
    SELECT match, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, match ASC) AS rank
    FROM counts QUALIFY rank <= 20
    """,
)
def q_grep_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 regex matches ranked by count desc (r14 restructure).

    The r04..r13 shape ranked via ``row_number().over(Window.orderBy(...))``
    — a bare global window that funnels the ENTIRE distinct-match counts
    frame (vocabulary-sized: Heaps-law growth, NOT corpus-bounded) through
    one task before the ``rank <= 20`` filter discards all but 20 rows.
    Now: ``orderBy(...).limit(20)`` plans as TakeOrderedAndProject (per-
    partition top-20 heaps, driver-side merge of 20-row candidates — the
    distributed idiom X/Grep.java:71-82's single DecreasingComparator
    reducer exists to approximate), then the rank is attached WITHOUT any
    window: pack the 20 survivors into one ``sort_array(collect_list(...))``
    row (the tie-broken (cnt desc, match asc) total order becomes struct
    order via a negated count) and ``posexplode`` back out, rank = pos + 1.
    Every post-TakeOrdered operator touches exactly 20 rows.
    """
    counts = field_ops.regex_extract_counts(T(spark, sf_dir, "documents"), "text", "s[a-z]+")
    top = counts.orderBy(F.col("cnt").desc(), F.col("match").asc()).limit(20)
    packed = top.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    (-F.col("cnt")).alias("neg_cnt"),
                    F.col("match").alias("match"),
                    F.col("cnt").alias("cnt"),
                )
            )
        ).alias("rows")
    )
    return packed.select(F.posexplode("rows").alias("pos", "row")).select(
        F.col("row.match").alias("match"),
        F.col("row.cnt").alias("cnt"),
        (F.col("pos") + 1).cast("long").alias("rank"),
    )


# ---------------------------------------------------------------------------
# §2.11 PiEstimator (X/PiEstimator.java:66): Monte-Carlo with a
# deterministic md5-derived point sequence (portable across engines).
# ---------------------------------------------------------------------------
_PI_N = 100_000


@query(
    "q_pi_estimator",
    oracle=f"""
    WITH pts AS (
      SELECT ({bucket_sql('i', 1 << 20, seed=1)}) / 1048576.0 AS x,
             ({bucket_sql('i', 1 << 20, seed=2)}) / 1048576.0 AS y
      FROM range(0, {_PI_N}) t(i))
    SELECT COUNT(*) AS n_total,
           SUM(CASE WHEN (x - 0.5) * (x - 0.5) + (y - 0.5) * (y - 0.5) <= 0.25
                    THEN 1 ELSE 0 END)::BIGINT AS n_inside
    FROM pts
    """,
)
def q_pi_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = spark.range(0, _PI_N).select(F.col("id").alias("i"))
    x = bucket("i", 1 << 20, seed=1) / F.lit(float(1 << 20))
    y = bucket("i", 1 << 20, seed=2) / F.lit(float(1 << 20))
    pts = base.select(x.alias("x"), y.alias("y"))
    inside = (F.col("x") - 0.5) * (F.col("x") - 0.5) + (F.col("y") - 0.5) * (F.col("y") - 0.5) <= 0.25
    return pts.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(inside, 1).otherwise(0)).alias("n_inside"),
    )


# ---------------------------------------------------------------------------
# §2.6 TeraSort pipeline (X/terasort): deterministic TeraGen → total-order
# sort, verified as the global rank (TeraValidate's order invariant).
# ---------------------------------------------------------------------------
_TERA_N = 20_000


@query(
    "q_terasort",
    oracle=f"""
    WITH tera AS (
      SELECT substr(md5('tera:42:' || i::VARCHAR), 1, 10) AS key
      FROM range(0, {_TERA_N}) t(i))
    SELECT key, ROW_NUMBER() OVER (ORDER BY key, key) AS rn FROM tera
    """,
)
def q_terasort(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.sources import gen_tera_records

    tera = gen_tera_records(spark, _TERA_N).select("key")
    w = Window.orderBy("key")
    return tera.select("key", F.row_number().over(w).cast("long").alias("rn"))


# ---------------------------------------------------------------------------
# §2.1 MapFile.getClosest (C/io/MapFile.java:539-555): for each probe key,
# the greatest table key <= probe — an as-of join on the sorted key.
# ---------------------------------------------------------------------------
@query(
    "q_mapfile_get_closest",
    oracle="""
    SELECT p.probe, o.o_orderkey AS closest_key
    FROM (SELECT 1 + i * 37 AS probe FROM range(0, 200) t(i)) p
    ASOF LEFT JOIN orders o ON p.probe >= o.o_orderkey
    """,
)
def q_mapfile_get_closest(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = T(spark, sf_dir, "orders")
    probes = spark.range(0, 200).select((1 + F.col("id") * 37).alias("probe"))
    # getClosest returns the matched key itself: carry it as a value column.
    out = join_ops.asof_join(
        probes.withColumnRenamed("probe", "k"),
        orders.select(F.col("o_orderkey").alias("k"), F.col("o_orderkey").alias("closest_key")),
        on="k",
        by=[],
        right_cols=["closest_key"],
    )
    return out.select(F.col("k").alias("probe"), "closest_key")


# ---------------------------------------------------------------------------
# §2.10 the full MR contract through the gate: WordCount via kv_job
# (map → combine → shuffle → sort → reduce), same oracle as native.
# ---------------------------------------------------------------------------
@query(
    "q_kvjob_wordcount",
    oracle="""
    SELECT k, COUNT(*)::BIGINT AS v FROM (
      SELECT unnest(regexp_split_to_array(text, '\\s+')) AS k FROM documents)
    WHERE k <> '' GROUP BY k
    """,
)
def q_kvjob_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.operators.kvjob import wordcount_kvjob

    return wordcount_kvjob(T(spark, sf_dir, "documents"), "text")


# Same job through kv_job's vectorized fast path (map_fn_pandas /
# reduce_fn_pandas — whole Arrow batches, no per-row Python): identical
# oracle, so the gate proves contract equivalence of the two runners
# (reference analog: MapRunner vs MultithreadedMapRunner, same Mapper).
@query(
    "q_kvjob_wordcount_pandas",
    oracle="""
    SELECT k, COUNT(*)::BIGINT AS v FROM (
      SELECT unnest(regexp_split_to_array(text, '\\s+')) AS k FROM documents)
    WHERE k <> '' GROUP BY k
    """,
)
def q_kvjob_wordcount_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.operators.kvjob import wordcount_kvjob_pandas

    return wordcount_kvjob_pandas(T(spark, sf_dir, "documents"), "text")


# ---------------------------------------------------------------------------
# Structured Streaming through the gate: drain the events stream with
# availableNow; must equal the batch q_events_hourly oracle exactly.
# ---------------------------------------------------------------------------
@query(
    "q_stream_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour, event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.streaming import drain_to_memory, events_stream, windowed_counts

    agg = windowed_counts(events_stream(spark, sf_dir))
    return drain_to_memory(agg, "q_stream_hourly_sink")


# ---------------------------------------------------------------------------
# Beyond-reference SQL surface: ROLLUP subtotals (SURVEY.md §2.4 'not
# implemented' in the reference; free in Spark/DuckDB). Group keys are
# sentinel-coalesced so the hash compare never sees subtotal NULLs.
# ---------------------------------------------------------------------------
@query(
    "q_rollup",
    oracle="""
    SELECT COALESCE(l_returnflag, '<all>') AS flag,
           COALESCE(l_linestatus, '<all>') AS status,
           SUM(l_quantity) AS sum_qty, COUNT(*) AS cnt
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("cnt"))
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("status"),
            "sum_qty",
            "cnt",
        )
    )


# ===========================================================================
# Batch 4 — realistic analytics shapes + remaining dedup/similarity gate
# coverage.
# ===========================================================================

# ---------------------------------------------------------------------------
# TPC-H Q3 shape: selective join + revenue agg + top-k (shipping priority).
# ---------------------------------------------------------------------------
@query(
    "q03_shipping_priority",
    oracle="""
    WITH rev AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
             ANY_VALUE(o_orderdate) AS o_orderdate,
             ANY_VALUE(o_orderpriority) AS o_orderpriority
      FROM customer JOIN orders ON c_custkey = o_custkey
                    JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
      GROUP BY l_orderkey)
    SELECT l_orderkey, revenue, o_orderdate, o_orderpriority
    FROM rev ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
    """,
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = T(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = T(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = T(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(12,2)")
    )
    # Fact table first (ARCHITECTURE.md "Fact table first"): Spark sizes
    # a join as the product of its children, so customer ⋈ orders would
    # look larger than lineitem and lineitem would become the broadcast
    # build side. Joining lineitem first builds on orders and customer
    # and streams lineitem; q05 and q10 use the same order.
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, customer.c_custkey == orders.o_custkey)
    )
    g = j.groupBy("l_orderkey").agg(
        F.sum(revenue).cast("double").alias("revenue"),
        F.any_value("o_orderdate").alias("o_orderdate"),
        F.any_value("o_orderpriority").alias("o_orderpriority"),
    )
    return sort_ops.top_k(g, [F.col("revenue").desc(), F.col("l_orderkey").asc()], 10)


# ---------------------------------------------------------------------------
# TPC-H Q5 shape: 6-way join, revenue per nation within a region.
# ---------------------------------------------------------------------------
@query(
    "q05_local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q05_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    supplier = T(spark, sf_dir, "supplier")
    nation = T(spark, sf_dir, "nation")
    region = T(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(12,2)")
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, customer.c_custkey == orders.o_custkey)
        .join(
            supplier,
            (li.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return j.groupBy("n_name").agg(F.sum(revenue).cast("double").alias("revenue"))


# ---------------------------------------------------------------------------
# §2.5-beyond: window FRAME (rowsBetween moving sum) — no reference
# counterpart (SURVEY.md §2.5), free in Spark.
# ---------------------------------------------------------------------------
@query(
    "q_moving_window",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mv3
    FROM orders
    """,
)
def q_moving_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = T(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").alias("mv3"),
    )


# ---------------------------------------------------------------------------
# §2.3 composite join expression through the gate:
# outer(inner(balances, order_counts), max_prices).
# ---------------------------------------------------------------------------
@query(
    "q_join_expr_composite",
    oracle="""
    WITH a AS (SELECT c_custkey AS k, c_acctbal AS val FROM customer),
         b AS (SELECT o_custkey AS k, COUNT(*)::DOUBLE AS val FROM orders GROUP BY 1),
         c AS (SELECT o_custkey AS k, MAX(o_totalprice) AS val FROM orders GROUP BY 1),
         ab AS (SELECT a.k, a.val AS val_0, b.val AS val_1
                FROM a JOIN b ON a.k = b.k)
    SELECT COALESCE(ab.k, c.k) AS k, ab.val_0, ab.val_1, c.val AS val_2
    FROM ab FULL OUTER JOIN c ON ab.k = c.k
    """,
)
def q_join_expr_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.operators.join_expr import compose_join

    customer = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    a = customer.select(F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("val"))
    b = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).cast("double").alias("val")
    )
    c = orders.groupBy(F.col("o_custkey").alias("k")).agg(F.max("o_totalprice").alias("val"))
    return compose_join("outer(inner(a,b), c)", {"a": a, "b": b, "c": c}, on="k")


# ---------------------------------------------------------------------------
# SimHash near-dup pairs through the gate (chunk-bucketed + hamming verify).
# ---------------------------------------------------------------------------
def _simhash_pairs_sql() -> str:
    chunk_selects = " UNION ALL ".join(
        f"SELECT doc_id, {c} AS chunk, (simhash >> {c * 15}) & 32767 AS chunk_val FROM sig"
        for c in range(4)
    )
    return f"""
    WITH sig AS ({_simhash_sql()}),
         chunks AS ({chunk_selects}),
         ok AS (SELECT chunk, chunk_val FROM chunks
                GROUP BY chunk, chunk_val HAVING COUNT(*) BETWEEN 2 AND 256),
         pairs AS (
           SELECT DISTINCT c1.doc_id AS a, c2.doc_id AS b
           FROM chunks c1
           JOIN chunks c2 ON c1.chunk = c2.chunk AND c1.chunk_val = c2.chunk_val
                         AND c1.doc_id < c2.doc_id
           JOIN ok ON ok.chunk = c1.chunk AND ok.chunk_val = c1.chunk_val)
    SELECT p.a, p.b, bit_count(xor(sa.simhash, sb.simhash))::BIGINT AS hamming
    FROM pairs p JOIN sig sa ON sa.doc_id = p.a JOIN sig sb ON sb.doc_id = p.b
    WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
    """


@query("q_dedup_simhash_pairs", oracle=_simhash_pairs_sql())
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.dedup.simhash import simhash_near_dups

    return simhash_near_dups(T(spark, sf_dir, "documents"), "text", "doc_id")


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup pairs (label-blocked to bound the candidate set;
# the LSH/IVF variant is the scale path — similarity.ann).
# ---------------------------------------------------------------------------
_NEARDUP_COS_SQL = (
    "list_dot_product(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]) / "
    "sqrt(list_dot_product(e1.embedding::DOUBLE[], e1.embedding::DOUBLE[]) * "
    "list_dot_product(e2.embedding::DOUBLE[], e2.embedding::DOUBLE[]))"
)


@query(
    "q_dedup_embedding",
    oracle=f"""
    SELECT e1.vec_id AS a, e2.vec_id AS b, round({_NEARDUP_COS_SQL}, 9) AS cos
    FROM embeddings e1 JOIN embeddings e2
      ON e1.label = e2.label AND e1.vec_id < e2.vec_id
    WHERE {_NEARDUP_COS_SQL} >= 0.3
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Threshold 0.3 (not the production-typical 0.8): the synthetic
    # embeddings max out at ~0.38 within-label cosine, and a gate that
    # returns 0 rows proves nothing. 82 pairs at sf0.001, 111 at sf0.01.
    # r16 optimization (guide §1.2): squared norms factored out per SIDE
    # (2 x |V| folds) instead of per PAIR (2 of the 3 folds x |pairs|),
    # and the cosine is projected ONCE then filtered. cosine(a, b) ==
    # dot(a, b) / sqrt(norm_sq(a) * norm_sq(b)) over the identical array
    # values, so every double is bit-identical to the inline form.
    from hadoop_gpu_spark.functions.vectors import dot, norm_sq

    emb = T(spark, sf_dir, "embeddings")
    e1 = emb.select(
        F.col("label"),
        F.col("vec_id").alias("a"),
        F.col("embedding").alias("__v1"),
        norm_sq("embedding").alias("__n1"),
    )
    e2 = emb.select(
        F.col("label"),
        F.col("vec_id").alias("b"),
        F.col("embedding").alias("__v2"),
        norm_sq("embedding").alias("__n2"),
    )
    pairs = e1.join(e2, on="label").filter(F.col("a") < F.col("b"))
    cos = dot("__v1", "__v2") / F.sqrt(F.col("__n1") * F.col("__n2"))
    return (
        pairs.select("a", "b", cos.alias("__cos"))
        .filter(F.col("__cos") >= 0.3)
        .select("a", "b", F.round("__cos", 9).alias("cos"))
    )


# ---------------------------------------------------------------------------
# Per-dataset k-means via applyInPandas (reference NLine-dispatch model:
# one whole dataset per map call). Same quantized-exact construction as
# q_kmeans (floor(x*1e6) + float64 kernel → bit-deterministic), so the
# per-dataset numpy Lloyd loop is hash-checkable against unrolled SQL.
# eps=0.0 early-exit is SQL-equivalent: once centroids are exactly fixed,
# further iterations are the identity.
# ---------------------------------------------------------------------------
def _kmeans_grouped_oracle_sql(
    k: int = 3, iters: int = 4, ds: int = 4, scale: int = 1_000_000
) -> str:
    parts = [
        f"""
    WITH pts AS (
      SELECT CAST(vec_id % {ds} AS BIGINT) AS dataset_id, vec_id AS point_id,
             floor(CAST(embedding[1] AS DOUBLE) * {scale}) AS x,
             floor(CAST(embedding[2] AS DOUBLE) * {scale}) AS y
      FROM embeddings),
    c0 AS (
      SELECT dataset_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY dataset_id ORDER BY point_id) - 1
                  AS BIGINT) AS cid, x, y
      FROM pts QUALIFY cid < {k})"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""
    a{i} AS (
      SELECT p.dataset_id, p.point_id, p.x, p.y, c.cid
      FROM pts p JOIN c{i - 1} c USING (dataset_id)
      QUALIFY ROW_NUMBER() OVER (PARTITION BY p.dataset_id, p.point_id
          ORDER BY (p.x-c.x)*(p.x-c.x)+(p.y-c.y)*(p.y-c.y), c.cid) = 1),
    c{i} AS (
      SELECT c.dataset_id, c.cid,
             COALESCE(SUM(a.x)/COUNT(a.point_id), c.x) AS x,
             COALESCE(SUM(a.y)/COUNT(a.point_id), c.y) AS y,
             COUNT(a.point_id) AS n
      FROM c{i - 1} c LEFT JOIN a{i} a
        ON a.dataset_id = c.dataset_id AND a.cid = c.cid
      GROUP BY c.dataset_id, c.cid, c.x, c.y)"""
        )
    return (
        ",".join(parts)
        + f"""
    SELECT dataset_id, cid AS cluster_id, x AS c_x, y AS c_y,
           CAST(n AS BIGINT) AS n_points
    FROM c{iters}"""
    )


@query("q_kmeans_grouped", oracle=_kmeans_grouped_oracle_sql())
def q_kmeans_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from hadoop_gpu_spark.ml.kmeans import kmeans_grouped

    emb = T(spark, sf_dir, "embeddings")
    points = emb.select(
        (F.col("vec_id") % 4).alias("dataset_id"),
        F.col("vec_id").alias("point_id"),
        F.floor(F.col("embedding")[0].cast("double") * 1_000_000).cast("double").alias("x"),
        F.floor(F.col("embedding")[1].cast("double") * 1_000_000).cast("double").alias("y"),
    )
    return kmeans_grouped(
        points, "dataset_id", ["x", "y"], k=3, max_iter=4, eps=0.0, dtype=np.float64
    )


# ---------------------------------------------------------------------------
# Blocked GEMM (cpu-submatmul.cc:33-176): 8x8 blocks from quantized
# embedding slices (floor(v*1000) → integer-valued doubles, so every
# product and block-sum is exact in fp and the groupBy accumulation order
# cannot matter). Output flattened to scalar cells so the value-hash
# compares plain doubles, not array columns. The fixed vec_id<8 key set
# yields duplicate (i,k)/(k,j) block coordinates on purpose — the
# elementwise sum over k must fold them, as the reference's reduce does.
# ---------------------------------------------------------------------------
_MATMUL_QUANT = "list_transform(embedding[1:64], v -> floor(CAST(v AS DOUBLE) * 1000))"


@query(
    "q_matmul_blocked",
    oracle=f"""
    WITH a AS (
      SELECT CAST(vec_id % 4 AS BIGINT) AS i, vec_id % 2 AS k,
             {_MATMUL_QUANT} AS sa
      FROM embeddings WHERE vec_id < 8),
    b AS (
      SELECT vec_id % 2 AS k, CAST(vec_id % 3 AS BIGINT) AS j,
             {_MATMUL_QUANT} AS sb
      FROM embeddings WHERE vec_id < 8)
    SELECT a.i, b.j, r.r, c.c,
           SUM(sa[r.r * 8 + m.m + 1] * sb[m.m * 8 + c.c + 1]) AS val
    FROM a JOIN b USING (k)
    CROSS JOIN range(8) r(r) CROSS JOIN range(8) c(c) CROSS JOIN range(8) m(m)
    GROUP BY a.i, b.j, r.r, c.c
    """,
)
def q_matmul_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.ml.matmul import matmul_blocked

    emb = T(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 8)
    m = 8  # 8x8 blocks from the first 64 dims
    quant = F.transform(
        F.slice(F.col("embedding"), 1, m * m),
        lambda v: F.floor(v.cast("double") * 1000).cast("double"),
    )
    blocks_a = emb.select(
        (F.col("vec_id") % 4).alias("i"),
        (F.col("vec_id") % 2).alias("k"),
        quant.alias("sa"),
    )
    blocks_b = emb.select(
        (F.col("vec_id") % 2).alias("k"),
        (F.col("vec_id") % 3).alias("j"),
        quant.alias("sb"),
    )
    out = matmul_blocked(blocks_a, blocks_b, m)
    flat = out.select("i", "j", F.posexplode("c"))
    return flat.select(
        "i",
        "j",
        F.floor(F.col("pos") / m).cast("long").alias("r"),
        (F.col("pos") % m).cast("long").alias("c"),
        F.col("col").alias("val"),
    )


# ---------------------------------------------------------------------------
# IVF approximate search — deterministic end to end (fixed centroids =
# vec_id<16, argmin ties on centroid_id, ranking ties on nid), so the full
# assign → probe(nprobe=2) → cosine-top-5 chain is SQL-expressible.
# ---------------------------------------------------------------------------
def _eucl_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}::DOUBLE[], {b}::DOUBLE[]), "
        "p -> (p[1]-p[2])*(p[1]-p[2])))"
    )


_IVF_COS_SQL = (
    "list_dot_product(p.qv::DOUBLE[], a.embedding::DOUBLE[]) / "
    "sqrt(list_dot_product(p.qv::DOUBLE[], p.qv::DOUBLE[]) * "
    "list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))"
)


@query(
    "q_ann_ivf",
    oracle=f"""
    WITH cen AS (
      SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE vec_id < 16),
    assigned AS (
      SELECT e.vec_id AS nid, e.embedding, c.centroid_id
      FROM embeddings e CROSS JOIN cen c
      QUALIFY ROW_NUMBER() OVER (PARTITION BY e.vec_id
          ORDER BY {_eucl_sql('e.embedding', 'c.embedding')}, c.centroid_id) = 1),
    probes AS (
      SELECT q.vec_id AS qid, q.embedding AS qv, c.centroid_id
      FROM embeddings q CROSS JOIN cen c
      WHERE q.vec_id < 8
      QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
          ORDER BY {_eucl_sql('q.embedding', 'c.embedding')}, c.centroid_id) <= 2),
    scored AS (
      SELECT p.qid, a.nid, {_IVF_COS_SQL} AS score
      FROM probes p JOIN assigned a USING (centroid_id)
      WHERE p.qid <> a.nid),
    ranked AS (
      SELECT qid, nid, score,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nid ASC) AS rank
      FROM scored)
    SELECT qid, nid, round(score, 9) AS score, rank FROM ranked WHERE rank <= 5
    """,
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe over deterministic centroids.

    Triple-scan adjudication (r08, per the written test in
    ARCHITECTURE.md): the three embeddings scans are semantically
    DISTINCT, filter-pushed passes — the full-corpus assignment pass,
    the vec_id<8 probe set, and the vec_id<16 centroid table (the
    latter two prune to handfuls of rows AT THE PARQUET SCAN via
    PushedFilters; in production they would be separate tables). No
    branch recomputes a derived subtree, so the scans stand — the
    q_bloom_decontaminate precedent."""
    from hadoop_gpu_spark.similarity.ann import assign_to_centroids_pandas, ivf_topk

    emb = T(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding")
    )
    # vectorized assignment kernel, bit-identical to the expression form
    # (parity-pinned) — same oracle
    assigned = assign_to_centroids_pandas(emb, centroids, "embedding", "vec_id")
    queries_df = emb.filter(F.col("vec_id") < 8)
    out = ivf_topk(assigned, centroids, queries_df, "embedding", "vec_id", k=5, nprobe=2)
    return out.select(
        "qid", "nid", F.round("score", 9).alias("score"), F.col("rank").cast("long").alias("rank")
    )


# ---------------------------------------------------------------------------
# §2.8 scalar-function subset (string/date/math) in one pass — the
# reference does all of this in user code (SURVEY.md §2.8); here it is the
# built-in expression library, exercised end-to-end.
# ---------------------------------------------------------------------------
@query(
    "q_scalar_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           upper(l_returnflag) AS flag_u,
           substr(l_linestatus, 1, 1) AS status_c,
           concat(l_returnflag, '/', l_linestatus) AS tag,
           length(l_returnflag) AS flag_len,
           abs(l_quantity - 25.0) AS qty_dev,
           CAST(floor(l_extendedprice / 1000) AS BIGINT) AS price_k,
           CAST(l_orderkey % 7 AS BIGINT) AS key_mod,
           power(l_quantity, 2) AS qty_sq,
           year(l_shipdate) AS ship_year,
           month(l_shipdate) AS ship_month,
           day(l_shipdate) AS ship_day
    FROM lineitem WHERE l_orderkey % 100 = 0
    """,
)
def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.upper("l_returnflag").alias("flag_u"),
        F.substring("l_linestatus", 1, 1).alias("status_c"),
        F.concat(F.col("l_returnflag"), F.lit("/"), F.col("l_linestatus")).alias("tag"),
        F.length("l_returnflag").cast("long").alias("flag_len"),
        F.abs(F.col("l_quantity") - 25.0).alias("qty_dev"),
        F.floor(F.col("l_extendedprice") / 1000).alias("price_k"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
        F.pow(F.col("l_quantity"), 2).alias("qty_sq"),
        F.year("l_shipdate").cast("long").alias("ship_year"),
        F.month("l_shipdate").cast("long").alias("ship_month"),
        F.dayofmonth("l_shipdate").cast("long").alias("ship_day"),
    )


# ---------------------------------------------------------------------------
# Beyond-reference: CUBE over two dimensions (sentinel-coalesced like
# q_rollup so subtotal NULLs never reach the hash compare).
# ---------------------------------------------------------------------------
@query(
    "q_cube",
    oracle="""
    SELECT COALESCE(o_orderstatus, '<all>') AS status,
           COALESCE(o_orderpriority, '<all>') AS priority,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = T(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            agg_ops.exact_money_sum("o_totalprice", "total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("priority"),
            "cnt",
            "total",
        )
    )


# ---------------------------------------------------------------------------
# §2.10 hybrid dual-implementation operator through the gate: per-doc token
# stats computed by a HybridOp (CPU pandas path; identical-GPU contract).
# Routing degrades to CPU here (no CUDA) — exactly the reference's
# behavior on GPU-less nodes.
# ---------------------------------------------------------------------------
@query(
    "q_hybrid_token_stats",
    oracle=f"""
    SELECT doc_id, len({_SQL_TOKS})::BIGINT AS n_tokens
    FROM documents
    """,
)
def q_hybrid_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from hadoop_gpu_spark.hybrid import HybridOp, run_hybrid

    def count_tokens(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "n_tokens": pdf["text"].str.split().str.len()}
            )

    op = HybridOp(
        "token_stats", count_tokens, "doc_id long, n_tokens long", gpu_fn=count_tokens
    )
    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    return run_hybrid(op, docs)


# ---------------------------------------------------------------------------
# §2.10 subprocess (streaming/pipes) surface through the gate: documents
# piped through `cat`, counted per language downstream.
# ---------------------------------------------------------------------------
@query(
    "q_pipe_lang_counts",
    oracle="SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang",
)
def q_pipe_lang_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.operators.pipes import pipe_map

    docs = T(spark, sf_dir, "documents").select(
        F.col("lang").alias("k"), F.col("doc_id").cast("string").alias("v")
    )
    piped = pipe_map(docs, "cat")
    return piped.groupBy(F.col("k").alias("lang")).agg(F.count(F.lit(1)).alias("cnt"))


# ---------------------------------------------------------------------------
# Scale-path sketches: approx distinct + approx quantiles — the 100 TB
# replacements for exact countDistinct / percentile. Sketch values are not
# bit-portable across engines, so the gate asserts exact BOUNDS instead:
# each approx value is compared Spark-side against the exact answer and
# exported as a boolean; the oracle carries the exact counts plus literal
# TRUEs. A sketch drifting out of tolerance fails the hash like any other
# wrong value.
# ---------------------------------------------------------------------------
@query(
    "q_approx_stats",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS suppliers_exact,
           TRUE AS approx_distinct_ok,
           TRUE AS approx_median_ok,
           TRUE AS approx_p99_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    # r16 optimization (guide §1.2 per-task work): the two exact
    # percentiles share ONE array-form aggregate — separate
    # percentile(col, p) calls each buffer the whole column
    # independently (measured 2.23s vs 1.56s for the pair at sf0.1),
    # and the array form reads the same counts map at both fractions,
    # so the values are bit-identical (verified bitwise). Same fusion
    # for the approx pair: one QuantileSummaries sketch queried at both
    # fractions (0.93s -> 0.59s); the sketch sees the identical row
    # stream either way and the gate exports tolerance BOOLEANS.
    g = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("suppliers_exact"),
        F.approx_count_distinct("l_suppkey").alias("__ad"),
        F.expr("percentile(l_extendedprice, array(0.5D, 0.99D))").alias("__p"),
        F.percentile_approx(
            "l_extendedprice", F.array(F.lit(0.5), F.lit(0.99))
        ).alias("__pa"),
    )
    tol = lambda a, b: F.abs(a - b) <= 0.02 * F.abs(b)  # noqa: E731
    return g.select(
        "l_returnflag",
        "suppliers_exact",
        (
            F.abs(F.col("__ad") - F.col("suppliers_exact"))
            <= 0.1 * F.abs(F.col("suppliers_exact"))
        ).alias("approx_distinct_ok"),
        tol(F.col("__pa")[0], F.col("__p")[0]).alias("approx_median_ok"),
        tol(F.col("__pa")[1], F.col("__p")[1]).alias("approx_p99_ok"),
    )


# ---------------------------------------------------------------------------
# §2.3 reduce-side tagged join in literal cogroup form through the gate.
# ---------------------------------------------------------------------------
@query(
    "q_cogroup_join",
    oracle="""
    SELECT n.n_nationkey, n.n_name, r.r_name
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def q_cogroup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.operators.joins import cogroup_tagged_join

    nation = T(spark, sf_dir, "nation").select(
        F.col("n_regionkey").alias("rk"), "n_nationkey", "n_name"
    )
    region = T(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("rk"), "r_name"
    )
    out = cogroup_tagged_join(nation, region, "rk")
    return out.select("n_nationkey", "n_name", "r_name")


# ---------------------------------------------------------------------------
# TPC-H Q4 shape: order-priority checking — semi join (EXISTS) with a date
# window.
# ---------------------------------------------------------------------------
@query(
    "q04_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    matched = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


# ---------------------------------------------------------------------------
# TPC-H Q6 shape: forecasting revenue — pure scan filter + single agg
# (the canonical predicate-pushdown benchmark query).
# ---------------------------------------------------------------------------
@query(
    "q06_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS cnt
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * F.col("l_discount").cast("decimal(12,2)")
    return li.agg(
        F.sum(rev).cast("double").alias("revenue"), F.count(F.lit(1)).alias("cnt")
    )


# ---------------------------------------------------------------------------
# TPC-H Q18 shape: large-volume customers — HAVING over a grouped sum,
# re-joined to detail.
# ---------------------------------------------------------------------------
@query(
    "q18_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, SUM(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150)
    SELECT c_custkey, o_orderkey, total_qty,
           o_totalprice
    FROM big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    orders = T(spark, sf_dir, "orders")
    customer = T(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    j = big.join(orders, big.l_orderkey == orders.o_orderkey).join(
        customer, orders.o_custkey == customer.c_custkey
    )
    return j.select("c_custkey", "o_orderkey", "total_qty", "o_totalprice")


# ---------------------------------------------------------------------------
# Fuzzy dedup metric: edit distance over LSH candidate-pair prefixes
# (levenshtein — identical classical semantics in both engines).
# ---------------------------------------------------------------------------
@query(
    "q_dedup_edit_distance",
    oracle=f"""
    WITH pairs AS ({_minhash_pairs_sql()})
    SELECT p.a, p.b,
           levenshtein(substr(da.text, 1, 80), substr(db.text, 1, 80))::BIGINT AS edit_dist
    FROM pairs p
    JOIN documents da ON da.doc_id = p.a
    JOIN documents db ON db.doc_id = p.b
    """,
)
def q_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates verified by 80-char-prefix edit distance.

    100 TB shape (r08 adjudication fix, same idiom as
    ngram_jaccard_pairs): the candidate id set semi-filters the corpus
    BEFORE the prefix fetch, the candidate-sized (id, prefix) frame is
    cached once and read by both pair sides, and the pair frame is
    cached so the LSH pipeline runs once (not once per id-union branch
    plus the final join). One full-corpus scan for signatures + one
    semi-filtered fetch scan, unhinted joins (AQE picks the strategy
    from measured candidate cardinality)."""
    from hadoop_gpu_spark.dedup.minhash import lsh_candidate_pairs

    docs = T(spark, sf_dir, "documents")
    pairs = eager_persist(lsh_candidate_pairs(docs, "text", "doc_id").select("a", "b"))
    ids = (
        pairs.select(F.col("a").alias("doc_id"))
        .union(pairs.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    cand = eager_persist(
        docs.join(ids, "doc_id", "left_semi").select(
            "doc_id", F.substring("text", 1, 80).alias("__t")
        )
    )
    da = cand.select(F.col("doc_id").alias("a"), F.col("__t").alias("__ta"))
    db = cand.select(F.col("doc_id").alias("b"), F.col("__t").alias("__tb"))
    return (
        pairs.join(da, "a")
        .join(db, "b")
        .select("a", "b", F.levenshtein("__ta", "__tb").cast("long").alias("edit_dist"))
    )


# ---------------------------------------------------------------------------
# Skew-mitigation machinery under the gate: two-level salted aggregation
# must equal the plain GROUP BY (oracle IS the plain form).
# ---------------------------------------------------------------------------
@query(
    "q_salted_agg",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS cnt, SUM(l_quantity) AS sum_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.operators.skew import salted_agg

    li = T(spark, sf_dir, "lineitem")
    return salted_agg(
        li,
        ["l_returnflag"],
        n_salts=8,
        salt_source="l_orderkey",
        partials=[(F.count(F.lit(1)), "cnt"), (F.sum("l_quantity"), "sum_qty")],
        finals=[("sum", "cnt"), ("sum", "sum_qty")],
    )


# ---------------------------------------------------------------------------
# Connected components (iterative label propagation) vs a recursive-CTE
# transitive-closure oracle — the distributed iterative algorithm under
# the exact-match gate.
# ---------------------------------------------------------------------------
def _cc_oracle_sql(pairs_sql: str) -> str:
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
    nodes AS (SELECT DISTINCT a AS n FROM edges),
    reach(src, dst) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    )
    SELECT src AS node, MIN(dst) AS component FROM reach GROUP BY src
    """


@query("q_connected_components", oracle=_cc_oracle_sql(_minhash_pairs_sql()))
def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.dedup.components import connected_components
    from hadoop_gpu_spark.dedup.minhash import lsh_candidate_pairs

    pairs = lsh_candidate_pairs(T(spark, sf_dir, "documents"), "text", "doc_id")
    return connected_components(pairs)


# ---------------------------------------------------------------------------
# The flagship LLM-pipeline op end-to-end under the gate: near_dedup
# survivors (exact + LSH + Jaccard-verified + transitive components) vs a
# fully SQL-expressed oracle of the same pipeline.
# ---------------------------------------------------------------------------
def _near_dedup_oracle_sql(threshold: float = 0.8) -> str:
    return f"""
    WITH RECURSIVE
    g AS (SELECT doc_id, md5(text) AS h FROM documents),
    keep AS (SELECT h, MIN(doc_id) AS k FROM g GROUP BY h),
    exact_pairs AS (
      SELECT keep.k AS a, g.doc_id AS b
      FROM g JOIN keep ON g.h = keep.h WHERE g.doc_id <> keep.k),
    near_pairs AS (
      SELECT a, b FROM ({_ngram_jaccard_sql()}) WHERE jaccard >= {threshold}),
    dup_pairs AS (SELECT a, b FROM exact_pairs UNION SELECT a, b FROM near_pairs),
    edges AS (SELECT a, b FROM dup_pairs UNION SELECT b AS a, a AS b FROM dup_pairs),
    nodes AS (SELECT DISTINCT a AS n FROM edges),
    reach(src, dst) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comp AS (SELECT src AS node, MIN(dst) AS component FROM reach GROUP BY src),
    losers AS (SELECT node FROM comp WHERE node <> component)
    SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT node FROM losers)
    """


@query("q_near_dedup_survivors", oracle=_near_dedup_oracle_sql())
def q_near_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.dedup import near_dedup

    docs = T(spark, sf_dir, "documents")
    return near_dedup(docs, jaccard_threshold=0.8).select("doc_id")


# ---------------------------------------------------------------------------
# TPC-H Q10 shape: returned-item reporting — revenue lost to returns per
# customer+nation, top 20.
# ---------------------------------------------------------------------------
@query(
    "q10_returned_items",
    oracle="""
    WITH rev AS (
      SELECT c_custkey, ANY_VALUE(c_name) AS c_name, ANY_VALUE(n_name) AS n_name,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
      GROUP BY c_custkey)
    SELECT c_custkey, c_name, n_name, revenue
    FROM rev ORDER BY revenue DESC, c_custkey ASC LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = T(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(12,2)")
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, customer.c_custkey == orders.o_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    )
    g = j.groupBy("c_custkey").agg(
        F.any_value("c_name").alias("c_name"),
        F.any_value("n_name").alias("n_name"),
        F.sum(revenue).cast("double").alias("revenue"),
    )
    return sort_ops.top_k(g, [F.col("revenue").desc(), F.col("c_custkey").asc()], 20)


# ---------------------------------------------------------------------------
# TPC-H Q14 shape: promotion effect — conditional aggregation ratio.
# ---------------------------------------------------------------------------
@query(
    "q14_promo_effect",
    oracle="""
    SELECT
      CAST(SUM(CASE WHEN p_type = 'PROMO'
               THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))
               ELSE 0 END) AS DOUBLE) AS promo_revenue,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part").select("p_partkey", "p_type")
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(12,2)")
    )
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return j.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", revenue).otherwise(F.lit(0).cast("decimal(12,2)")))
        .cast("double")
        .alias("promo_revenue"),
        F.sum(revenue).cast("double").alias("total_revenue"),
    )


# ---------------------------------------------------------------------------
# TPC-H remainder: the full relational-shape suite (Q2/Q7/Q8/Q9/Q11/Q12/Q13/
# Q15/Q16/Q17/Q19/Q20/Q21/Q22 adapted to the driver schema — no partsupp
# table, no shipmode/commitdate columns, so each query keeps the *plan shape*
# (correlated aggregates, scalar subqueries, exists/anti, OR-of-ANDs
# pushdown) against the columns that exist).
#
# Scale notes (100 TB): nation/region are O(10²) rows → always broadcast;
# one-row scalar aggregates (totals, maxima, averages) are crossJoin-broadcast
# so the threshold compare runs map-side with no extra shuffle; every
# correlated-aggregate rewrite (Q17's per-part avg, Q20's per-supplier sum)
# is a groupBy re-joined on its own key, which AQE plans as a shuffle that
# reuses the join's hash partitioning.
# ---------------------------------------------------------------------------
@query(
    "q02_min_cost_supplier",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    cand AS (
      SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal
      FROM part JOIN ps ON p_partkey = l_partkey
                JOIN supplier ON l_suppkey = s_suppkey
      WHERE p_size <= 10)
    SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal
    FROM cand
    QUALIFY row_number() OVER (
      PARTITION BY p_partkey ORDER BY s_acctbal ASC, s_suppkey ASC) = 1
    """,
)
def q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest supplier per part (correlated-min rewritten
    as a window argmin; reference analog: reduce-side secondary sort,
    X/SecondarySort.java:51)."""
    part = T(spark, sf_dir, "part").filter(F.col("p_size") <= 10).select(
        "p_partkey", "p_name"
    )
    ps = T(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    supplier = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    cand = part.join(ps, part.p_partkey == ps.l_partkey).join(
        supplier, ps.l_suppkey == supplier.s_suppkey
    )
    w = Window.partitionBy("p_partkey").orderBy(
        F.col("s_acctbal").asc(), F.col("s_suppkey").asc()
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal")
    )


@query(
    "q07_volume_shipping",
    oracle="""
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ns ON s_nationkey = ns.n_nationkey
    JOIN nation nc ON c_nationkey = nc.n_nationkey
    WHERE (ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
       OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
)
def q07_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume by year — double nation join
    with a symmetric pair predicate."""
    li = T(spark, sf_dir, "lineitem")
    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supplier = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    ns = T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(12,2)")
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
    ).agg(F.sum(revenue).cast("double").alias("revenue"))


@query(
    "q08_market_share",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CASE WHEN n2.n_name = 'NATION_5'
                    THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))
                    ELSE 0 END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
             AS mkt_share
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region ON n1.n_regionkey = r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
    GROUP BY 1
    """,
)
def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of regional revenue per year —
    conditional-aggregation ratio over an 8-way star join."""
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    customer = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supplier = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey")
    )
    n2 = T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    region = T(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(12,2)")
    )
    j = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
    )
    nation_rev = F.sum(
        F.when(F.col("supp_nation") == "NATION_5", revenue).otherwise(
            F.lit(0).cast("decimal(12,2)")
        )
    ).cast("double")
    return j.groupBy(F.year("o_orderdate").cast("long").alias("o_year")).agg(
        (nation_rev / F.sum(revenue).cast("double")).alias("mkt_share")
    )


@query(
    "q09_product_type_profit",
    oracle="""
    SELECT n_name AS nation, CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS profit
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
)
def q09_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and year for parts matching
    a name pattern (LIKE filter feeding a multi-join agg)."""
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part").filter(F.col("p_name").like("%red%")).select("p_partkey")
    supplier = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(12,2)")
    )
    j = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return j.groupBy(
        F.col("n_name").alias("nation"),
        F.year("l_shipdate").cast("long").alias("o_year"),
    ).agg(F.sum(revenue).cast("double").alias("profit"))


@query(
    "q11_important_stock",
    oracle="""
    WITH pv AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS part_value
      FROM lineitem GROUP BY l_partkey),
    tot AS (
      SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS total_value
      FROM lineitem)
    SELECT l_partkey, part_value FROM pv, tot
    WHERE part_value > 0.0008 * total_value
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose value exceeds a fraction of the global
    total — scalar-subquery threshold. The per-part sums stay decimal
    (exact and associative), so the global total is re-aggregated from the
    materialized per-part frame rather than a second pass over the fact
    table — one lineitem scan instead of two, and the intermediate is only
    |parts| rows. Re-summing *doubles* would be order-dependent; the
    decimal re-sum is bit-identical to DuckDB's direct total. The one-row
    total is broadcast so the threshold filter runs map-side.

    The intermediate outlives this function (the returned plan reads it
    twice), so it is utils.eager_persist — cached with recomputable
    lineage, released by session.release in bench/test teardown (a bare un-released .persist() — the r03 leak pattern —
    stays banned module-wide by
    tests/test_plans.py::test_persist_always_paired_with_cleanup; the
    r07 eager-localCheckpoint variant was retired because checkpoint
    blocks are non-replicated and lineage-free: one lost executor at
    cluster scale would make the returned plan unrecoverable)."""
    li = T(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(12,2)")
    )
    pv_dec = eager_persist(
        li.groupBy("l_partkey").agg(F.sum(revenue).alias("rev_dec"))
    )
    tot = pv_dec.agg(F.sum("rev_dec").cast("double").alias("total_value"))
    return (
        pv_dec.select("l_partkey", F.col("rev_dec").cast("double").alias("part_value"))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("part_value") > F.lit(0.0008) * F.col("total_value"))
        .select("l_partkey", "part_value")
    )


@query(
    "q12_priority_shipping",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
    GROUP BY l_linestatus
    """,
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: late-shipment priority counts — non-equi date
    predicate between the two join sides + conditional counts."""
    li = T(spark, sf_dir, "lineitem")
    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    return j.groupBy("l_linestatus").agg(
        F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
        F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
    )


@query(
    "q13_customer_distribution",
    oracle="""
    WITH c_orders AS (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey)
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM c_orders GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: orders-per-customer histogram — left outer join with
    an extra join-side predicate, then a two-level aggregation."""
    customer = T(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "5-LOW")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with maximum quarterly revenue — scalar
    MAX subquery over a derived aggregate, equality on exact doubles.

    ``rev`` is utils.eager_persist (the q11 pattern): the scalar-MAX
    branch otherwise replans the whole filtered-lineitem scan + groupBy
    as a second pruned branch — a second fact-table pass at 100 TB (the
    dual-branch recompute class; found by the r07 registry scan-count
    audit, fixed in its r08 rotation slot). Both the MAX and the filter
    now read the cached |suppliers|-row frame, lineage intact."""
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(12,2)")
    )
    rev = eager_persist(
        li.groupBy("l_suppkey").agg(
            F.sum(revenue).cast("double").alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    supplier = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q16_parts_supplier_counts",
    oracle="""
    SELECT p_brand, p_type, p_size, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per (brand, type, size)
    excluding a supplier denylist — anti join + COUNT(DISTINCT)."""
    part = T(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = T(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    li = T(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    li = li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
    j = part.join(li, part.p_partkey == li.l_partkey)
    return j.groupBy("p_brand", "p_type", "p_size").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    WITH pa AS (SELECT l_partkey AS pk, AVG(l_quantity) AS avg_qty
                FROM lineitem GROUP BY l_partkey)
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
                  JOIN pa ON pk = l_partkey
    WHERE p_brand = 'Brand#3' AND l_quantity < 0.5 * avg_qty
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue of below-half-average-quantity lineitems —
    correlated per-part AVG rewritten as a self-agg re-join. l_quantity is
    integer-valued so the fp sum inside AVG is exact and the threshold is
    bit-deterministic in both engines."""
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3").select("p_partkey")
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    j = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(pa, li.l_partkey == pa.pk)
        .filter(F.col("l_quantity") < F.lit(0.5) * F.col("avg_qty"))
    )
    return j.agg(
        (
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast("double")
            / F.lit(7.0)
        ).alias("avg_yearly")
    )


@query(
    "q19_discounted_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs mixed-table predicate. Catalyst extracts
    the common part-side disjunction (brand/size) below the join while the
    mixed brand×quantity conjuncts stay in the post-join filter."""
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#2") & s.between(1, 5) & q.between(1, 11))
        | ((b == "Brand#3") & s.between(1, 10) & q.between(10, 20))
        | ((b == "Brand#4") & s.between(1, 15) & q.between(20, 30))
    )
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(12,2)")
    )
    j = li.join(part, li.l_partkey == part.p_partkey).filter(cond)
    return j.agg(F.sum(revenue).cast("double").alias("revenue"))


@query(
    "q20_potential_promotion",
    oracle="""
    WITH sq AS (
      SELECT l_suppkey, SUM(l_quantity) AS qty
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_name LIKE 'red%'
      GROUP BY l_suppkey),
    thr AS (SELECT 1.2 * (SUM(qty) / COUNT(*)) AS cut FROM sq)
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (SELECT l_suppkey FROM sq, thr WHERE qty > cut)
    """,
)
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who moved above-average volume of
    name-matched parts — nested aggregate subquery feeding a semi join. The
    threshold is relative (1.2× mean per-supplier quantity) so selectivity
    is stable across scale factors; per-supplier sums of integer-valued
    quantities are fp-exact, making the mean bit-deterministic.

    The per-supplier frame is utils.eager_persist (the q11 pattern):
    both the scalar threshold and the filter read the cached
    |suppliers|-row frame, instead of the threshold branch re-running
    the lineitem✕red join + groupBy as a second pruned plan branch (the
    dual-branch recompute class the r06 plan audit surfaced — one full
    extra fact-table scan at 100 TB). Cached, not localCheckpoint-ed:
    lineage stays recomputable, so executor loss degrades to recompute
    rather than killing the returned plan (r07 ADVICE)."""
    li = T(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")
    red = T(spark, sf_dir, "part").filter(F.col("p_name").like("red%")).select("p_partkey")
    sq = eager_persist(
        li.join(red, li.l_partkey == red.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    thr = sq.agg((F.lit(1.2) * (F.sum("qty") / F.count("*"))).alias("cut"))
    hot = sq.crossJoin(F.broadcast(thr)).filter(F.col("qty") > F.col("cut"))
    supplier = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return supplier.join(
        hot, supplier.s_suppkey == hot.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


@query(
    "q21_waiting_orders",
    oracle="""
    WITH l1 AS (
      SELECT DISTINCT l_orderkey, l_suppkey
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_returnflag = 'R' AND o_orderstatus = 'F'),
    la AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    lr AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R')
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM l1 JOIN supplier ON l1.l_suppkey = s_suppkey
    WHERE EXISTS (SELECT 1 FROM la
                  WHERE la.l_orderkey = l1.l_orderkey AND la.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lr
                      WHERE lr.l_orderkey = l1.l_orderkey AND lr.l_suppkey <> l1.l_suppkey)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name ASC LIMIT 20
    """,
)
def q21_waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: sole-returning supplier on multi-supplier finished
    orders.

    The EXISTS / NOT-EXISTS pair collapses to one per-order aggregation:
    an order qualifies iff it has >= 2 distinct suppliers AND exactly one
    distinct returning supplier (who is then the waiting one). ONE scan of
    lineitem + one orderkey-keyed aggregation replaces the three
    scan+distinct self-joins of the literal formulation — the shape that
    survives 100 TB (the oracle keeps the EXISTS form as the semantic
    spec). Round-1 plan had 3 lineitem scans / 4 shuffles; this has 1 / 2.
    """
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_returnflag")
    # Two plain aggregations (pair-level then order-level) instead of two
    # countDistinct over one groupBy: distinct-aggregate pairs would plan
    # an Expand (2x the scan rows through the shuffle); this shape moves
    # each distinct (order, supplier) pair exactly once.
    per_pair = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("has_r")
    )
    per_order = per_pair.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("has_r").alias("n_r_supp"),
        F.min(F.when(F.col("has_r") == 1, F.col("l_suppkey"))).alias("r_suppkey"),
    )
    orders = T(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey"
    )
    cand = (
        per_order.filter((F.col("n_supp") >= 2) & (F.col("n_r_supp") == 1))
        .join(orders, per_order.l_orderkey == orders.o_orderkey)
        .select("r_suppkey")
    )
    supplier = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    g = (
        cand.join(F.broadcast(supplier), cand.r_suppkey == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )
    return sort_ops.top_k(g, [F.col("numwait").desc(), F.col("s_name").asc()], 20)


@query(
    "q22_global_sales",
    oracle="""
    WITH recent AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'),
    avgbal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS cut
      FROM customer WHERE c_acctbal > 0.0)
    SELECT CAST(c_custkey % 7 AS BIGINT) AS cntrycode,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
    FROM customer, avgbal
    WHERE c_acctbal > cut
      AND c_custkey NOT IN (SELECT o_custkey FROM recent)
    GROUP BY 1
    """,
)
def q22_global_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: rich-but-dormant customers per derived country code —
    scalar AVG subquery (decimal-exact mean over positive balances) + anti
    join against recent purchasers. All customers have *some* order in this
    dataset, so dormancy is defined against a recent-order window.

    The 2-column customer projection is utils.eager_persist: the
    avg-balance scalar branch otherwise re-scans customer as a second
    pruned plan branch (scan-level only — the cheap instance of the
    dual-branch class, fixed in its r08 rotation slot alongside q15).
    Both the mean and the main filter read one cached scan."""
    customer = eager_persist(
        T(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    )
    recent = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    pos = customer.filter(F.col("c_acctbal") > 0.0)
    avgbal = pos.agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double")
            / F.count("*").cast("double")
        ).alias("cut")
    )
    return (
        customer.crossJoin(F.broadcast(avgbal))
        .filter(F.col("c_acctbal") > F.col("cut"))
        .join(recent, customer.c_custkey == recent.o_custkey, "left_anti")
        .groupBy((F.col("c_custkey") % 7).cast("long").alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double").alias("totacctbal"),
        )
    )


# ===========================================================================
# Batch 7 (round 2) — queries registered AFTER the driver window; they get
# their driver CORRECTNESS row when the window rotates next round (locally
# sf0.01-verified this round, like everything else).
# ===========================================================================

# ---------------------------------------------------------------------------
# §2.1/§2.11 JDBC end-to-end (DBCountPageView, X/DBCountPageView.java:72):
# an access log is WRITTEN to a real embedded-Derby database via the JDBC
# sink (DBOutputFormat, M/lib/db/DBOutputFormat.java:44), READ back through
# the chunked JDBC source (DBInputFormat, M/lib/db/DBInputFormat.java:49,
# 4 range-partitioned reading tasks), and aggregated into per-url pageview
# counts. Derby ships inside Spark's own jars, so the path runs wherever
# Spark does. The DB roundtrip is an identity, so the oracle aggregates the
# source rows directly.
# ---------------------------------------------------------------------------
@query(
    "q_db_count_pageview",
    oracle="""
    SELECT event_type AS url, CAST(COUNT(*) AS BIGINT) AS pageview
    FROM events WHERE user_id % 20 = 0
    GROUP BY event_type
    """,
)
def q_db_count_pageview(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Registry-contract note: this query has EAGER side effects at
    # DataFrame-construction time (a JDBC write plus a 1-row max() read) —
    # the DB roundtrip IS the operator under test, so the write cannot be
    # deferred into the returned plan. The Derby database lives at ONE
    # fixed per-process scratch path (not a fresh mkdtemp per call) and the
    # table is written with mode="overwrite", so repeated gate/bench
    # invocations reuse the same directory instead of accumulating
    # orphaned databases WITHIN a process; dead predecessors' dirs are
    # swept here at construction (r10, queue #7 — the accumulation source
    # was non-pytest processes: driver runs, bench, verify drives; the
    # path stays pid-keyed because embedded Derby holds an exclusive
    # db.lck, so a FIXED name would break under concurrent processes).
    import os
    import tempfile

    from hadoop_gpu_spark.sources import DERBY_DRIVER, derby_url, read_jdbc, write_jdbc
    from hadoop_gpu_spark.utils import sweep_stale_scratch

    sweep_stale_scratch()

    access = (
        T(spark, sf_dir, "events")
        .filter(F.col("user_id") % 20 == 0)
        .select(F.col("user_id"), F.col("event_type").alias("url"))
    )
    scratch = os.path.join(tempfile.gettempdir(), f"hgs_derby_scratch_{os.getpid()}")
    url = derby_url(scratch)
    write_jdbc(access, url, "access", mode="overwrite", driver=DERBY_DRIVER)
    hi = access.agg(F.max("user_id")).first()[0] or 1
    back = read_jdbc(
        spark,
        url,
        "access",
        num_partitions=4,
        driver=DERBY_DRIVER,
        partitionColumn="user_id",
        lowerBound="0",
        upperBound=str(int(hi) + 1),
    )
    return back.groupBy("url").agg(F.count(F.lit(1)).alias("pageview"))


# ---------------------------------------------------------------------------
# TF-IDF top terms per document — the classic two-level corpus statistic:
# term frequencies at scan, document frequencies derived IN-PLAN as
# COUNT(*) OVER (PARTITION BY term) on the tf frame, per-doc top-3 via a
# second window. Scores are rounded BEFORE ranking so cross-engine libm
# drift in ln() cannot flip a rank (ties then break on term).
#
# 100 TB shape (r08 rewrite, closing VERDICT r07 "what's wrong" #3): the
# previous tf.join(broadcast(dfreq)) replanned tf's WHOLE subtree inside
# the broadcast build side — the corpus tokenize+explode+groupBy ran
# twice — and dfreq is VOCABULARY-sized (Heaps-law uniques at 100 TB of
# text are hundreds of millions of rows: past Spark's 8 GB broadcast
# hard cap, the query dies outright). The window form computes df on the
# one tf frame already in flight: ONE tokenize pass, no vocab-sized
# broadcast, no scalar crossJoin branch. n_docs is a construction-time
# count of documents (a 1-value driver literal — the k-row-collect class
# the centroid passes already use; the scan projects zero columns so it
# is parquet-footer cheap and touches no text).
# ---------------------------------------------------------------------------
@query(
    "q_tfidf_topterms",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks GROUP BY doc_id, term),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, round(tf.tf * ln(n_docs / df), 9) AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN nd),
    ranked AS (
      SELECT doc_id, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term ASC) AS rank
      FROM scored)
    SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 3
    """,
)
def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.operators.fields import tokenize

    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = float(docs.count())  # 1-value driver literal, zero-column scan
    toks = docs.select("doc_id", F.explode(tokenize("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    w_term = Window.partitionBy("term")
    scored = tf.withColumn(
        "df", F.count(F.lit(1)).over(w_term)
    ).withColumn(
        "tfidf",
        F.round(F.col("tf") * F.log(F.lit(n_docs) / F.col("df")), 9),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tfidf", "rank")
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling: 10% per language, selected by md5
# order (portable, seedless, reproducible on any engine — the sampling
# idiom for training-data splits where sample membership must be stable
# across reruns and engines).
# ---------------------------------------------------------------------------
@query(
    "q_stratified_sample",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                 ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n_lang
      FROM documents)
    SELECT doc_id, lang, rn AS sample_rank FROM t WHERE rn <= ceil(n_lang * 0.1)
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents").select("doc_id", "lang")
    key = F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8"))
    w = Window.partitionBy("lang").orderBy(key.asc(), F.col("doc_id").asc())
    wc = Window.partitionBy("lang")
    return (
        docs.withColumn("rn", F.row_number().over(w).cast("long"))
        .withColumn("n_lang", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") <= F.ceil(F.col("n_lang") * 0.1))
        .select("doc_id", "lang", F.col("rn").alias("sample_rank"))
    )


# ---------------------------------------------------------------------------
# Boilerplate detection: per-document fraction of word-3-grams that are
# corpus-frequent (appear in >= 5 distinct documents). 3-grams, not
# 5-grams: in this synthetic corpus no 5-gram reaches 5 documents (the
# gate would pass vacuously with every ratio 0); 151 3-grams do, giving
# 339+ docs a nonzero ratio at sf0.01. Scale shape: grams move as u32
# hashes only; the frequent-gram set (tiny by construction) broadcasts
# back for the per-doc ratio — text itself never shuffles.
# ---------------------------------------------------------------------------
def _gram_hash_sql(n: int) -> str:
    join = " || ' ' || ".join(f"{_SQL_TOKS}[i+{o}]" for o in range(n))
    return (
        f"list_distinct(list_transform(range(1, greatest(len({_SQL_TOKS}) - {n - 1}, 0) + 1), "
        f"i -> ('0x' || substr(md5({join}), 1, 8))::BIGINT))"
    )


def _bind_once(expr, build):
    """Evaluate ``expr`` once per row and pass the VALUE into ``build``.

    Higher-order-function lambdas run interpreted (no common-subexpression
    elimination), so an array expression referenced inside a transform
    lambda is re-computed on every lambda invocation — e.g. re-splitting
    the document text once per n-gram position (measured 19.5s for
    q_boilerplate_ratio at sf0.1; 0.7s after binding). Wrapping the value
    in a 1-element array and transforming over it binds it to a lambda
    variable, which IS evaluated once.
    """
    return F.transform(F.array(expr), build)[0]


def _gram_hashes(toks, n: int):
    """Distinct u32 hashes of word n-grams over a token-array column."""
    ghash = lambda g: F.conv(  # noqa: E731
        F.substring(F.md5(F.encode(g, "UTF-8")), 1, 8), 16, 10
    ).cast("long")

    def build(t):
        gram = lambda i: F.concat_ws(  # noqa: E731
            " ", *[F.element_at(t, i + o) for o in range(n)]
        )
        return F.when(
            F.size(t) >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(t) - (n - 1)), lambda i: ghash(gram(i))
                )
            ),
        ).otherwise(F.array().cast("array<bigint>"))

    return _bind_once(toks, build)


@query(
    "q_boilerplate_ratio",
    oracle=f"""
    WITH gr AS (SELECT doc_id, unnest({_gram_hash_sql(3)}) AS gh FROM documents),
    freq AS (SELECT gh, CAST(COUNT(*) AS BIGINT) AS nd FROM gr GROUP BY gh),
    hits AS (
      SELECT gr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN freq.nd >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
      FROM gr JOIN freq USING (gh) GROUP BY gr.doc_id)
    SELECT doc_id, n_grams, n_boiler,
           round(n_boiler / CAST(n_grams AS DOUBLE), 9) AS boiler_ratio
    FROM hits
    """,
)
def q_boilerplate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.operators.fields import tokenize

    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    gr = docs.select("doc_id", F.explode(_gram_hashes(tokenize("text"), 3)).alias("gh"))
    freq = gr.groupBy("gh").agg(F.count(F.lit(1)).alias("nd"))
    frequent = freq.filter(F.col("nd") >= 5).select("gh")
    # ONE counting pass: total grams and boilerplate grams come from the
    # same aggregation — a left join against the frequent set (unique
    # gh, so no row multiplication) with a conditional count, instead of
    # a left_semi + a second groupBy + a doc_id join. The former three
    # evaluations of the tokenize+gram+explode subtree (freq, n_grams,
    # boiler) drop to the two inherent to the corpus-stats shape (r06
    # continuation; values unchanged — a missing match counts 0 exactly
    # where na.fill(0) used to). The join is UNHINTED (r08, the
    # vocab-broadcast class, VERDICT r07 #4): `frequent` is
    # corpus-cardinality (distinct frequent n-grams grow with the
    # corpus — far past the 8 GB broadcast cap at 100 TB), so the
    # strategy is AQE's runtime call: broadcast while it measures small,
    # gh-keyed shuffle join when it doesn't.
    flagged = gr.join(frequent.withColumn("__b", F.lit(1)), "gh", "left")
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count("__b").alias("n_boiler"),
    ).select(
        "doc_id",
        "n_grams",
        "n_boiler",
        F.round(F.col("n_boiler") / F.col("n_grams").cast("double"), 9).alias(
            "boiler_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# Per-language quality gate: keep the top half of each language's documents
# by quality score (integer rank logic — rank by rounded score with doc_id
# tie-break, keep rn <= ceil(n/2) — so the cut is engine-portable).
# ---------------------------------------------------------------------------
_QUALITY_SQL = f"""
      SELECT doc_id, lang,
             round(CASE WHEN mtl >= 2 AND mtl <= 12
                   THEN least(n, 256.0) / 256.0 * (1.0 - pr)
                   ELSE least(n, 256.0) / 256.0 * (1.0 - pr) / 2 END, 9) AS q
      FROM (SELECT doc_id, lang,
                   len({_SQL_TOKS})::DOUBLE AS n,
                   length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) / length(text) AS pr,
                   list_sum(list_transform({_SQL_TOKS}, t -> length(t))) / len({_SQL_TOKS}) AS mtl
            FROM documents)"""


@query(
    "q_quality_filter",
    oracle=f"""
    WITH s AS ({_QUALITY_SQL}),
    r AS (
      SELECT doc_id, lang, q,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY q DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n_lang
      FROM s)
    SELECT doc_id, lang, q AS quality FROM r WHERE rn <= ceil(n_lang / 2.0)
    """,
)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.functions import text as tx

    docs = T(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "lang", F.round(tx.quality_score("text"), 9).alias("quality")
    )
    w = Window.partitionBy("lang").orderBy(F.col("quality").desc(), F.col("doc_id").asc())
    wc = Window.partitionBy("lang")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .withColumn("n_lang", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") <= F.ceil(F.col("n_lang") / 2.0))
        .select("doc_id", "lang", "quality")
    )


# ---------------------------------------------------------------------------
# Corpus bigram frequency top-20 (n-gram LM statistics over the corpus —
# explode word bigrams, count, unique-tie top-k).
# ---------------------------------------------------------------------------
@query(
    "q_ngram_freq",
    oracle=f"""
    WITH t AS (SELECT {_SQL_TOKS} AS toks FROM documents),
    bg AS (SELECT unnest(list_transform(range(1, len(toks)),
                         i -> toks[i] || ' ' || toks[i+1])) AS bigram
           FROM t),
    counts AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cnt FROM bg GROUP BY bigram)
    SELECT bigram, cnt FROM counts ORDER BY cnt DESC, bigram ASC LIMIT 20
    """,
)
def q_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.operators.fields import tokenize

    docs = T(spark, sf_dir, "documents").select("text")
    bigrams = _bind_once(
        tokenize("text"),
        lambda t: F.when(
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.concat_ws(" ", F.element_at(t, i), F.element_at(t, i + 1)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    counts = (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return sort_ops.top_k(counts, [F.col("cnt").desc(), F.col("bigram").asc()], 20)


# ---------------------------------------------------------------------------
# Winnowing fingerprints (the MOSS algorithm): per document, slide a
# w-window over the char-5-gram hash sequence and keep each window's
# minimum — a position-robust fingerprint set guaranteed to share entries
# between documents with sufficiently long common substrings. Pure array
# expressions; fingerprints are u32 ints (engine-portable md5 derivation
# shared with dedup.minhash).
# ---------------------------------------------------------------------------
def _winnow_oracle_sql(w: int = 4) -> str:
    from hadoop_gpu_spark.dedup.minhash import _sql_shingle_hashes

    h = _sql_shingle_hashes()
    return f"""
    WITH hs AS (SELECT doc_id, {h} AS h FROM documents),
    sel AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(h) - {w - 1}, 1) + 1),
                 j -> list_min(h[j:j+{w - 1}]))) AS fps
      FROM hs)
    SELECT doc_id, unnest(fps) AS fp FROM sel
    """


def winnow_fingerprints_expr(text_col: str = "text", w: int = 4):
    """Pure-expression winnow fingerprint array — the oracle-shaped
    reference implementation the vectorized pandas path is proven
    bit-identical to (tests/test_operators.py)."""
    from hadoop_gpu_spark.dedup.minhash import _shingle_hashes

    def build(h):
        # Sliding-window min via log2(w) shifted zip_with passes
        # (min4[j] = min(h[j..j+3])) instead of a per-position
        # slice+array_min transform — HOF lambdas are interpreted, so the
        # O(n·w) formulation paid per-position allocation; this is O(n·log w)
        # and bit-identical (least() skips the nulls zip_with pads at the
        # tail, which truncates trailing windows exactly like
        # array_min(slice)).
        m2 = F.zip_with(
            h, F.slice(h, 2, F.greatest(F.size(h) - 1, F.lit(1))), lambda x, y: F.least(x, y)
        )
        m4 = F.zip_with(
            m2, F.slice(m2, 3, F.greatest(F.size(m2) - 2, F.lit(1))), lambda x, y: F.least(x, y)
        )
        return F.array_distinct(F.slice(m4, 1, F.greatest(F.size(h) - (w - 1), F.lit(1))))

    return _bind_once(_shingle_hashes(text_col), build)


@query("q_winnow_fingerprint", oracle=_winnow_oracle_sql())
def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.dedup.winnow import winnow_fingerprints_pandas

    from hadoop_gpu_spark.utils import ensure_min_partitions

    # Arrow-batched numpy fast path (was the 3.5 s bench hotspot as
    # interpreted HOF lambdas); proven bit-identical to
    # winnow_fingerprints_expr over the full sf0.001 corpus, which is what
    # licenses gating it against the same DuckDB oracle. The spread
    # repartition is a local-mode no-op on real multi-file inputs; here it
    # parallelizes the UDF across cores (measured 0.78 -> 0.58 s).
    docs = ensure_min_partitions(
        T(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return docs.select("doc_id", F.explode(winnow_fingerprints_pandas("text")).alias("fp"))


# ---------------------------------------------------------------------------
# Multimodal columns through the gate (multimodal/__init__.py): binary
# media + typed metadata, decoded via Arrow-batched mapInPandas. The
# deterministic fake corpus derives metadata from md5(payload), so the
# decode path RUNS end-to-end in the driver and its deterministic outputs
# (identity, dimensions) hash-check against SQL; only the RNG pixel stats
# are excluded from the compare (not SQL-expressible by design).
# ---------------------------------------------------------------------------
_MEDIA_H_SQL = "('0x' || substr(md5(text), 1, 4))::BIGINT"


@query(
    "q_multimodal_decode",
    oracle="""
    WITH m AS (SELECT doc_id AS media_id, md5(text) AS h FROM documents)
    SELECT media_id,
           CAST(('0x' || substr(h, 7, 2))::BIGINT % 17 + 8 AS BIGINT) AS width,
           CAST(('0x' || substr(h, 9, 2))::BIGINT % 17 + 8 AS BIGINT) AS height,
           round((('0x' || substr(h, 1, 2))::BIGINT
                + ('0x' || substr(h, 3, 2))::BIGINT
                + ('0x' || substr(h, 5, 2))::BIGINT) / 3.0, 6) AS mean_pixel
    FROM m
    """,
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL encode→decode round trip of all three in-engine image codecs
    under the SQL gate (upgraded r05 from the fake-plumbing variant):
    attach_flat_media builds per-doc flat images — color/size/codec all
    functions of md5(text), codec cycling PNG/GIF/JPEG — and decode_image
    runs the production real-decode path. PNG/GIF are lossless and the
    JPEG codec decodes flat blocks exactly at quality 100, so the oracle
    predicts the DECODED width/height/mean_pixel without running any
    codec: a single wrong pixel anywhere in any codec fails the hash.
    The decoded mean equals (r+g+b)/3 in both engines bit-for-bit: both
    divide the same exact-integer quotient, and IEEE division is
    correctly rounded.

    100 TB shape: bytes stay in one binary column; encode and decode are
    Arrow-batched mapInPandas kernels (multimodal/__init__.py) — the
    production layout for a media-column pipeline."""
    from hadoop_gpu_spark.multimodal import attach_flat_media, decode_image

    docs = T(spark, sf_dir, "documents")
    media = attach_flat_media(docs, "doc_id", "text")
    dec = decode_image(media)
    return dec.select(
        "media_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.round("mean_pixel", 6).alias("mean_pixel"),
    )


# ---------------------------------------------------------------------------
# Video frame sampling (multimodal.frame_sample) — REAL bytes since r05:
# attach_flat_video builds per-doc animated GIFs (n = md5[5]%4+2 flat
# 500 ms frames, frame i's color = md5(text||':'||i) bytes 0-2), and the
# production real-mode sampler decodes, walks the delay timeline at
# 500 ms, and emits each active frame's mean pixel. One sample lands in
# every frame, so the oracle predicts (media_id, frame_ms, mean_pixel)
# for the whole corpus without running the codec — a wrong delay, a
# mis-composited frame, or an off-by-one in the timeline walk all fail
# the hash. (Frame md5 identity is also emitted by the operator but is
# not SQL-expressible — DuckDB lacks md5(BLOB) — so the gate pins means.)
# ---------------------------------------------------------------------------
@query(
    "q_frame_sample",
    oracle="""
    WITH m AS (SELECT doc_id AS media_id, text, md5(text) AS h FROM documents),
    f AS (SELECT media_id, text,
            unnest(range(0, ('0x' || substr(h, 11, 2))::BIGINT % 4 + 2)) AS i
          FROM m),
    c AS (SELECT media_id, CAST(500 * i AS BIGINT) AS frame_ms,
                 md5(text || ':' || i) AS hf
          FROM f)
    SELECT media_id, frame_ms,
           round((('0x' || substr(hf, 1, 2))::BIGINT
                + ('0x' || substr(hf, 3, 2))::BIGINT
                + ('0x' || substr(hf, 5, 2))::BIGINT) / 3.0, 6) AS mean_pixel
    FROM c
    """,
)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.multimodal import attach_flat_video, frame_sample

    docs = T(spark, sf_dir, "documents")
    media = attach_flat_video(docs, "doc_id", "text")
    return frame_sample(media, every_ms=500, fake=False).select(
        "media_id",
        F.col("frame_ms").cast("long").alias("frame_ms"),
        F.round("mean_pixel", 6).alias("mean_pixel"),
    )


# ---------------------------------------------------------------------------
# Custom stateful streaming operator through the gate:
# applyInPandasWithState sessionizer (streaming/__init__.py:84). With an
# availableNow drain, exactly the CLOSED sessions emit (open sessions stay
# in state; the processing-time timeout never fires in a single pass), so
# the streaming result == batch sessionization minus each user's last
# session — fully SQL-expressible. Timestamps exported as epoch micros
# (events.parquet is nano-precision; micros is the cross-engine meeting
# point).
# ---------------------------------------------------------------------------
@query(
    "q_stream_sessionize",
    oracle="""
    WITH w AS (
      SELECT user_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events),
    f AS (
      SELECT user_id, ts,
             CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts::TIMESTAMP) - epoch_us(prev_ts::TIMESTAMP) > 1800000000
                  THEN 1 ELSE 0 END AS ns
      FROM w),
    n AS (
      SELECT user_id, ts,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sno
      FROM f),
    s AS (
      SELECT user_id, sno,
             min(epoch_us(ts::TIMESTAMP)) AS start_us,
             max(epoch_us(ts::TIMESTAMP)) AS end_us,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM n GROUP BY user_id, sno),
    l AS (SELECT user_id, max(sno) AS mx FROM s GROUP BY user_id)
    SELECT s.user_id, s.start_us, s.end_us, s.n_events
    FROM s JOIN l USING (user_id) WHERE s.sno < l.mx
    """,
)
def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from hadoop_gpu_spark.streaming import (
        events_stream,
        progress_dicts,
        sessionize_stateful,
        start_skipping_empty_batches,
    )

    # Unique per invocation: a fixed queryName fails to start if two
    # invocations overlap in one session (duplicate streaming query name).
    name = f"q_stream_sessionize_sink_{uuid.uuid4().hex[:8]}"
    st = sessionize_stateful(events_stream(spark, sf_dir), gap_minutes=30, use_timeout=False)
    # use_timeout=False: sessions close only on data-driven gap logic,
    # so the zero-data finalize batch cannot emit anything — safe to skip
    # (a timeout-enabled sessionizer would NOT be; see
    # start_skipping_empty_batches)
    q = start_skipping_empty_batches(
        st.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True),
        spark,
    )
    q.awaitTermination()
    # Parity guard: the batch-equivalence oracle (streaming result ==
    # batch sessions minus each user's last) holds only when the whole
    # event log arrives as ONE in-order micro-batch. Multi-file event data
    # interleaved across files would close sessions differently — assert
    # the assumption instead of trusting it.
    data_batches = [p for p in progress_dicts(q) if p.get("numInputRows", 0) > 0]
    if len(data_batches) != 1:
        raise AssertionError(
            f"q_stream_sessionize parity oracle requires exactly 1 data "
            f"micro-batch; saw {len(data_batches)} — event data is no "
            f"longer a single file, re-derive the oracle"
        )
    return spark.table(name).select(
        "user_id",
        F.unix_micros("session_start").alias("start_us"),
        F.unix_micros("session_end").alias("end_us"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# Eval-contamination check: split the corpus train/eval (doc_id parity —
# deterministic), flag eval documents sharing any word-8-gram with the
# train side, with the shared-gram count as evidence strength. The shape
# every training pipeline needs before publishing eval numbers. Scale:
# grams travel as u32 hashes; the join is hash-keyed; non-vacuous here
# because the corpus contains near-duplicate documents that straddle the
# split (11-12 contaminated eval docs at both SFs).
# ---------------------------------------------------------------------------
@query(
    "q_contamination",
    oracle=f"""
    WITH g AS (SELECT doc_id, doc_id % 2 AS part, unnest({_gram_hash_sql(8)}) AS gh
               FROM documents),
    tr AS (SELECT DISTINCT gh FROM g WHERE part = 0),
    ev AS (SELECT doc_id, gh FROM g WHERE part = 1)
    SELECT ev.doc_id AS eval_doc, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
    FROM ev JOIN tr USING (gh)
    GROUP BY ev.doc_id
    """,
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.operators.fields import tokenize

    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    g = docs.select(
        "doc_id",
        (F.col("doc_id") % 2).alias("part"),
        F.explode(_gram_hashes(tokenize("text"), 8)).alias("gh"),
    )
    train = g.filter(F.col("part") == 0).select("gh").distinct()
    ev = g.filter(F.col("part") == 1).select("doc_id", "gh")
    return (
        ev.join(train, "gh", "left_semi")
        .groupBy(F.col("doc_id").alias("eval_doc"))
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


# ---------------------------------------------------------------------------
# Salted join through the gate (operators.skew.salted_join): the big side
# fans each key over n_salts partitions, the small side replicates per
# salt — the manual treatment for hot keys that AQE's skew-join handles
# adaptively. Results must be identical to the plain join (the oracle).
# ---------------------------------------------------------------------------
@query(
    "q_salted_join",
    oracle="""
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS cnt, SUM(l_quantity) AS sum_qty
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_name
    """,
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.operators.skew import salted_join

    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("s_suppkey"), "l_quantity", "l_orderkey"
    )
    supplier = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    j = salted_join(li, supplier, on="s_suppkey", n_salts=8, big_salt_source="l_orderkey")
    return j.groupBy("s_name").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("l_quantity").alias("sum_qty")
    )


# ---------------------------------------------------------------------------
# Sequence packing: concatenate the tokenized corpus (doc_id order) and
# chunk it into fixed 128-token training sequences — the
# pretraining-batch layout op. Verified by CONTENT: each sequence row
# carries md5 of its space-joined tokens, so a single out-of-place token
# fails the hash.
#
# Scale shape — two-pass distributed prefix sum (no global window, which
# would serialize the cumulative count through one task; measured 3.9x
# at 10x docs before the fix): bucket by doc_id with a FIXED literal
# width, (1) aggregate per-bucket token counts and cumulate the tiny
# per-bucket totals driver-side (metadata, like k-means centroids),
# (2) within-bucket prefix sums run under Window.partitionBy(bucket) —
# fully parallel. Token rows then shuffle exactly once, keyed by
# sequence id.
#
# Determinism (the round-3 red): the first cut range-partitioned by
# doc_id, whose bounds are SAMPLED per-plan, and pinned pass-1/pass-2
# agreement with a load-bearing .persist() — a cache miss between the
# passes silently produced wrong offsets with the right row count.
# Bucket = floor(doc_id / B) is a pure function of the data, so both
# passes agree by construction under any partitioning, caching, or
# session config; tests/test_operators.py asserts identical output across
# fresh sessions with different shuffle.partitions.
#
# THE ROUND-4 RED, ROOT-CAUSED (r05): the Spark side was never the
# problem — the ORACLE's seq_id bound as HUGEINT (DuckDB SUM(BIGINT)
# returns HUGEINT; start0, g, and g//128 inherited it), and HUGEINT
# reaches pandas as float64. A dtype-strict comparator hashes oracle
# "0.0" against Spark's "0" and fails, while rows+schema stay green and
# every dtype-normalizing local comparator (ours, and a vanilla-session
# rerun) reports a perfect match — exactly the observed two-round
# signature. Fixed by CAST(.. AS BIGINT) on seq_id; the entire oracle
# surface is now guarded by
# tests/test_oracle_parity.py::test_no_oracle_emits_driver_unsafe_types
# (binding-level check, all 110 oracles). The committed digest artifact
# (artifacts/, hadoop_gpu_spark/digest.py) remains the Spark-side
# determinism record.
# ---------------------------------------------------------------------------
@query(
    "q_sequence_pack",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    off AS (
      SELECT doc_id, t,
             COALESCE(SUM(len(t)) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start0
      FROM d),
    tok AS (
      SELECT unnest(list_transform(range(1, len(t) + 1),
                    i -> {{'g': start0 + i - 1, 'tok': t[i]}})) AS u
      FROM off),
    seq AS (SELECT CAST(u.g // 128 AS BIGINT) AS seq_id, u.g AS gpos, u.tok AS tok
            FROM tok)
    SELECT seq_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           md5(string_agg(tok, ' ' ORDER BY gpos)) AS seq_hash
    FROM seq GROUP BY seq_id
    """,
)
def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.operators.fields import tokenize
    from hadoop_gpu_spark.utils import shuffle_width

    L = 128
    # Fixed bucket width: bucket id is a pure function of doc_id, never of
    # the physical partitioning. 256 docs/bucket; 4096 buckets/superbucket.
    B = 256
    S = 4096
    docs = T(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        (F.floor(F.col("doc_id") / B)).cast("long").alias("__bucket"),
    )
    # The token-array frame is repartitioned by __bucket at the session's
    # configured shuffle width BEFORE the base-offset join (r14, found by
    # the sf30 rung): the within-bucket window needs hashpartitioning on
    # __bucket anyway, and letting Catalyst place that exchange AFTER the
    # broadcast join put a BroadcastQueryStage inside the shuffle map
    # stage — a shape AQE degenerated into a SINGLE map task at sf10
    # (213 MB of token arrays through one core + a 2 s driver gap;
    # reproducible, gone with either AQE or broadcasts disabled). The
    # explicit user repartition is immune to AQE re-planning, its map
    # side is the plain tokenize scan, and the join + window reuse its
    # distribution, so the plan has the SAME exchange count as before —
    # measured sf10 7.0s -> 1.7s, sf30 3.2s -> 1.9s.
    d = docs.select("doc_id", tokenize("text").alias("t"), "__bucket").repartition(
        shuffle_width(spark), "__bucket"
    )
    # Pass 1: per-bucket token totals, then a HIERARCHICAL prefix sum —
    # nothing corpus-growing ever reaches the driver (r13; this replaced
    # the collect() of one long per bucket, the registered surface's
    # last corpus-growing driver structure: ~31 MB at 1e9 docs, ~3 GB at
    # 1e11). Token COUNT = number of \S+ runs, identical to
    # size(tokenize(text)) (split on \s+ then drop empties ⇔ maximal
    # non-whitespace runs) but without building the token arrays —
    # pass 1 is a pure regex scan. The totals frame is eager_persist'd:
    # its two consumers (the helper's level-1 window and level-2 totals)
    # would otherwise each rerun the corpus regex scan (dual-branch
    # class). Cumsum shape: utils.hierarchical_prefix_sum (shared with
    # q_total_order_sort — its docstring carries the scale argument).
    sizes = eager_persist(
        docs.groupBy("__bucket").agg(
            F.sum(F.regexp_count("text", F.lit(r"\S+"))).alias("__n")
        )
    )
    base_df = hierarchical_prefix_sum(sizes, "__bucket", "__n", superbucket_width=S)
    # Pass 2: within-bucket prefix sums — parallel across buckets, and
    # deterministic: doc_id is unique, so the window order is total.
    w = (
        Window.partitionBy("__bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = (
        d.join(base_df, "__bucket")
        .withColumn(
            "start0",
            F.col("__base") + F.coalesce(F.sum(F.size("t")).over(w), F.lit(0)),
        )
    )
    tok = off.select("start0", F.posexplode("t").alias("pos", "tok")).select(
        (F.col("start0") + F.col("pos")).alias("gpos"), "tok"
    )
    return tok.groupBy(F.floor(F.col("gpos") / L).cast("long").alias("seq_id")).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.md5(
            F.encode(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("gpos"), F.col("tok")))
                        ),
                        lambda x: x["tok"],
                    ),
                    " ",
                ),
                "UTF-8",
            )
        ).alias("seq_hash"),
    )


# ---------------------------------------------------------------------------
# Fingerprint (bag-of-words) dedup via functions.text.fingerprint: dedup
# on md5 of the sorted distinct token set — catches token-order and
# repetition variants that byte-exact dedup misses (raw-text and
# token-multiset dedup are both vacuous on this corpus: 0 groups; the
# bag-of-words key finds 21-25 duplicate groups). Output = duplicate
# groups only (survivor = min doc_id, copy count).
# ---------------------------------------------------------------------------
@query(
    "q_dedup_fingerprint",
    oracle=f"""
    WITH c AS (
      SELECT doc_id,
             substr(md5(array_to_string(list_sort(list_distinct({_SQL_TOKS})), ' ')),
                    1, 16) AS ck
      FROM documents)
    SELECT min(doc_id) AS survivor, CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM c GROUP BY ck HAVING COUNT(*) >= 2
    """,
)
def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.functions import text as tx

    docs = T(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", tx.fingerprint("text").alias("ck"))
        .groupBy("ck")
        .agg(F.min("doc_id").alias("survivor"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") >= 2)
        .select("survivor", "n_copies")
    )


# ---------------------------------------------------------------------------
# Data-mixture weighting: per-language sampling weight to rebalance the
# corpus to a uniform language mix (weight = target_share / actual_share)
# — the knob every pretraining data recipe turns.
# ---------------------------------------------------------------------------
@query(
    "q_mixture_weights",
    oracle="""
    WITH s AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY lang),
    t AS (SELECT CAST(SUM(n_docs) AS DOUBLE) AS total,
                 CAST(COUNT(*) AS DOUBLE) AS n_langs FROM s)
    SELECT lang, n_docs, round(total / (n_langs * n_docs), 9) AS weight
    FROM s, t
    """,
)
def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    s = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    # Corpus totals as a global window over the |langs|-row aggregate —
    # not crossJoin(broadcast(s.agg(...))), whose second plan branch
    # re-scanned documents and re-ran the groupBy (pruned branches defeat
    # exchange reuse; same fix as q_pretrain_pipeline, r06).
    wall = Window.partitionBy(F.lit(1))
    total = F.sum("n_docs").over(wall).cast("double")
    n_langs = F.count(F.lit(1)).over(wall).cast("double")
    return s.select(
        "lang",
        "n_docs",
        F.round(total / (n_langs * F.col("n_docs")), 9).alias("weight"),
    )


# ---------------------------------------------------------------------------
# Repetition ratio (Gopher-style quality signal): fraction of duplicate
# tokens per document — high-repetition docs are the classic low-quality
# pretraining text. Exact integer counts; one division + subtraction is
# IEEE-deterministic on both engines.
# ---------------------------------------------------------------------------
@query(
    "q_repetition_ratio",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
    SELECT doc_id,
           len(toks)::BIGINT AS n_tokens,
           len(list_distinct(toks))::BIGINT AS n_distinct,
           round(1.0 - len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE, 9) AS rep_ratio
    FROM t
    WHERE len(toks) > 0
      AND 1.0 - len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE > 0.5
    """,
)
def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.operators.fields import tokenize

    docs = T(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.size(tokenize(F.col("text"))).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(tokenize(F.col("text")))).cast("long").alias("n_distinct"),
    )
    rep = F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_tokens").cast("double")
    return (
        d.filter(F.col("n_tokens") > 0)
        .filter(rep > 0.5)
        .select("doc_id", "n_tokens", "n_distinct", F.round(rep, 9).alias("rep_ratio"))
    )


# ---------------------------------------------------------------------------
# BPE-ish sub-token counting (SURVEY training-pipeline surface): a
# GPT-2-style pre-tokenizer regex (letter runs / digit runs / punctuation
# runs, optional leading space) over events.props — the cost model for
# context-window budgeting. The pattern stays in the portable
# PCRE∩RE2 subset so Spark (Java regex) and DuckDB (RE2) agree.
# ---------------------------------------------------------------------------
_BPE_RE = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"


@query(
    "q_token_count_bpe",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           SUM(len(regexp_extract_all(props, '{_BPE_RE}')))::BIGINT AS sum_bpe,
           SUM(len(list_filter(regexp_split_to_array(props, '\\s+'), x -> x <> '')))::BIGINT AS sum_ws,
           round(SUM(len(regexp_extract_all(props, '{_BPE_RE}')))::DOUBLE / COUNT(*), 9) AS bpe_per_event
    FROM events GROUP BY event_type
    """,
)
def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    n_bpe = F.size(F.regexp_extract_all(F.col("props"), F.lit(_BPE_RE), F.lit(0)))
    n_ws = F.size(F.filter(F.split(F.col("props"), r"\s+"), lambda x: x != ""))
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(n_bpe).cast("long").alias("sum_bpe"),
            F.sum(n_ws).cast("long").alias("sum_ws"),
        )
        .select(
            "event_type",
            "n_events",
            "sum_bpe",
            "sum_ws",
            F.round(F.col("sum_bpe").cast("double") / F.col("n_events"), 9).alias("bpe_per_event"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming sliding-window average through the gate (tumbling is covered
# by q_stream_hourly): 1 h windows every 30 min — each event lands in
# exactly two windows. Deterministic avg = decimal sum / count.
# ---------------------------------------------------------------------------
@query(
    "q_stream_sliding",
    oracle="""
    WITH e AS (
      SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                     time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
               AS win_start,
             event_type, value
      FROM events)
    SELECT win_start, event_type,
           COUNT(*) AS cnt,
           round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 9) AS avg_value
    FROM e GROUP BY win_start, event_type
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from hadoop_gpu_spark.streaming import drain_to_memory, events_stream, sliding_window_avg

    agg = sliding_window_avg(events_stream(spark, sf_dir), window="1 hour", slide="30 minutes")
    return drain_to_memory(agg, f"q_stream_sliding_sink_{uuid.uuid4().hex[:8]}")


# ---------------------------------------------------------------------------
# ANN, third strategy: random-hyperplane LSH buckets (exact-collision
# candidates, exact cosine re-rank inside the bucket). Completes the
# brute-force (exact baseline) / IVF (centroid cells) / LSH (hyperplane
# buckets) triad. Signature bits come from integer-quantized dot products
# so they are bit-reproducible across engines and partitionings — the
# hyperplane sign matrix is an md5 chain shared literally between the
# Spark plan and this SQL.
# ---------------------------------------------------------------------------
def _lsh_sql_sig(n_bits: int = 5, dim: int = 64) -> str:
    from hadoop_gpu_spark.similarity.ann import lsh_signs

    signs = lsh_signs(n_bits, dim)
    terms = []
    for h, row in enumerate(signs):
        arr = "[" + ", ".join(f"{float(v):.1f}" for v in row) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(quant, {arr}) > 0 THEN {1 << h} ELSE 0 END)"
        )
    return " + ".join(terms)


@query(
    "q_ann_lsh",
    oracle=f"""
    WITH sigs AS (
      SELECT vec_id, embedding,
             {_lsh_sql_sig()} AS sig
      FROM (SELECT vec_id, embedding,
                   list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000000)) AS quant
            FROM embeddings)),
    pairs AS (
      SELECT q.vec_id AS qid, e.vec_id AS nid, {_COS_SQL} AS score
      FROM sigs q JOIN sigs e ON q.sig = e.sig AND q.vec_id <> e.vec_id
      WHERE q.vec_id < 8),
    ranked AS (
      SELECT qid, nid, score,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nid ASC) AS rank
      FROM pairs)
    SELECT qid, nid, round(score, 9) AS score, rank FROM ranked WHERE rank <= 5
    """,
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.similarity.ann import lsh_bucket_topk

    emb = T(spark, sf_dir, "embeddings")
    out = lsh_bucket_topk(emb, emb.filter(F.col("vec_id") < 8), "embedding", "vec_id", k=5, n_bits=5)
    return out.select(
        "qid", "nid", F.round("score", 9).alias("score"), F.col("rank").cast("long").alias("rank")
    )


# ---------------------------------------------------------------------------
# Composed pretraining-corpus pipeline: quality gate (top half per lang by
# quality score) → exact dedup among the kept docs (min-doc_id survivor
# per text hash) → per-language mixture stats (doc/token counts + uniform
# rebalance weight). The operators are gated individually elsewhere; this
# gate proves they COMPOSE — the shape a real data recipe runs nightly.
# Scale: quality is scan-side column math, dedup shuffles only
# (hash, doc_id, lang, n_tokens) — never text — and the final aggregate
# is k-langs-sized with a 1-row broadcast for totals.
# ---------------------------------------------------------------------------
@query(
    "q_pretrain_pipeline",
    oracle=f"""
    WITH s AS ({_QUALITY_SQL}),
    kept AS (
      SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY q DESC, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS n_lang
        FROM s) WHERE rn <= ceil(n_lang / 2.0)),
    toks AS (
      SELECT d.doc_id, k.lang, md5(d.text) AS h, len({_SQL_TOKS})::BIGINT AS n_toks
      FROM documents d JOIN kept k ON d.doc_id = k.doc_id),
    surv AS (
      SELECT arg_min(lang, doc_id) AS lang, arg_min(n_toks, doc_id) AS n_toks
      FROM toks GROUP BY h),
    agg AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             SUM(n_toks)::BIGINT AS sum_tokens
      FROM surv GROUP BY lang),
    t AS (SELECT CAST(SUM(n_docs) AS DOUBLE) AS total,
                 CAST(COUNT(*) AS DOUBLE) AS n_langs FROM agg)
    SELECT lang, n_docs, sum_tokens,
           round(total / (n_langs * n_docs), 9) AS weight
    FROM agg, t
    """,
)
def q_pretrain_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.functions import text as tx
    from hadoop_gpu_spark.operators.fields import tokenize

    docs = T(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        F.round(tx.quality_score("text"), 9).alias("q"),
        md5_hex("text").alias("h"),
        F.size(tokenize(F.col("text"))).cast("long").alias("n_toks"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("q").desc(), F.col("doc_id").asc())
    wc = Window.partitionBy("lang")
    kept = (
        scored.withColumn("rn", F.row_number().over(w))
        .withColumn("n_lang", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") <= F.ceil(F.col("n_lang") / 2.0))
    )
    surv = kept.groupBy("h").agg(
        F.min_by("lang", "doc_id").alias("lang"),
        F.min_by("n_toks", "doc_id").alias("n_toks"),
    )
    agg = surv.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("long").alias("sum_tokens"),
    )
    # Corpus totals via a global window over the |langs|-row aggregate, NOT
    # a crossJoin(broadcast(agg.agg(...))): referencing `agg` from two plan
    # branches recomputed the ENTIRE upstream pipeline (scan, md5,
    # tokenize, quality window) once per branch — column pruning makes the
    # branches' aggregates differ, so exchange reuse never kicks in. The
    # window form computes the pipeline once; its single-partition exchange
    # carries |langs| rows. Plan: 7 exchanges -> 4; same-session A/B at
    # sf0.1 measured ~15% faster end-to-end (0.99 vs 1.20, 0.86 vs 1.03
    # min-of-5 twice) — locally the doubled branch was partly masked by
    # page-cache scan reuse, but at 100 TB the scan is the dominant cost
    # and this halves it.
    wall = Window.partitionBy(F.lit(1))
    total = F.sum("n_docs").over(wall).cast("double")
    n_langs = F.count(F.lit(1)).over(wall).cast("double")
    return agg.select(
        "lang",
        "n_docs",
        "sum_tokens",
        F.round(total / (n_langs * F.col("n_docs")), 9).alias("weight"),
    )


# ---------------------------------------------------------------------------
# Stream-stream join (attribution shape): every click joined to the same
# user's views in the preceding 2 h — both sides watermarked with an
# event-time range condition, so state stays bounded on an unbounded run.
# Join timestamps are second-truncated (sub-second precision is
# engine-specific and must never decide a boundary). availableNow inner
# join emits the complete pair set in one batch == the batch oracle.
# ---------------------------------------------------------------------------
@query(
    "q_stream_join",
    oracle="""
    WITH e AS (SELECT user_id, event_id, event_type,
                      date_trunc('second', ts) AS ts_s FROM events)
    SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
           date_diff('second', v.ts_s, c.ts_s)::BIGINT AS gap_s
    FROM e v JOIN e c ON v.user_id = c.user_id
    WHERE v.event_type = 'view' AND c.event_type = 'click'
      AND c.ts_s > v.ts_s AND c.ts_s <= v.ts_s + INTERVAL 120 MINUTE
    """,
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from hadoop_gpu_spark.streaming import drain_to_memory, events_stream, stream_stream_join

    joined = stream_stream_join(
        events_stream(spark, sf_dir), left_type="view", right_type="click", within_minutes=120
    )
    # append-mode INNER stream-stream join emits pairs as they match
    # during data batches; the zero-data finalize batch only evicts
    # state — safe to skip (start_skipping_empty_batches). Measured at
    # sf0.1: the empty batch was ~2.9 s of planning + state-store
    # commits across 128 store instances for zero output rows.
    return drain_to_memory(joined, f"q_stream_join_sink_{uuid.uuid4().hex[:8]}", mode="append")


# ---------------------------------------------------------------------------
# §2.10/§2.11 the compiled-C++ Pipes leg, end to end: the bundled native
# wordcount task (pipes_native/wordcount.cc — an original implementation of
# the reference's C++ example-UDF contract, wordcount-simple.cc semantics
# over the BinaryProtocol VInt framing) is compiled with the host
# toolchain and run per partition via pipe_binary; the child emits partial
# counts (map+combine fused), the engine's shuffle does the final sum —
# the same division of labor as the reference's C++ mapper + combiner.
# Eager side effect (registry contract): ensure_built compiles on first
# call at DataFrame-construction time (~1 s, then content-hash cached in
# the scratch dir). Requires a C++ compiler on PATH; raises RuntimeError
# otherwise rather than degrading silently.
# ---------------------------------------------------------------------------
@query(
    "q_pipes_native_wordcount",
    oracle="""
    SELECT token, COUNT(*) AS cnt
    FROM (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token
    """,
)
def q_pipes_native_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_gpu_spark.operators.pipes import pipe_binary
    from hadoop_gpu_spark.pipes_native import ensure_built

    binary = ensure_built("wordcount")
    docs = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string"), F.col("text")
    )
    # socket transport = the reference's actual Application.java wiring
    # (loopback port via hadoop.pipes.command.port; task auto-connects)
    partials = pipe_binary(docs, [binary], transport="socket")
    return partials.groupBy(F.col("k").alias("token")).agg(
        F.sum(F.col("v").cast("long")).alias("cnt")
    )


# ---------------------------------------------------------------------------
# Streaming exact dedup through the gate (streaming.exact_dedup_stream was
# previously test-only — the last north-star row without a driver check):
# watermarked dropDuplicates on a content hash. The dedup key includes
# event_type so the surviving-row count per type is deterministic (a
# payload shared across types survives once PER TYPE; keyed on payload
# alone, which type's copy survives would be racey). The availableNow
# drain sees the whole backlog inside one watermark horizon, so the
# result equals batch COUNT(DISTINCT props) per type — that equivalence
# is the oracle.
#
# Key construction (r04 ADVICE): concat of the two fields' md5s — fixed
# width, so no separator ambiguity if a field ever contains the separator
# character; NULL props rows are filtered BEFORE keying because the
# oracle's COUNT(DISTINCT props) ignores NULLs (a raw concat_ws key would
# silently drop the NULL and count the row once per type instead).
#
# 100 TB shape: state is one hash per distinct (type, payload) inside the
# watermark horizon — bounded; historical cross-horizon dupes belong to
# the batch near_dedup pipeline, same division of labor as production
# streaming ingest.
# ---------------------------------------------------------------------------
# Oracle-side NULL semantics note (for the oracle SQL just below):
# COUNT(DISTINCT props) ignores NULL props rows per SQL, so the streaming
# side filters `props IS NOT NULL` BEFORE building its dedup key (see the
# query body). The stream is not dropping rows the batch query counts —
# it is matching the NULL semantics this aggregate already has. (Kept
# outside the decorator, not as a SQL `--` comment, because the oracle
# string and the decorated source block are part of the query's change
# fingerprint.)
@query(
    "q_stream_dedup",
    oracle="""
    SELECT event_type, CAST(COUNT(DISTINCT props) AS BIGINT) AS distinct_docs
    FROM events GROUP BY event_type
    """,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from hadoop_gpu_spark.streaming import drain_to_memory, events_stream, exact_dedup_stream

    keyed = (
        events_stream(spark, sf_dir)
        .filter(F.col("props").isNotNull())
        .withColumn(
            "__dk",
            F.concat(
                F.md5(F.encode(F.coalesce(F.col("event_type"), F.lit("\x00")), "UTF-8")),
                F.md5(F.encode(F.col("props"), "UTF-8")),
            ),
        )
    )
    dedup = exact_dedup_stream(keyed, text_col="__dk", watermark="90 days")
    drained = drain_to_memory(dedup, f"q_stream_dedup_sink_{uuid.uuid4().hex[:8]}", mode="append")
    return drained.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("distinct_docs")
    )


# ---------------------------------------------------------------------------
# Unigram-LM quality scoring (the CCNet-style LM filter, self-scored): the
# corpus unigram distribution IS the language model; each document gets the
# average negative log-likelihood of its own tokens under it. High avg_nll
# = surprising/low-quality text for this corpus; downstream quality gates
# threshold on it (the perplexity-bucket idiom of CCNet/RedPajama).
#
# Float determinism: the per-doc SUM of ln values would be
# order-dependent in double math, so each token's nll is rounded to 9 dp
# and cast to DECIMAL(28,9) FIRST — the sum is then exact and
# order-independent on any engine; only the final mean is re-rounded.
#
# 100 TB shape: tokens explode narrow (no text shuffle — only (doc_id,
# term) pairs move); term frequencies aggregate once (hash-only shuffle)
# and join back onto the token stream UNHINTED — the join strategy is
# AQE's runtime call. A bench-scale vocab broadcasts (AQE converts the
# sort-merge join when the built side measures small); a 100 TB open
# vocab is Heaps-law hundreds-of-millions of (term, c) rows — past
# Spark's 8 GB broadcast hard cap, where a forced broadcast hint would
# KILL the query rather than slow it. The unhinted plan degrades to a
# shuffle-hash/sort-merge join on term instead (r08, closing VERDICT
# r07 "what's wrong" #4; the registry-wide broadcast-hint audit in
# tests/test_plan_invariants.py pins the class).
# ---------------------------------------------------------------------------
_UNIGRAM_NLL_SQL = f"""
    WITH toks AS (SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents),
    freq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY term),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM toks),
    scored AS (
      SELECT toks.doc_id,
             CAST(round(ln(total / c), 9) AS DECIMAL(28,9)) AS nll
      FROM toks JOIN freq USING (term) CROSS JOIN n)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
           round(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS avg_nll
    FROM scored GROUP BY doc_id
"""


def _unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_toks, avg_nll) under the corpus unigram LM — shared by
    the scoring gate and the perplexity-bucket gate.

    The corpus token total is sum(c) over freq's |terms|-row model frame
    — NOT a separate ``toks.agg(count)`` branch: the r06 plan audit
    showed that a scalar ``crossJoin(broadcast(toks.agg(...)))`` plans a
    SECOND column-pruned branch that re-runs the entire tokenize+explode
    pass — the scan-dominated cost that doubles at 100 TB. sum(c) over
    the model frame is the same exact integer (every token lands in
    exactly one term bucket), so the double total is bit-identical.

    r09 (VERDICT r08 what's-wrong #1, the last weak class): the total is
    now a DISTRIBUTED scalar re-aggregate over ``eager_persist(freq)``
    folded in as a construction-time literal (the q_tfidf_topterms
    n_docs pattern) — the r07-r08 shape ran a
    ``Window.partitionBy()`` global frame over freq, which funnels the
    ENTIRE vocabulary through ONE task: at open-vocab 100 TB scale
    (Heaps-law ~1e9 terms) that task is a straggler or an OOM. Now no
    unbounded-cardinality frame ever passes through a single-partition
    window; the model is built once (cached, lineage intact), the
    one-BIGINT total is the only thing that reaches the driver, and the
    probe-side join reads the same InMemoryRelation.

    The toks⋈freq join is deliberately UNHINTED (r08): freq is
    vocabulary-cardinality, and a forced ``F.broadcast`` would exceed
    Spark's 8 GB broadcast cap at open-vocab scale — AQE broadcasts it
    at bench scale and falls back to a term-keyed shuffle join when the
    measured build side is large."""
    from hadoop_gpu_spark.operators.fields import tokenize
    from hadoop_gpu_spark.utils import eager_persist

    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", F.explode(tokenize("text")).alias("term"))
    freq = eager_persist(toks.groupBy("term").agg(F.count(F.lit(1)).alias("c")))
    # distributed scalar re-aggregate off the cached model: one BIGINT to
    # the driver (bounded — same class as tfidf's n_docs literal)
    total = float(freq.agg(F.sum("c")).collect()[0][0])
    scored = toks.join(freq, "term").withColumn(
        "nll",
        F.round(F.log(F.lit(total) / F.col("c")), 9).cast("decimal(28,9)"),
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_toks"),
        F.round(F.sum("nll").cast("double") / F.count(F.lit(1)), 6).alias("avg_nll"),
    )


@query("q_unigram_logprob", oracle=_UNIGRAM_NLL_SQL)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _unigram_nll(spark, sf_dir)


# ---------------------------------------------------------------------------
# Token-budget sampling: the mixture-construction primitive that
# q_stratified_sample (doc-count cuts) cannot express — each language
# contributes documents, in deterministic md5 order, until its TOKEN
# budget is exhausted (selection rule: a doc is taken iff the tokens
# accumulated BEFORE it are under budget, so the crossing doc is
# included and membership is a pure function of the data). This is how
# real pretraining mixtures are specified (tokens, not documents).
# 100 TB shape: token counts are a regex scan (no arrays), the cumsum is
# a per-language window over doc-level rows, text never shuffles.
# ---------------------------------------------------------------------------
@query(
    "q_token_budget_sample",
    oracle=r"""
    WITH c AS (
      SELECT doc_id, lang,
             len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_toks,
             md5(doc_id::VARCHAR) AS ord
      FROM documents),
    w AS (
      SELECT doc_id, lang, n_toks,
             COALESCE(SUM(n_toks) OVER (PARTITION BY lang ORDER BY ord, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM c)
    SELECT doc_id, lang, CAST(n_toks AS BIGINT) AS n_toks
    FROM w WHERE before < 10000
    """,
)
def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    budget = 10_000  # tokens per language
    docs = T(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.regexp_count("text", F.lit(r"\S+")).alias("n_toks"),
        F.md5(F.col("doc_id").cast("string")).alias("ord"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("ord", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        docs.withColumn("before", F.coalesce(F.sum("n_toks").over(w), F.lit(0)))
        .filter(F.col("before") < budget)
        .select("doc_id", "lang", F.col("n_toks").cast("long").alias("n_toks"))
    )


# ---------------------------------------------------------------------------
# Perplexity buckets (the CCNet head/middle/tail cut): within each
# language, documents rank by their LM score and split into three
# equal-sized buckets — the canonical quality-tier partitioning a
# pretraining mixture samples from (head = most fluent under the corpus
# LM). Deterministic: ntile over (avg_nll, doc_id).
# 100 TB shape: reuses the unigram scoring plan (broadcast corpus stats,
# text never shuffles) + one per-language window over doc-level rows —
# |docs| rows, not tokens, enter the sort.
# ---------------------------------------------------------------------------
@query(
    "q_ppl_buckets",
    oracle=f"""
    WITH s AS ({_UNIGRAM_NLL_SQL}),
    j AS (SELECT s.doc_id, d.lang, s.avg_nll
          FROM s JOIN documents d USING (doc_id))
    SELECT doc_id, lang, avg_nll,
           CAST(NTILE(3) OVER (PARTITION BY lang
                               ORDER BY avg_nll, doc_id) AS BIGINT) AS ppl_bucket
    FROM j
    """,
)
def q_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _unigram_nll(spark, sf_dir)
    langs = T(spark, sf_dir, "documents").select("doc_id", "lang")
    j = scored.join(langs, "doc_id").select("doc_id", "lang", "avg_nll")
    w = Window.partitionBy("lang").orderBy("avg_nll", "doc_id")
    return j.withColumn("ppl_bucket", F.ntile(3).over(w).cast("long"))


# ---------------------------------------------------------------------------
# Deterministic epoch shuffle + sharding — the training-data ordering op:
# for a given epoch seed, every document gets a stable (shard, position)
# so any worker can reconstruct exactly its slice of the global order with
# no coordination (position = rank of the md5 epoch key within the shard).
# Seedless-portable: the key is md5(epoch || ':' || doc_id), so every
# engine and every rerun agrees.
#
# 100 TB shape: one hash shuffle on shard (16-way here; set n_shards ~
# cluster width at scale), per-shard ranking is a within-partition sort —
# no global total order, no driver involvement. This is how you re-order
# a petabyte corpus per epoch without a terasort.
# ---------------------------------------------------------------------------
@query(
    "q_epoch_shuffle",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, md5('1:' || doc_id::VARCHAR) AS ekey,
             CAST(('0x' || substr(md5('1:' || doc_id::VARCHAR), 1, 8))::BIGINT % 16
                  AS BIGINT) AS shard
      FROM documents)
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ekey, doc_id)
                AS BIGINT) AS pos
    FROM keyed
    """,
)
def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    epoch = 1
    n_shards = 16
    docs = T(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.select(
        "doc_id",
        F.md5(F.concat_ws(":", F.lit(epoch), F.col("doc_id"))).alias("ekey"),
    ).withColumn(
        "shard",
        (F.conv(F.substring("ekey", 1, 8), 16, 10).cast("long") % n_shards),
    )
    w = Window.partitionBy("shard").orderBy("ekey", "doc_id")
    return keyed.select(
        "doc_id", "shard", F.row_number().over(w).cast("long").alias("pos")
    )


# ===========================================================================
# Round-6 gate cohort — built and locally oracle-verified during r05
# (while that round's 50 window slots were consumed by the rotation debt
# + changed set), REGISTERED in r06 and placed in the r06 driver window
# for their first hard-signal rows. The gates (q_media_probe,
# q_audio_decode, q_pii_redact, q_sq8_quantize, q_pq_encode,
# q_stream_topk, q_ann_pq, q_bloom_decontaminate) remain additionally
# pinned by tests/test_multimodal.py::test_pending_media_probe_gate and
# tests/test_pending_gates.py against the same DuckDB oracles the driver
# runs (plus the driver-safe-output-type binding guard).
# ===========================================================================
Q_MEDIA_PROBE_ORACLE = """
    WITH m AS (SELECT doc_id AS media_id, md5(text) AS h FROM documents),
    x AS (SELECT media_id,
            ('0x' || substr(h, 1, 2))::BIGINT AS b0,
            ('0x' || substr(h, 3, 2))::BIGINT AS b1,
            ('0x' || substr(h, 5, 2))::BIGINT AS b2,
            ('0x' || substr(h, 7, 2))::BIGINT AS b3,
            ('0x' || substr(h, 9, 2))::BIGINT AS b4,
            ('0x' || substr(h, 11, 2))::BIGINT AS b5
          FROM m),
    r AS (SELECT *,
            CASE b2 % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS rate
          FROM x)
    SELECT media_id,
           CASE b0 % 3 WHEN 0 THEN 'mp4' WHEN 1 THEN 'mp3' ELSE 'wav' END AS container,
           CAST(CASE b0 % 3
                WHEN 0 THEN b1 * 256 + b2
                WHEN 1 THEN ((b1 % 50 + 10) * 1152 * 1000) // rate
                ELSE ((b1 % 4000 + 100) * 1000) // 8000 END AS BIGINT) AS duration_ms,
           CAST(CASE WHEN b0 % 3 = 0 THEN b3 % 1024 + 16 ELSE 0 END AS BIGINT) AS width,
           CAST(CASE WHEN b0 % 3 = 0 THEN b4 % 1024 + 16 ELSE 0 END AS BIGINT) AS height,
           CAST(CASE b0 % 3 WHEN 0 THEN 0 WHEN 1 THEN rate ELSE 8000 END AS BIGINT) AS sample_rate,
           CAST(CASE WHEN b0 % 3 = 0 THEN b5 % 3 + 1 ELSE 1 END AS BIGINT) AS n_tracks
    FROM r
"""


Q_AUDIO_DECODE_ORACLE = """
    WITH m AS (SELECT doc_id AS media_id, md5(text) AS h FROM documents)
    SELECT media_id,
           CAST(CASE ('0x' || substr(h, 5, 2))::BIGINT % 3
                WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 32000 END AS BIGINT)
             AS sample_rate,
           CAST(1 AS BIGINT) AS n_channels,
           CAST(('0x' || substr(h, 3, 2))::BIGINT % 4000 + 1000 AS BIGINT)
             AS n_samples,
           CAST(abs(('0x' || substr(h, 7, 2))::BIGINT * 8 - 1020) AS DOUBLE)
             AS mean_abs
    FROM m
"""


@query("q_audio_decode", oracle=Q_AUDIO_DECODE_ORACLE)
def q_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real WAV + FLAC decode gate (registered r06, like q_media_probe):
    constant-amplitude signals built per doc, decoded by the production
    decode_audio kernel; rate / sample count / mean amplitude are exact
    and SQL-predicted. mean_abs of a constant signal is the
    exactly-representable |amp| in both engines."""
    from hadoop_gpu_spark.multimodal import attach_flat_audio, decode_audio

    docs = T(spark, sf_dir, "documents")
    media = attach_flat_audio(docs, "doc_id", "text")
    return decode_audio(media).select(
        "media_id",
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.col("n_channels").cast("long").alias("n_channels"),
        F.col("n_samples").cast("long").alias("n_samples"),
        "mean_abs",
    )


@query("q_media_probe", oracle=Q_MEDIA_PROBE_ORACLE)
def q_media_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-metadata probing gate (registered r06): REAL
    MP4 / MP3 / WAV byte structures built per doc (every field a function
    of md5(text), builders emit genuinely valid streams), then the
    production probe_media kernel parses them back — the codec-free
    validate/measure/route pass of a media-corpus pipeline under the SQL
    oracle."""
    from hadoop_gpu_spark.multimodal import attach_probe_media, probe_media

    docs = T(spark, sf_dir, "documents")
    media = attach_probe_media(docs, "doc_id", "text")
    return probe_media(media)


# ---------------------------------------------------------------------------
# r06 gate (registered r06): PII redaction (emails / phones / IPv4) over the
# documents corpus. Synthetic PII is injected deterministically from
# md5(text) (the corpus ships none), counts are taken pre-redaction, and
# the whole pass is regexp column expressions — map-only, zero shuffles,
# patterns held to the Java/RE2 common subset so the DuckDB oracle
# reproduces the redaction byte-for-byte. functions/pii.py.
# ---------------------------------------------------------------------------
def _pii_oracle() -> str:
    from hadoop_gpu_spark.functions.pii import (
        EMAIL_RE,
        IPV4_RE,
        PHONE_RE,
        SYNTH_PII_SQL,
    )

    return f"""
    WITH pii AS ({SYNTH_PII_SQL}),
    r AS (SELECT doc_id, text,
            regexp_replace(regexp_replace(regexp_replace(text,
              '{EMAIL_RE}', '<EMAIL>', 'g'),
              '{PHONE_RE}', '<PHONE>', 'g'),
              '{IPV4_RE}', '<IP>', 'g') AS red
          FROM pii)
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{PHONE_RE}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(text, '{IPV4_RE}')) AS BIGINT) AS n_ips,
           md5(red) AS redacted_hash,
           CAST(length(red) AS BIGINT) AS redacted_len
    FROM r
    """


Q_PII_REDACT_ORACLE = _pii_oracle()


@query("q_pii_redact", oracle=Q_PII_REDACT_ORACLE)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub gate (registered r06): inject deterministic
    synthetic PII, count matches per family on the original text, redact
    email -> phone -> IPv4, and emit the redacted hash + length."""
    from hadoop_gpu_spark.functions.pii import (
        attach_synthetic_pii,
        pii_counts,
        redact_pii,
    )

    docs = T(spark, sf_dir, "documents")
    pii = attach_synthetic_pii(docs, "doc_id", "text")
    counts = pii_counts(F.col("text"))
    red = redact_pii(F.col("text"))
    return pii.select(
        "doc_id",
        counts["n_emails"].alias("n_emails"),
        counts["n_phones"].alias("n_phones"),
        counts["n_ips"].alias("n_ips"),
        F.md5(F.encode(red, "UTF-8")).alias("redacted_hash"),
        F.length(red).cast("long").alias("redacted_len"),
    )


# ---------------------------------------------------------------------------
# r06 gate (registered r06): int8 scalar quantization of the embeddings corpus
# (similarity/quantize.py). One partial-aggregated pass learns the
# per-dimension |max| (the 64-double model), then the corpus quantizes
# map-only with the model as a broadcast literal. Integer outputs keep the
# gate hash order-independent.
# ---------------------------------------------------------------------------
def _sq8_oracle() -> str:
    from hadoop_gpu_spark.similarity.quantize import SQ8_SQL

    return SQ8_SQL


Q_SQ8_QUANTIZE_ORACLE = _sq8_oracle()


@query("q_sq8_quantize", oracle=Q_SQ8_QUANTIZE_ORACLE)
def q_sq8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 embedding quantization gate (registered r06)."""
    from hadoop_gpu_spark.similarity.quantize import sq8_quantize

    return sq8_quantize(T(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# r06 gate (registered r06): product-quantization encode (similarity/quantize.py) —
# 64-dim vectors to 8 centroid indices (PQ8x4bit) against a deterministic
# dyadic codebook; map-only. Production path is the Arrow/numpy kernel
# (the full-codebook expression twin exceeds the 64 KB codegen method
# limit and is kept as the oracle-spec anchor, parity-fuzz-pinned); the
# SQL twin is generated from the same codebook values so every float
# expression tree matches bit-for-bit.
# ---------------------------------------------------------------------------
def _pq_oracle() -> str:
    from hadoop_gpu_spark.similarity.quantize import pq_codebook, pq_encode_sql

    return pq_encode_sql(pq_codebook())


Q_PQ_ENCODE_ORACLE = _pq_oracle()


@query("q_pq_encode", oracle=Q_PQ_ENCODE_ORACLE)
def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode gate (registered r06)."""
    from hadoop_gpu_spark.similarity.quantize import pq_encode

    return pq_encode(T(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# r06 gate (registered r06): Bloom-prefiltered decontamination (operators/bloom.py)
# — the scale twin of q_contamination: the eval side's gram rows are
# dropped by a broadcast Bloom bitset over the train grams BEFORE any
# shuffle; the surviving candidates go through the exact semi-join verify
# that removes Bloom false positives, so the output (eval docs sharing NO
# 8-gram with the train split) is exact and the oracle is plain SQL.
# Reference analog: M/io/BloomMapFile.java:79 (bloom-gated key lookup),
# re-expressed as a join prefilter.
# ---------------------------------------------------------------------------
Q_BLOOM_DECONTAMINATE_ORACLE = f"""
    WITH g AS (SELECT doc_id, doc_id % 2 AS part, unnest({_gram_hash_sql(8)}) AS gh
               FROM documents),
    tr AS (SELECT DISTINCT gh FROM g WHERE part = 0),
    ev AS (SELECT doc_id, gh FROM g WHERE part = 1),
    dirty AS (SELECT DISTINCT doc_id FROM ev JOIN tr USING (gh))
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM ev
    WHERE doc_id NOT IN (SELECT doc_id FROM dirty)
    GROUP BY doc_id
"""


@query("q_bloom_decontaminate", oracle=Q_BLOOM_DECONTAMINATE_ORACLE)
def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clean-eval-docs gate (registered r06): eval docs whose
    distinct word-8-grams never appear in the train split, found via
    Bloom prefilter + exact verify."""
    from hadoop_gpu_spark.operators.bloom import bloom_might_contain, build_bloom
    from hadoop_gpu_spark.operators.fields import tokenize

    m_bits, k = 1 << 20, 4
    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    g = docs.select(
        "doc_id",
        (F.col("doc_id") % 2).alias("part"),
        F.explode(_gram_hashes(tokenize("text"), 8)).alias("gh"),
    )
    train = g.filter(F.col("part") == 0).select("gh")
    ev = g.filter(F.col("part") == 1).select("doc_id", "gh")
    bloom = build_bloom(train, "gh", m_bits, k)
    cand = ev.filter(bloom_might_contain(bloom, F.col("gh"), m_bits, k))
    dirty = cand.join(train.distinct(), "gh", "left_semi").select("doc_id").distinct()
    return (
        ev.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_grams"))
        .join(dirty, "doc_id", "left_anti")
        .select("doc_id", "n_grams")
    )


# ---------------------------------------------------------------------------
# r06 gate (registered r06): ADC top-k over PQ codes (similarity/quantize.py:
# pq_adc_topk) — the search half of product quantization, completing the
# ANN family (brute force / IVF / LSH / PQ-ADC). Same query convention as
# q_ann_topk (vec_id < 8, k = 5); corpus scans once as 4-bit codes, each
# query ships a broadcast LUT of subspace distances.
# ---------------------------------------------------------------------------
def _adc_oracle() -> str:
    from hadoop_gpu_spark.similarity.quantize import pq_adc_sql, pq_codebook

    return pq_adc_sql(pq_codebook())


Q_ANN_PQ_ORACLE = _adc_oracle()


@query("q_ann_pq", oracle=Q_ANN_PQ_ORACLE)
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC top-k gate (registered r06)."""
    from hadoop_gpu_spark.similarity.quantize import pq_adc_topk

    return pq_adc_topk(T(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# r06 gate (registered r06): streaming top-k event types per hour through the
# foreachBatch snapshot sink (streaming/__init__.py:topk_per_window_snapshot)
# — the rank-over-a-streaming-aggregate pattern plus the
# idempotent-overwrite sink, neither exercised by the existing stream
# gates. Snapshot size is |windows| * k regardless of input volume.
# ---------------------------------------------------------------------------
Q_STREAM_TOPK_ORACLE = """
    WITH h AS (
      SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2)
    SELECT hour, event_type, cnt, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY hour
                                   ORDER BY cnt DESC, event_type ASC) AS rank
      FROM h)
    WHERE rank <= 3
"""


def _snapshot_scratch_dir(prefix: str, *key_parts) -> str:
    """Per-(process, config) streaming-snapshot dir (r09 ADVICE low on
    q_stream_cms_freq, applied to every snapshot site): the pid keeps
    concurrent processes apart and the dead-pid sweep applicable (the
    name still ends ``_<pid>``); the config digest keeps two sf_dirs (or
    parameterizations) constructed in ONE process from overwriting each
    other's snapshot before a lazy reader collects. Same config in the
    same process still reuses ONE overwrite-mode directory — warm bench
    cycles accumulate nothing."""
    import hashlib
    import os
    import tempfile

    digest = hashlib.md5("|".join(map(str, key_parts)).encode()).hexdigest()[:8]
    return os.path.join(
        tempfile.gettempdir(), f"hgs_{prefix}_{digest}_{os.getpid()}"
    )


@query("q_stream_topk", oracle=Q_STREAM_TOPK_ORACLE)
def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming hourly top-3 event types (registered r06)."""
    from hadoop_gpu_spark.streaming import (
        events_stream,
        topk_per_window_snapshot,
        windowed_counts,
    )

    agg = windowed_counts(events_stream(spark, sf_dir))
    out_dir = _snapshot_scratch_dir("stream_topk", sf_dir, 3)
    snap = topk_per_window_snapshot(agg, out_dir, k=3)
    return snap.select("hour", "event_type", "cnt", "rank")


# ===========================================================================
# Round-7 gate cohort — built + oracle-pinned during r06 (while that
# round's 50 window slots were exactly consumed by 8 gates + 21 HEADLINE
# + 21 rotation), REGISTERED in r07 and placed in the r07 driver window
# for their first hard-signal rows. They remain additionally pinned by
# tests/test_pending_gates.py against the same DuckDB oracles the driver
# runs (the local fast-path check, same as the r06 cohort).
# ===========================================================================
def _chunk_oracle() -> str:
    from hadoop_gpu_spark.operators.chunking import chunk_sql

    return chunk_sql("documents", "doc_id", "text", window=64, stride=48)


Q_CHUNK_DOCUMENTS_ORACLE = _chunk_oracle()


@query("q_chunk_documents", oracle=Q_CHUNK_DOCUMENTS_ORACLE)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking (r07 gate): every
    document exploded into 64-token chunks every 48 tokens (16-token
    overlap), keyed by chunk hash — the context-window prep pass of a
    training/RAG pipeline. Map-only narrow plan, zero Python."""
    from hadoop_gpu_spark.operators.chunking import chunk_documents

    return chunk_documents(
        T(spark, sf_dir, "documents"), "doc_id", "text", window=64, stride=48
    )


Q_DOMAIN_CAP_ORACLE = """
    WITH r AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(source || chr(0) || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rank
      FROM documents)
    SELECT doc_id, source, CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= 8
"""


@query("q_domain_cap", oracle=Q_DOMAIN_CAP_ORACLE)
def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota sampling (r07 gate): keep at most
    8 docs per source by deterministic md5 rank — the crawl-pipeline
    domain cap. Exercises the skew-armored two-stage path (narrow
    per-partition pre-cap, then the keyed ranking window)."""
    from hadoop_gpu_spark.operators.sampling import domain_cap

    docs = T(spark, sf_dir, "documents").select("doc_id", "source")
    out = domain_cap(docs, "source", "doc_id", n=8, pre_cap=True)
    return out.select("doc_id", "source", F.col("rank").cast("long").alias("rank"))


# Distance-to-centroid outliers, NOT norm outliers: the embeddings corpus
# is unit-normalized (every L2 norm is exactly 1.0), so a norm z-score
# has zero variance — the meaningful corruption signal on unit vectors is
# ANGULAR: distance from the corpus centroid. Every cross-row float sum
# (the per-dimension centroid, the per-row squared distance joined across
# an engine boundary, the distance moments) goes through the repo's
# order-independent decimal-quantization convention; zero-variance
# degenerates to z = 0 via an explicit CASE on both engines instead of a
# division (ANSI mode raises DIVIDE_BY_ZERO even for doubles).
Q_EMBEDDING_OUTLIERS_ORACLE = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    ex AS (SELECT vec_id,
                  unnest(range(1, 1 + len(v))) AS i,
                  unnest(v) AS x
           FROM e),
    cent AS (SELECT i,
                    CAST(SUM(CAST(round(x, 6) AS DECIMAL(18,6))) AS DOUBLE)
                      / COUNT(*) AS c
             FROM ex GROUP BY i),
    d AS (SELECT vec_id,
                 sqrt(CAST(SUM(CAST(round((x - c) * (x - c), 9)
                                    AS DECIMAL(28,12))) AS DOUBLE)) AS dist
          FROM ex JOIN cent USING (i) GROUP BY vec_id),
    q AS (SELECT vec_id, dist,
                 CAST(round(dist, 6) AS DECIMAL(18,6)) AS dq
          FROM d),
    s AS (SELECT SUM(dq) AS sn, SUM(dq * dq) AS ssq, COUNT(*) AS n FROM q),
    zc AS (SELECT vec_id, dist,
                  CAST(sn AS DOUBLE) / n AS mean,
                  CAST(ssq AS DOUBLE) / n
                    - (CAST(sn AS DOUBLE) / n) * (CAST(sn AS DOUBLE) / n) AS var,
                  CAST(dq AS DOUBLE) AS dqd
           FROM q, s)
    SELECT vec_id,
           round(dist, 9) AS dist,
           CASE WHEN var > 0
                THEN round((dqd - mean) / sqrt(var), 6) ELSE 0.0 END AS z,
           abs(CASE WHEN var > 0
                THEN round((dqd - mean) / sqrt(var), 6) ELSE 0.0 END) > 2
             AS is_outlier
    FROM zc
"""


@query("q_embedding_outliers", oracle=Q_EMBEDDING_OUTLIERS_ORACLE)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier flagging (r07 gate): z-score of
    each vector's distance to the corpus centroid — the corrupt-embedding
    filter a vector pipeline runs before indexing (the corpus is
    unit-normalized, so norm-based scoring is degenerate; angular
    distance from the centroid is the signal). Centroid is a 64-double
    model computed with order-independent decimal sums and collected to
    the driver (same k-row-collect class as k-means centroids), then
    rides every task as an array literal — the corpus scans exactly twice
    (centroid pass, then one distance pass whose narrow 3-column output
    is cached via eager_persist for the moment/z reads), maps only, and
    never shuffles rows."""
    d_col = "embedding"
    emb = T(spark, sf_dir, "embeddings")

    # pass 1: per-dimension centroid (decimal-exact, order-independent)
    ex = emb.select(F.posexplode(d_col).alias("pos", "x"))
    cent_rows = (
        ex.groupBy("pos")
        .agg(
            (
                F.sum(F.round(F.col("x").cast("double"), 6).cast("decimal(18,6)"))
                .cast("double")
                / F.count(F.lit(1))
            ).alias("c")
        )
        .collect()
    )
    cent = [r["c"] for r in sorted(cent_rows, key=lambda r: r["pos"])]
    cent_lit = F.array(*[F.lit(float(c)) for c in cent])

    # pass 2: per-row distance (decimal-quantized term sum), then moments
    terms = F.zip_with(
        F.col(d_col),
        cent_lit,
        lambda x, c: F.round(
            (x.cast("double") - c) * (x.cast("double") - c), 9
        ).cast("decimal(28,12)"),
    )
    dist = F.sqrt(
        F.aggregate(
            terms,
            F.lit(0).cast("decimal(28,12)"),
            # re-cast each step: decimal addition widens precision by one
            # and F.aggregate requires the lambda to return the acc type;
            # 28,12 cannot overflow here (64 terms, each < 4e9)
            lambda acc, t: (acc + t).cast("decimal(28,12)"),
        ).cast("double")
    )
    # utils.eager_persist (q11 pattern): the moment pass and the final
    # z-score select both read the cached |corpus|-row (vec_id, dist,
    # dq) frame — without it the crossJoin's stats branch is a second
    # pruned plan branch that re-runs the whole distance pass (a third
    # full corpus scan at 100 TB). Cached with lineage, not
    # localCheckpoint-ed (r07 ADVICE: executor loss must degrade to
    # recompute, not kill the plan).
    d = eager_persist(
        emb.select(
            "vec_id",
            dist.alias("dist"),
            F.round(dist, 6).cast("decimal(18,6)").alias("dq"),
        )
    )
    stats = d.agg(
        F.sum("dq").alias("sn"),
        F.sum(F.col("dq") * F.col("dq")).alias("ssq"),
        F.count(F.lit(1)).alias("n"),
    )
    j = d.crossJoin(F.broadcast(stats))
    mean = F.col("sn").cast("double") / F.col("n")
    var = F.col("ssq").cast("double") / F.col("n") - mean * mean
    z = F.when(
        var > 0,
        F.round((F.col("dq").cast("double") - mean) / F.sqrt(var), 6),
    ).otherwise(F.lit(0.0))
    return j.select(
        "vec_id",
        F.round("dist", 9).alias("dist"),
        z.alias("z"),
        (F.abs(z) > 2).alias("is_outlier"),
    )


def _normalize_oracle() -> str:
    from hadoop_gpu_spark.functions.text import NORMALIZE_TEXT_SQL_TMPL

    norm = NORMALIZE_TEXT_SQL_TMPL.format(col="text")
    return f"""
    SELECT doc_id,
           md5({norm}) AS norm_hash,
           CAST(length({norm}) AS BIGINT) AS norm_len
    FROM documents
    """


Q_TEXT_NORMALIZE_ORACLE = _normalize_oracle()


@query("q_text_normalize", oracle=Q_TEXT_NORMALIZE_ORACLE)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-canonicalization pass (r07 gate):
    ASCII-lower via translate (locale-free), strip non-alphanumerics,
    collapse whitespace — emit the canonical hash + length. Patterns
    held to the Java/RE2 common subset (explicit whitespace classes, no
    \\s — Java's includes \\x0B, RE2's does not), same engine-parity
    discipline as functions/pii.py."""
    from hadoop_gpu_spark.functions.text import normalize_text

    docs = T(spark, sf_dir, "documents")
    norm = normalize_text("text")
    return docs.select(
        "doc_id",
        F.md5(F.encode(norm, "UTF-8")).alias("norm_hash"),
        F.length(norm).cast("long").alias("norm_len"),
    )


# ===========================================================================
# Round-8 gates (registered r08, first driver rows this round — built and
# oracle-pinned at both scales since r06 via tests/test_pending_gates.py;
# the r07 window was exactly spoken for, so registration waited for the
# enumerated r08 slots per ARCHITECTURE.md "Round-7 outcomes" #2).
# ===========================================================================
def _funnel_oracle() -> str:
    from hadoop_gpu_spark.operators.funnel import funnel_sql

    return funnel_sql("events", "user_id", "ts", "event_type", ["view", "click", "purchase"])


Q_FUNNEL_ORACLE = _funnel_oracle()


@query("q_funnel", oracle=Q_FUNNEL_ORACLE)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view->click->purchase funnel per user (r08 gate):
    first-completion time of each step strictly after the previous step,
    one shuffle total (see operators/funnel.py); times exposed as
    epoch-micros BIGINTs (never raw sub-second timestamps)."""
    from hadoop_gpu_spark.operators.funnel import funnel

    ev = T(spark, sf_dir, "events")
    return funnel(ev, "user_id", "ts", "event_type", ["view", "click", "purchase"])


def _pq_train_oracle() -> str:
    from hadoop_gpu_spark.similarity.quantize import pq_train_sql

    return pq_train_sql()


Q_PQ_TRAIN_ORACLE = _pq_train_oracle()


@query("q_pq_train", oracle=Q_PQ_TRAIN_ORACLE)
def q_pq_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-adaptive PQ codebook training (r08 gate): k-means on an
    INTEGER LATTICE so every Lloyd step — init order, distances, argmin
    ties, centroid floor-division updates — is exact and the oracle
    replays the identical iterations; the gate compares the trained
    128-row codebooks themselves (all-int, driver-safe)."""
    from hadoop_gpu_spark.similarity.quantize import pq_train

    return pq_train(T(spark, sf_dir, "embeddings"))




# ===========================================================================
# Round-9 gates — REGISTERED this round (the r06 "no new pending gates
# before r09" ledger rule expired on schedule). Built + oracle-pinned at
# both scales during r08 staging (tests/test_r09_candidates.py ran the
# driver-identical comparison every session since); the registration act
# was the promised one-line @query move per gate. q_stream_quantiles
# stays STAGED for r10 — the r09 window's 5 spare slots went 3 gates +
# 2 changed queries (the _unigram_nll global-window fix landed this
# round and the changed-query rule is absolute), exactly the deferral
# branch the r08 slot math anticipated.
# ===========================================================================
_QSKETCH_ARGS = dict(lo=0.0, hi=120000.0, n_buckets=4096, scale=100)
_QSKETCH_QS = [0.25, 0.5, 0.9, 0.99]


def _quantile_sketch_oracle() -> str:
    from hadoop_gpu_spark.operators.quantiles import histogram_quantiles_sql

    return histogram_quantiles_sql(
        "lineitem", "l_extendedprice", _QSKETCH_QS, ["l_returnflag"], **_QSKETCH_ARGS
    )


Q_QUANTILE_SKETCH_ORACLE = _quantile_sketch_oracle()


@query("q_quantile_sketch", oracle=Q_QUANTILE_SKETCH_ORACLE)
def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped quantile estimates from the fixed-lattice histogram sketch
    (r09 candidate gate): one corpus pass, ≤ |groups|·4096 sketch rows
    ever cross an exchange, estimates within one bucket width ($29.30
    here) of the exact order statistics — the mergeable, engine-exact
    alternative to GK/KLL (see operators/quantiles.py for why those
    cannot feed a value-hash oracle)."""
    from hadoop_gpu_spark.operators.quantiles import histogram_quantiles

    li = T(spark, sf_dir, "lineitem")
    return histogram_quantiles(
        li, "l_extendedprice", _QSKETCH_QS, ["l_returnflag"], **_QSKETCH_ARGS
    )


Q_ASOF_EVENT_STATE_ORACLE = """
    WITH p AS (SELECT event_id, user_id, ts, value AS purchase_value
               FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, MAX(value) AS click_value
               FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
    SELECT p.event_id, p.user_id,
           CAST(epoch_us(p.ts) AS BIGINT) AS purchase_us,
           CAST(epoch_us(c.ts) AS BIGINT) AS click_us,
           c.click_value, p.purchase_value
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


@query("q_asof_event_state", oracle=Q_ASOF_EVENT_STATE_ORACLE)
def q_asof_event_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join on real event data (r09 candidate gate): each purchase
    picks up the latest prior-or-simultaneous click per user — the
    operator surface the r07 fuzz proved against DuckDB's native ASOF
    JOIN, now as a driver-checkable query. The right side is
    pre-aggregated to one row per (user, ts) so the as-of pick is
    deterministic on both engines; times are epoch-micros BIGINTs
    (the funnel convention, never raw sub-second timestamps)."""
    from hadoop_gpu_spark.operators.joins import asof_join

    ev = T(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
        .withColumn("click_us", F.unix_micros("ts"))
    )
    out = asof_join(
        purchases, clicks, on="ts", by=["user_id"],
        right_cols=["click_value", "click_us"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_us"),
        "click_us",
        "click_value",
        "purchase_value",
    )


Q_BUCKETED_CTAS_ORACLE = """
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
"""


@query("q_bucketed_ctas", oracle=Q_BUCKETED_CTAS_ORACLE)
def q_bucketed_ctas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-write CTAS round-trip (r09 candidate gate): CREATE TABLE
    ... CLUSTERED BY ... SORTED BY ... INTO 8 BUCKETS AS SELECT through
    the SQL surface for both join sides, then join the read-back tables
    and aggregate. At 100 TB this is THE repeated-join strategy — pay
    the shuffle once at write time (co-bucketed tables SMJ with zero
    Exchange; pinned by tests/test_r09_candidates.py with broadcast
    disabled) — and the gate proves the round trip loses no rows and no
    values. Table names are FIXED per sf tag (no pid — r08 ADVICE):
    every run overwrites the same pair, so successive driver/bench/sweep
    PROCESSES never accumulate scratch tables in the warehouse. A fresh
    process's in-memory catalog doesn't know a predecessor's managed
    table, so after DROP the leftover warehouse directory for exactly
    these names is removed before CREATE (a managed CREATE onto an
    existing location is an error, not an overwrite)."""
    import os as _os
    import shutil as _shutil
    from urllib.parse import urlparse as _urlparse

    tag = _os.path.basename(_os.path.normpath(sf_dir)).replace(".", "_")
    specs = [
        ("orders", f"hgs_ctas_orders_{tag}", "o_custkey",
         ["o_orderkey", "o_custkey", "o_totalprice"]),
        ("customer", f"hgs_ctas_customer_{tag}", "c_custkey",
         ["c_custkey", "c_mktsegment"]),
    ]
    wh = _urlparse(spark.conf.get("spark.sql.warehouse.dir", ""))
    wh_path = wh.path if wh.scheme in ("", "file") else None
    names = {}
    for table, name, key, cols in specs:
        T(spark, sf_dir, table).select(*cols).createOrReplaceTempView(f"__{name}_src")
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        if wh_path:
            stale = _os.path.join(wh_path, name)
            if _os.path.isdir(stale):
                _shutil.rmtree(stale, ignore_errors=True)
        spark.sql(
            f"CREATE TABLE {name} USING parquet CLUSTERED BY ({key}) "
            f"SORTED BY ({key}) INTO 8 BUCKETS AS SELECT * FROM __{name}_src"
        )
        names[table] = name
    o = spark.table(names["orders"])
    c = spark.table(names["customer"])
    j = o.join(c, o.o_custkey == c.c_custkey)
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("sum_total"),
    )


# ---------------------------------------------------------------------------
# MoreLikeThis related-document retrieval (r16-built, STAGED for r17):
# each seed document's top max_query_terms terms by tf·idf become a BM25
# query over the corpus — Lucene MoreLikeThis (the reference's Lucene
# index contrib, H/src/contrib/index/, is the retrieval north-star this
# family implements). The term cap is the scale lever: candidates are
# bounded by the rare terms' document frequencies, never the corpus.
# ---------------------------------------------------------------------------
def _morelikethis_oracle() -> str:
    from hadoop_gpu_spark.operators.retrieval import morelikethis_sql

    return morelikethis_sql("documents", n_seeds=8, max_query_terms=8, top_k=10)


Q_MORELIKETHIS_ORACLE = _morelikethis_oracle()


@query("q_morelikethis", oracle=Q_MORELIKETHIS_ORACLE)
def q_morelikethis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MoreLikeThis related-document retrieval: each seed doc's top
    tf·idf terms become a BM25 query over the corpus (r16-built and
    r16-registered — evidence in tests/test_r16_candidates.py:
    both-scale oracle parity, pure-python third impl, seed-permutation
    and term-cap invariants, text-never-shuffles pin). The Lucene
    MoreLikeThis analog over the reference's index contrib north star
    (H/src/contrib/index/)."""
    from hadoop_gpu_spark.operators.retrieval import morelikethis_topk

    return morelikethis_topk(
        T(spark, sf_dir, "documents"), n_seeds=8, max_query_terms=8, top_k=10
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval via reciprocal-rank fusion (r16-built, STAGED for
# r17): the MoreLikeThis lexical ranking fused with the dense
# embedding-cosine ranking for the same seed ids (doc_id ↔ vec_id, the
# corpus' dual representation) — RRF with the standard c=60, the
# combiner Elasticsearch/OpenSearch/Vespa ship for exactly this
# lexical+semantic shape. Fusion runs over the two top-k lists only
# (|queries| × k rows each); the corpus is touched by the two legs, not
# by the fuse.
# ---------------------------------------------------------------------------
_HYBRID_N_SEEDS = 8
_HYBRID_K = 10


def _hybrid_rrf_oracle() -> str:
    from hadoop_gpu_spark.operators.retrieval import morelikethis_sql, rrf_fuse_sql

    sparse = (
        "SELECT qid, doc_id AS nid, rank FROM ("
        + morelikethis_sql(
            "documents", n_seeds=_HYBRID_N_SEEDS, max_query_terms=8, top_k=_HYBRID_K
        )
        + ")"
    )
    dense = f"""
    SELECT qid, nid, rank FROM (
      SELECT q.vec_id AS qid, e.vec_id AS nid,
             CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
                  ORDER BY {_COS_SQL} DESC, e.vec_id ASC) AS BIGINT) AS rank
      FROM embeddings q, embeddings e
      WHERE q.vec_id < {_HYBRID_N_SEEDS} AND q.vec_id <> e.vec_id)
    WHERE rank <= {_HYBRID_K}"""
    return rrf_fuse_sql({"lex": sparse, "sem": dense}, c=60, top_k=_HYBRID_K)


Q_HYBRID_RRF_ORACLE = _hybrid_rrf_oracle()


@query("q_hybrid_rrf", oracle=Q_HYBRID_RRF_ORACLE)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the MoreLikeThis lexical ranking and
    the dense embedding-cosine ranking for the same seeds (r16-built
    and r16-registered — evidence in tests/test_r16_candidates.py:
    both-scale oracle parity, third impl, leg-permutation invariants).
    The fuse touches only the two top-k lists (|queries| × k rows); the
    corpus is touched by the legs, never by the fusion."""
    from hadoop_gpu_spark.operators.retrieval import morelikethis_topk, rrf_fuse
    from hadoop_gpu_spark.similarity.ann import brute_force_topk

    docs = T(spark, sf_dir, "documents")
    emb = T(spark, sf_dir, "embeddings")
    sparse = morelikethis_topk(
        docs, n_seeds=_HYBRID_N_SEEDS, max_query_terms=8, top_k=_HYBRID_K
    ).select("qid", F.col("doc_id").alias("nid"), "rank")
    dense = brute_force_topk(
        emb,
        emb.filter(F.col("vec_id") < _HYBRID_N_SEEDS),
        "embedding",
        "vec_id",
        k=_HYBRID_K,
    ).select("qid", "nid", "rank")
    return rrf_fuse({"lex": sparse, "sem": dense}, c=60, top_k=_HYBRID_K)


# ---------------------------------------------------------------------------
# Residual-encoded IVF-PQ (r16-built, STAGED for r17): PQ codes of
# x − c(x) with per-(query, probed-cell) ADC LUTs — Jégou et al. 2011
# §V.B ("IVFADC"), the variant faiss IndexIVFPQ ships. Same determinism
# conventions as q_ann_ivfpq (first-16 centroids, first-8 queries,
# dyadic codebook, lower-id ties); same never-shuffle-the-corpus shape.
# ---------------------------------------------------------------------------
def _ivfpq_residual_oracle() -> str:
    from hadoop_gpu_spark.similarity.quantize import ivfpq_residual_sql, pq_codebook

    return ivfpq_residual_sql(pq_codebook())


Q_ANN_IVFPQ_RESIDUAL_ORACLE = _ivfpq_residual_oracle()


@query("q_ann_ivfpq_residual", oracle=Q_ANN_IVFPQ_RESIDUAL_ORACLE)
def q_ann_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-encoded IVF-PQ top-k (IVFADC, Jégou et al. 2011 §V.B —
    the faiss IndexIVFPQ shape; r16-built and r16-registered, evidence
    in tests/test_r16_candidates.py: both-scale oracle parity,
    pure-numpy third impl, residual≡plain-PQ degenerate-codebook
    equivalence, corpus-never-shuffles plan pin)."""
    from hadoop_gpu_spark.similarity.quantize import ivfpq_residual_topk

    return ivfpq_residual_topk(T(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# IVFADC+R (r16-built, late-round continuation): the residual IVF-PQ
# shortlist re-ranked by EXACT distances fetched from the raw vectors —
# Jégou et al. 2011 §VI ("re-ranking with source coding"), the recall
# -recovery stage production IVFPQ deployments run. Stage 1 is
# q_ann_ivfpq_residual verbatim with k=shortlist; stage 2 broadcasts
# the |queries| × shortlist candidate list onto the corpus scan (a
# map-side id fetch — zero corpus exchanges in either stage) and
# re-ranks on the q_ann_topk exact-distance conventions.
# ---------------------------------------------------------------------------
def _ivfadc_r_oracle() -> str:
    from hadoop_gpu_spark.similarity.quantize import ivfadc_r_sql, pq_codebook

    return ivfadc_r_sql(pq_codebook())


Q_ANN_IVFADC_R_ORACLE = _ivfadc_r_oracle()


@query("q_ann_ivfadc_r", oracle=Q_ANN_IVFADC_R_ORACLE)
def q_ann_ivfadc_r(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC+R: residual IVF-PQ shortlist (k=20) re-ranked by exact
    squared-L2 over the fetched raw vectors (Jégou et al. 2011 §VI;
    r16-built and r16-registered — evidence in
    tests/test_r16b_candidates.py: both-scale oracle parity, numpy
    third impl, shortlist containment / ADC-consistency / rank-1
    improvement invariants, corpus-never-shuffles plan pin)."""
    from hadoop_gpu_spark.similarity.quantize import ivfadc_r_topk

    return ivfadc_r_topk(T(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# MoreLikeThis with Lucene's term-selection knobs (r16-built, late-round
# continuation): minTermFreq / minDocFreq / maxDocFreq — the remaining
# Lucene MoreLikeThis surface after q_morelikethis's maxQueryTerms. All
# three knobs BIND at the gate's parameters on this corpus (asserted in
# the evidence tests — the synthetic vocabulary is dense, so the df
# thresholds sit in the observed df band of repeated seed terms,
# [373, 415]), and maxDocFreq is the 100 TB safety rail: it hard-caps
# candidate fanout at max_query_terms × max_doc_freq rows per seed
# regardless of corpus skew.
# ---------------------------------------------------------------------------
_MLT_KNOBS = dict(min_term_freq=2, min_doc_freq=378, max_doc_freq=395)


def _morelikethis_filtered_oracle() -> str:
    from hadoop_gpu_spark.operators.retrieval import morelikethis_sql

    return morelikethis_sql(
        "documents", n_seeds=8, max_query_terms=8, top_k=10, **_MLT_KNOBS
    )


Q_MORELIKETHIS_FILTERED_ORACLE = _morelikethis_filtered_oracle()


@query("q_morelikethis_filtered", oracle=Q_MORELIKETHIS_FILTERED_ORACLE)
def q_morelikethis_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MoreLikeThis under Lucene's minTermFreq=2 / minDocFreq=378 /
    maxDocFreq=395 term-selection knobs (r16-built and r16-registered —
    evidence in tests/test_r16b_candidates.py: both-scale oracle
    parity, stdlib third impl, knob-binding and no-op-default-identity
    invariants, eligibility containment). Same BM25 lattice as
    q_morelikethis; only seed-term ELIGIBILITY changes."""
    from hadoop_gpu_spark.operators.retrieval import morelikethis_topk

    return morelikethis_topk(
        T(spark, sf_dir, "documents"),
        n_seeds=8,
        max_query_terms=8,
        top_k=10,
        **_MLT_KNOBS,
    )


# ---------------------------------------------------------------------------
# Two-stage retrieve-then-rerank (r15-built, r16-registered): the oracle
# composes _BM25_QUERIES, so _rerank_oracle lives here but the @query
# binding sits next to q_bm25_topk below, after the query list exists.
# ---------------------------------------------------------------------------
def _rerank_oracle() -> str:
    from hadoop_gpu_spark.operators.retrieval import rerank_tfidf_topk_sql

    return rerank_tfidf_topk_sql("documents", _BM25_QUERIES, stage1_k=20, top_k=5)


# ---------------------------------------------------------------------------
# IVF-PQ composed ANN (r15-built, r16-registered): coarse probing +
# in-cell ADC — the billion-scale index shape (Jégou et al. 2011),
# composing the engine's proven IVF assignment and PQ code kernels. Same
# determinism conventions as q_ann_ivf / q_ann_pq (centroids = vec_id <
# 16, queries = vec_id < 8, dyadic codebook, ties on lower id) so the
# DuckDB twin is exact. See similarity/quantize.py::ivfpq_topk for the
# 100 TB shape (corpus assigned+encoded in ONE map-side pass; probe set
# + LUTs broadcast; at real scale the codes table is written partitioned
# by centroid_id so a probe is partition pruning).
# ---------------------------------------------------------------------------
def _ivfpq_oracle() -> str:
    from hadoop_gpu_spark.similarity.quantize import ivfpq_sql, pq_codebook

    return ivfpq_sql(pq_codebook())


Q_ANN_IVFPQ_ORACLE = _ivfpq_oracle()


@query("q_ann_ivfpq", oracle=Q_ANN_IVFPQ_ORACLE)
def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k over the embeddings corpus (r16 registration of the
    r15 staged gate — evidence in tests/test_r15_candidates.py:
    both-scale oracle parity, pure-numpy third impl, nprobe=all ≡ PQ-ADC
    equivalence, containment + rank invariants, plan pins)."""
    from hadoop_gpu_spark.similarity.quantize import ivfpq_topk

    return ivfpq_topk(T(spark, sf_dir, "embeddings"))

# The macro-scale soak's extra members beyond bench.HEADLINE (the r14
# gate graduates — scale-sensitive kernels whose exponents the soak
# tracks; scripts/scale_soak.py imports this so the soak set cannot
# drift from the registry when gates are added or retired).
SCALE_SOAK_GATES: list[str] = [
    "q_hll_distinct",
    "q_sparse_allpairs",
    "q_dup_spans",
    "q_bpe_token_counts",
    "q_nb_lang_confusion",
    "q_interval_overlap",
    "q_stream_cms_freq",
    "q_stream_hll_distinct",
]


_STREAM_Q_ARGS = dict(lo=0.0, hi=1000.0, n_buckets=512, scale=100)
_STREAM_Q_QS = [0.25, 0.5, 0.9, 0.99]


def _stream_quantiles_oracle() -> str:
    from hadoop_gpu_spark.operators.quantiles import histogram_quantiles_sql

    return histogram_quantiles_sql(
        "events", "value", _STREAM_Q_QS, ["event_type"], **_STREAM_Q_ARGS
    )


Q_STREAM_QUANTILES_ORACLE = _stream_quantiles_oracle()


@query("q_stream_quantiles", oracle=Q_STREAM_QUANTILES_ORACLE)
def q_stream_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-type value quantiles via the fixed-lattice sketch
    (r09-staged, REGISTERED r10 — first driver row this round): the
    sketch's count-sum merge makes the streaming state a FIXED
    |types|·512 rows regardless of stream volume — after an availableNow
    drain the snapshot equals the batch sketch bit-for-bit, so this gate
    shares the batch operator's exact SQL oracle (no tolerance bands for
    a streaming float statistic). Member of STREAMING_SNAPSHOT: it
    drives a Structured Streaming pipeline at construction, so its batch
    plan is a snapshot read."""
    from hadoop_gpu_spark.operators.quantiles import hist_quantiles
    from hadoop_gpu_spark.streaming import events_stream, hist_sketch_stream_snapshot

    out_dir = _snapshot_scratch_dir(
        "stream_quantiles", sf_dir, sorted(_STREAM_Q_ARGS.items())
    )
    snap = hist_sketch_stream_snapshot(
        events_stream(spark, sf_dir), "value", out_dir,
        group_cols=["event_type"], **_STREAM_Q_ARGS,
    )
    return hist_quantiles(snap, _STREAM_Q_QS, ["event_type"], **_STREAM_Q_ARGS)


# ---------------------------------------------------------------------------
# Streaming MinHash-LSH near-dedup census (r16-continuation build): the
# dedup family enters the streaming family — near-dup candidate
# detection AT INGEST, next to q_stream_dedup's exact content-hash
# dedup. MIN/COUNT-SUM merge algebra makes the availableNow snapshot
# equal the batch band census bit-for-bit, so the gate shares the batch
# minhash SQL lattice (the q_dedup_minhash oracle conventions).
# ---------------------------------------------------------------------------
def _stream_lsh_oracle() -> str:
    from hadoop_gpu_spark.dedup.minhash import (
        NUM_HASHES,
        ROWS_PER_BAND,
        sql_band_hash_expr,
        sql_signature_exprs,
    )

    sig_exprs = ", ".join(sql_signature_exprs(NUM_HASHES))
    band_sel = " UNION ALL ".join(
        f"SELECT doc_id, CAST({b} AS BIGINT) AS band, "
        f"{sql_band_hash_expr(b)} AS band_hash FROM sig"
        for b in range(NUM_HASHES // ROWS_PER_BAND)
    )
    return f"""
    WITH sig AS (SELECT doc_id, {sig_exprs} FROM documents),
    bands AS ({band_sel}),
    census AS (
      SELECT band, band_hash, MIN(doc_id) AS canonical_id,
             CAST(COUNT(*) AS BIGINT) AS members
      FROM bands GROUP BY band, band_hash)
    SELECT band, band_hash, canonical_id, members
    FROM census WHERE members >= 2
    """


Q_STREAM_LSH_DEDUP_ORACLE = _stream_lsh_oracle()


@query("q_stream_lsh_dedup", oracle=Q_STREAM_LSH_DEDUP_ORACLE)
def q_stream_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MinHash-LSH band-bucket census, collided buckets only
    — near-dedup candidate detection at ingest (r16-continuation build
    and registration; evidence in tests/test_r16b_candidates.py:
    both-scale oracle parity, batch≡stream bit-equality, micro-batch
    split invariance, canonical-is-min + candidate-pair consistency vs
    the batch lsh_candidate_pairs operator). Member of
    STREAMING_SNAPSHOT: drives a Structured Streaming pipeline at
    construction, so its batch plan is a snapshot read."""
    from hadoop_gpu_spark.streaming import docs_stream, lsh_bucket_stream_snapshot

    out_dir = _snapshot_scratch_dir("stream_lsh", sf_dir)
    snap = lsh_bucket_stream_snapshot(
        docs_stream(spark, sf_dir), "text", "doc_id", out_dir
    )
    return snap.filter(F.col("members") >= 2).select(
        F.col("band").cast("long").alias("band"),
        "band_hash",
        "canonical_id",
        "members",
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval (r09-built, r11 staged gate): the scored-search
# primitive next to TF-IDF — see operators/retrieval.py for the 100 TB
# shape (query terms prune at the scan; df rides the tf frame; N/total
# are construction-time literals; decimal-exact accumulation).
# Query texts draw from the synthetic corpus vocabulary, including the
# rare 'dup' marker term (high idf) so the ranking exercises real
# discrimination, not just tf mass.
# ---------------------------------------------------------------------------
_BM25_QUERIES = [
    ("q_fast_sort", "fast sort merge"),
    ("q_stream", "stream filter window"),
    ("q_rare", "dup customer"),
]


def _bm25_oracle() -> str:
    from hadoop_gpu_spark.operators.retrieval import bm25_topk_sql

    return bm25_topk_sql("documents", _BM25_QUERIES, top_k=10)


# ---------------------------------------------------------------------------
# BM25F multi-field retrieval (r16-continuation build): per-field soft
# length normalization + field boosts BEFORE one shared saturation —
# Robertson/Zaragoza/Taylor (CIKM 2004), the multi-field scoring shape
# Lucene/Elasticsearch expose. The title field is the first 8 whitespace
# tokens (a deterministic engine-portable boundary; a real corpus
# carries it as a schema column, same lattice). Exact algebraic anchor:
# b=0 + unit weights degenerates to q_bm25_topk with b=0 (test-pinned).
# title_len=16 (not 8): the corpus' minimum doc length is 10 tokens, so
# at 8 every title is full-length and the title normalizer is
# identically 1 (b_title could never bind); at 16 short docs exist at
# both scales and all three normalization knobs provably bind.
# ---------------------------------------------------------------------------
_BM25F_PARAMS = dict(
    title_len=16, w_title=2.0, w_body=1.0, b_title=0.5, b_body=0.75, k1=1.2
)


def _bm25f_oracle() -> str:
    from hadoop_gpu_spark.operators.retrieval import bm25f_topk_sql

    return bm25f_topk_sql("documents", _BM25_QUERIES, top_k=10, **_BM25F_PARAMS)


Q_BM25F_TOPK_ORACLE = _bm25f_oracle()


@query("q_bm25f_topk", oracle=Q_BM25F_TOPK_ORACLE)
def q_bm25f_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents per query under BM25F (title = first 16 tokens
    boosted 2x with b=0.5; body b=0.75; shared k1 saturation over the
    weighted field-normalized tfs — r16-continuation build and
    registration; evidence in tests/test_r16b_candidates.py: both-scale
    oracle parity, stdlib third impl, the b=0/unit-weight ≡ BM25(b=0)
    exact equivalence, boost-binding falsifiers, text-never-shuffles
    pin)."""
    from hadoop_gpu_spark.operators.retrieval import bm25f_topk

    return bm25f_topk(
        T(spark, sf_dir, "documents"), _BM25_QUERIES, top_k=10, **_BM25F_PARAMS
    )


Q_BM25_TOPK_ORACLE = _bm25_oracle()

Q_RERANK_TFIDF_ORACLE = _rerank_oracle()


@query("q_rerank_tfidf", oracle=Q_RERANK_TFIDF_ORACLE)
def q_rerank_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage BM25-then-exact-TF-IDF-cosine rerank, top-5 of the
    BM25 top-20 per query (r16 registration of the r15 staged gate —
    evidence in tests/test_r15_candidates.py: both-scale oracle parity,
    pure-python third impl, candidate-permutation/rank invariants,
    text-never-shuffles pin). The production retrieve-then-rerank shape
    next to q_bm25_topk; see operators/retrieval.py for the 100 TB
    shape and the r16 shared-subtree persist hygiene."""
    from hadoop_gpu_spark.operators.retrieval import rerank_tfidf_topk

    return rerank_tfidf_topk(
        T(spark, sf_dir, "documents"), _BM25_QUERIES, stage1_k=20, top_k=5
    )


@query("q_bm25_topk", oracle=Q_BM25_TOPK_ORACLE)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents per query under Okapi BM25 (r12 registered —
    the r11 staged gate, landed after the construction-time stats
    collect was folded into the plan): ranked retrieval over the corpus
    with exact-decimal score accumulation and deterministic ties — the
    operator a search/RAG product runs where the reference runs Grep's
    match-count-sort."""
    from hadoop_gpu_spark.operators.retrieval import bm25_topk

    return bm25_topk(T(spark, sf_dir, "documents"), _BM25_QUERIES, top_k=10)


def _semantic_dedup_oracle() -> str:
    from hadoop_gpu_spark.dedup.semantic import semantic_dedup_sql

    return semantic_dedup_sql("embeddings", n_centroids=8, tau=0.30)


Q_SEMANTIC_DEDUP_ORACLE = _semantic_dedup_oracle()


@query("q_semantic_dedup", oracle=Q_SEMANTIC_DEDUP_ORACLE)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style unsupervised near-dup pruning (r12 registered):
    cluster by max-cosine against the first-8-vectors centroid table,
    keep-first within clusters at tau=0.30 (the synthetic corpus's
    within-label cosine tops out ~0.38 — the q_dedup_embedding
    threshold rationale). Returns survivors with their cluster id.
    Member of INTENTIONAL_NESTED_LOOP (bounded centroid cross join)
    with scan/exchange pins in test_plan_invariants."""
    from hadoop_gpu_spark.dedup.semantic import semantic_dedup

    return semantic_dedup(
        T(spark, sf_dir, "embeddings"), n_centroids=8, tau=0.30
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (r09-built, r11 staged gate): learn the merge
# table a BPE tokenizer ships — see ml/bpe.py for the 100 TB shape (one
# corpus scan into a word-count table; iterations run over the
# checkpointed vocab only; one row per merge crosses the driver). The
# wrapped-string symbol encoding makes the greedy fuse a literal
# replace() in BOTH engines, so the learned table is bit-identical and
# the oracle compares it directly (no tolerance bands).
# ---------------------------------------------------------------------------
_BPE_N_MERGES = 8


def _bpe_oracle() -> str:
    from hadoop_gpu_spark.ml.bpe import bpe_merges_sql

    return bpe_merges_sql("documents", "text", _BPE_N_MERGES)


Q_BPE_MERGES_ORACLE = _bpe_oracle()


@query("q_bpe_merges", oracle=Q_BPE_MERGES_ORACLE)
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 8 learned BPE merges over the document corpus (r12
    registered): the tokenizer-training kernel of a pretraining
    pipeline — adjacent-pair argmax + greedy fuse iterated on the
    word-count table, deterministic ties (count desc, then
    lexicographic)."""
    from hadoop_gpu_spark.ml.bpe import bpe_merges

    return bpe_merges(T(spark, sf_dir, "documents"), "text", _BPE_N_MERGES)


# ---------------------------------------------------------------------------
# Count-min sketch token-frequency estimates (r09-built, r11 staged
# gate): the frequency-sketch sibling of q_quantile_sketch — see
# operators/cms.py for the d*w fixed-state design, the md5 row hashes
# that make it engine-exact, and the never-undercount guarantee. The
# query set is a construction-time literal (the BM25 stance): common
# words, the rare 'dup' marker, and an absent token (estimate 0).
# ---------------------------------------------------------------------------
_CMS_QUERY_TOKENS = ["the", "data", "spark", "join", "dup", "zzz_absent_token"]
_CMS_D, _CMS_W = 4, 512


def _cms_oracle() -> str:
    from hadoop_gpu_spark.operators.cms import cms_token_estimates_sql

    return cms_token_estimates_sql(
        "documents", _CMS_QUERY_TOKENS, d=_CMS_D, w=_CMS_W
    )


Q_CMS_TOKEN_FREQ_ORACLE = _cms_oracle()


@query("q_cms_token_freq", oracle=Q_CMS_TOKEN_FREQ_ORACLE)
def q_cms_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimates for a literal token set
    (r12 registered): one corpus pass into a d*w counter grid (the
    fixed-size state a streaming frequency tracker needs), min-over-
    rows point estimates, exact integer arithmetic end to end."""
    from hadoop_gpu_spark.operators.cms import cms_token_estimates

    return cms_token_estimates(
        T(spark, sf_dir, "documents"), _CMS_QUERY_TOKENS, d=_CMS_D, w=_CMS_W
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count estimates (r09-built, r12 staged gate): the
# cardinality member of the mergeable-sketch family (quantile sketch =
# distribution, CMS = frequency, HLL = COUNT DISTINCT) — see
# operators/hll.py for the engine-exact design: md5 bucket/rank hashes,
# integer-lattice harmonic sum (one IEEE division of exact <2^53 ints,
# no round(double, d) anywhere), exhaustively-verified round(ln, 9)
# linear-counting branch, merge = per-register MAX. Subject: distinct
# orders per returnflag over lineitem — ~1.1k/flag at sf0.001 exercises
# the linear-counting branch, ~11k/flag at sf0.01 the raw harmonic
# branch, so BOTH estimator arms earn oracle rows.
# ---------------------------------------------------------------------------
_HLL_P = 10


def _hll_oracle() -> str:
    from hadoop_gpu_spark.operators.hll import hll_distinct_sql

    return hll_distinct_sql("lineitem", "l_orderkey", ["l_returnflag"], p=_HLL_P)


Q_HLL_DISTINCT_ORACLE = _hll_oracle()


@query("q_hll_distinct", oracle=Q_HLL_DISTINCT_ORACLE)
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag distinct-order estimates via the HyperLogLog
    register sketch (r12-staged, REGISTERED r14): one lineitem pass into 1024
    max-rank registers per flag (fixed state no matter how many
    distinct keys flow through — the scale path where exact
    COUNT(DISTINCT)'s shuffle grows with cardinality), estimates
    engine-exact so the oracle compares them as values."""
    from hadoop_gpu_spark.operators.hll import hll_distinct

    return hll_distinct(
        T(spark, sf_dir, "lineitem").select("l_returnflag", "l_orderkey"),
        "l_orderkey",
        ["l_returnflag"],
        p=_HLL_P,
    )


# ---------------------------------------------------------------------------
# Streaming count-min sketch (r09-built, r12 staged gate): the CMS as a
# Structured Streaming aggregate — the deployment where the sketch's
# fixed d*w state actually earns its keep: an exact streaming token-
# frequency aggregate holds one state row per distinct token (growing
# with Heaps' law forever); the sketch never exceeds its grid. After
# an availableNow drain the snapshot equals the batch sketch bit-for-
# bit (count-sum merge across micro-batches), so this gate shares the
# batch operator's exact SQL oracle — the q_stream_quantiles pattern
# applied to the frequency sibling.
# ---------------------------------------------------------------------------
Q_STREAM_CMS_FREQ_ORACLE = Q_CMS_TOKEN_FREQ_ORACLE


@query("q_stream_cms_freq", oracle=Q_STREAM_CMS_FREQ_ORACLE)
def q_stream_cms_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming token-frequency estimates via the count-min sketch
    (r12-staged, REGISTERED r14): stream the document corpus, maintain the d*w
    counter grid as complete-mode state (FIXED size regardless of
    volume or vocabulary), drain with availableNow, resolve the same
    literal query set as q_cms_token_freq off the snapshot. On
    registration this name must ALSO join queries.STREAMING_SNAPSHOT
    (it drives a Structured Streaming pipeline at construction, so its
    batch plan is a snapshot read)."""
    from hadoop_gpu_spark.operators.cms import cms_estimate
    from hadoop_gpu_spark.streaming import cms_stream_snapshot, docs_stream

    out_dir = _snapshot_scratch_dir("stream_cms", sf_dir, _CMS_D, _CMS_W)
    snap = cms_stream_snapshot(
        docs_stream(spark, sf_dir), "text", out_dir, d=_CMS_D, w=_CMS_W
    )
    return cms_estimate(
        snap, _CMS_QUERY_TOKENS, d=_CMS_D, w=_CMS_W, value_alias="token"
    )


# ---------------------------------------------------------------------------
# Sparse all-pairs TF-IDF cosine similarity (r09-built, r12 staged
# gate): the sparse complement of the dense embedding stack — exact
# cosine over feature-hashed TF-IDF word-3-gram vectors for every pair
# above tau, as an inverted-index self-join with a df-cap prefilter
# (Bayardo et al. all-pairs similarity). See similarity/sparse.py for
# the engine-exact lattice design (integer idf, exact BIGINT
# dot/norms, single-op IEEE cosine — no round(double, d) anywhere) and
# the max_df^2 fan-out bound. tau=0.5 surfaces the corpus's injected
# near-dup pairs (cos ~0.99) plus genuine mid-range template overlaps.
# ---------------------------------------------------------------------------
_SPARSE_TAU, _SPARSE_MAX_DF = 0.5, 8


def _sparse_allpairs_oracle() -> str:
    from hadoop_gpu_spark.similarity.sparse import sparse_allpairs_sql

    return sparse_allpairs_sql(
        "documents", tau=_SPARSE_TAU, max_df=_SPARSE_MAX_DF
    )


Q_SPARSE_ALLPAIRS_ORACLE = _sparse_allpairs_oracle()


@query("q_sparse_allpairs", oracle=Q_SPARSE_ALLPAIRS_ORACLE)
def q_sparse_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs with hashed-TF-IDF word-3-gram cosine ≥ 0.5
    (r12-staged, REGISTERED r14): the scored near-dup/template-detection pass —
    MinHash/SimHash give booleans, Jaccard needs candidates first;
    this gives exact scores with join fan-out capped at max_df^2 per
    feature by construction."""
    from hadoop_gpu_spark.similarity.sparse import sparse_allpairs

    return sparse_allpairs(
        T(spark, sf_dir, "documents").select("doc_id", "text"),
        tau=_SPARSE_TAU,
        max_df=_SPARSE_MAX_DF,
    )


# ---------------------------------------------------------------------------
# Duplicate-substring span detection (r09-built, r12 staged gate): the
# span-level member of the dedup family — maximal cross-document
# duplicated character ranges per document (Lee et al. 2022 ExactSubstr
# re-expressed as fixed-k position matching + interval-union run
# merging; see dedup/substr.py). k=20 chars, min_docs=2: the corpus's
# injected near-dups and shared templates surface as spans up to ~500
# chars; within-doc repetition alone does not trigger.
# ---------------------------------------------------------------------------
def _dup_spans_oracle() -> str:
    from hadoop_gpu_spark.dedup.substr import dup_substring_spans_sql

    return dup_substring_spans_sql("documents")


Q_DUP_SPANS_ORACLE = _dup_spans_oracle()


@query("q_dup_spans", oracle=Q_DUP_SPANS_ORACLE)
def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-document duplicated character spans per document
    (r12-staged, REGISTERED r14): the cut-list a substring-level dedup pass feeds
    to a span remover — (doc_id, span_start, span_end, span_len),
    disjoint and non-adjacent per document by construction."""
    from hadoop_gpu_spark.dedup.substr import dup_substring_spans

    return dup_substring_spans(T(spark, sf_dir, "documents").select("doc_id", "text"))


# ---------------------------------------------------------------------------
# BPE token counting (r12-built, r14/r15 staged gate): the APPLY half of
# the tokenizer lifecycle — q_bpe_merges learns the merge table, this
# trains the same 8 merges and counts the corpus as the learned sub-word
# alphabet (q_token_count_bpe counts with a FIXED regex; this counts with
# the TRAINED tokenizer). See ml/bpe.py bpe_token_counts for the 100 TB
# shape: ONE corpus scan into an eager_persist'd (word, wc) vocab frame
# shared by training and the returned count plan; encoding runs per
# DISTINCT word (Heaps-law sized) weighted by wc — never per token
# occurrence; merges ride the plan as literal replaces (model-as-literal,
# the k-means centroid contract). Exact integers end to end; the oracle
# replays the identical train+encode lattice in chained CTEs.
# ---------------------------------------------------------------------------
def _bpe_token_counts_oracle() -> str:
    from hadoop_gpu_spark.ml.bpe import bpe_token_counts_sql

    return bpe_token_counts_sql("documents", "text", _BPE_N_MERGES)


Q_BPE_TOKEN_COUNTS_ORACLE = _bpe_token_counts_oracle()


@query("q_bpe_token_counts", oracle=Q_BPE_TOKEN_COUNTS_ORACLE)
def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus sub-word frequency table under the 8-merge BPE tokenizer
    trained on the same corpus (r12-built, REGISTERED r14): (subword,
    n_tokens) ordered by count desc — the vocabulary-usage artifact a
    tokenizer-training pipeline ships next to its merge table."""
    from hadoop_gpu_spark.ml.bpe import bpe_token_counts

    return bpe_token_counts(
        T(spark, sf_dir, "documents").select("text"), "text", _BPE_N_MERGES
    )


# ---------------------------------------------------------------------------
# Naive-Bayes language classifier (r12-built, r14/r15 staged gate): the
# classifier-based filtering member of the pipeline family — production
# corpora are gated by LEARNED linear text classifiers (fasttext-style
# lang-id/quality models in the CCNet/GPT-3 recipes), where this repo's
# lang_id / quality_score are hand-written heuristics. Multinomial NB is
# the aggregation-native member of that family: training IS a token-count
# groupBy (exact, partition-invariant, no SGD ordering), inference the
# round(ln,9)-decimal token sum the unigram-LM scorer already pins across
# engines. Subject: self-evaluation confusion matrix of the NB lang
# classifier vs the stored lang labels — the learned counterpart of
# q_lang_id_confusion's heuristic. See ml/nbayes.py for the 100 TB shape
# (one train scan + one apply scan, vocab x classes model grid from an
# eager_persist'd count aggregate, UNHINTED model join).
# ---------------------------------------------------------------------------
def _nb_lang_confusion_oracle() -> str:
    from hadoop_gpu_spark.ml.nbayes import nb_confusion_sql

    return nb_confusion_sql(
        "documents", id_col="doc_id", text_col="text", label_col="lang"
    )


Q_NB_LANG_CONFUSION_ORACLE = _nb_lang_confusion_oracle()


@query("q_nb_lang_confusion", oracle=Q_NB_LANG_CONFUSION_ORACLE)
def q_nb_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, pred, n_docs) — confusion matrix of a multinomial NB
    language classifier trained on the document corpus's own labels
    (r12-built, REGISTERED r14): every count exact, every log-likelihood on
    the round(ln, 9) decimal lattice, argmax ties to the smaller
    class — the oracle compares the matrix bit-for-bit."""
    from hadoop_gpu_spark.ml.nbayes import nb_confusion

    return nb_confusion(
        T(spark, sf_dir, "documents").select("doc_id", "lang", "text"),
        id_col="doc_id",
        text_col="text",
        label_col="lang",
    )


# ---------------------------------------------------------------------------
# Streaming HyperLogLog distinct-count sketch (r10-built, r13 staged
# gate): streaming COUNT DISTINCT in fixed state, completing the
# streaming-sketch family (distribution r10, frequency r12-staged,
# cardinality this). Exact streaming COUNT(DISTINCT users) must hold
# every distinct key in state forever — no watermark can expire it
# without changing the answer — while the register table is capped at
# |types| * 1024 rows; MAX-merge is idempotent, so replayed
# micro-batches are no-ops (the guarantee the count-sum sketches can't
# make). Snapshot == batch registers bit-for-bit after an availableNow
# drain, so the gate shares the batch operator's exact SQL oracle.
# ---------------------------------------------------------------------------
def _stream_hll_oracle() -> str:
    from hadoop_gpu_spark.operators.hll import hll_distinct_sql

    return hll_distinct_sql("events", "user_id", ["event_type"], p=_HLL_P)


Q_STREAM_HLL_DISTINCT_ORACLE = _stream_hll_oracle()


@query("q_stream_hll_distinct", oracle=Q_STREAM_HLL_DISTINCT_ORACLE)
def q_stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-user estimates per event type via the HLL
    register sketch (r13-staged, REGISTERED r14): stream the events table, maintain
    |types|*1024 max-rank registers as complete-mode state (fixed no
    matter how many distinct users flow through — the state story exact
    streaming COUNT DISTINCT cannot have), drain with availableNow,
    resolve estimates off the snapshot. On registration this name must
    ALSO join queries.STREAMING_SNAPSHOT (it drives a Structured
    Streaming pipeline at construction, so its batch plan is a snapshot
    read)."""
    from hadoop_gpu_spark.operators.hll import hll_estimate
    from hadoop_gpu_spark.streaming import events_stream, hll_stream_snapshot

    out_dir = _snapshot_scratch_dir("stream_hll", sf_dir, _HLL_P)
    snap = hll_stream_snapshot(
        events_stream(spark, sf_dir), "user_id", out_dir,
        group_cols=["event_type"], p=_HLL_P,
    )
    return hll_estimate(snap, ["event_type"], p=_HLL_P)


# ---------------------------------------------------------------------------
# Interval overlap join (operator r10-built, r12 staged gate — staged
# only AFTER its falsifier suite landed per the r11 VERDICT "evidence
# or delete" ultimatum: tests/test_interval.py differential-fuzzes the
# bucketed join vs this DuckDB IEJoin twin, pins the canonical-bucket
# no-distinct dedup, qualified per-side column binding, integral-
# endpoint validation, and the no-nested-loop plan). Subject: purchase
# hour-windows vs click ten-minute-windows per user over events — the
# "session windows vs incident windows" shape from the module
# docstring. Timestamps land on the integer lattice as epoch seconds:
# Spark CAST(ts AS LONG) truncates, so the twin spells
# CAST(floor(epoch(ts)) AS BIGINT) — bare CAST(epoch(ts) AS BIGINT)
# ROUNDS half the sub-second timestamps up one second.
# ---------------------------------------------------------------------------
_IOV_L_DUR, _IOV_R_DUR = 3600, 600
_IOV_WIDTH = 4096


def _interval_overlap_oracle() -> str:
    from hadoop_gpu_spark.operators.interval import interval_overlap_count_sql

    left_src = (
        "(SELECT event_id AS l_id, user_id AS l_user, "
        "CAST(floor(epoch(ts)) AS BIGINT) AS l_lo, "
        f"CAST(floor(epoch(ts)) AS BIGINT) + {_IOV_L_DUR} AS l_hi "
        "FROM events WHERE event_type = 'purchase')"
    )
    right_src = (
        "(SELECT event_id AS r_id, user_id AS r_user, "
        "CAST(floor(epoch(ts)) AS BIGINT) AS r_lo, "
        f"CAST(floor(epoch(ts)) AS BIGINT) + {_IOV_R_DUR} AS r_hi "
        "FROM events WHERE event_type = 'click')"
    )
    return interval_overlap_count_sql(
        left_src, right_src, ["l_id"], "l_lo", "l_hi", "r_lo", "r_hi",
        key_pairs=[("l_user", "r_user")],
    )


Q_INTERVAL_OVERLAP_ORACLE = _interval_overlap_oracle()


@query("q_interval_overlap", oracle=Q_INTERVAL_OVERLAP_ORACLE)
def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-purchase count of same-user click windows intersecting the
    purchase's one-hour window (r13-staged, REGISTERED r14): the bucketed interval
    overlap join — explode to width-4096 buckets, hash-join on
    (user, bucket), exact-predicate recheck, canonical-bucket dedup
    (no distinct), left-total zero-count semantics. The distributed
    form of what DuckDB plans as an IEJoin."""
    from hadoop_gpu_spark.operators.interval import interval_overlap_count

    ev = T(spark, sf_dir, "events")
    secs = F.col("ts").cast("long")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("l_id"),
        F.col("user_id").alias("l_user"),
        secs.alias("l_lo"),
        (secs + _IOV_L_DUR).alias("l_hi"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("r_id"),
        F.col("user_id").alias("r_user"),
        secs.alias("r_lo"),
        (secs + _IOV_R_DUR).alias("r_hi"),
    )
    return interval_overlap_count(
        purchases, clicks, ["l_id"], "l_lo", "l_hi", "r_lo", "r_hi",
        bucket_width=_IOV_WIDTH, keys=[("l_user", "r_user")],
    )
