"""Scan-level predicates and deterministic samplers.

Reference: SequenceFileInputFilter (SURVEY.md §2.1) — keep records whose key
matches a regex (``M/SequenceFileInputFilter.java:103``), hashes into a
1-in-f sample (PercentFilter, ``:146`` — ``md5_sample`` with another seed:
any uniform deterministic hash meets its contract), or MD5-buckets into
1-in-f (MD5Filter, ``:195``); plus InputSampler's split/random/interval samplers
(``M/lib/InputSampler.java:49,162,251``).

All deterministic (md5-based, engine-portable) so results are reproducible
and oracle-checkable — unlike ``df.sample`` whose RNG is engine-private.
Filters here are plain predicates → Catalyst pushes them into the parquet
scan (PushedFilters for the regex prefix case; row-group pruning otherwise).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hadoop_gpu_spark.functions.hashing import bucket


def regex_filter(df: DataFrame, col: str, pattern: str) -> DataFrame:
    """RegexFilter — M/SequenceFileInputFilter.java:103."""
    return df.filter(F.col(col).rlike(pattern))


def md5_sample(df: DataFrame, key_col: str, frequency: int, seed: int = 0) -> DataFrame:
    """MD5Filter — keep keys whose md5 bucket is 0 mod frequency.

    Reference: M/SequenceFileInputFilter.java:195 (MD5(key) % f == 0).
    """
    return df.filter(bucket(key_col, frequency, seed) == 0)


def interval_sample(df: DataFrame, order_col: str, interval: int) -> DataFrame:
    """IntervalSampler — every interval-th record in key order
    (M/lib/InputSampler.java:251). Deterministic via rank over the ordering.

    Scale note: the global ORDER window funnels the input through one
    task — acceptable here because the reference's InputSampler is a
    SPLIT-POINT SAMPLING utility (its output feeds a TotalOrderPartitioner
    build, its input is already a sample). For corpus-scale every-nth
    selection use a keyed/deterministic sampler (md5_sample) or
    total_order_sort's range machinery instead.
    """
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col(order_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") - 1) % interval == 0)
        .drop("__rn")
    )


def domain_cap(
    df: DataFrame,
    key_col: str,
    id_col: str,
    n: int,
    pre_cap: bool = True,
) -> DataFrame:
    """Per-key quota sampling: keep at most ``n`` rows per ``key_col``
    value, chosen by deterministic md5 rank (the crawl-pipeline "cap each
    domain" pass that stops over-represented sources from dominating a
    training mix; beyond-ref LLM-pipeline operator in the InputSampler
    family above). Adds a ``rank`` column (1..n within the key).

    Selection is md5(key || NUL || id) order with id as tiebreak —
    reproducible across engines and runs, unlike df.sample.

    Scale design: the ranking window shuffles on ``key_col``, and domain
    skew is the norm (one domain can be a double-digit share of a crawl).
    ``pre_cap=True`` (default) first applies a NARROW per-partition cap:
    sortWithinPartitions(key, rank-key) + an Arrow-batched running-count
    filter keeps at most n rows per key per input partition — any key's
    global top-n is a subset of the union of its per-partition top-n, so
    the result is IDENTICAL while the window's shuffle input drops from
    |corpus| to at most n * partitions rows per key. The mega-domain that
    would have sent 30% of the corpus to one reducer sends n rows per
    upstream partition instead.
    """
    from pyspark.sql.window import Window

    rank_key = F.md5(
        F.encode(
            F.concat_ws("\x00", F.col(key_col), F.col(id_col).cast("string")), "UTF-8"
        )
    )
    work = df.withColumn("__rk", rank_key)
    if pre_cap:
        fields = work.schema.fieldNames()
        key_i = fields.index(key_col)

        def local_cap(batches):
            counts: dict = {}
            for pdf in batches:
                if not len(pdf):
                    continue
                keep = []
                keys = pdf.iloc[:, key_i]
                for j, k in enumerate(keys):
                    c = counts.get(k, 0)
                    if c < n:
                        counts[k] = c + 1
                        keep.append(j)
                if keep:
                    yield pdf.iloc[keep]

        work = work.sortWithinPartitions(key_col, "__rk", id_col).mapInPandas(
            local_cap, schema=work.schema
        )
    w = Window.partitionBy(key_col).orderBy(F.col("__rk"), F.col(id_col))
    return (
        work.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
        .drop("__rk")
    )
