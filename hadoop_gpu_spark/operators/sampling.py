"""Deterministic samplers.

Reference: SequenceFileInputFilter (SURVEY.md §2.1) — MD5-bucket keys into
a 1-in-f sample (MD5Filter, ``M/SequenceFileInputFilter.java:195``; a
PercentFilter, ``:146``, is ``md5_sample`` with another seed: any uniform
deterministic hash meets its contract). Its RegexFilter (``:103``) is
Spark's ``rlike``, an unanchored search like Java's ``Matcher.find``.
``domain_cap`` is a per-key quota sampler in InputSampler's family
(``M/lib/InputSampler.java:49``).

All deterministic (md5-based, engine-portable) so results are reproducible
and oracle-checkable — unlike ``df.sample`` whose RNG is engine-private.
``md5_sample`` is a plain predicate, so Catalyst pushes it into the
parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_gpu_spark.functions.hashing import bucket


def md5_sample(df: DataFrame, key_col: str, frequency: int, seed: int = 0) -> DataFrame:
    """MD5Filter — keep keys whose md5 bucket is 0 mod frequency.

    Reference: M/SequenceFileInputFilter.java:195 (MD5(key) % f == 0).
    """
    return df.filter(bucket(key_col, frequency, seed) == 0)


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
    family above). Adds a BIGINT ``rank`` column (1..n within the key).

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
    from hadoop_gpu_spark.operators.sort import top_k_per_group

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
    ranked = top_k_per_group(work, [key_col], [F.col("__rk"), F.col(id_col)], n)
    return ranked.drop("__rk")
