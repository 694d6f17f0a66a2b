"""Skew mitigation: salting for hot keys.

The reference's sort-based shuffle has the same failure mode Spark does: a
hot key lands one reducer with most of the data (the reference has no
mitigation at all — SURVEY.md §4.2). Two standard treatments here, plus
AQE's skew-join splitting which session.get_spark enables globally.

Salting trades one extra (cheap, partial) aggregation for an even shuffle:
- ``salted_agg``: groupBy(key, salt) partial → groupBy(key) final. Correct
  for any algebraic aggregate expressed as (partial, merge) pairs.
- ``salted_join``: replicate the small side per salt value; the big side
  gets a random-but-deterministic salt per row — each hot key fans out
  over ``n_salts`` reducers.

The salt never reaches either operator's output, so it only has to be
deterministic (the same row gets the same salt on every retry and under
any partitioning), not portable to another engine: Spark's native
``xxhash64`` does that in one expression per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int, salt_source: str, alias: str = "__salt") -> DataFrame:
    """Deterministic salt in [0, n_salts) derived from a (unique-ish)
    column — reproducible across retries, unlike rand(). A NULL source
    hashes to the seed, so it gets a real salt too."""
    return df.withColumn(alias, F.pmod(F.xxhash64(F.col(salt_source)), F.lit(n_salts)))


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    n_salts: int,
    salt_source: str,
    partials: list[tuple[Column, str]],
    finals: list[tuple[str, str]],
) -> DataFrame:
    """Two-level aggregation over (key, salt) then (key).

    ``partials``: (aggregate Column, alias) computed per (key, salt);
    ``finals``: (merge_fn_name, alias) applied per key over the partials —
    merge_fn is 'sum'/'min'/'max' (count merges with sum).
    """
    salted = with_salt(df, n_salts, salt_source)
    p = salted.groupBy(*key_cols, "__salt").agg(*[c.alias(a) for c, a in partials])
    merged = p.groupBy(*key_cols).agg(
        *[getattr(F, fn)(F.col(a)).alias(a) for fn, a in finals]
    )
    return merged


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int,
    big_salt_source: str,
) -> DataFrame:
    """Equi-join with the big side's hot keys fanned across n_salts
    partitions; the small side is replicated n_salts times (explode over a
    salt sequence) so every (key, salt) pair finds its match."""
    b = with_salt(big, n_salts, big_salt_source)
    s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("__salt", F.col("__salt").cast("long"))
    out = b.join(s, on=[on, "__salt"])
    return out.drop("__salt")
