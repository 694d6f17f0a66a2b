"""Sort / limit / top-k surface.

Reference (SURVEY.md §2.6): total-order sort via sampled range partitioning
(``M/lib/TotalOrderPartitioner.java:41``, samplers ``M/lib/InputSampler.java:49``),
TeraSort (``X/terasort/TeraSort.java:50``), secondary sort
(``X/SecondarySort.java:51``), key-field sort specs
(``M/lib/KeyFieldBasedComparator.java:46``), and the Grep phase-2
sort-by-count-descending idiom (``X/Grep.java:71-82``).

Spark restatement: ``orderBy`` IS the reference's total-order sort — Spark's
RangePartitioning samples split points exactly like InputSampler +
TotalOrderPartitioner, but automatically (``repartitionByRange`` +
``sortWithinPartitions`` when the partition count matters; q_total_order_sort
and q_terasort). Secondary sort is
``repartition(key).sortWithinPartitions(key, order)`` (q_secondary_sort), and a
key-field spec is a list of Column sort expressions. This module keeps the
ranking helpers: the one ``row_number`` window, global and per-group top-k,
and the per-group fraction cap.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def ranked_within_group(
    df: DataFrame, group_cols: list[str], order_cols: list[Column], rank_alias: str = "rn"
) -> DataFrame:
    """Window row_number per group — the analytic form of secondary sort."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return df.withColumn(rank_alias, F.row_number().over(w))


def top_k(df: DataFrame, order_cols: list[Column], k: int) -> DataFrame:
    """Global top-k. Reference idiom: 1 reducer + head (X/Grep.java:71-82).

    Spark plans TakeOrderedAndProject: per-partition top-k then a k-row merge
    on the driver — no global sort, no single-reducer bottleneck; safe at
    any scale for small k.
    """
    return df.orderBy(*order_cols).limit(k)


def top_k_per_group(
    df: DataFrame, group_cols: list[str], order_cols: list[Column], k: int
) -> DataFrame:
    """Per-group top-k: the first ``k`` rows of each group under the
    caller's order, each with its 1-based BIGINT position in ``rank``.

    Every per-group top-k with a constant k in the engine ranks through
    it (the ranking families, the IVF probe selections, the streaming
    top-k, dedup and sampling caps), so bound pruning has one place to
    land. The reference idiom is sort then head
    (X/Grep.java:71-82); here one shuffle on the group key feeds a
    row_number window, and Spark plans a partial window group limit
    before that shuffle, so at most k rows per group and map task cross
    it. End ``order_cols`` with a unique key: ties then break
    deterministically and the ranks match the SQL twins'
    ``ROW_NUMBER() ... <= k``. Callers that only select rows drop
    ``rank``.
    """
    ranked = ranked_within_group(df, group_cols, order_cols, "rank")
    return ranked.withColumn("rank", F.col("rank").cast("long")).filter(F.col("rank") <= k)


def top_fraction_per_group(
    df: DataFrame, group_cols: list[str], order_cols: list[Column], frac: float
) -> DataFrame:
    """The first ``ceil(group size * frac)`` rows of each group under the
    caller's order, each with its 1-based BIGINT position in ``rank``.

    The stratified-sample and keep-the-better-half cut: one shuffle on the
    group key feeds both the ``row_number`` window and the group-size
    count. The SQL twin is ``ROW_NUMBER() ... <= ceil(COUNT(*) OVER
    (PARTITION BY group) * frac)``; a ``/ 2.0`` there equals ``frac=0.5``
    bit for bit, since halving a double is exact. End ``order_cols`` with a
    unique key, as for :func:`top_k_per_group`.
    """
    n = F.count(F.lit(1)).over(Window.partitionBy(*group_cols))
    ranked = ranked_within_group(df, group_cols, order_cols, "rank")
    return (
        ranked.withColumn("rank", F.col("rank").cast("long"))
        .withColumn("__n", n)
        .filter(F.col("rank") <= F.ceil(F.col("__n") * frac))
        .drop("__n")
    )
