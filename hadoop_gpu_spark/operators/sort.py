"""Sort / limit / top-k surface.

Reference (SURVEY.md §2.6): total-order sort via sampled range partitioning
(``M/lib/TotalOrderPartitioner.java:41``, samplers ``M/lib/InputSampler.java:49``),
TeraSort (``X/terasort/TeraSort.java:50``), secondary sort
(``X/SecondarySort.java:51``), key-field sort specs
(``M/lib/KeyFieldBasedComparator.java:46``), and the Grep phase-2
sort-by-count-descending idiom (``X/Grep.java:71-82``).

Spark restatement: ``orderBy`` IS the reference's total-order sort — Spark's
RangePartitioning samples split points exactly like InputSampler +
TotalOrderPartitioner, but automatically. Secondary sort =
``repartition(key).sortWithinPartitions(key, order)``; ranking analytics use
window functions (beyond-reference — the reference has none, §2.5).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def total_order_sort(df: DataFrame, cols: list[str], num_partitions: int | None = None) -> DataFrame:
    """Globally sorted output across partitions.

    Equivalent of InputSampler.writePartitionFile + TotalOrderPartitioner +
    per-partition sort (M/lib/TotalOrderPartitioner.java:84-260). Spark
    samples range boundaries itself; output partition i is entirely <=
    partition i+1.
    """
    if num_partitions:
        return df.repartitionByRange(num_partitions, *cols).sortWithinPartitions(*cols)
    return df.orderBy(*cols)


def secondary_sort(df: DataFrame, group_cols: list[str], order_cols: list[Column | str]) -> DataFrame:
    """Partition by group key, ordered stream per group within partitions.

    Reference: X/SecondarySort.java:51 (FirstPartitioner + composite-key
    comparator + FirstGroupingComparator). Feed the result to mapPartitions /
    applyInPandas for the literal ordered-group-stream contract.
    """
    return df.repartition(*group_cols).sortWithinPartitions(*group_cols, *order_cols)


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


_KEYFIELD_RE = re.compile(r"^-k(\d+)(?:\.(\d+))?(?:,(\d+)(?:\.(\d+))?)?([nr]*)$")


def key_field_sort_expr(spec: str, field_cols: list[str]) -> list[Column]:
    """Parse a KeyFieldBasedComparator sort spec into Column order exprs.

    Reference: M/lib/KeyFieldBasedComparator.java:46 — specs like
    ``-k2,2nr`` (field 2, numeric, reverse). Field numbers are 1-based over
    ``field_cols``; flags: ``n`` numeric, ``r`` reverse. Character offsets
    within a field (``-k2.4``) apply substr semantics.
    """
    m = _KEYFIELD_RE.match(spec.strip())
    if not m:
        raise ValueError(f"bad key-field spec {spec!r}")
    f1, c1, f2, _c2, flags = m.groups()
    start = int(f1)
    end = int(f2) if f2 else start
    numeric = "n" in (flags or "")
    reverse = "r" in (flags or "")
    cols: list[Column] = []
    for idx in range(start, end + 1):
        c: Column = F.col(field_cols[idx - 1])
        if c1 and idx == start and int(c1) > 1:
            c = F.substring(c.cast("string"), int(c1), 1_000_000)
        if numeric:
            c = c.cast("double")
        cols.append(c.desc() if reverse else c.asc())
    return cols


def sort_validator(df: DataFrame, cols: list[str]) -> bool:
    """SortValidator / TeraValidate invariant: global order across partitions.

    Reference: X/terasort/TeraValidate.java:52, T/mapred/TestMiniMRDFSSort.
    Checks each row >= its predecessor via a lag window over the whole
    ordering (validation-only; fine at test SF).
    """
    w = Window.orderBy(*[F.col(c) for c in cols])
    ordering = F.struct(*[F.col(c) for c in cols])
    bad = (
        df.withColumn("__prev", F.lag(ordering).over(w))
        .filter(F.col("__prev").isNotNull() & (F.col("__prev") > ordering))
        .limit(1)
        .count()
    )
    return bad == 0
