"""Projection / record-shaping operators.

Reference (SURVEY.md §2.2): InverseMapper (``M/lib/InverseMapper.java:33``),
RegexMapper (``M/lib/RegexMapper.java:35``), TokenCountMapper
(``M/lib/TokenCountMapper.java:38``), FieldSelectionMapReduce
(``M/lib/FieldSelectionMapReduce.java:64``). IdentityMapper/Reducer needs
no operator: it is the DataFrame itself.

All pure Column expressions — whole-stage codegen, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = r"\s+"


def inverse(df: DataFrame, key: str, value: str) -> DataFrame:
    """InverseMapper — emit (v, k) (M/lib/InverseMapper.java:33)."""
    return df.select(F.col(value), F.col(key))


def tokenize(col: Column | str, pattern: str = TOKEN_SPLIT_RE) -> Column:
    """Split text into a token array, dropping empty tokens.

    TokenCountMapper's StringTokenizer semantics (M/lib/TokenCountMapper.java:38,
    X/WordCount.java:19-33): whitespace-delimited, no empties.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, pattern), lambda t: t != "")


def token_counts(df: DataFrame, text_col: str, token_alias: str = "token") -> DataFrame:
    """WordCount: tokenize → explode → groupBy.count.

    Reference: X/WordCount.java:17-62 (map+combine+reduce). Catalyst's
    partial/final HashAggregate is the combiner. Scale: count is a map-side
    combinable agg; skewed tokens (stopwords) are absorbed by partial agg
    before the shuffle.
    """
    return (
        df.select(F.explode(tokenize(text_col)).alias(token_alias))
        .groupBy(token_alias)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def regex_extract_counts(df: DataFrame, text_col: str, pattern: str, group: int = 0) -> DataFrame:
    """RegexMapper + LongSumReducer = the Grep job's phase 1.

    Emits (match, n) for every regex match occurrence.
    Reference: M/lib/RegexMapper.java:35, X/Grep.java:45-70.
    """
    return (
        df.select(F.explode(F.expr(f"regexp_extract_all({text_col}, '{pattern}', {group})")).alias("match"))
        .groupBy("match")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def field_selection(
    df: DataFrame,
    text_col: str,
    separator: str,
    field_spec: list[int],
    aliases: list[str] | None = None,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """`cut`-style field projection/reorder by separator + 0-based field list.

    Reference: M/lib/FieldSelectionMapReduce.java:64 (specs like `0-2:4`,
    here normalized to an explicit index list). Out-of-range fields → NULL
    (matches the reference's silent-skip of short records). ``keep_cols``
    are passed through unchanged (the reference concatenates key fields).
    """
    arr = F.split(F.col(text_col), separator)
    cols = [F.col(c) for c in (keep_cols or [])]
    for i, idx in enumerate(field_spec):
        alias = aliases[i] if aliases else f"f{idx}"
        cols.append(F.element_at(arr, idx + 1).alias(alias))  # element_at is 1-based
    return df.select(*cols)
