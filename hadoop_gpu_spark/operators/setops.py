"""Set operations.

Reference (SURVEY.md §2.7): union = MultipleInputs/DelegatingInputFormat
(``M/lib/MultipleInputs.java:34``); priority-union = override join;
distinct = identity-reduce idiom; intersect/except not shipped (expressible
in user code). Distinct, intersect and except are the DataFrame methods
themselves (``distinct``/``intersect[All]``/``exceptAll``); this module
keeps only the compositions the DataFrame API lacks.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame


def union_all(sources: list[DataFrame]) -> DataFrame:
    """Multi-path input union, schema-aligned by name."""
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=False), sources)


def multi_input_union(sources) -> DataFrame:
    """MultipleInputs/DelegatingInputFormat (M/lib/MultipleInputs.java:34):
    each input path gets its own mapper before the union. ``sources`` =
    list of (df, transform_fn) pairs; transforms must agree on the output
    schema (checked by unionByName).
    """
    transformed = [fn(df) if fn is not None else df for df, fn in sources]
    return union_all(transformed)


def chain(df: DataFrame, *fns) -> DataFrame:
    """ChainMapper/ChainReducer ([MAP+ / REDUCE MAP*], M/lib/ChainMapper.java:90):
    fused single-pass composition — in Spark, plain transform chaining;
    Catalyst fuses it into one stage automatically.
    """
    for fn in fns:
        df = df.transform(fn)
    return df
