"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash).

Implementations live in ``hadoop_gpu_spark.queries`` (one entry per operator
family from SURVEY.md §2, plus LLM-pipeline extensions).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from hadoop_gpu_spark import queries as _q


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shaped pricing summary) on sf0.001."""
    return _q.QUERIES["q01_pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_q.QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_q.ORACLES)
