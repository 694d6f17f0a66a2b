"""Test-table loader for the driver-generated TPC-H-ish star schema.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file each under a scale-factor
directory.

At 100 TB these would be partitioned/bucketed tables; the loader keeps the
access pattern identical (``spark.read.parquet`` → Catalyst handles filter
pushdown and column pruning) so the same query code runs on both.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from hadoop_gpu_spark.session import engine_state

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to session-local TIMESTAMP regardless
    of the on-disk epoch the test data was generated with.

    The driver has shipped ``events.parquet`` as TIMESTAMP(NANOS) (read as
    LongType nanos under spark.sql.legacy.parquet.nanosAsLong) in one epoch
    and plain ``timestamp[us]`` (read as TIMESTAMP_NTZ) in another. Every
    consumer — batch loader AND the streaming source — must funnel through
    this one helper so a data regeneration cannot silently skew event time
    for half the engine (the round-3 incident: the stream hard-coded
    nanos-as-long and read Jan-2024 as 1970).

    Output is always TIMESTAMP (LTZ) at micro precision under the pinned
    UTC session zone, so wall-clock values match the oracle engines, which
    read the file as naive timestamps.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    dt = df.schema[col].dataType
    if isinstance(dt, LongType):
        # legacy nanos-as-long epoch: truncate to micros
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if isinstance(dt, TimestampNTZType):
        # timestamp[us] without tz: reinterpret wall clock as UTC (session
        # zone is pinned to UTC, so the cast is value-preserving)
        return df.withColumn(col, F.col(col).cast(TimestampType()))
    return df


def _table_schema(spark: SparkSession, path: str):
    """The file's schema, memoized in the session's state: inference runs
    a footer-probe job per read (0.1-0.2 s per ``T()``); with the schema
    supplied the read is listing-only."""
    st = os.stat(path)
    key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    schemas = engine_state(spark).schemas
    if key not in schemas:
        schemas[key] = spark.read.parquet(path).schema
    return schemas[key]


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    # Timestamp semantics must not depend on who built the session: pin
    # UTC (timestamp literals/formatting in queries assume it).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # Some data epochs ship events.parquet as TIMESTAMP(NANOS); without
        # this runtime conf any externally-created session (e.g. the
        # driver's) fails with PARQUET_TYPE_ILLEGAL on those. Harmless when
        # the file is timestamp[us]. Set here so the loader is self-sufficient.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(_table_schema(spark, path)).parquet(path)
    if name == "events":
        df = normalize_event_ts(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every table; also registers each as a temp view for spark.sql."""
    out = {}
    for name in TABLE_NAMES:
        df = load_table(spark, name, sf_dir)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
