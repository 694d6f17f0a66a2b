"""Sources & sinks the registered queries read (SURVEY.md §2.1).

- DBInputFormat / DBOutputFormat → :func:`read_jdbc` / :func:`write_jdbc`
  over embedded Derby (q_db_count_pageview);
- TeraGen → :func:`gen_tera_records` (q_terasort).

The reference's file formats (text, key-value text, SequenceFile,
MultipleOutputFormat, ...) map onto Spark's own readers and writers
(``spark.read.text``, ``df.write.partitionBy``, ``bucketBy``), so the
engine carries no wrapper for them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


#: Embedded Derby (ships in Spark's own jars/ — derby-10.16) is the
#: container's JDBC engine; 10.16 registers this autoloaded driver class.
DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"


def derby_url(directory: str, create: bool = True) -> str:
    """Embedded-Derby JDBC url rooted at ``directory`` (single-JVM engine —
    the analog of the reference's HSQLDB-backed DBCountPageView test,
    X/DBCountPageView.java:72)."""
    return f"jdbc:derby:{directory}/db{';create=true' if create else ''}"


def read_jdbc(spark: SparkSession, url: str, table: str, num_partitions: int = 1, **opts) -> DataFrame:
    """DBInputFormat (M/lib/db/DBInputFormat.java:49): chunked JDBC scan.
    Pass partitionColumn/lowerBound/upperBound + num_partitions for the
    reference's LIMIT/OFFSET split behavior (:142) done right (range
    predicates, not offsets). Exercised end-to-end against embedded Derby
    (q_db_count_pageview, tests/test_sources.py)."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    reader = reader.option("numPartitions", num_partitions)
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "append", **opts) -> None:
    """DBOutputFormat (M/lib/db/DBOutputFormat.java:44): batched INSERT."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table).mode(mode)
    for k, v in opts.items():
        writer = writer.option(k, v)
    writer.save()


# --- synthetic generator (X/terasort/TeraGen.java:60)

def gen_tera_records(spark: SparkSession, num_rows: int, seed: int = 42) -> DataFrame:
    """TeraGen: (10-char key, 90-char payload) deterministic records."""
    from hadoop_gpu_spark.functions.hashing import md5_hex

    base = spark.range(num_rows)
    h = md5_hex(F.concat(F.lit(f"tera:{seed}:"), F.col("id").cast("string")))
    return base.select(
        F.substring(h, 1, 10).alias("key"),
        F.rpad(F.substring(h, 11, 22), 90, "x").alias("payload"),
    )
