"""Sources & sinks (SURVEY.md §2.1).

Reference formats → Spark-native equivalents:
- TextInputFormat → read_text; KeyValueTextInputFormat → read_kv_text;
- SequenceFile/MapFile → Parquet (read/write_parquet, sorted+bucketed for
  MapFile point-lookup semantics);
- MultipleOutputFormat → write_partitioned (df.write.partitionBy);
- DBInput/DBOutputFormat → read/write_jdbc;
- NLineInputFormat → read_text_nline;
- TeraGen → gen_tera_records.

All readers return DataFrames; writers are thin, so Catalyst keeps
pushdown/pruning through every one of them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """TextInputFormat (M/TextInputFormat.java:35): one row per line."""
    return spark.read.text(path).withColumnRenamed("value", "line")


def read_kv_text(spark: SparkSession, path: str, sep: str = "\t") -> DataFrame:
    """KeyValueTextInputFormat (M/KeyValueTextInputFormat.java:34):
    first separator splits key from value."""
    lines = read_text(spark, path)
    idx = F.instr(F.col("line"), sep)
    return lines.select(
        F.when(idx > 0, F.substring_index(F.col("line"), sep, 1)).otherwise(F.col("line")).alias("k"),
        F.when(idx > 0, F.expr(f"substring(line, instr(line, '{sep}') + 1)")).alias("v"),
    )


def read_text_nline(spark: SparkSession, path: str, n: int) -> DataFrame:
    """NLineInputFormat (M/lib/NLineInputFormat.java:59): N lines per task →
    here, partition count = ceil(lines / n) so each partition is one 'work
    item batch' (used by the reference to dispatch one k-means dataset per
    mapper).

    CAVEAT — eager: the exact-N contract needs the line count, so this
    runs a count() scan at build time (the reference pays the same full
    read in getSplitsForFile). Reserve it for the NLine dispatch-file
    compat case (small driver files), never for bulk data; for
    size-proportional splitting of big text use plain read_text + the
    session's maxPartitionBytes tuning, which needs no pre-scan."""
    lines = read_text(spark, path)
    total = lines.count()
    parts = max(1, -(-total // n))
    return lines.repartition(parts)


def write_text(
    df: DataFrame,
    path: str,
    sep: str = "\t",
    mode: str = "overwrite",
    compression: str | None = None,
) -> None:
    """TextOutputFormat (M/TextOutputFormat.java:40): `k<sep>v` lines.
    ``compression`` = gzip/bzip2/deflate for the reference's
    FileOutputFormat.setCompressOutput path (readers splice codecs off the
    file extension, same as TextInputFormat)."""
    writer = df.select(
        F.concat_ws(sep, *[F.col(c).cast("string") for c in df.columns]).alias("value")
    ).write.mode(mode)
    if compression:
        writer = writer.option("compression", compression)
    writer.text(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    sort_by: list[str] | None = None,
    compression: str = "zstd",
    bloom_cols: list[str] | None = None,
    **options: str,
) -> None:
    """SequenceFileOutputFormat successor; with sort_by, MapFileOutputFormat
    semantics (sorted runs + parquet min/max index = sparse index +
    getClosest via row-group pruning, C/io/MapFile.java:49); with
    bloom_cols, BloomMapFile semantics (fast negative point lookups,
    C/io/BloomMapFile.java:45 — parquet bloom filters serve the same
    reads-that-miss fast path)."""
    out = df.sortWithinPartitions(*sort_by) if sort_by else df
    w = out.write.mode(mode).option("compression", compression)
    for c in bloom_cols or []:
        w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
    for k, v in options.items():
        w = w.option(k, v)
    w.parquet(path)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """MultipleOutputFormat (M/lib/MultipleOutputFormat.java:51): route each
    record to a file named by a function of the record → partitionBy."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


#: SequenceFile codec shorthand → Hadoop codec class (all three ship in
#: Spark's Hadoop client jars and need no native libs in this container).
SEQFILE_CODECS = {
    "deflate": "org.apache.hadoop.io.compress.DefaultCodec",
    "gzip": "org.apache.hadoop.io.compress.GzipCodec",
    "bzip2": "org.apache.hadoop.io.compress.BZip2Codec",
}


def write_sequence_file(
    df: DataFrame,
    path: str,
    key_col: str,
    value_col: str,
    compression: str | None = None,
    block: bool = False,
) -> None:
    """SequenceFileOutputFormat (M/SequenceFileOutputFormat.java:38) — the
    REAL on-disk format, not a parquet substitute: (key, value) pairs as a
    Hadoop SequenceFile of Text/Text (Writable marshalling handled by
    Spark's sequenceFile RDD support). Interchange path for users with
    existing SequenceFile data; columnar workloads should prefer
    write_parquet (the analytics-native successor).

    All three of the reference's on-disk layouts (C/io/SequenceFile.java —
    uncompressed Writer, record-compressed RecordCompressWriter,
    block-compressed BlockCompressWriter) are supported:
    ``compression`` picks a codec from :data:`SEQFILE_CODECS` (None =
    uncompressed), ``block=True`` selects the block layout (the codec's
    compression-type knob, SequenceFileOutputFormat.getOutputCompressionType).
    """
    rdd = df.select(
        F.col(key_col).cast("string"), F.col(value_col).cast("string")
    ).rdd.map(tuple)
    if compression is None:
        rdd.saveAsSequenceFile(path)
        return
    # Not saveAsSequenceFile(path, codec): Spark's codec overload hardcodes
    # compress.type=BLOCK, which would silently ignore the record layout.
    # Driving the old-API output format with an explicit job conf honors it.
    rdd.saveAsHadoopFile(
        path,
        "org.apache.hadoop.mapred.SequenceFileOutputFormat",
        "org.apache.hadoop.io.Text",
        "org.apache.hadoop.io.Text",
        conf={
            "mapreduce.output.fileoutputformat.compress": "true",
            "mapreduce.output.fileoutputformat.compress.codec": SEQFILE_CODECS[compression],
            "mapreduce.output.fileoutputformat.compress.type": "BLOCK" if block else "RECORD",
        },
    )


def read_sequence_file(spark: SparkSession, path: str) -> DataFrame:
    """SequenceFileInputFormat (M/SequenceFileInputFormat.java:35): read a
    Hadoop SequenceFile of Text/Text back as a (k, v) DataFrame."""
    rdd = spark.sparkContext.sequenceFile(path)
    return spark.createDataFrame(rdd, schema="k string, v string")


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


def read_xml_records(
    spark: SparkSession, path: str, record_tag: str, fields: list[str]
) -> DataFrame:
    """StreamXmlRecordReader (S/StreamXmlRecordReader.java): tag-delimited
    records from text; each <record_tag>...</record_tag> block becomes a
    row with the given child-element fields extracted.

    Whole-file regex segmentation (wholetext per file) — matches the
    reference's begin/end-mark scanning; for huge single XML files, split
    upstream. Field extraction is regexp-based like the reference's
    slow-match mode.
    """
    import pyspark.sql.functions as F_

    raw = spark.read.text(path, wholetext=True)
    rec = F_.explode(
        F_.expr(f"regexp_extract_all(value, '<{record_tag}>(.*?)</{record_tag}>', 1)")
    ).alias("__rec")
    recs = raw.select(rec)
    cols = [
        F_.regexp_extract(F_.col("__rec"), f"<{f}>([^<]*)</{f}>", 1).alias(f)
        for f in fields
    ]
    return recs.select(*cols)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 8,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed + sorted managed table — the declarative equivalent of
    CompositeInputFormat's physical precondition (identically partitioned,
    key-sorted sources, M/join/CompositeInputFormat.java:48). Joins between
    tables bucketed on the same key with the same bucket count plan as
    shuffle-free sort-merge joins.

    At 100 TB this is THE repeated-join strategy: pay the shuffle once at
    write time, never again.
    """
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def compact_parquet(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_bytes: int = 128 * 1024 * 1024,
    partition_cols: list[str] | None = None,
) -> dict:
    """Small-files compaction: rewrite a parquet dataset into files sized
    for scan efficiency.

    The 100 TB operational reality this serves: incremental pipelines
    (streaming sinks, per-shard writers, failed-and-retried jobs) leave
    datasets of thousands of KB-scale files, and scan cost becomes
    open-cost-dominated (one task per file, footer reads, NameNode/object
    -store round trips). Compaction = read → repartition to
    ceil(total_bytes / target_bytes) → rewrite. Output file count tracks
    DATA size, not input file count, so a million-file input compacts to
    the same layout as a clean write.

    With ``partition_cols`` the repartition keys on those columns so each
    Hive partition's files co-locate (and partition pruning still works
    on the output). Returns {"files_in", "bytes_in", "files_out"}.

    Content preservation is by construction (one read, one write, no
    row-level transform) and pinned by tests/test_sources.py round-trip.
    """
    import glob as _glob
    import os as _os

    files = [
        f
        for f in _glob.glob(_os.path.join(path, "**", "*"), recursive=True)
        if _os.path.isfile(f) and not _os.path.basename(f).startswith(("_", "."))
    ]
    bytes_in = sum(_os.path.getsize(f) for f in files)
    n_out = max(1, -(-bytes_in // target_bytes))
    df = spark.read.parquet(path)
    if partition_cols:
        out = df.repartition(int(n_out), *partition_cols)
        writer = out.write.mode("overwrite").partitionBy(*partition_cols)
    else:
        out = df.repartition(int(n_out))
        writer = out.write.mode("overwrite")
    writer.parquet(out_path)
    files_out = [
        f
        for f in _glob.glob(_os.path.join(out_path, "**", "*.parquet"), recursive=True)
        if _os.path.isfile(f)
    ]
    return {"files_in": len(files), "bytes_in": bytes_in, "files_out": len(files_out)}
