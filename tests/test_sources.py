from __future__ import annotations

import os

from hadoop_gpu_spark import sources


def test_fixed_width_tera(spark):
    tera = sources.gen_tera_records(spark, 100)
    rows = tera.collect()
    assert all(len(r["key"]) == 10 and len(r["payload"]) == 90 for r in rows)
    # deterministic across invocations
    again = sources.gen_tera_records(spark, 100).collect()
    assert sorted(r["key"] for r in rows) == sorted(r["key"] for r in again)


def test_jdbc_derby_roundtrip(spark, tmp_path):
    # DBOutputFormat -> embedded Derby -> DBInputFormat (chunked read):
    # written rows survive the roundtrip exactly, including the
    # range-partitioned (4-task) scan path.
    url = sources.derby_url(str(tmp_path))
    df = spark.range(100).selectExpr(
        "id", "concat('page', cast(id % 7 as string)) as url"
    )
    sources.write_jdbc(df, url, "access", mode="overwrite", driver=sources.DERBY_DRIVER)
    back = sources.read_jdbc(
        spark, url, "access", num_partitions=4, driver=sources.DERBY_DRIVER,
        partitionColumn="id", lowerBound="0", upperBound="100",
    )
    assert back.rdd.getNumPartitions() == 4
    assert back.count() == 100
    got = {(r["id"], r["url"]) for r in back.collect()}
    want = {(i, f"page{i % 7}") for i in range(100)}
    assert got == want


def test_many_small_files_combine_into_few_partitions(spark, tmp_path):
    # CombineFileInputFormat / MultiFileWordCount analog: Spark's
    # files.openCostInBytes (1 MB, session.py) bin-packs many tiny files
    # into few scan partitions, so a small-file corpus doesn't explode
    # into one task per file at 100 TB (the exact problem
    # X/MultiFileWordCount.java solves with one split over many files).
    path = str(tmp_path / "many_small")
    spark.range(2000).repartition(50).write.parquet(path)
    back = spark.read.parquet(path)
    n_parts = back.rdd.getNumPartitions()
    n_files = len([f for f in os.listdir(path) if f.startswith("part-")])
    assert n_files >= 40, n_files
    # local[32] floor: bytesPerCore targets defaultParallelism, so Spark
    # packs ~2 tiny files per partition here (and far more once file count
    # >> cores); the invariant is packing happened at all, not a ratio.
    assert n_parts <= n_files / 2, (n_parts, n_files)
    assert back.count() == 2000
