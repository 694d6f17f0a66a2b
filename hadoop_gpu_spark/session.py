"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default: ``os.cpu_count()``);
the same configuration scales to a multi-executor cluster because nothing
here depends on local mode: partition counts track cores, AQE re-plans at
runtime, and Arrow is enabled for every pandas-exchange operator.

Scale notes (100 TB design):
- AQE on: runtime coalescing, skew-join splitting, dynamic join strategy.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; AQE
  coalesces down. On a 1000-executor cluster raise it (or leave AQE's
  ``advisoryPartitionSizeInBytes`` to govern).
- Arrow batch size bounded so Pandas-UDF operators stay in executor memory
  even with wide binary/multimodal columns.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = str(os.cpu_count() or 1)
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", DEFAULT_CPUS))
# The directory holding the ``hadoop_gpu_spark`` package: Python workers
# import the engine (the worker daemon, pickled UDF references) from here,
# whatever directory the driver runs in.
ENGINE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PYTHONPATH_CONF = "spark.executorEnv.PYTHONPATH"


def get_spark(
    app_name: str = "hadoop-gpu-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", DEFAULT_CPUS)
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Partition sizing: the default 128 MB maxPartitionBytes packs this
        # deployment's compressed test tables (10-100 MB) into ONE scan
        # partition, serializing every query. 8 MB keeps local[32] busy; on
        # a production cluster raise toward 128 MB as table sizes grow
        # (rule: total-input / (cores * 2-3) per partition).
        .config("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(1 * 1024 * 1024))
        # events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as long nanos and convert in tables.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # Workers fork from pyspark's daemon behind a zipimport fix that
        # stops every task re-reading pyspark.zip (see pyspark_daemon.py).
        .config("spark.python.daemon.module", "hadoop_gpu_spark.pyspark_daemon")
    )
    conf = dict(extra_conf or {})
    # Append the engine to a caller's worker PYTHONPATH, never replace it.
    paths = [p for p in conf.get(PYTHONPATH_CONF, "").split(os.pathsep) if p]
    if ENGINE_PARENT not in paths:
        paths.append(ENGINE_PARENT)
    conf[PYTHONPATH_CONF] = os.pathsep.join(paths)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
