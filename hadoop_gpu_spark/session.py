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

import contextlib
import glob
import hashlib
import os
import shutil
from dataclasses import dataclass, field

from pyspark import SparkContext
from pyspark.broadcast import Broadcast
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_CPUS = str(os.cpu_count() or 1)
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", DEFAULT_CPUS))
# The directory holding the ``hadoop_gpu_spark`` package: Python workers
# import the engine (the worker daemon, pickled UDF references) from here,
# whatever directory the driver runs in.
ENGINE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PYTHONPATH_CONF = "spark.executorEnv.PYTHONPATH"
# JVM class-data sharing (CDS): the first driver JVM records the classes it
# loaded into an archive here at exit; every later one maps that archive
# instead of parsing ~12,000 classes again. See ARCHITECTURE.md.
CLASS_ARCHIVE_DIR = os.path.join(ENGINE_PARENT, ".jvm_class_archive")
# JDK 17 writes a dynamic archive's header, and with it this magic, last.
CDS_DYNAMIC_MAGIC = bytes.fromhex("a8ab0bf0")


def default_driver_memory() -> str:
    """Half the host's RAM (MemTotal on Linux), at most 16g.

    A fixed 16g heap on a 15 GB host without swap got the driver JVM
    OOM-killed; half leaves room for the Python workers and the OS."""
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(total_mb // 2, 16 * 1024)}m"


def class_archive_options(conf: dict[str, str]) -> str | None:
    """Driver JVM options that map the class-data archive, or record it.

    None when no driver JVM will be launched (one already runs), or when
    the JVM could not record: it refuses to when a non-empty directory is
    on its classpath. Spark's conf directory is on it, so when
    ``SPARK_CONF_DIR`` is unset and ``$SPARK_HOME/conf`` holds only
    ``*.template`` files (inert), this points ``SPARK_CONF_DIR`` at an
    empty directory of the engine's. ``-Xlog:cds*=off``: a recording JVM
    logs ~580 warnings, and one whose classpath differs from the recorded
    one says it cannot use the archive (it then runs without it).
    """
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    if "spark.driver.extraClassPath" in conf or any(
        os.environ.get(v) for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
    ):
        return None
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    spark_home = _find_spark_home()
    jars = os.path.join(spark_home, "jars")
    if not java or not os.path.isfile(java) or not os.path.isdir(jars):
        return None
    own_conf = os.path.join(CLASS_ARCHIVE_DIR, "conf")
    conf_dir = os.environ.get("SPARK_CONF_DIR")
    if conf_dir is None:
        stock = os.path.join(spark_home, "conf")
        if os.path.isdir(stock) and not all(n.endswith(".template") for n in os.listdir(stock)):
            return None
    elif os.path.isdir(conf_dir) and os.listdir(conf_dir):
        return None
    try:
        os.makedirs(own_conf, exist_ok=True)
    except OSError:
        return None
    if not os.access(CLASS_ARCHIVE_DIR, os.W_OK):
        return None
    conf_dir = os.environ.setdefault("SPARK_CONF_DIR", own_conf)

    # The archive is valid only for the JVM and classpath that recorded it.
    key = hashlib.sha256()
    for path in (java, spark_home):
        key.update(f"{os.path.realpath(path)} {os.stat(path).st_mtime_ns}\n".encode())
    for entry in sorted(os.scandir(jars), key=lambda e: e.name):
        st = entry.stat()
        key.update(f"{entry.name} {st.st_size} {st.st_mtime_ns}\n".encode())
    key.update(os.path.realpath(conf_dir).encode())
    archive = os.path.join(CLASS_ARCHIVE_DIR, f"{key.hexdigest()[:20]}.jsa")

    try:
        with open(archive, "rb") as f:
            mapped = f.read(len(CDS_DYNAMIC_MAGIC)) == CDS_DYNAMIC_MAGIC
    except OSError:
        mapped = False
    if not mapped:
        # Archives of other keys are stale, and each is 140-200 MB.
        for stale in glob.glob(os.path.join(CLASS_ARCHIVE_DIR, "*.jsa")):
            if stale != archive:
                with contextlib.suppress(OSError):
                    os.remove(stale)
    flag = "SharedArchiveFile" if mapped else "ArchiveClassesAtExit"
    return f'-XX:{flag}="{archive}" -Xlog:cds*=off'


def class_archive_mode(spark: SparkSession) -> str:
    """How the driver JVM uses the class-data archive: ``"mapped"`` (the
    archive is mapped into it), ``"recording"`` (it writes the archive at
    exit) or ``"off"``."""
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    for arg in bean.getInputArguments():
        flag, _, archive = arg.partition("=")
        if flag == "-XX:ArchiveClassesAtExit":
            return "recording"
        if flag == "-XX:SharedArchiveFile":
            # A JVM that cannot use the archive runs without mapping it.
            with open(f"/proc/{bean.getPid()}/maps") as f:
                return "mapped" if archive in f.read() else "off"
    return "off"


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
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Partition sizing: the default 128 MB maxPartitionBytes packs this
        # deployment's compressed test tables (10-100 MB) into ONE scan
        # partition, serializing every query. 8 MB splits them across
        # every local core; on a production cluster raise toward 128 MB as
        # table sizes grow (rule: total-input / (cores * 2-3) per partition).
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
    # Spark puts these before spark.driver.extraJavaOptions, so a caller's
    # JVM flags still apply, and a caller's defaultJavaOptions replace them.
    if "spark.driver.defaultJavaOptions" not in conf:
        options = class_archive_options(conf)
        if options:
            conf["spark.driver.defaultJavaOptions"] = options
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@dataclass(eq=False)
class EngineState:
    """Driver-side state that lives and dies with one SparkContext.

    - ``frames``: every frame ``utils.eager_persist`` cached;
    - ``broadcasts``: bloom bitset broadcasts by md5 of the bitset, so
      repeated query construction ships one handle per distinct bitset;
    - ``schemas``: parquet schemas by ``(path, mtime_ns, size)``, so
      ``tables.load_table`` skips schema inference (a footer-probe job);
    - ``row_groups``: footer row-group counts by ``(path, mtime_ns,
      size)``, for ``utils.ensure_min_partitions``.

    A rewritten file changes its key, so it never serves a stale entry.
    """

    context: SparkContext
    frames: list[DataFrame] = field(default_factory=list)
    broadcasts: dict[str, Broadcast] = field(default_factory=dict)
    schemas: dict[tuple[str, int, int], StructType] = field(default_factory=dict)
    row_groups: dict[tuple[str, int, int], int] = field(default_factory=dict)


# One slot: a process has at most one active SparkContext.
_state: EngineState | None = None


def engine_state(spark: SparkSession) -> EngineState:
    """The state of ``spark``'s SparkContext, created on first use.

    Sessions need not come from ``get_spark`` (a driver may build its
    own), so the state is made here, lazily. A different context means
    the old one was stopped: its state is dropped, never carried over.
    """
    global _state
    sc = spark.sparkContext
    if _state is None or _state.context is not sc:
        _state = EngineState(sc)
    return _state


def release(spark: SparkSession) -> None:
    """Unpersist the cached frames and destroy the bitset broadcasts.

    ``destroy()``, not ``unpersist()``: the handles leave the state here,
    so the driver's copy must go too. Schemas and row-group counts stay:
    they are small, and callers release before every timed pass, where
    re-probing footers would add 0.1-0.2 s to each table load.
    """
    state = engine_state(spark)
    for df in state.frames:
        df.unpersist(False)
    for bc in state.broadcasts.values():
        bc.destroy()
    state.frames.clear()
    state.broadcasts.clear()
