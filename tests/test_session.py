"""The session factory (hadoop_gpu_spark/session.py): session-scoped engine
state, the default driver heap and the JVM class-data archive."""

import os
import re
import shutil
import subprocess
import sys
import zipfile

import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F

from hadoop_gpu_spark import session
from hadoop_gpu_spark.operators.bloom import bloom_might_contain
from hadoop_gpu_spark.session import (
    CDS_DYNAMIC_MAGIC,
    class_archive_options,
    default_driver_memory,
    engine_state,
    release,
)
from hadoop_gpu_spark.tables import load_table
from hadoop_gpu_spark.utils import eager_persist

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_release_frees_frames_and_broadcasts_keeps_schemas(spark, sf_dir):
    release(spark)
    state = engine_state(spark)
    eager_persist(spark.range(10))
    spark.range(5).filter(bloom_might_contain(bytes(64), F.col("id"), 512, 3)).count()
    load_table(spark, "region", sf_dir)
    path = os.path.abspath(os.path.join(sf_dir, "region.parquet"))
    assert len(state.frames) == 1 and len(state.broadcasts) == 1
    assert any(key[0] == path for key in state.schemas)
    schemas = dict(state.schemas)

    release(spark)
    assert engine_state(spark) is state
    assert state.frames == [] and state.broadcasts == {}
    assert state.schemas == schemas


CROSS_SESSION = """
import gc
import sys
import weakref
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from hadoop_gpu_spark import get_spark, session
from hadoop_gpu_spark.operators.bloom import bloom_might_contain
from hadoop_gpu_spark.tables import load_table
from hadoop_gpu_spark.utils import eager_persist

def use(spark):
    eager_persist(spark.range(10))
    n = spark.range(5).filter(bloom_might_contain(b"\\xff" * 64, F.col("id"), 512, 3)).count()
    load_table(spark, "region", {sf_dir!r}).count()
    return n

spark = get_spark(app_name="state-first")
use(spark)
first = session.engine_state(spark)
print("FIRST", len(first.frames), len(first.broadcasts), len(first.schemas))
first_ref = weakref.ref(first)
del first
spark.stop()

spark = get_spark(app_name="state-second")
second = session.engine_state(spark)
gc.collect()
print("SECOND", len(second.frames), len(second.broadcasts), len(second.schemas))
print("FIRST_ALIVE", first_ref() is not None)
# The second context must rebuild, not reuse, the first one's handles.
print("COUNT", use(spark))
spark.stop()
"""


def test_second_context_inherits_no_state(tmp_path, sf_dir):
    """Stop one session and start another in the same process: the new
    context's state starts empty, the old state is gone, and the engine
    still works (a dead broadcast handle carried over would fail)."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", CROSS_SESSION.format(repo=REPO, sf_dir=sf_dir)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "FIRST 1 1 1" in out.stdout, out.stdout
    assert "SECOND 0 0 0" in out.stdout, out.stdout
    assert "FIRST_ALIVE False" in out.stdout, out.stdout
    assert "COUNT 5" in out.stdout, out.stdout


def test_default_driver_heap_is_below_host_ram(spark):
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap = default_driver_memory()
    assert heap.endswith("m")
    assert 0 < int(heap[:-1]) * 1024 < total_kb
    assert int(heap[:-1]) <= 16 * 1024
    expected = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or heap
    assert spark.sparkContext.getConf().get("spark.driver.memory") == expected


@pytest.fixture
def install(tmp_path, monkeypatch):
    """A fake Spark install and JDK, a fresh archive directory, and no
    driver JVM yet: what ``class_archive_options`` sees before a first
    ``get_spark``."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "conf").mkdir()
    for name in ("spark-core.jar", "spark-sql.jar"):
        (home / "jars" / name).write_bytes(b"PK" * 100)
    (home / "conf" / "spark-defaults.conf.template").write_text("# inert\n")
    (tmp_path / "jdk" / "bin").mkdir(parents=True)
    (tmp_path / "jdk" / "bin" / "java").write_text("")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "jdk"))
    for var in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH", "PYSPARK_GATEWAY_PORT"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(session, "CLASS_ARCHIVE_DIR", str(tmp_path / "archive"))
    monkeypatch.setattr(SparkContext, "_gateway", None)
    return home


def _archive(options: str) -> str:
    return re.search(r'="([^"]+)"', options).group(1)


def test_archive_key_tracks_every_jar(install):
    options = class_archive_options({})
    assert options.startswith("-XX:ArchiveClassesAtExit=") and options.endswith(" -Xlog:cds*=off")
    assert class_archive_options({}) == options
    jar = install / "jars" / "spark-sql.jar"
    st = jar.stat()

    jar.write_bytes(b"PK" * 101)  # same mtime, other size
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns))
    resized = class_archive_options({})
    assert _archive(resized) != _archive(options)

    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))  # touched
    touched = class_archive_options({})
    assert _archive(touched) not in (_archive(options), _archive(resized))


def test_only_a_complete_archive_is_mapped(install):
    archive = _archive(class_archive_options({}))
    stale = os.path.join(session.CLASS_ARCHIVE_DIR, "0" * 20 + ".jsa")
    with open(stale, "wb") as f:
        f.write(CDS_DYNAMIC_MAGIC)

    # A recorder still writing, or one killed before the header: record again.
    with open(archive, "wb") as f:
        f.write(bytes(4096))
    assert class_archive_options({}).startswith(f'-XX:ArchiveClassesAtExit="{archive}"')
    assert not os.path.exists(stale)  # another key's archive goes

    with open(archive, "wb") as f:
        f.write(CDS_DYNAMIC_MAGIC + bytes(4092))
    assert class_archive_options({}) == f'-XX:SharedArchiveFile="{archive}" -Xlog:cds*=off'


def test_stock_conf_dir_is_swapped_for_an_empty_one(install):
    assert class_archive_options({})
    assert os.environ["SPARK_CONF_DIR"] == os.path.join(session.CLASS_ARCHIVE_DIR, "conf")
    assert os.listdir(os.environ["SPARK_CONF_DIR"]) == []


def test_real_config_or_extra_classpath_gets_no_options(install, monkeypatch):
    (install / "conf" / "spark-defaults.conf").write_text("spark.foo bar\n")
    assert class_archive_options({}) is None
    assert "SPARK_CONF_DIR" not in os.environ
    assert not os.path.exists(session.CLASS_ARCHIVE_DIR)

    (install / "conf" / "spark-defaults.conf").unlink()
    assert class_archive_options({"spark.driver.extraClassPath": "/opt/x.jar"}) is None
    monkeypatch.setenv("HADOOP_CONF_DIR", str(install / "conf"))
    assert class_archive_options({}) is None
    assert "SPARK_CONF_DIR" not in os.environ

    monkeypatch.delenv("HADOOP_CONF_DIR")
    conf_dir = install.parent / "site-conf"
    conf_dir.mkdir()
    (conf_dir / "log4j2.properties").write_text("rootLogger.level = warn\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    assert class_archive_options({}) is None
    assert os.environ["SPARK_CONF_DIR"] == str(conf_dir)


def test_running_driver_jvm_gets_no_options(install, monkeypatch):
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert class_archive_options({}) is None
    assert "SPARK_CONF_DIR" not in os.environ
    assert not os.path.exists(session.CLASS_ARCHIVE_DIR)


ARCHIVE_PROBE = """
import sys
sys.path.insert(0, {repo!r})
from pyspark import SparkContext
from hadoop_gpu_spark import get_spark, session

session.CLASS_ARCHIVE_DIR = {archive_dir!r}
spark = get_spark(app_name="archive-probe", extra_conf={conf!r})
print("MODE", session.class_archive_mode(spark))
print("COUNT", spark.range(1000).count())
# Wait for the JVM to exit: a recording JVM writes the archive on its way out.
gateway = SparkContext._gateway
spark.stop()
proc = gateway.proc
gateway.shutdown()
proc.stdin.close()
print("JVM_EXIT", proc.wait(timeout=120))
"""


def test_second_driver_maps_the_archive_the_first_recorded(tmp_path):
    """Driver 1 records the archive as its JVM exits; driver 2's JVM then
    loads SparkContext from it. A third driver whose classpath differs
    from the recorded one starts without it. None prints a CDS line."""
    archive_dir = str(tmp_path / "archive")
    class_log = str(tmp_path / "class-load.log")
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "SPARK_CONF_DIR")}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")

    def drive(conf):
        out = subprocess.run(
            [sys.executable, "-c", ARCHIVE_PROBE.format(repo=REPO, archive_dir=archive_dir, conf=conf)],
            cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
        )
        assert out.returncode == 0, out.stderr[-3000:]
        assert "COUNT 1000" in out.stdout and "JVM_EXIT 0" in out.stdout, out.stdout
        assert "[warning][cds" not in out.stdout + out.stderr
        assert "shared archive" not in out.stdout + out.stderr
        return out.stdout

    try:
        assert "MODE recording" in drive({})
        (archive,) = [n for n in os.listdir(archive_dir) if n.endswith(".jsa")]
        with open(os.path.join(archive_dir, archive), "rb") as f:
            assert f.read(4) == CDS_DYNAMIC_MAGIC

        assert "MODE mapped" in drive({"spark.driver.extraJavaOptions": f"-Xlog:class+load=info:file={class_log}"})
        with open(class_log) as f:
            sources = [line for line in f if " org.apache.spark.SparkContext source: " in line]
        assert len(sources) == 1 and "source: shared objects file (top)" in sources[0], sources

        # A jar ahead of the recorded classpath: the JVM cannot use the archive.
        with zipfile.ZipFile(tmp_path / "other.jar", "w"):
            pass
        mismatched = {
            "spark.driver.defaultJavaOptions": f'-XX:SharedArchiveFile="{os.path.join(archive_dir, archive)}" -Xlog:cds*=off',
            "spark.driver.extraClassPath": str(tmp_path / "other.jar"),
        }
        assert "MODE off" in drive(mismatched)
    finally:
        shutil.rmtree(archive_dir, ignore_errors=True)
