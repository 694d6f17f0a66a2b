"""The engine's Python worker daemon (hadoop_gpu_spark/pyspark_daemon.py)."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

from hadoop_gpu_spark import pyspark_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


def test_zip_invalidation_rereads_only_changed_archives(tmp_path, monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 12):
        assert pyspark_daemon.install_zip_invalidation_patch() is False
        assert zipimport.zipimporter.invalidate_caches is original
        return

    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, {"zprobe_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    modules = ["zprobe_a", "zprobe_b", "zprobe_c"]
    try:
        assert importlib.import_module("zprobe_a").X == 1
        assert pyspark_daemon.install_zip_invalidation_patch() is True

        reads: list[str] = []
        read_directory = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive not in reads

        # A rewritten archive is re-read and its new member imports.
        _write_zip(archive, {"zprobe_a.py": "X = 1\n", "zprobe_b.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert archive in reads
        assert importlib.import_module("zprobe_b").Y == 2

        # An archive first seen after the patch gets a fresh importer.
        second = str(tmp_path / "second.zip")
        _write_zip(second, {"zprobe_c.py": "Z = 3\n"})
        monkeypatch.syspath_prepend(second)
        assert importlib.import_module("zprobe_c").Z == 3
    finally:
        zipimport.zipimporter.invalidate_caches = original
        for name in modules:
            sys.modules.pop(name, None)
        for path in (archive, str(tmp_path / "second.zip")):
            sys.path_importer_cache.pop(path, None)
            zipimport._zip_directory_cache.pop(path, None)


PROBE = """
import sys
sys.path.insert(0, {repo!r})
import pandas as pd
from pyspark.sql import functions as F
from hadoop_gpu_spark import get_spark

spark = get_spark(app_name="daemon-probe", extra_conf={{"spark.executorEnv.PYTHONPATH": {extra!r}}})

@F.pandas_udf("string")
def probe(s: pd.Series) -> pd.Series:
    import zipimport
    return s.map(lambda _: zipimport.zipimporter.invalidate_caches.__name__)

conf = spark.sparkContext.getConf()
print("DAEMON", conf.get("spark.python.daemon.module"))
print("PYTHONPATH", conf.get("spark.executorEnv.PYTHONPATH"))
rows = spark.range(8, numPartitions=4).select(probe(F.col("id").cast("string"))).distinct().collect()
print("WORKER", sorted(r[0] for r in rows))
spark.stop()
"""


def test_workers_run_the_patched_daemon_from_any_directory(tmp_path):
    """The driver runs outside the checkout and finds the engine only on its
    own sys.path: workers must still start the daemon, and a pandas UDF
    reports from inside the worker which invalidation is installed. A
    caller's worker PYTHONPATH is kept, with the engine appended."""
    extra = str(tmp_path / "extra")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", PROBE.format(repo=REPO, extra=extra)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    name = "invalidate_caches" if sys.version_info >= (3, 12) else "invalidate_if_changed"
    assert f"WORKER ['{name}']" in out.stdout, out.stdout + out.stderr[-3000:]
    assert "DAEMON hadoop_gpu_spark.pyspark_daemon" in out.stdout
    assert f"PYTHONPATH {extra}{os.pathsep}{REPO}" in out.stdout
