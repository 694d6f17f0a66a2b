"""Session-scoped engine state (hadoop_gpu_spark/session.py)."""

import os
import subprocess
import sys

from pyspark.sql import functions as F

from hadoop_gpu_spark.operators.bloom import bloom_might_contain
from hadoop_gpu_spark.session import engine_state, release
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
