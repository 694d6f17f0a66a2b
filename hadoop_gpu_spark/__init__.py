"""hadoop_gpu_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the data-processing capabilities of
koichishirahata/hadoop-gpu (Apache Hadoop 0.20.1 + hybrid CPU/GPU pipes
scheduling) as an idiomatic Spark DataFrame/SQL library, extended with the
LLM-data-pipeline operators (dedup, similarity search, text analysis,
multimodal columns) that a 100 TB training-data pipeline needs.

Design stance (SURVEY.md §7):
- DataFrame/SQL-native: every reference operator is a thin, tested PySpark
  API; Catalyst/Tungsten own the physical plan.
- The MapReduce contract (map → partition → sort → combine → shuffle →
  group → reduce) survives only as a compat layer (`operators.kvjob`).
- Hybrid CPU/GPU routing is a library feature (`hybrid`), with the CPU
  path always correct and the GPU path optional.
"""

from hadoop_gpu_spark.session import get_spark, release
from hadoop_gpu_spark.tables import load_tables, TABLE_NAMES

__all__ = ["get_spark", "release", "load_tables", "TABLE_NAMES"]
__version__ = "0.1.0"
