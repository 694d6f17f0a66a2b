"""Distributed matrix multiplication, reference-shaped.

Reference semantics:
- cell form (apps/pipes/matmul/cpu-matmul/cpu-matmul.cc:33-87): each record
  carries row-vector a_i and col-vector b_j; map emits per-k products,
  reduce sums → C[i,j]. In Spark the whole per-record pipeline collapses
  to one array expression: C[i,j] = dot(a, b) — no explode, no shuffle
  (``gram_matrix``).
- blocked form (cpu-submatmul.cc:33-176): records carry m×m sub-blocks
  SA(i,k), SB(k,j); map multiplies blocks, reduce sums blocks elementwise
  per (i,j). Spark: join on k, numpy matmul per pair via arrays, then
  groupBy(i,j) with elementwise array sum — the 100 TB-able blocked-GEMM
  dataflow (SUMMA-style: shuffle volume O(n^3 / sqrt(P)) with block size
  as the tuning knob).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_gpu_spark.functions.vectors import dot


def gram_matrix(vectors: DataFrame, id_col: str, vec_col: str, n: int) -> DataFrame:
    """Upper-triangular gram matrix over the first n vectors — the cell-form
    workload materialized from an embeddings table (i <= j)."""
    from hadoop_gpu_spark.utils import ensure_min_partitions

    a = ensure_min_partitions(
        vectors.filter(F.col(id_col) < n).select(
            F.col(id_col).alias("i"), F.col(vec_col).alias("__a")
        )
    )
    b = vectors.filter(F.col(id_col) < n).select(
        F.col(id_col).alias("j"), F.col(vec_col).alias("__b")
    )
    pairs = a.crossJoin(F.broadcast(b)).filter(F.col("i") <= F.col("j"))
    return pairs.select("i", "j", dot("__a", "__b").alias("c"))


def matmul_blocked(
    blocks_a: DataFrame, blocks_b: DataFrame, m: int
) -> DataFrame:
    """Blocked form: A blocks (i, k, sa flat m*m), B blocks (k, j, sb flat
    m*m) → C blocks (i, j, c flat m*m), elementwise-summed over k.

    Join on k (shuffle both sides on k), per-pair m×m GEMM in numpy via
    mapInPandas (Arrow-batched — the CPU half of the HybridOp; the GPU half
    swaps numpy for CuPy), then groupBy(i,j) elementwise block sum as a
    JVM-side array aggregate.
    """
    paired = blocks_a.join(blocks_b, on="k").select("i", "j", "sa", "sb")

    def gemm(batches):
        for pdf in batches:
            sa = np.stack(pdf["sa"].to_numpy()).reshape(len(pdf), m, m)
            sb = np.stack(pdf["sb"].to_numpy()).reshape(len(pdf), m, m)
            c = np.matmul(sa, sb).reshape(len(pdf), m * m)
            yield pd.DataFrame(
                {"i": pdf["i"], "j": pdf["j"], "c": list(c)}
            )

    prods = paired.mapInPandas(gemm, schema="i long, j long, c array<double>")
    return prods.groupBy("i", "j").agg(
        F.aggregate(
            F.collect_list("c"),
            F.array_repeat(F.lit(0.0), m * m),
            lambda acc, x: F.zip_with(acc, x, lambda p, q: p + q),
        ).alias("c")
    )
