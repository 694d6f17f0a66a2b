"""Approximate-nearest-neighbor search over an embedding column.

Two strategies:
- ``brute_force_topk`` — exact: broadcast the (small) query set against the
  corpus, cosine per pair, per-query top-k via window. The baseline and the
  verifier for the approximate path. Cost O(|Q| * |corpus|) — fine for
  thousands of queries against any corpus size (scan-shaped, no shuffle of
  the corpus).
- ``ivf_topk`` — IVF-style scale path: corpus is pre-assigned to its
  nearest coarse centroid (one scan); each query probes only the
  ``nprobe`` nearest centroid partitions. At 100 TB: write the corpus
  bucketed/partitioned by centroid id so a probe is partition pruning, not
  a scan.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve against module globals

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_gpu_spark.functions.vectors import dot, euclidean_sq, norm_sq
from hadoop_gpu_spark.operators.sort import top_k_per_group


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k neighbors per query. Output: (qid, nid, score, rank).

    Self-matches (qid == nid) are excluded. Ties break on neighbor id so
    results are deterministic.
    """
    from hadoop_gpu_spark.utils import ensure_min_partitions

    # Squared norms are factored out per SIDE (|Q| + |corpus| folds)
    # instead of per PAIR (3 folds x |Q|*|corpus|): cosine(a, b) ==
    # dot(a, b) / sqrt(norm_sq(a) * norm_sq(b)) with norm_sq evaluated
    # on the identical array values, so every double in the quotient is
    # bit-identical to the inline form (r16 optimization, guide §1.2).
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("__qv"),
        norm_sq(vec_col).alias("__qn"),
    )
    c = ensure_min_partitions(
        corpus.select(
            F.col(id_col).alias("nid"),
            F.col(vec_col).alias("__cv"),
            norm_sq(vec_col).alias("__cn"),
        )
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(F.col("qid") != F.col("nid"))
    if metric == "cosine":
        score = dot("__qv", "__cv") / F.sqrt(F.col("__qn") * F.col("__cn"))
        order = [F.col("score").desc(), F.col("nid").asc()]
    elif metric == "euclidean":
        score = euclidean_sq("__qv", "__cv")
        order = [F.col("score").asc(), F.col("nid").asc()]
    else:
        raise ValueError(metric)
    scored = pairs.select("qid", "nid", score.alias("score"))
    return top_k_per_group(scored, ["qid"], order, k)


def assign_to_centroids(
    corpus: DataFrame, centroids: DataFrame, vec_col: str, id_col: str
) -> DataFrame:
    """Assign each corpus vector to its nearest centroid.

    The centroid table (small by construction — IVF coarse lists) is
    collapsed to ONE array-of-structs row and broadcast; assignment is an
    array_min over (distance, centroid_id) structs — a single narrow map
    over the corpus with NO shuffle at all (the previous min_by/groupBy
    formulation shuffled one row per corpus vector) and deterministic
    ties (lowest centroid_id, struct ordering).
    """
    cen_arr = centroids.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("centroid_id"), F.col(vec_col).alias("__mv")))
        ).alias("__cents")
    )
    with_c = corpus.crossJoin(F.broadcast(cen_arr))
    nearest = F.array_min(
        F.transform(
            F.col("__cents"),
            lambda c: F.struct(
                euclidean_sq(F.col(vec_col), c["__mv"]).alias("d"),
                c["centroid_id"].alias("cid"),
            ),
        )
    )["cid"]
    return with_c.withColumn("centroid_id", nearest).drop("__cents")


def assign_to_centroids_pandas(
    corpus: DataFrame, centroids: DataFrame, vec_col: str, id_col: str
) -> DataFrame:
    """Arrow-batched numpy twin of :func:`assign_to_centroids` — identical
    output (every corpus column + ``centroid_id``), bit-identical
    assignments, and the production path since round 5 (the interpreted
    per-element HOF fold was the last per-row hot spot in the IVF build).

    Exactness argument (the license for sharing the expression oracle):
    the distance accumulates SEQUENTIALLY over dimensions —
    ``acc += (x_d - c_d)^2`` one dimension at a time, vectorized across
    the batch — which is the exact left-fold order of ``euclidean_sq``'s
    ``F.aggregate``, each step a single IEEE double op in both engines.
    Ties resolve to the first (= lowest, sorted) centroid_id, matching
    the (d, cid) struct-min. Pinned by
    tests/test_ml.py::test_assign_pandas_matches_expression.

    Centroids are collected to the driver (IVF coarse lists are small by
    construction — same metadata-sized role as k-means centroids) and
    closed over by the kernel, i.e. broadcast with the serialized task.

    r16 optimization (guide §4): the kernel runs as mapInPandas, not a
    pandas_udf expression. When the assigned column feeds a join key,
    the optimizer infers an ``isnotnull`` predicate on the UDF output
    and evaluates the SAME deterministic UDF once for the filter and
    again for the key projection — two chained ArrowEvalPython nodes
    running the full distance kernel twice over the corpus (measured in
    q_ann_ivf's plan). MapInPandas is a plan BARRIER, not an
    expression: one crossing, one kernel run, by construction. The
    numpy block is unchanged, and every op is per-row independent, so
    output values are bit-identical.
    """
    import numpy as np

    from hadoop_gpu_spark.utils import ensure_min_partitions

    rows = sorted(
        centroids.select("centroid_id", vec_col).collect(),
        key=lambda r: r["centroid_id"],
    )
    cid = np.array([r["centroid_id"] for r in rows], dtype=np.int64)
    C = np.array([[float(x) for x in r[vec_col]] for r in rows], dtype=np.float64)

    in_cols = list(corpus.columns)

    def _assign_batches(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            X = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            acc = np.zeros((n, C.shape[0]))
            for d in range(C.shape[1]):
                diff = X[:, d : d + 1] - C[:, d][None, :]
                acc += diff * diff
            out = pdf.copy()
            out["centroid_id"] = cid[np.argmin(acc, axis=1)]
            yield out

    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        list(corpus.schema.fields) + [StructField("centroid_id", LongType())]
    )
    assert "centroid_id" not in in_cols, "corpus already carries centroid_id"
    return ensure_min_partitions(corpus).mapInPandas(_assign_batches, schema)


def ivf_topk(
    corpus_assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF probe: per query, search only the nprobe nearest centroid cells.

    ``corpus_assigned`` must carry ``centroid_id`` (see assign_to_centroids;
    at scale, persist it partitioned by centroid_id).
    """
    cen = centroids.select("centroid_id", F.col(vec_col).alias("__mv"))
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("__qv"),
        norm_sq(vec_col).alias("__qn"),
    )
    qc = q.crossJoin(F.broadcast(cen))
    probes = top_k_per_group(
        qc, ["qid"], [euclidean_sq("__qv", "__mv").asc(), F.col("centroid_id").asc()], nprobe
    )
    probe_q = probes.select("qid", "__qv", "__qn", "centroid_id")
    # per-side norm factoring, same bit-identity argument as
    # brute_force_topk (the probed-cell candidate set pays one dot per
    # pair instead of three folds)
    cand = corpus_assigned.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("__cv"),
        norm_sq(vec_col).alias("__cn"),
        "centroid_id",
    ).join(F.broadcast(probe_q), "centroid_id")
    scored = cand.filter(F.col("qid") != F.col("nid")).select(
        "qid",
        "nid",
        (dot("__qv", "__cv") / F.sqrt(F.col("__qn") * F.col("__cn"))).alias("score"),
    )
    return top_k_per_group(scored, ["qid"], [F.col("score").desc(), F.col("nid").asc()], k)


def lsh_signs(n_bits: int, dim: int) -> list[list[int]]:
    """Deterministic random-hyperplane sign matrix (n_bits x dim, entries
    ±1) from an md5 chain — no engine RNG, so the same literals can be
    embedded in both the Spark plan and an oracle's SQL text."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"lsh:{h}:{d}".encode()).hexdigest()[:8], 16) % 2 == 0
            else -1
            for d in range(dim)
        ]
        for h in range(n_bits)
    ]


def lsh_signature(vec_col, signs: list[list[int]]):
    """Random-hyperplane LSH signature as a long: bit h = 1 iff
    dot(quantize(vec), hyperplane_h) > 0.

    Elements are quantized to floor(x * 1e6) integers first so every dot
    product is EXACT integer arithmetic (in doubles, far below 2^53) —
    the bit never depends on float summation order, which keeps
    signatures reproducible across engines (the oracle requirement) and
    across partitionings (the production requirement).

    The quantized array is bound once via a lambda variable (HOF lambdas
    are interpreted with no CSE — without the binding the transform would
    re-quantize the vector once per hyperplane).
    """
    from hadoop_gpu_spark.queries import _bind_once

    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    quant = F.transform(vec, lambda x: F.floor(x.cast("double") * 1000000.0).cast("double"))

    def build(qv):
        sig = F.lit(0).cast("long")
        for h, row in enumerate(signs):
            w = F.array(*[F.lit(float(v)) for v in row])
            dot = F.aggregate(
                F.zip_with(qv, w, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
            )
            sig = sig + F.when(dot > 0, F.lit(1 << h).cast("long")).otherwise(F.lit(0).cast("long"))
        return sig

    return _bind_once(quant, build)


def _signatures_np(vecs, signs: list[list[int]]):
    """Numpy core shared by the Arrow UDF and the driver-side query path:
    floor(float→double * 1e6) quantization, exact integer dot products
    (< 2^53, so accumulation order cannot flip a bit), sign bits packed
    little-endian into an int64 — the same numbers as the SQL/HOF
    formulation by construction."""
    import numpy as np

    mat = np.asarray(signs, dtype=np.float64).T  # dim x n_bits
    weights = np.array([1 << h for h in range(len(signs))], dtype=np.int64)
    arr = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
    quant = np.floor(arr * 1000000.0)
    return ((quant @ mat > 0) @ weights).astype(np.int64)


def lsh_signature_pandas_auto(vec_col, n_bits: int):
    """Arrow-batched numpy twin of :func:`lsh_signature` over
    ``lsh_signs(n_bits, dim)`` — bit-identical by construction:
    quantization is floor(float→double * 1e6) in IEEE doubles either way,
    and every dot product is exact integer arithmetic (values far below
    2^53), so accumulation order — numpy pairwise vs the HOF's left fold —
    cannot flip a bit. Pinned by
    tests/test_operators.py::test_lsh_signature_pandas_matches_expression.
    The interpreted-HOF form costs ~0.7 ms/row (5 hyperplanes x
    zip_with+aggregate over 64 elements, no codegen); this is one matmul
    per batch.

    No driver-side dimension probe: ``lsh_signs`` is a pure function of
    (n_bits, dim), so each executor derives the IDENTICAL sign matrix
    lazily from its first batch's vector length (memoized per dim for the
    worker lifetime) — no one-row ``first()`` job per invocation."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    memo: dict[int, list[list[int]]] = {}

    @pandas_udf(LongType())
    def _udf(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype="int64")
        dim = len(vecs.iloc[0])
        signs = memo.get(dim)
        if signs is None:
            signs = memo[dim] = lsh_signs(n_bits, dim)
        return pd.Series(_signatures_np(vecs, signs))

    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return _udf(vec)


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    n_bits: int = 5,
) -> DataFrame:
    """LSH-bucketed ANN: candidates = exact signature collision, then exact
    cosine top-k within the bucket. Output (qid, nid, score, rank) like
    :func:`brute_force_topk` — recall < 1 by design; cost drops from
    O(|Q|·|corpus|) to O(|Q|·bucket_size).

    100 TB shape: the corpus side computes its signature in the scan
    projection (narrow map) and joins against the broadcast query set on
    the signature — the corpus is never shuffled; with the corpus WRITTEN
    bucketed by signature the probe becomes partition pruning.
    """
    from hadoop_gpu_spark.utils import ensure_min_partitions

    # No driver-side dimension probe: the auto kernel derives the sign
    # matrix from each batch's vector length (identical values — lsh_signs
    # is pure in (n_bits, dim)), saving a one-row scan job per invocation.
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("__qv"),
        norm_sq(vec_col).alias("__qn"),
        lsh_signature_pandas_auto(vec_col, n_bits).alias("__sig"),
    )
    # signature computed in the scan projection: at cluster scale the scan
    # has many partitions, so the Arrow-batched UDF is already parallel
    # there (and measured locally, one big Arrow batch beats 32 tiny
    # post-repartition batches — Python worker overhead is per-batch)
    # Corpus-side signature via mapInPandas, not a pandas_udf expression
    # (r16 optimization, guide §4): `__sig` is the join key, so the
    # optimizer infers isnotnull(__sig) and evaluates the SAME UDF once
    # for that filter and again for the key projection — two chained
    # ArrowEvalPython nodes running the signature kernel twice over the
    # corpus (measured in q_ann_lsh's plan). MapInPandas is a plan
    # barrier: one crossing, one kernel run. The kernel body is
    # lsh_signature_pandas_auto's verbatim (per-dim memoized sign
    # matrix + _signatures_np), so signatures are bit-identical; the
    # float array round-trips Arrow exactly, so the downstream JVM
    # norm/dot expressions see identical values. The tiny query side
    # keeps the expression form (8 rows — the duplicate eval is noise).
    memo: dict[int, list[list[int]]] = {}

    def _sig_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = pdf[vec_col]
            dim = len(vecs.iloc[0])
            signs = memo.get(dim)
            if signs is None:
                signs = memo[dim] = lsh_signs(n_bits, dim)
            yield pd.DataFrame(
                {
                    "nid": pdf[id_col].to_numpy(),
                    "__cv": vecs,
                    "__sig": _signatures_np(vecs, signs),
                }
            )

    vec_type = corpus.schema[vec_col].dataType.simpleString()
    c = ensure_min_partitions(corpus.select(id_col, vec_col)).mapInPandas(
        _sig_batches, f"nid long, __cv {vec_type}, __sig long"
    ).withColumn("__cn", norm_sq("__cv"))
    pairs = c.join(F.broadcast(q), "__sig").filter(F.col("qid") != F.col("nid"))
    # per-side norm factoring (bit-identical quotient, see brute_force_topk)
    scored = pairs.select(
        "qid",
        "nid",
        (dot("__qv", "__cv") / F.sqrt(F.col("__qn") * F.col("__cn"))).alias("score"),
    )
    return top_k_per_group(scored, ["qid"], [F.col("score").desc(), F.col("nid").asc()], k)
