"""SemDeDup-style semantic deduplication over an embedding column.

The missing member of the dedup family beside exact / MinHash-LSH /
SimHash / n-gram-Jaccard / embedding-pair (label-blocked): UNSUPERVISED
near-dup pruning — cluster the corpus by nearest centroid, then inside
each cluster drop every vector that has an earlier (smaller-id)
neighbor above the cosine threshold. Keep-first greedy semantics
(deterministic, SQL-expressible); the published SemDeDup recipe
(Abbas et al. 2023, arXiv:2303.09540) differs only in which ε-ball
representative it keeps.

100 TB shape:
- centroids are the first n_centroids vectors by id (the repo's IVF
  convention — deterministic, no training pass). The DEFAULT
  (n_centroids=None) derives k ~ sqrt(N) and a sqrt(k)-cell coarse
  quantizer from a corpus count (auto_centroid_config); a FIXED small
  k is a caller opt-in whose pair stage grows N²/k (measured 25x wall
  at 10x data in the r12 sf1 check — the reason auto is the default).
- two execution paths, pinned bit-identical where they overlap:
  the EXPRESSION path (no coarse quantizer — small k, the oracle-gated
  config) broadcasts the k-row centroid frame, assigns via crossJoin +
  window, eager_persists the assignment (its self-join's two branches
  would otherwise recompute the corpus-x-centroid pass), and pairs via
  a cluster-bucketed SQL self-join; the KERNEL path (coarse_nlist set
  — every auto config past k=16) collects the k centroid vectors once
  (model-sized, the k-means/pq_train driver contract: ~16 MB at 1e9
  vectors) and runs assignment as a MAP-ONLY Arrow kernel (zero
  shuffles) plus survivors as one applyInPandas after the single
  cluster-id shuffle, all cosines as exact-fold numpy matrices. The
  r13 sf10 soak measured the rewrite at 17x: the expression coarse
  form shuffled N·coarse_nlist vector rows through two row_number
  windows and paid per-row expression cosines (72x wall at 10x data);
  the kernel path came in at 6.9x for 10x data.
- honest asymptotics at the auto sizing: assignment is ~2·sqrt(k)
  fold-cosines per vector (map-only); the pair stage is N²/2k pair
  cosines = N^1.5/2 FLOPs at k ~ sqrt(N) — superlinear in FLOPs, but
  numpy-vectorized, embarrassingly parallel across clusters, and
  blockwise-bounded in memory; the wall-clock exponent stays below
  the data exponent until the pair FLOPs dominate the corpus scan
  (~1e9 vectors on one node; a 1000-executor cluster pushes the
  crossover to ~1e12). Past that, cap cluster sizes by raising k
  toward N/const — the collect grows with k, so at extreme k ship
  the centroid table via files instead.
- the pairwise stage is CLUSTER-BUCKETED in both paths: vectors
  shuffle ONCE by cluster id; pairs are bounded per cluster
  (~(N/k)² each), never corpus × corpus.

Determinism: cosine is the functions.vectors left-fold double spelling
(bit-equal to DuckDB's list_dot_product over DOUBLE[] — the
q_dedup_embedding parity anchor); assignment ties break by centroid id,
and the keep-first rule depends only on ids and exact cosine
comparisons.
"""

from __future__ import annotations

import math
import warnings

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Auto-sizing (n_centroids=None): coarse probing only pays once the
# centroid table outgrows a broadcast row-scan's trivial range — below
# this k the exact flat assignment is both cheaper and oracle-exact.
AUTO_COARSE_MIN_K = 16

# Kernel-path survivors: a-row block height for the pairwise cosine
# matrix — peak task memory is PAIR_BLOCK_ROWS x cluster_size doubles
# regardless of how big a cluster gets.
PAIR_BLOCK_ROWS = 2048


def auto_centroid_config(n_rows: int) -> tuple[int, int | None]:
    """(n_centroids, coarse_nlist) for a corpus of ``n_rows`` vectors.

    Sized from the r12 sf1 measurements, where a fixed small k took 25x
    the wall time at 10x the data: exact assignment costs k
    cosines/vector and the within-cluster pair stage ~N²/k pair cosines,
    so k ~ sqrt(N) balances them — but flat assignment at that k is N^1.5
    total, so large k switches on the two-level coarse quantizer
    (coarse_nlist ~ sqrt(k)), dropping per-vector assignment to
    ~2*sqrt(k) and the whole operator to ~linear. Small corpora
    (k < AUTO_COARSE_MIN_K) keep the exact flat path: the quantizer's
    constant factor outweighs it there.
    """
    k = max(1, math.isqrt(max(0, n_rows)))
    if k < AUTO_COARSE_MIN_K:
        return k, None
    return k, max(1, math.isqrt(k))


def _fold_dot(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, k) pairwise dot matrix accumulated IN DIMENSION ORDER from
    0.0 — bit-identical to functions.vectors.dot (F.aggregate left fold)
    and DuckDB list_dot_product, element for element: each output cell
    sees the same IEEE-double addition sequence the scalar fold does.
    np.dot/BLAS would be faster but sums pairwise — NOT the fold."""
    D = np.zeros((X.shape[0], C.shape[0]))
    for j in range(X.shape[1]):
        D += X[:, j : j + 1] * C[None, :, j]
    return D


def _fold_norm_sq(X: np.ndarray) -> np.ndarray:
    n = np.zeros(X.shape[0])
    for j in range(X.shape[1]):
        n += X[:, j] * X[:, j]
    return n


def _fold_cosine(
    X: np.ndarray, C: np.ndarray,
    xn: np.ndarray | None = None, cn: np.ndarray | None = None,
) -> np.ndarray:
    """cosine matrix with the exact functions.vectors.cosine op sequence:
    fold-dot / sqrt(fold-norm(a) * fold-norm(b))."""
    xn = _fold_norm_sq(X) if xn is None else xn
    cn = _fold_norm_sq(C) if cn is None else cn
    return _fold_dot(X, C) / np.sqrt(xn[:, None] * cn[None, :])


def _vec_matrix(series) -> np.ndarray:
    """pd.Series of array<float|double> -> (n, d) float64. float32 ->
    float64 widening is exact, matching the SQL per-element double cast."""
    return np.array([np.asarray(v, dtype=np.float64) for v in series])


def semantic_dedup(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    tau: float = 0.30,
    coarse_nlist: int | None = None,
    coarse_nprobe: int = 1,
) -> DataFrame:
    """(id_col, cid) — the surviving vectors with their cluster id.

    A vector survives iff NO same-cluster vector with a smaller id has
    cosine >= tau against it. Centroids are the vectors with
    id_col < n_centroids; every vector assigns to its max-cosine
    centroid (ties to the smaller centroid id).

    ``n_centroids=None`` (the default since r13) sizes the operator
    from the corpus: k = floor(sqrt(N)) via one columnless count scan,
    and — unless the caller pinned ``coarse_nlist`` — switches on the
    coarse quantizer at sqrt(k) cells once k >= AUTO_COARSE_MIN_K
    (``auto_centroid_config``). That default is ~linear in N end to
    end; the r12 scale check measured the alternative (a FIXED small k)
    at 25x wall for 10x data — the within-cluster pair stage is N²/k —
    so a fixed k is now an explicit caller opt-in, kept for
    oracle-gated configs (which need exact, config-pinned assignment).
    Auto mode with nprobe < nlist is approximate in the documented
    two-level sense below.

    ``coarse_nlist``: the production assignment knob for LARGE
    n_centroids (the r12 sf1 scale check measured the honest
    asymptotics: exact assignment costs k cosines per vector, the pair
    stage N²/k, so the optimal fixed-depth k ~ sqrt(N) leaves N^1.5
    total — flat assignment is the term to beat). With it set, the
    first ``coarse_nlist`` centroids act as a coarse quantizer over the
    centroid set (the IVF convention applied one level up): each fine
    centroid lives in its max-cosine coarse cell, and each vector
    probes only its ``coarse_nprobe`` nearest cells — per-vector cost
    drops from k to ~ coarse_nlist + coarse_nprobe * k / coarse_nlist
    (≈ 2·sqrt(k) at the sqrt sizing), making the assignment term
    sublinear in k and the whole operator ~linear at k ~ sqrt(N).
    APPROXIMATE for coarse_nprobe < coarse_nlist (a vector's true
    max-cosine centroid may sit in an unprobed cell) — the oracle-gated
    configuration keeps the exact path; probing every cell
    (coarse_nprobe >= coarse_nlist) is proven bit-identical to it.
    Every probe set is non-empty by construction: coarse centroids ARE
    fine centroids, each resident in its own cell.
    """
    from hadoop_gpu_spark.functions.vectors import cosine
    from hadoop_gpu_spark.operators.sort import top_k_per_group
    from hadoop_gpu_spark.utils import eager_persist

    if n_centroids is None:
        # One scalar count to the driver (columnless parquet scan) buys
        # the scale-safe sizing; callers that already know N should
        # pass n_centroids explicitly and skip the job.
        auto_k, auto_nlist = auto_centroid_config(emb.count())
        n_centroids = auto_k
        if coarse_nlist is None:
            coarse_nlist = auto_nlist
            if coarse_nlist is not None and coarse_nprobe < coarse_nlist:
                # r13 ADVICE: auto sizing silently switched default-config
                # callers from exact flat assignment to approximate
                # two-level probing once sqrt(N) >= AUTO_COARSE_MIN_K —
                # say so once, loudly, so approximation is never a
                # surprise. Exactness remains one kwarg away.
                warnings.warn(
                    f"semantic_dedup auto sizing chose k={n_centroids} with a "
                    f"coarse quantizer (nlist={coarse_nlist}, nprobe="
                    f"{coarse_nprobe}): assignment is APPROXIMATE (a vector's "
                    "true max-cosine centroid may sit in an unprobed cell). "
                    "Pass coarse_nprobe >= coarse_nlist or an explicit "
                    "n_centroids for exact assignment.",
                    stacklevel=2,
                )
    if n_centroids < 1:
        raise ValueError("n_centroids must be >= 1")
    if coarse_nlist is not None:
        if not (1 <= coarse_nlist <= n_centroids):
            raise ValueError("coarse_nlist must be in [1, n_centroids]")
        if coarse_nprobe < 1:
            raise ValueError("coarse_nprobe must be >= 1")
        return _semantic_dedup_kernel(
            emb,
            id_col=id_col,
            vec_col=vec_col,
            n_centroids=n_centroids,
            tau=tau,
            coarse_nlist=coarse_nlist,
            coarse_nprobe=coarse_nprobe,
        )
    cen = emb.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cvec")
    )
    scored = emb.select(id_col, vec_col).crossJoin(F.broadcast(cen)).withColumn(
        "__cos", cosine(vec_col, "__cvec")
    )
    asg = eager_persist(
        top_k_per_group(
            scored, [id_col], [F.col("__cos").desc(), F.col("__cid")], 1
        ).select(id_col, "__cid", vec_col)
    )
    a = asg.select(
        "__cid", F.col(id_col).alias("__a"), F.col(vec_col).alias("__va")
    )
    bb = asg.select(
        "__cid", F.col(id_col).alias("__b"), F.col(vec_col).alias("__vb")
    )
    dup_ids = (
        a.join(bb, "__cid")
        .filter(F.col("__a") < F.col("__b"))
        .filter(cosine("__va", "__vb") >= F.lit(float(tau)))
        .select(F.col("__b").alias(id_col))
        .distinct()
    )
    return asg.join(dup_ids, id_col, "left_anti").select(
        id_col, F.col("__cid").cast("long").alias("cid")
    )


def _semantic_dedup_kernel(
    emb: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    tau: float,
    coarse_nlist: int,
    coarse_nprobe: int,
) -> DataFrame:
    """The production (coarse-probing) path as two Arrow numpy kernels —
    the r13 rewrite of the expression form, which assembled assignment
    out of two crossJoin explosions and two row_number windows: at
    sf10 those shuffled ~N·coarse_nlist vector-payload rows TWICE and
    evaluated every cosine as a per-row expression tree (measured 72x
    wall at 10x data, the pair stage only a third of it). Here:

    - the k centroid vectors COLLECT once (model-sized, the k-means /
      pq_train driver contract; k ~ sqrt(N) => ~16 MB at 1e9 vectors)
      and ride the two UDF closures;
    - assignment is MAP-ONLY (mapInPandas): per batch, coarse scores =
      one (batch x m) fold-cosine matrix, then per probed cell a
      (rows x cell-fine) matrix — zero shuffles, numpy-vectorized;
    - survivors run per cluster (applyInPandas after the ONE shuffle
      by cluster id): blockwise (2048 x cluster) pair-cosine matrices
      bound task memory at any cluster size.

    Bit-identical to the expression path by construction: _fold_dot /
    _fold_cosine reproduce the F.aggregate left fold's IEEE addition
    sequence exactly (pinned by tests), argmax takes the first maximum
    over ascending centroid ids (the ties-to-smaller-cid rule), and
    the probe ranking is a stable sort on (-cos, gid). One documented
    divergence: a zero-norm vector raises DIVIDE_BY_ZERO under ANSI
    SQL but propagates NaN here (and NaN comparisons drop the row) —
    the embeddings contract is unit-norm, so neither path meets one.
    """
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    cen_rows = (
        emb.filter(F.col(id_col) < n_centroids)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    )
    out_schema = StructType(
        [emb.schema[id_col], StructField("cid", LongType(), True)]
    )
    if not cen_rows:
        # no centroids (e.g. empty corpus or no ids < k): the expression
        # path's window over an empty cross join yields no assignments
        return emb.limit(0).select(
            F.col(id_col), F.lit(None).cast("long").alias("cid")
        )
    cen_ids = np.array([r[0] for r in cen_rows], dtype=np.int64)
    cen_vecs = np.array([np.asarray(r[1], dtype=np.float64) for r in cen_rows])
    cen_norms = _fold_norm_sq(cen_vecs)
    g_mask = cen_ids < coarse_nlist
    if not g_mask.any():
        return emb.limit(0).select(
            F.col(id_col), F.lit(None).cast("long").alias("cid")
        )
    g_vecs, g_norms = cen_vecs[g_mask], cen_norms[g_mask]
    # fine centroid -> max-cosine coarse cell, ties to the smaller gid
    # (argmax = first max over ascending gid). Driver-side: k x m folds.
    cell_of_fine = np.argmax(_fold_cosine(cen_vecs, g_vecs, cn=g_norms), axis=1)
    cells = [np.where(cell_of_fine == g)[0] for g in range(int(g_mask.sum()))]
    nprobe = min(coarse_nprobe, len(g_vecs))

    mid_schema = StructType(
        [emb.schema[id_col], StructField("__cid", LongType(), True),
         emb.schema[vec_col]]
    )

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = _vec_matrix(pdf[vec_col])
            xn = _fold_norm_sq(X)
            S = _fold_cosine(X, g_vecs, xn=xn, cn=g_norms)
            # stable sort on -cos keeps ascending-gid order on exact ties
            probe = np.argsort(-S, axis=1, kind="stable")[:, :nprobe]
            best_cos = np.full(len(X), -np.inf)
            best_cid = np.full(len(X), np.iinfo(np.int64).max, dtype=np.int64)
            for p in range(nprobe):
                for g in np.unique(probe[:, p]):
                    rows = np.where(probe[:, p] == g)[0]
                    cand = cells[g]
                    if not len(cand):
                        continue
                    S2 = _fold_cosine(
                        X[rows], cen_vecs[cand], xn=xn[rows], cn=cen_norms[cand]
                    )
                    j = np.argmax(S2, axis=1)  # first max = smallest cid in cell
                    c_cos = S2[np.arange(len(rows)), j]
                    c_cid = cen_ids[cand][j]
                    upd = (c_cos > best_cos[rows]) | (
                        (c_cos == best_cos[rows]) & (c_cid < best_cid[rows])
                    )
                    r = rows[upd]
                    best_cos[r], best_cid[r] = c_cos[upd], c_cid[upd]
            keep = np.isfinite(best_cos)  # NaN-cosine rows match no centroid
            out = pdf.loc[keep, [id_col, vec_col]].copy()
            out.insert(1, "__cid", best_cid[keep])
            yield out

    tau_d = float(tau)

    def survivors(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        V = _vec_matrix(pdf[vec_col])
        n = len(V)
        nrm = _fold_norm_sq(V)
        dup = np.zeros(n, dtype=bool)
        col = np.arange(n)
        B = PAIR_BLOCK_ROWS  # a-row blocks bound the pair-matrix memory
        for lo in range(0, n, B):
            hi = min(lo + B, n)
            Cm = _fold_cosine(V[lo:hi], V, xn=nrm[lo:hi], cn=nrm)
            mask = (Cm >= tau_d) & (col[None, :] > (lo + np.arange(hi - lo))[:, None])
            dup |= mask.any(axis=0)
        out = pdf.loc[~dup, [id_col, "__cid"]].rename(columns={"__cid": "cid"})
        return out

    assigned = emb.select(id_col, vec_col).mapInPandas(assign, schema=mid_schema)
    return assigned.groupBy("__cid").applyInPandas(survivors, schema=out_schema)


def semantic_dedup_sql(
    table: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    tau: float = 0.30,
) -> str:
    """DuckDB twin (oracle generator): same assignment (max-cosine over
    the id < n_centroids centroid table, ties to smaller cid), same
    keep-first rule, same left-fold dot-product spelling
    (list_dot_product over DOUBLE[] — the parity anchor)."""
    cos_ac = (
        f"list_dot_product(e.{vec_col}::DOUBLE[], c.{vec_col}::DOUBLE[]) / "
        f"sqrt(list_dot_product(e.{vec_col}::DOUBLE[], e.{vec_col}::DOUBLE[]) * "
        f"list_dot_product(c.{vec_col}::DOUBLE[], c.{vec_col}::DOUBLE[]))"
    )
    cos_ab = (
        "list_dot_product(a.v::DOUBLE[], b.v::DOUBLE[]) / "
        "sqrt(list_dot_product(a.v::DOUBLE[], a.v::DOUBLE[]) * "
        "list_dot_product(b.v::DOUBLE[], b.v::DOUBLE[]))"
    )
    return f"""
    WITH asg AS (
      SELECT e.{id_col}, c.{id_col} AS cid, e.{vec_col} AS v
      FROM {table} e CROSS JOIN (SELECT * FROM {table} WHERE {id_col} < {n_centroids}) c
      QUALIFY ROW_NUMBER() OVER (PARTITION BY e.{id_col}
          ORDER BY {cos_ac} DESC, c.{id_col}) = 1),
    dups AS (
      SELECT DISTINCT b.{id_col}
      FROM asg a JOIN asg b ON a.cid = b.cid AND a.{id_col} < b.{id_col}
      WHERE {cos_ab} >= CAST({repr(float(tau))} AS DOUBLE))
    SELECT v.{id_col}, CAST(v.cid AS BIGINT) AS cid
    FROM asg v ANTI JOIN dups USING ({id_col})
    """
