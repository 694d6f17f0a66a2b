"""Lloyd's k-means, two formulations.

Reference semantics (apps/pipes/kmeans/cpu-kmeans2D/cpu-kmeans2D.cc):
- assign: nearest centroid by squared euclidean distance (:100-114);
- recalc: new centroid = mean of assigned points (:130-152);
- loop until max centroid movement <= eps or max_iter (:163-170, datacmp
  <= 1.0, 100 iterations).

Formulation A (``kmeans_dataframe``) — distributed, the scale path:
points stay a DataFrame; each iteration is
  broadcast(centroids) crossJoin points → min_by(dist) → groupBy(cluster).avg
i.e. one shuffle of (cluster_id, partial sums) per iteration with map-side
combine; centroids (k rows) come back to the driver for the convergence
test. At 100 TB: points never move; only k-row centroid tables circulate.

Formulation B (``kmeans_grouped``) — per-dataset iterative job mirroring
the reference's NLine-dispatch model (one whole dataset per map call):
``groupBy(dataset_id).applyInPandas(lloyd)`` with :func:`lloyd_numpy`
inside. :func:`lloyd_cupy` is the same loop on CuPy arrays; no query
routes to it yet (ROADMAP item 8 wires the pair to ``hybrid.run_hybrid``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# At or below this many points the IDENTICAL Lloyd iterations run
# driver-side (utils.collect_at_most) — but ONLY when every feature value
# is an integer-valued double small enough that every partial sum is
# exact in float64 (see _driver_kmeans_is_exact). 2^20 points x 2
# features x 8 B = 16 MB through the driver at most.
DRIVER_KMEANS_MAX_POINTS = 1 << 20
# |v| <= 2^31 and n <= 2^20 terms bounds any partial sum by 2^51 < 2^53,
# so float64 addition never rounds: EVERY summation order (Spark's
# partition-order partial aggregation, numpy's pairwise sum, DuckDB's
# sequential sum) yields the same exact integer, hence the same double.
_EXACT_ABS_BOUND = float(1 << 31)


def _driver_kmeans_is_exact(pts) -> bool:
    """True iff the driver-side loop is provably bit-identical to the
    distributed loop: all features finite, integer-valued, and small
    enough that float64 sums of <= DRIVER_KMEANS_MAX_POINTS of them are
    exact (then avg = exact_sum / n is ONE deterministic IEEE division,
    and every distance/argmin decision is a pure function of the same
    doubles). Anything else — fractional values, huge magnitudes, NaN —
    falls back to the distributed loop, whose float summation order is
    part of its declared semantics."""
    return bool(
        np.isfinite(pts).all()
        and (np.abs(pts) <= _EXACT_ABS_BOUND).all()
        and (pts == np.floor(pts)).all()
    )


def _kmeans_driver_side(
    pts: np.ndarray,
    cents: list[tuple],
    n_features: int,
    max_iter: int,
    eps: float | None,
) -> tuple[list[tuple], dict]:
    """The distributed loop's iterations replayed driver-side on the
    collected points — step-for-step, in the same order:

    - assignment = lexicographic min over (distance, cluster_id) structs
      (``_with_nearest``'s array_min): distances are computed per
      centroid with the same left-to-right per-feature accumulation
      ``((x0-c0)^2 + (x1-c1)^2) + ...``, and ties on distance resolve to
      the smallest cluster_id — implemented by evaluating centroids in
      cluster_id-ascending order and taking numpy's first-minimum argmin;
    - recalc = exact integer sum per cluster / count (any-order-exact by
      the _driver_kmeans_is_exact precondition), empty clusters keep the
      previous centroid;
    - eps stop rule evaluated with the identical Python-float expression
      the distributed loop uses.

    Returns (final cents list in the caller's original order, counts of
    the final assignment).
    """
    counts: dict = {}
    for _ in range(max_iter):
        order = sorted(range(len(cents)), key=lambda i: cents[i][0])
        dists = []
        for i in order:
            c = cents[i]
            d = None
            for j in range(n_features):
                t = (pts[:, j] - float(c[1 + j])) ** 2
                d = t if d is None else d + t
            dists.append(d)
        # first-minimum over cluster_id-ascending columns == array_min
        # over (d, cid) structs
        assign_pos = np.argmin(np.stack(dists, axis=1), axis=1)
        new_map = {}
        counts = {}
        for pos, i in enumerate(order):
            cid = cents[i][0]
            mask = assign_pos == pos
            n = int(mask.sum())
            if n:
                sel = pts[mask]
                means = tuple(
                    float(sel[:, j].sum()) / n for j in range(n_features)
                )
                new_map[cid] = means
                counts[cid] = n
        next_cents = [(cid, *(new_map.get(cid, tuple(vals)))) for cid, *vals in cents]
        if eps is not None:
            move = max(
                sum((a - b) ** 2 for a, b in zip(old[1:], nw[1:]))
                for old, nw in zip(cents, next_cents)
            )
            cents = next_cents
            if move <= eps * eps:
                break
        else:
            cents = next_cents
    return cents, counts


def kmeans_dataframe(
    points: DataFrame,
    init_centroids: DataFrame,
    feature_cols: list[str],
    k: int,
    max_iter: int = 10,
    eps: float | None = None,
) -> DataFrame:
    """Distributed Lloyd's. Returns (cluster_id, <feature means>, n_points).

    ``eps=None`` runs exactly ``max_iter`` iterations (deterministic shape
    for benchmarking); with eps, stops when max squared movement <= eps^2.

    Per iteration: ONE narrow map (argmin over a k-literal centroid array —
    no join, no wide groupBy) + ONE k-row aggregate shuffle with map-side
    combine. Points are cached once; only k-row centroid lists circulate
    through the driver. This is the plan shape that survives 100 TB: per
    iteration cost = one scan of the cached points + a k·P-row shuffle.
    """
    cents = [tuple(r) for r in init_centroids.select("cluster_id", *feature_cols).collect()]
    spark = points.sparkSession

    # At or below DRIVER_KMEANS_MAX_POINTS, AND when every feature value
    # sits on the exact-integer float64 lattice (the q_kmeans gate shape:
    # floor(x * 1e6) doubles — the same property its DuckDB oracle
    # already relies on), the IDENTICAL iterations run driver-side on the
    # collected points (utils.collect_at_most); otherwise the distributed
    # loop below runs. Float feature columns only: a DecimalType feature
    # would pass the integrality check yet diverge — the distributed
    # loop's avg() is exact decimal arithmetic there, while the replay's
    # float64 quotient rounds. Float32 is safe (exact widening to
    # float64 on both sides).
    from pyspark.sql.types import DoubleType, FloatType

    from hadoop_gpu_spark.utils import collect_at_most

    float_features = all(
        isinstance(points.schema[c].dataType, (DoubleType, FloatType))
        for c in feature_cols
    )
    table = (
        collect_at_most(points.select(*feature_cols), DRIVER_KMEANS_MAX_POINTS)
        if cents and float_features
        else None
    )
    if table is not None:
        pts = table.to_pandas().to_numpy(dtype=np.float64)
        if _driver_kmeans_is_exact(pts):
            cents, counts = _kmeans_driver_side(
                pts, cents, len(feature_cols), max_iter, eps
            )
            rows = [
                (int(cid), *[float(v) for v in vals], int(counts.get(cid, 0)))
                for cid, *vals in cents
            ]
            return spark.createDataFrame(
                rows,
                ["cluster_id", *[f"c_{c}" for c in feature_cols], "n_points"],
            )

    points = points.persist()
    try:
        counts: dict = {}
        for _ in range(max_iter):
            assigned = _with_nearest(points, cents, feature_cols)
            new = (
                assigned.groupBy("cluster_id")
                .agg(*[F.avg(c).alias(c) for c in feature_cols], F.count(F.lit(1)).alias("n"))
                .collect()
            )
            new_map = {r["cluster_id"]: tuple(r[c] for c in feature_cols) for r in new}
            counts = {r["cluster_id"]: r["n"] for r in new}
            # Empty clusters keep their previous centroid (reference recalc
            # only averages assigned points).
            next_cents = [(cid, *(new_map.get(cid, tuple(vals)))) for cid, *vals in cents]
            if eps is not None:
                move = max(
                    sum((a - b) ** 2 for a, b in zip(old[1:], nw[1:]))
                    for old, nw in zip(cents, next_cents)
                )
                cents = next_cents
                if move <= eps * eps:
                    break
            else:
                cents = next_cents

        # The final centroids ARE the last recalc result (reference
        # semantics: output = recalc of the final iteration) — no extra
        # assignment pass needed; counts come from that same iteration.
        rows = [
            (int(cid), *[float(v) for v in vals], int(counts.get(cid, 0)))
            for cid, *vals in cents
        ]
        return spark.createDataFrame(
            rows, ["cluster_id", *[f"c_{c}" for c in feature_cols], "n_points"]
        )
    finally:
        points.unpersist(blocking=False)


def _with_nearest(points: DataFrame, cents: list[tuple], feature_cols: list[str]) -> DataFrame:
    """Add ``cluster_id`` = argmin over centroids.

    Centroids enter the plan as ONE complex literal via
    ``from_json(lit(payload))`` (constant-folded to an array<struct>
    literal). Complex literals are codegen *references*, not inlined
    source, so every iteration reuses the same compiled code AND there is
    no per-iteration broadcast job — measured 2× faster per iteration than
    the broadcast-1-row-DataFrame variant, and ~10× less codegen churn
    than per-centroid primitive literals. Assignment is array_min over
    (distance, cluster_id) structs: deterministic ties, one narrow map,
    zero shuffle.
    """
    import json

    schema = (
        "array<struct<cid: bigint, "
        + ", ".join(f"{c}: double" for c in feature_cols)
        + ">>"
    )
    payload = json.dumps(
        [
            {"cid": int(cid), **{c: float(v) for c, v in zip(feature_cols, vals)}}
            for cid, *vals in cents
        ]
    )
    arr = F.from_json(F.lit(payload), schema)

    def dist(x):
        d = None
        for c in feature_cols:
            t = (F.col(c) - x[c]) * (F.col(c) - x[c])
            d = t if d is None else d + t
        return d

    nearest = F.array_min(
        F.transform(arr, lambda x: F.struct(dist(x).alias("d"), x["cid"].alias("cid")))
    )["cid"]
    return points.withColumn("cluster_id", nearest)


def lloyd_numpy(
    pts: np.ndarray,
    cents: np.ndarray,
    max_iter: int = 100,
    eps: float = 1.0,
    dtype=np.float32,
) -> tuple[np.ndarray, np.ndarray]:
    """The reference's in-map Lloyd loop (cpu-kmeans2D.cc:172-299) in numpy.

    float32 math like the C binary; returns (final centroids, assignments).
    ``dtype=np.float64`` gives the exact mode: with integer-quantized
    inputs every mean is an exact-sum/count and every distance decision is
    bit-deterministic, so results are reproducible in SQL (the gate-query
    construction — see queries.q_kmeans_grouped).
    """
    pts = pts.astype(dtype)
    cents = cents.astype(dtype).copy()
    assign = np.zeros(len(pts), dtype=np.int64)
    for _ in range(max_iter):
        d = ((pts[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        new = cents.copy()
        for c in range(len(cents)):
            mask = assign == c
            if mask.any():
                new[c] = pts[mask].mean(axis=0)
        move = float(((new - cents) ** 2).sum(axis=1).max())
        cents = new
        if move <= eps:  # datacmp threshold, cpu-kmeans2D.cc:163-170
            break
    return cents, assign


def kmeans_grouped(
    points: DataFrame,
    dataset_col: str,
    feature_cols: list[str],
    k: int,
    max_iter: int = 100,
    eps: float = 1.0,
    dtype=np.float32,
) -> DataFrame:
    """Per-dataset k-means via applyInPandas (reference NLine model:
    one dataset = one task). Initial centroids = first k points by point
    order within the dataset (deterministic).

    Output: (dataset_id, cluster_id, <centroid coords>, n_points).
    """
    schema = (
        f"{dataset_col} long, cluster_id long, "
        + ", ".join(f"c_{c} double" for c in feature_cols)
        + ", n_points long"
    )
    id_col = dataset_col
    order_col = points.columns[1] if len(points.columns) > 1 else feature_cols[0]

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort")
        pts = pdf[feature_cols].to_numpy()
        cents, assign = lloyd_numpy(pts, pts[:k], max_iter=max_iter, eps=eps, dtype=dtype)
        rows = []
        for c in range(k):
            mask = assign == c
            rows.append(
                [pdf[id_col].iloc[0], c, *[float(x) for x in cents[c]], int(mask.sum())]
            )
        return pd.DataFrame(rows, columns=[id_col, "cluster_id", *[f"c_{c}" for c in feature_cols], "n_points"])

    return points.groupBy(dataset_col).applyInPandas(run, schema=schema)


def lloyd_cupy(pts, cents, max_iter: int = 100, eps: float = 1.0, dtype="float32"):
    """GPU twin of :func:`lloyd_numpy` — same semantics on CuPy arrays
    (mirrors gpu-kmeans2D.cu:59-115: assign + recalc kernels). Raises
    ImportError when no CUDA stack is present.

    ``dtype`` mirrors lloyd_numpy's parameter so the float64 exact mode
    (the bit-deterministic oracle path) is preserved on either leg.
    """
    import cupy as cp  # gated: not present in CPU-only environments

    fp = getattr(cp, resolve_gpu_dtype(dtype))
    pts_d = cp.asarray(pts, dtype=fp)
    cents_d = cp.asarray(cents, dtype=fp)
    assign = cp.zeros(len(pts), dtype=cp.int64)
    for _ in range(max_iter):
        d = ((pts_d[:, None, :] - cents_d[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        new = cents_d.copy()
        for c in range(len(cents_d)):
            mask = assign == c
            if bool(mask.any()):
                new[c] = pts_d[mask].mean(axis=0)
        move = float(((new - cents_d) ** 2).sum(axis=1).max())
        cents_d = new
        if move <= eps:
            break
    return cp.asnumpy(cents_d), cp.asnumpy(assign)


def resolve_gpu_dtype(dtype) -> str:
    """Map any spelling of a dtype ('float64', 'f8', 'double', np.float64,
    np.dtype('float64')) to the CuPy attribute name the GPU twin must use.

    The former string-compare (``str(dtype) in ("float64", ...)``)
    silently demoted ``dtype=np.float64`` — the exact spelling
    ``lloyd_numpy`` is called with in the bit-deterministic oracle mode —
    to float32 on the GPU leg, which would have broken declared CPU/GPU
    equivalence the moment a CUDA stack appeared. ``np.dtype()``
    canonicalizes every spelling first.
    """
    return "float64" if np.dtype(dtype) == np.float64 else "float32"
