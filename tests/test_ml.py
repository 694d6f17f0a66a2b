"""k-means and matmul numeric parity vs numpy (the reference's ML oracle —
tolerance-based, float32 semantics per SURVEY.md §7.3)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from hadoop_gpu_spark.ml.kmeans import kmeans_dataframe, kmeans_grouped, lloyd_numpy
from hadoop_gpu_spark.ml.matmul import matmul_blocked
from hadoop_gpu_spark.tables import load_table


def test_lloyd_numpy_converges():
    rng = np.random.default_rng(42)
    pts = np.concatenate([rng.normal(0, 0.5, (50, 2)), rng.normal(10, 0.5, (50, 2))])
    cents, assign = lloyd_numpy(pts, pts[:2], max_iter=100, eps=1e-6)
    # two well-separated blobs → centroids near (0,0) and (10,10)
    got = sorted(cents.tolist())
    assert abs(got[0][0]) < 1 and abs(got[1][0] - 10) < 1
    assert len(set(assign.tolist())) == 2


def test_kmeans_dataframe_matches_numpy(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    pts_pd = (
        emb.select("vec_id", F.col("embedding")[0].alias("x"), F.col("embedding")[1].alias("y"))
        .toPandas()
        .sort_values("vec_id")
    )
    pts = pts_pd[["x", "y"]].to_numpy().astype(np.float64)
    k = 4

    # numpy reference: same fixed iteration count, same init (first k points)
    cents = pts[:k].copy()
    for _ in range(3):
        d = ((pts[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(k):
            if (assign == c).any():
                cents[c] = pts[assign == c].mean(axis=0)

    points = emb.select(
        "vec_id",
        F.col("embedding")[0].cast("double").alias("x"),
        F.col("embedding")[1].cast("double").alias("y"),
    )
    init = points.filter(F.col("vec_id") < k).select(
        F.col("vec_id").cast("long").alias("cluster_id"), "x", "y"
    )
    out = kmeans_dataframe(points, init, ["x", "y"], k=k, max_iter=3).toPandas()
    got = out.sort_values("cluster_id")[["c_x", "c_y"]].to_numpy()
    # output = centroids after the final recalc (reference semantics)
    assert np.allclose(got, cents, atol=1e-6)


def test_kmeans_dataframe_eps_early_stop(spark, monkeypatch):
    # the eps branch (max centroid movement <= eps^2 -> stop) ran
    # untested: every gate uses the fixed-iteration shape. Two tight
    # blobs converge in ~2 iterations; the loop must stop there, not
    # run out max_iter, and the result must equal the fixed-iteration
    # answer.
    from hadoop_gpu_spark.ml import kmeans as km

    rng = np.random.default_rng(3)
    rows = []
    for i in range(40):
        blob = i % 2
        x, y = rng.normal(blob * 10.0, 0.05, 2)
        rows.append((i, float(x), float(y)))
    pts = spark.createDataFrame(rows, ["vec_id", "x", "y"])
    init = pts.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").cast("long").alias("cluster_id"), "x", "y"
    )

    calls = {"n": 0}
    real = km._with_nearest

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(km, "_with_nearest", counting)
    out = km.kmeans_dataframe(
        pts, init, ["x", "y"], k=2, max_iter=30, eps=1e-9
    ).toPandas()
    assert calls["n"] < 10, f"eps early stop did not fire: {calls['n']} iterations"

    monkeypatch.setattr(km, "_with_nearest", real)
    fixed = km.kmeans_dataframe(pts, init, ["x", "y"], k=2, max_iter=8).toPandas()
    a = out.sort_values("cluster_id")[["c_x", "c_y", "n_points"]].to_numpy(dtype=float)
    b = fixed.sort_values("cluster_id")[["c_x", "c_y", "n_points"]].to_numpy(dtype=float)
    assert np.allclose(a, b, atol=1e-12)


def test_kmeans_driver_path_matches_distributed(spark, monkeypatch):
    # On the exact-integer float64 lattice (the q_kmeans gate shape)
    # the driver-side Lloyd loop must be BIT-identical to the
    # distributed loop — including distance ties (resolved to the
    # smaller cluster_id by array_min's struct order) and empty
    # clusters (keep their previous centroid, report n_points=0).
    # Off-lattice inputs must take the distributed path.
    from hadoop_gpu_spark.ml import kmeans as km

    rng = np.random.default_rng(11)
    rows = [(int(i), float(x), float(y)) for i, (x, y) in enumerate(
        np.floor(rng.uniform(-500, 500, (120, 2))))]
    # exact tie: point equidistant from init centroids 0=(row0) and
    # 1=(row1) would be luck; force one by construction instead
    rows += [(200, 0.0, 0.0), (201, 2.0, 0.0), (202, 1.0, 0.0)]
    pts = spark.createDataFrame(rows, ["vec_id", "x", "y"])
    init = pts.filter(F.col("vec_id").isin([200, 201])).select(
        (F.col("vec_id") - 200).cast("long").alias("cluster_id"), "x", "y"
    )
    # plus one init centroid far from every point -> empty cluster
    far = spark.createDataFrame([(2, 9.0e5, 9.0e5)], ["cluster_id", "x", "y"])
    init = init.unionByName(far)

    fast = kmeans_dataframe(pts, init, ["x", "y"], k=3, max_iter=4).toPandas()
    monkeypatch.setattr(km, "DRIVER_KMEANS_MAX_POINTS", -1)
    slow = kmeans_dataframe(pts, init, ["x", "y"], k=3, max_iter=4).toPandas()

    a = fast.sort_values("cluster_id").reset_index(drop=True)
    b = slow.sort_values("cluster_id").reset_index(drop=True)
    assert a.equals(b), f"driver path diverged:\n{a}\nvs\n{b}"
    assert (a[a.cluster_id == 2].n_points == 0).all()  # empty cluster kept

    # eps early-stop parity on the lattice
    monkeypatch.setattr(km, "DRIVER_KMEANS_MAX_POINTS", 1 << 20)
    fast_eps = kmeans_dataframe(pts, init, ["x", "y"], k=3, max_iter=50, eps=0.5).toPandas()
    monkeypatch.setattr(km, "DRIVER_KMEANS_MAX_POINTS", -1)
    slow_eps = kmeans_dataframe(pts, init, ["x", "y"], k=3, max_iter=50, eps=0.5).toPandas()
    assert fast_eps.sort_values("cluster_id").reset_index(drop=True).equals(
        slow_eps.sort_values("cluster_id").reset_index(drop=True)
    )

    # off-lattice input must NOT take the driver path (its float
    # summation order is the distributed loop's declared semantics)
    off = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(rng.normal(0, 1, (30, 2)))],
        ["vec_id", "x", "y"],
    )
    probe = off.select("x", "y").toPandas().to_numpy(dtype=np.float64)
    assert not km._driver_kmeans_is_exact(probe)


def test_kmeans_grouped_reference_semantics(spark):
    # Two datasets, each with 2 tight blobs; reference contract: one whole
    # dataset per group, Lloyd's until eps (cpu-kmeans2D.cc:163-170).
    rng = np.random.default_rng(7)
    rows = []
    for ds in (0, 1):
        off = 5.0 * (ds + 1)
        for i in range(40):
            blob = i % 2
            x, y = rng.normal(blob * off, 0.1, 2)
            rows.append((ds, i, float(x), float(y)))
    df = spark.createDataFrame(rows, ["dataset_id", "point_id", "x", "y"])
    out = kmeans_grouped(df, "dataset_id", ["x", "y"], k=2, eps=0.01).toPandas()
    assert len(out) == 4  # 2 datasets × 2 clusters
    assert set(out["n_points"]) == {20}


def test_matmul_cells_and_blocked_match_numpy(spark):
    rng = np.random.default_rng(3)
    # blocked: C = A @ B with 2x2 grid of m×m blocks
    m, grid = 4, 2
    A = rng.normal(size=(grid * m, grid * m))
    B = rng.normal(size=(grid * m, grid * m))
    blocks_a = [
        (i, kk, A[i * m:(i + 1) * m, kk * m:(kk + 1) * m].flatten().tolist())
        for i in range(grid) for kk in range(grid)
    ]
    blocks_b = [
        (kk, j, B[kk * m:(kk + 1) * m, j * m:(j + 1) * m].flatten().tolist())
        for kk in range(grid) for j in range(grid)
    ]
    da = spark.createDataFrame(blocks_a, ["i", "k", "sa"])
    db = spark.createDataFrame(blocks_b, ["k", "j", "sb"])
    out_blocks = {(r["i"], r["j"]): np.array(r["c"]).reshape(m, m)
                  for r in matmul_blocked(da, db, m).collect()}
    C = A @ B
    for i in range(grid):
        for j in range(grid):
            assert np.allclose(out_blocks[(i, j)], C[i * m:(i + 1) * m, j * m:(j + 1) * m], atol=1e-9)


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    # Approximate path quality: IVF with nprobe=4 over 16 cells must agree
    # with exact brute force on most of the top-5 lists.
    from pyspark.sql import functions as F2

    from hadoop_gpu_spark.similarity.ann import (
        assign_to_centroids,
        brute_force_topk,
        ivf_topk,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    centroids = emb.filter(F2.col("vec_id") < 16).select(
        F2.col("vec_id").alias("centroid_id"), "embedding"
    )
    assigned = assign_to_centroids(emb, centroids, "embedding", "vec_id")
    queries_df = emb.filter(F2.col("vec_id") < 8)
    exact = brute_force_topk(emb, queries_df, "embedding", "vec_id", k=5)
    approx = ivf_topk(assigned, centroids, queries_df, "embedding", "vec_id", k=5, nprobe=4)
    e = {(r["qid"], r["nid"]) for r in exact.collect()}
    a = {(r["qid"], r["nid"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_gpu_dtype_resolution_preserves_float64():
    # Every spelling the CPU path accepts must keep double precision on
    # the GPU twin (the ADVICE-flagged drift: str-compare demoted
    # np.float64 to float32).
    import numpy as np

    from hadoop_gpu_spark.ml.kmeans import resolve_gpu_dtype

    for spelling in (np.float64, np.dtype(np.float64), "float64", "f8", "double"):
        assert resolve_gpu_dtype(spelling) == "float64", spelling
    for spelling in (np.float32, np.dtype(np.float32), "float32", "f4"):
        assert resolve_gpu_dtype(spelling) == "float32", spelling


def test_lloyd_cupy_logic_equals_numpy_via_shim():
    """The GPU twin's LOGIC, proven without CUDA: a numpy-backed module
    satisfying the cupy surface lloyd_cupy touches (asarray/zeros/
    float32/float64/asnumpy) is injected as `cupy`, and the twin must
    then reproduce lloyd_numpy exactly — in both float32 mode and the
    bit-deterministic float64 exact mode. Hardware execution remains
    env-gated (no CUDA here), but twin-equivalence is no longer a claim,
    it's a test."""
    import sys
    import types

    import numpy as np

    from hadoop_gpu_spark.ml.kmeans import lloyd_cupy, lloyd_numpy

    shim = types.ModuleType("cupy")
    shim.float32 = np.float32
    shim.float64 = np.float64
    shim.int64 = np.int64
    shim.asarray = np.asarray
    shim.zeros = np.zeros
    shim.asnumpy = np.asarray
    old = sys.modules.get("cupy")
    sys.modules["cupy"] = shim
    try:
        rng = np.random.RandomState(7)
        pts = np.floor(rng.uniform(-5, 5, size=(200, 2)) * 1e6) / 1e6
        cents = pts[:4].copy()
        for dtype in (np.float32, np.float64):
            c_np, a_np = lloyd_numpy(pts, cents, max_iter=10, eps=0.0, dtype=dtype)
            c_cp, a_cp = lloyd_cupy(pts, cents, max_iter=10, eps=0.0, dtype=dtype)
            assert (a_np == a_cp).all()
            assert (c_np == c_cp).all()  # bit-exact, not approx
    finally:
        if old is None:
            del sys.modules["cupy"]
        else:
            sys.modules["cupy"] = old


def test_assign_pandas_matches_expression(spark, sf_dir):
    # The vectorized IVF assignment must be bit-identical to the
    # expression variant on every embedding — the license for switching
    # q_ann_ivf to the fast kernel under the same oracle. Ties and float
    # order are the risk: the kernel accumulates distances sequentially
    # per dimension to replicate the F.aggregate left-fold exactly.
    from pyspark.sql import functions as F2

    from hadoop_gpu_spark.similarity.ann import (
        assign_to_centroids,
        assign_to_centroids_pandas,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    centroids = emb.filter(F2.col("vec_id") < 16).select(
        F2.col("vec_id").alias("centroid_id"), "embedding"
    )
    expr = {
        r["vec_id"]: r["centroid_id"]
        for r in assign_to_centroids(emb, centroids, "embedding", "vec_id").collect()
    }
    fast = {
        r["vec_id"]: r["centroid_id"]
        for r in assign_to_centroids_pandas(
            emb, centroids, "embedding", "vec_id"
        ).collect()
    }
    assert expr == fast
    assert len(expr) > 100


def test_kmeans_iteration_plan_shape(spark, sf_dir):
    """The q_kmeans gate's returned frame is a local k-row scan (the Lloyd
    loop runs at construction), so registry-wide plan checks can't see the
    iteration cost. Assert the PER-ITERATION plan directly — the thing a
    1000-executor run repeats max_iter times: assignment is a narrow map
    (argmin over a constant-folded centroid literal — zero exchanges, no
    join), and the recalc aggregate adds exactly ONE exchange carrying
    k-row partials (map-side combine), never the points."""
    import re

    from hadoop_gpu_spark import plans
    from hadoop_gpu_spark.ml.kmeans import _with_nearest

    emb = load_table(spark, "embeddings", sf_dir)
    points = emb.select(
        "vec_id",
        F.col("embedding")[0].cast("double").alias("x"),
        F.col("embedding")[1].cast("double").alias("y"),
    )
    cents = [(i, float(i), float(-i)) for i in range(8)]

    assigned = _with_nearest(points, cents, ["x", "y"])
    p_assign = plans.formatted_plan(assigned)
    assert not re.search(r"^\s*\(\d+\) Exchange\b", p_assign, re.M)
    assert "Join" not in p_assign and "BatchEvalPython" not in p_assign

    recalc = assigned.groupBy("cluster_id").agg(
        F.avg("x").alias("x"), F.avg("y").alias("y"), F.count(F.lit(1)).alias("n")
    )
    p_recalc = plans.formatted_plan(recalc)
    assert len(re.findall(r"^\s*\(\d+\) Exchange\b", p_recalc, re.M)) == 1
    assert "HashAggregate" in p_recalc  # partial/final = combiner pattern
