"""Embedding compression kernels: int8 scalar quantization + product
quantization (PQ) encode.

The reference's vector surface is dense-matrix arithmetic (matmul /
k-means — ``A/matmul``, ``A/kmeans``); it has no vector-compression
operator. At 100 TB an embedding corpus is routinely stored quantized
(int8 scalar quantization ~4x, PQ ~32x) with ANN running over the codes,
so these kernels join the beyond-reference similarity set next to
``similarity/ann.py`` (brute-force / IVF / LSH).

Scale + determinism design:

- Both kernels are MAP-ONLY over the corpus once their (tiny) model is
  known: the int8 scale vector (d doubles) and the PQ codebook
  (n_sub * n_cent * sub_dim doubles) ride along in the plan/closure;
  the 100 TB corpus never shuffles. int8 stays in whole-stage codegen
  (pure expressions); PQ runs as an Arrow-batched numpy kernel (the
  expression twin blows the 64 KB codegen method limit — see
  ``pq_encode_expr``), proven bit-identical by parity fuzz.
- The per-dimension |max| for int8 is one partial-aggregated pass
  (posexplode -> max(abs)); only (pos, float) pairs shuffle, 32 rows per
  partition after partial agg.
- Cross-engine bit-parity rules (the gate runs the same math in DuckDB):
  every arithmetic step is double precision with an explicit cast, the
  expression trees are generated left-to-right identically on both
  sides, codebook entries are dyadic rationals (k/16) that render to
  exact short decimal literals, and ties in the argmin resolve to the
  lowest centroid index via an ordered CASE chain on both engines.
"""

from __future__ import annotations

import hashlib
from functools import reduce

import numpy as np
import pandas as pd  # module-level: pandas_udf type hints resolve against module globals

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# int8 scalar quantization
# --------------------------------------------------------------------------


def dim_absmax(df: DataFrame, col: str = "embedding") -> list[float]:
    """Per-dimension max(|x|) over an ``array<float>`` column.

    One distributed pass: posexplode -> partial max(abs) per partition ->
    d-row final agg; the driver receives d floats (the quantization
    model), never the data.
    """
    rows = (
        df.select(F.posexplode(col).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.max(F.abs(F.col("x"))).alias("amax"))
        .collect()
    )
    out = [0.0] * (max(r["pos"] for r in rows) + 1)
    for r in rows:
        out[r["pos"]] = float(r["amax"])
    return out


def sq8_codes(col: Column, amax: list[float]) -> Column:
    """Symmetric int8 codes: ``q_i = round(x_i / amax_i * 127)``.

    Zero-amax dimensions (constant-zero feature) quantize to 0 instead of
    dividing by zero. float->double casts are exact; a single divide and
    multiply are correctly rounded in both engines, so codes are
    bit-reproducible cross-engine.
    """
    amax_lit = F.array(*[F.lit(float(a)) for a in amax])
    return F.zip_with(
        col,
        amax_lit,
        lambda x, a: F.when(a == 0.0, F.lit(0).cast("long")).otherwise(
            F.round(x.cast("double") / a * 127.0).cast("long")
        ),
    )


def sq8_quantize(df: DataFrame, id_col: str = "vec_id", col: str = "embedding") -> DataFrame:
    """Corpus-level int8 quantization: id, codes, and integer summaries
    (integer outputs are order-independent, so the gate hash is exact)."""
    amax = dim_absmax(df, col)
    q = sq8_codes(F.col(col), amax)
    return df.select(
        F.col(id_col),
        F.aggregate(q, F.lit(0).cast("long"), lambda s, v: s + v).alias("q_sum"),
        F.aggregate(q, F.lit(0).cast("long"), lambda s, v: s + F.abs(v)).alias("q_abs_sum"),
        F.md5(F.encode(F.concat_ws(",", F.transform(q, lambda v: v.cast("string"))), "UTF-8")).alias(
            "q_hash"
        ),
    )


# --------------------------------------------------------------------------
# Product quantization (encode against a fixed deterministic codebook)
# --------------------------------------------------------------------------


def pq_codebook(n_sub: int = 8, n_cent: int = 16, sub_dim: int = 8) -> list[list[list[float]]]:
    """Deterministic PQ codebook: entry (s, k, d) = (md5 byte % 33 - 16)/16.

    Dyadic rationals in [-1, 1] — exactly representable doubles whose
    ``repr`` is a short exact literal, so the identical codebook can be
    embedded in both the Spark plan and the SQL oracle. Training a
    data-adaptive codebook is k-means — ``ml/kmeans.py`` — and composes:
    pass its centroids here instead.
    """
    book = []
    for s in range(n_sub):
        cents = []
        for k in range(n_cent):
            ent = []
            for d in range(sub_dim):
                byte = hashlib.md5(f"pq:{s}:{k}:{d}".encode()).digest()[0]
                ent.append((byte % 33 - 16) / 16.0)
            cents.append(ent)
        book.append(cents)
    return book


def _sub_dists(emb: Column, cents: list[list[float]], s: int, sub_dim: int) -> list[Column]:
    """Squared L2 distance of subvector ``s`` to each centroid — explicit
    left-to-right sum of squared diffs (bit-identical to the SQL twin)."""
    dists = []
    for ent in cents:
        terms = []
        for d, c in enumerate(ent):
            diff = emb[s * sub_dim + d].cast("double") - F.lit(float(c))
            terms.append(diff * diff)
        dists.append(reduce(lambda a, b: a + b, terms))
    return dists


def _argmin(dists: list[Column]) -> Column:
    """Lowest index attaining the minimum (ordered CASE chain — the same
    first-match-wins tie rule the SQL twin uses)."""
    m = F.least(*dists)
    expr = F.lit(None).cast("long")
    out = None
    for k, dk in enumerate(dists):
        cond = dk == m
        out = F.when(cond, F.lit(k).cast("long")) if out is None else out.when(
            cond, F.lit(k).cast("long")
        )
    return out.otherwise(expr)


def pq_encode_expr(
    df: DataFrame,
    id_col: str = "vec_id",
    col: str = "embedding",
    book: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Expression-variant PQ encode — the ORACLE-SPEC ANCHOR, not the
    production path: with a full 8x16x8 codebook the collapsed projection
    exceeds the JVM's 64 KB method limit and Spark drops out of
    whole-stage codegen (observed at sf0.01), recomputing each subspace's
    distances in LEAST and again per CASE arm. ``pq_encode`` (Arrow/numpy,
    bit-identical by ``tests/test_pending_gates.py`` parity fuzz) is the
    path queries take — the same anchor/kernel split every dedup
    fingerprint family uses (``dedup/minhash.py:83``)."""
    book = book if book is not None else pq_codebook()
    sub_dim = len(book[0][0])
    emb = F.col(col)
    codes = [
        _argmin(_sub_dists(emb, cents, s, sub_dim)).alias(f"c{s}")
        for s, cents in enumerate(book)
    ]
    out = df.select(F.col(id_col), *codes)
    return out.withColumn(
        "pq_code", F.concat_ws("-", *[F.col(f"c{s}") for s in range(len(book))])
    )


def pq_encode(
    df: DataFrame,
    id_col: str = "vec_id",
    col: str = "embedding",
    book: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Production PQ encode: one Arrow-batched numpy kernel per executor
    core — (N, K, D) broadcasted squared diffs accumulated LEFT-TO-RIGHT
    along D (never ``np.sum``, whose pairwise association would drift
    from the SQL twin's bit pattern), then first-occurrence argmin (the
    same lowest-index tie rule as the CASE chain). Map-only, codebook in
    the closure (a broadcast at scale), no keyed shuffle — only the
    ensure_min_partitions round-robin spread every Python-kernel entry
    point applies (a no-op on real many-row-group inputs)."""
    from hadoop_gpu_spark.utils import ensure_min_partitions

    df = ensure_min_partitions(df)
    book_v = book if book is not None else pq_codebook()
    n_sub = len(book_v)
    sub_dim = len(book_v[0][0])
    C = np.asarray(book_v, dtype=np.float64)  # (S, K, D)

    @F.pandas_udf("array<long>")
    def pq_codes(embs: pd.Series) -> pd.Series:
        if not len(embs):
            return pd.Series([], dtype=object)
        X = np.asarray(embs.tolist(), dtype=np.float64)  # float32 -> exact
        out = np.empty((X.shape[0], n_sub), dtype=np.int64)
        for s in range(n_sub):
            xs = X[:, s * sub_dim : (s + 1) * sub_dim]
            sq = xs[:, None, :] - C[s][None, :, :]
            sq *= sq
            acc = sq[:, :, 0].copy()
            for d in range(1, sub_dim):
                acc += sq[:, :, d]
            out[:, s] = acc.argmin(axis=1)
        return pd.Series(list(out))

    arr = pq_codes(F.col(col))
    out = df.select(F.col(id_col), arr.alias("__pq"))
    cols = [F.col("__pq")[s].alias(f"c{s}") for s in range(n_sub)]
    return out.select(F.col(id_col), *cols).withColumn(
        "pq_code", F.concat_ws("-", *[F.col(f"c{s}") for s in range(n_sub)])
    )


def pq_adc_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    col: str = "embedding",
    book: list[list[list[float]]] | None = None,
    n_queries: int = 8,
    k: int = 5,
) -> DataFrame:
    """ADC (asymmetric distance computation) top-k over PQ codes — the
    search half of the PQ story (``pq_encode`` is the build half),
    completing the ANN family next to brute-force / IVF / LSH
    (``similarity/ann.py``).

    Scale shape: the corpus is scanned ONCE as codes (4 bits/subspace —
    the 32x-compressed representation); each query contributes a
    (n_sub x n_cent) LUT of subspace distances computed driver-side from
    the codebook (tiny, exact) and broadcast, so scoring is a
    broadcast-join + per-row LUT lookups — no keyed shuffle until the
    |corpus| x |queries| scored rows rank per query. ADC distances use
    the same left-to-right accumulation as the encode kernel, so the SQL
    twin (``pq_adc_sql``) matches bit-for-bit.
    """
    spark = df.sparkSession
    book_v = book if book is not None else pq_codebook()
    n_sub = len(book_v)
    sub_dim = len(book_v[0][0])
    C = np.asarray(book_v, dtype=np.float64)

    codes = pq_encode(df, id_col, col, book_v).drop("pq_code")
    qrows = (
        df.filter(F.col(id_col) < n_queries).select(id_col, col).collect()
    )
    lut_rows = []
    for r in qrows:
        x = np.asarray(r[col], dtype=np.float64)
        per_s = []
        for s in range(n_sub):
            xs = x[s * sub_dim : (s + 1) * sub_dim]
            sq = xs[None, :] - C[s]
            sq *= sq
            acc = sq[:, 0].copy()
            for d in range(1, sub_dim):
                acc += sq[:, d]
            per_s.append([float(v) for v in acc])
        lut_rows.append((int(r[id_col]), per_s))
    lut_df = spark.createDataFrame(lut_rows, "qid long, lut array<array<double>>")

    j = codes.crossJoin(F.broadcast(lut_df)).filter(F.col(id_col) != F.col("qid"))
    terms = [
        F.expr(f"element_at(element_at(lut, {s + 1}), cast(c{s} as int) + 1)")
        for s in range(n_sub)
    ]
    adc = reduce(lambda a, b: a + b, terms)
    scored = j.select("qid", F.col(id_col).alias("nid"), adc.alias("adc"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("qid").orderBy(F.col("adc").asc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", F.round("adc", 9).alias("adc"), "rank")
    )


# --------------------------------------------------------------------------
# SQL twins (DuckDB oracle fragments)
# --------------------------------------------------------------------------


def _fmt(x: float) -> str:
    """Exact decimal literal for a dyadic rational (repr of a /16 value
    is already exact and short)."""
    return repr(float(x))


def _pq_sql_parts(
    book: list[list[list[float]]], elem: str = "embedding[{i}]::DOUBLE"
) -> tuple[list[str], list[str], list[str]]:
    """Shared SQL fragments: per-centroid distance columns (explicit
    left-to-right sums), per-subspace LEAST columns, and the
    first-match-wins argmin CASE columns. ``elem`` is the 1-based
    element-access template — the default reads the raw embedding;
    the residual variant passes ``r[{i}]`` over a residual DOUBLE[]
    column instead."""
    n_sub = len(book)
    sub_dim = len(book[0][0])
    dist_cols = []
    for s, cents in enumerate(book):
        for k, ent in enumerate(cents):
            terms = []
            for d, c in enumerate(ent):
                e = elem.format(i=s * sub_dim + d + 1)
                terms.append(f"({e} - {_fmt(c)}) * ({e} - {_fmt(c)})")
            dist_cols.append(f"{' + '.join(terms)} AS d{s}_{k}")
    mins = [
        f"LEAST({', '.join(f'd{s}_{k}' for k in range(len(book[s])))}) AS m{s}"
        for s in range(n_sub)
    ]
    cases = []
    for s in range(n_sub):
        whens = " ".join(
            f"WHEN d{s}_{k} = m{s} THEN {k}" for k in range(len(book[s]))
        )
        cases.append(f"CAST(CASE {whens} END AS BIGINT) AS c{s}")
    return dist_cols, mins, cases


def pq_encode_sql(book: list[list[list[float]]], table: str = "embeddings") -> str:
    """Generate the DuckDB twin of ``pq_encode`` (1-based list indexing,
    same left-to-right float expression trees, same CASE tie rule)."""
    n_sub = len(book)
    dist_cols, mins, cases = _pq_sql_parts(book)
    code_concat = " || '-' || ".join(f"c{s}" for s in range(n_sub))
    return f"""
    WITH dists AS (SELECT vec_id, {', '.join(dist_cols)} FROM {table}),
    mins AS (SELECT *, {', '.join(mins)} FROM dists),
    codes AS (SELECT vec_id, {', '.join(cases)} FROM mins)
    SELECT vec_id, {', '.join(f'c{s}' for s in range(n_sub))},
           {code_concat} AS pq_code
    FROM codes
    """


def pq_adc_sql(
    book: list[list[list[float]]],
    table: str = "embeddings",
    n_queries: int = 8,
    k: int = 5,
) -> str:
    """DuckDB twin of ``pq_adc_topk``: the dists CTE doubles as the
    per-query LUT (d{s}_{k} for a query row IS its subspace-k table
    entry), corpus codes come from the same argmin CASE chain, and the
    ADC score is the left-to-right sum over subspaces of a
    CASE-code-lookup into the query's LUT row."""
    n_sub = len(book)
    dist_cols, mins, cases = _pq_sql_parts(book)
    adc_terms = []
    for s in range(n_sub):
        whens = " ".join(
            f"WHEN {kk} THEN q.d{s}_{kk}" for kk in range(len(book[s]))
        )
        adc_terms.append(f"(CASE e.c{s} {whens} END)")
    adc = " + ".join(adc_terms)
    return f"""
    WITH dists AS (SELECT vec_id, {', '.join(dist_cols)} FROM {table}),
    mins AS (SELECT *, {', '.join(mins)} FROM dists),
    codes AS (SELECT vec_id, {', '.join(cases)} FROM mins),
    lut AS (SELECT * FROM dists WHERE vec_id < {n_queries}),
    scored AS (
      SELECT q.vec_id AS qid, e.vec_id AS nid, {adc} AS adc
      FROM codes e, lut q WHERE e.vec_id <> q.vec_id),
    ranked AS (
      SELECT qid, nid, adc,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY adc ASC, nid ASC) AS rank
      FROM scored)
    SELECT qid, nid, round(adc, 9) AS adc, rank FROM ranked WHERE rank <= {k}
    """


SQ8_SQL = """
    WITH d AS (
      SELECT pos, max(abs(x)) AS amax FROM (
        SELECT unnest(embedding) AS x,
               unnest(range(1, len(embedding) + 1)) AS pos
        FROM embeddings)
      GROUP BY pos),
    a AS (SELECT list(amax ORDER BY pos) AS am FROM d),
    q AS (
      SELECT vec_id,
             list_transform(range(1, len(embedding) + 1),
               i -> CASE WHEN am[i] = 0 THEN CAST(0 AS BIGINT)
                         ELSE CAST(round(embedding[i]::DOUBLE / am[i]::DOUBLE * 127.0)
                                   AS BIGINT) END) AS qs
      FROM embeddings, a)
    SELECT vec_id,
           CAST(list_sum(qs) AS BIGINT) AS q_sum,
           CAST(list_sum(list_transform(qs, v -> abs(v))) AS BIGINT) AS q_abs_sum,
           md5(array_to_string(qs, ',')) AS q_hash
    FROM q
"""


# --------------------------------------------------------------------------
# PQ codebook TRAINING — integer-lattice k-means (engine-exact Lloyd)
# --------------------------------------------------------------------------
PQ_TRAIN_SCALE = 1_000_000

# Quantized (vid, sub, d*) training rows at or below this count run the
# Lloyd iterations driver-side (zero per-iteration Spark jobs;
# utils.collect_at_most); above it, the distributed loop runs. 1 Mi rows
# x (sub_dim+2) int64s is tens of MB — the pq_train docstring already
# directs production callers to train on a sample, so the threshold is
# the sample-size regime where per-iteration job overhead dominates.
DRIVER_PQ_TRAIN_MAX_ROWS = 1 << 20


def _pq_train_driver_side(
    data: list[tuple[int, tuple]],
    n_sub: int,
    sub_dim: int,
    n_cent: int,
    iters: int,
) -> list[tuple]:
    """The IDENTICAL integer-lattice Lloyd iterations driver-side:
    md5-ordered distinct init (Python str(int) == the engines' BIGINT
    rendering; hex-digest ASCII order == binary-collation string
    order), first-min/lowest-cluster argmin (np.argmin returns the
    first minimum and centroids sit in cluster order), exact int sums
    with floor division (numpy int64 // floors toward -inf exactly
    like Python and both engines' training SQL). Bit-identity with the
    distributed loop is pinned by tests/test_pending_gates.py."""
    import hashlib

    import numpy as np

    by_sub: dict[int, list[tuple]] = {s: [] for s in range(n_sub)}
    for s, dvec in data:
        by_sub[s].append(dvec)
    book: list[tuple] = []
    for s in range(n_sub):
        distinct = sorted(
            set(by_sub[s]),
            key=lambda dv: (
                hashlib.md5(",".join(str(d) for d in dv).encode()).hexdigest(),
                dv,
            ),
        )
        for cluster, dv in enumerate(distinct[:n_cent]):
            book.append((s, cluster, *dv))
    X = {s: np.asarray(by_sub[s], dtype=np.int64) for s in range(n_sub) if by_sub[s]}
    for _ in range(iters):
        nxt: list[tuple] = []
        for s in range(n_sub):
            cents = [b for b in book if b[0] == s]
            if s not in X or not cents:
                nxt.extend(cents)
                continue
            C = np.asarray([b[2:] for b in cents], dtype=np.int64)
            diff = X[s][:, None, :] - C[None, :, :]
            assign = (diff * diff).sum(axis=2).argmin(axis=1)
            for ci, (sub, cluster, *cs) in enumerate(cents):
                mask = assign == ci
                n = int(mask.sum())
                if n == 0:
                    nxt.append((sub, cluster, *cs))
                else:
                    sums = X[s][mask].sum(axis=0, dtype=np.int64)
                    nxt.append((sub, cluster, *[int(v) // n for v in sums]))
        book = nxt
    return book


def pq_train(
    df: DataFrame,
    id_col: str = "vec_id",
    col: str = "embedding",
    n_sub: int = 8,
    sub_dim: int = 8,
    n_cent: int = 16,
    iters: int = 2,
) -> DataFrame:
    """Train a data-adaptive PQ codebook with k-means run ENTIRELY on an
    integer lattice, so every step is exact and engine-reproducible —
    unlike float-mean Lloyd (``ml/kmeans.py``), whose centroid averages
    depend on double summation order in the last ulp:

    - subvector elements quantize once to floor(x * 1e6) int64s (the
      lsh_signature trick);
    - distances are exact int64 arithmetic, argmin ties resolve to the
      lowest centroid index;
    - init = the first ``n_cent`` DISTINCT subvectors per subspace in
      md5 order (pure function of the data, no RNG);
    - centroid update = elementwise FLOOR-DIVISION of exact int sums
      (floor(sum/n) stays on the lattice; empty clusters keep their
      previous centroid);
    - therefore the trained book is bit-identical across partitionings,
      sessions, and engines — the DuckDB twin (:func:`pq_train_sql`)
      replays the identical iterations and the gate compares the BOOKS.

    Returns (sub, cluster_id, c0..c{sub_dim-1}) int64 rows — n_sub *
    n_cent of them. Scale shape: per iteration one broadcast join
    (n_cent-fold fanout of the subvector rows) + one (n_sub * n_cent)-row
    aggregate with map-side combine; only the 128-row book circulates
    through the driver (the k-means contract). Production PQ trains on a
    sample; pass a sampled df for that.
    """
    from hadoop_gpu_spark.utils import collect_at_most, release_local_checkpoint

    spark = df.sparkSession
    d_cols = [f"d{d}" for d in range(sub_dim)]

    def q_elem(s: int, d: int) -> Column:
        x = F.col(col)[s * sub_dim + d].cast("double") * float(PQ_TRAIN_SCALE)
        return F.floor(x).cast("long")

    structs = F.array(
        *[
            F.struct(
                F.lit(s).cast("long").alias("sub"),
                *[q_elem(s, d).alias(c) for d, c in enumerate(d_cols)],
            )
            for s in range(n_sub)
        ]
    )
    rows = df.select(F.col(id_col).alias("vid"), F.inline(structs))
    # Eager localCheckpoint: scanned 2*iters+1 times. Unlike the query
    # plans that RETURN a view over their checkpoint (q11/q20 — those
    # blocks must outlive the function), training is fully consumed here:
    # the returned frame is built from the collected 128-row book, so the
    # checkpointed blocks are explicitly released in the finally below
    # (the r06 ADVICE leak — they otherwise stay resident for the session
    # lifetime).
    # At or below DRIVER_PQ_TRAIN_MAX_ROWS the IDENTICAL exact-lattice
    # iterations run driver-side on the collected rows
    # (utils.collect_at_most), before any checkpoint is paid for; above
    # it (production trains on a sample, but unsampled callers exist)
    # the distributed loop below runs.
    table = collect_at_most(rows, DRIVER_PQ_TRAIN_MAX_ROWS)
    if table is not None:
        data = list(
            zip(
                table.column("sub").to_pylist(),
                zip(*[table.column(c).to_pylist() for c in d_cols]),
            )
        )
        book = _pq_train_driver_side(data, n_sub, sub_dim, n_cent, iters)
        return spark.createDataFrame(
            [(s, c, *cs) for s, c, *cs in book],
            "sub long, cluster_id long, "
            + ", ".join(f"c{d} long" for d in range(sub_dim)),
        )
    rows = rows.localCheckpoint(eager=True)
    try:
        from pyspark.sql.window import Window

        # deterministic init: md5-ordered distinct subvectors
        dv = rows.select("sub", *d_cols).distinct()
        h = F.md5(F.encode(F.concat_ws(",", *[F.col(c).cast("string") for c in d_cols]), "UTF-8"))
        w = Window.partitionBy("sub").orderBy(h, *[F.col(c) for c in d_cols])
        ini = (
            dv.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= n_cent)
            .select("sub", (F.col("rn") - 1).cast("long").alias("cluster"), *d_cols)
        )
        book = [
            (int(r["sub"]), int(r["cluster"]), *[int(r[c]) for c in d_cols])
            for r in ini.collect()
        ]

        book_schema = "sub long, cluster long, " + ", ".join(f"c{d} long" for d in range(sub_dim))
        for _ in range(iters):
            bdf = spark.createDataFrame(book, book_schema)
            cand = rows.join(F.broadcast(bdf), "sub")
            dist = None
            for d in range(sub_dim):
                t = (F.col(f"d{d}") - F.col(f"c{d}")) * (F.col(f"d{d}") - F.col(f"c{d}"))
                dist = t if dist is None else dist + t
            best = (
                cand.withColumn("dist", dist)
                .groupBy("vid", "sub", *d_cols)
                .agg(F.min(F.struct("dist", "cluster")).alias("b"))
                .select("sub", F.col("b.cluster").alias("cluster"), *d_cols)
            )
            upd = best.groupBy("sub", "cluster").agg(
                F.count(F.lit(1)).alias("n"),
                *[F.sum(c).alias(f"s{d}") for d, c in enumerate(d_cols)],
            )
            new = {(int(r["sub"]), int(r["cluster"])): r for r in upd.collect()}
            nxt = []
            for sub, cluster, *cs in book:
                r = new.get((sub, cluster))
                if r is None:
                    nxt.append((sub, cluster, *cs))  # empty cluster: keep centroid
                else:
                    n = int(r["n"])
                    # exact floor division of exact int sums (lattice-preserving)
                    nxt.append(
                        (sub, cluster, *[int(r[f"s{d}"]) // n for d in range(sub_dim)])
                    )
            book = nxt

    finally:
        release_local_checkpoint(rows)
    return spark.createDataFrame(
        [(s, c, *cs) for s, c, *cs in book],
        "sub long, cluster_id long, " + ", ".join(f"c{d} long" for d in range(sub_dim)),
    )


def pq_train_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    col: str = "embedding",
    n_sub: int = 8,
    sub_dim: int = 8,
    n_cent: int = 16,
    iters: int = 2,
) -> str:
    """DuckDB twin of :func:`pq_train`: replays the identical
    integer-lattice iterations as chained CTEs. Exactness notes: DuckDB
    SUM(BIGINT) returns HUGEINT — all arithmetic on it is exact and the
    final centroid columns CAST back to BIGINT (driver-safe types);
    floor division of a possibly-negative exact sum uses the pmod
    identity (s - ((s % n) + n) % n) / n, which equals Python's // and
    Spark's int(sum)//n for positive n."""
    d_cols = [f"d{d}" for d in range(sub_dim)]

    def sub_select(s: int) -> str:
        els = ", ".join(
            f"CAST(floor(CAST({col}[{s * sub_dim + d + 1}] AS DOUBLE) * {PQ_TRAIN_SCALE}.0) AS BIGINT) AS d{d}"
            for d in range(sub_dim)
        )
        return f"SELECT {id_col} AS vid, CAST({s} AS BIGINT) AS sub, {els} FROM {table}"

    rows = " UNION ALL ".join(sub_select(s) for s in range(n_sub))
    dstr = ", ".join(f"CAST({c} AS VARCHAR)" for c in d_cols)
    dlist = ", ".join(d_cols)
    ctes = [
        f"rows AS ({rows})",
        f"dv AS (SELECT DISTINCT sub, {dlist} FROM rows)",
        f"""ini AS (
          SELECT sub, {dlist},
                 ROW_NUMBER() OVER (PARTITION BY sub
                                    ORDER BY md5(concat_ws(',', {dstr})), {dlist}) - 1 AS cluster
          FROM dv)""",
        "book0 AS (SELECT sub, cluster, "
        + ", ".join(f"{c} AS c{d}" for d, c in enumerate(d_cols))
        + f" FROM ini WHERE cluster < {n_cent})",
    ]
    for i in range(1, iters + 1):
        dist = " + ".join(
            f"(r.d{d} - b.c{d}) * (r.d{d} - b.c{d})" for d in range(sub_dim)
        )
        rcols = ", ".join(f"r.d{d}" for d in range(sub_dim))
        ctes.append(
            f"""cand{i} AS (
              SELECT r.vid, r.sub, {rcols}, b.cluster, {dist} AS dist
              FROM rows r JOIN book{i - 1} b USING (sub))"""
        )
        ctes.append(
            f"""asg{i} AS (
              SELECT vid, sub, {dlist}, cluster FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY vid, sub
                                             ORDER BY dist, cluster) AS rn
                FROM cand{i}) WHERE rn = 1)"""
        )
        sums = ", ".join(f"SUM(d{d}) AS s{d}" for d in range(sub_dim))
        ctes.append(
            f"""upd{i} AS (
              SELECT sub, cluster, COUNT(*) AS n, {sums}
              FROM asg{i} GROUP BY sub, cluster)"""
        )
        upds = ", ".join(
            f"CASE WHEN u.n IS NULL THEN b.c{d} "
            f"ELSE (u.s{d} - ((u.s{d} % u.n) + u.n) % u.n) // u.n END AS c{d}"
            for d in range(sub_dim)
        )
        ctes.append(
            f"""book{i} AS (
              SELECT b.sub, b.cluster, {upds}
              FROM book{i - 1} b LEFT JOIN upd{i} u USING (sub, cluster))"""
        )
    final = ", ".join(f"CAST(c{d} AS BIGINT) AS c{d}" for d in range(sub_dim))
    return (
        "WITH " + ", ".join(ctes) + f"""
    SELECT sub, cluster AS cluster_id, {final} FROM book{iters}
    """
    )


# --------------------------------------------------------------------------
# IVF-PQ composition — coarse probing + in-cell ADC (r15)
# --------------------------------------------------------------------------


def _fused_assign_encode(
    df: DataFrame,
    id_col: str,
    col: str,
    cid: "np.ndarray",
    M: "np.ndarray",
    C: "np.ndarray",
    n_sub: int,
    sub_dim: int,
    residual: bool,
) -> DataFrame:
    """(nid, centroid_id, c0..c{n_sub-1}) — coarse assignment AND PQ
    codes in ONE mapInPandas pass: the corpus crosses the Python
    boundary once instead of twice (r16 optimization, guide §4: the
    embedding payload used to Arrow-serialize into Python through
    assign_to_centroids_pandas and then AGAIN through the codes UDF
    chained behind it; a struct-returning pandas_udf was measured to
    be re-extracted into TWO chained ArrowEvalPython nodes by the
    optimizer — mapInPandas evaluates once by construction).

    Bit-identity: the assignment block is assign_to_centroids_pandas's
    kernel verbatim (per-dimension sequential accumulate, first-min
    argmin over centroids sorted by id); the codes block is the
    pq_encode/_res_codes kernel verbatim (per-subspace broadcasted
    squared diffs, left-to-right accumulate, first-min argmin), applied
    to x (or x - c(x) when ``residual`` — the float64 subtract the old
    _res_codes did). Composing the two kernels in one function body
    changes no operation and no operand, and every op is per-row
    independent (batch boundaries cannot affect values), so the output
    is bit-identical to the chained form.
    """
    from hadoop_gpu_spark.utils import ensure_min_partitions

    def _assign_codes(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array([np.asarray(v, dtype=np.float64) for v in pdf[col]])
            acc = np.zeros((X.shape[0], M.shape[0]))
            for d in range(M.shape[1]):
                diff = X[:, d : d + 1] - M[:, d][None, :]
                acc += diff * diff
            rows = np.argmin(acc, axis=1)
            R = X - M[rows] if residual else X
            out = np.empty((R.shape[0], n_sub), dtype=np.int64)
            for s in range(n_sub):
                xs = R[:, s * sub_dim : (s + 1) * sub_dim]
                sq = xs[:, None, :] - C[s][None, :, :]
                sq *= sq
                a = sq[:, :, 0].copy()
                for d in range(1, sub_dim):
                    a += sq[:, :, d]
                out[:, s] = a.argmin(axis=1)
            cols = {"nid": pdf[id_col].to_numpy(), "centroid_id": cid[rows]}
            for s in range(n_sub):
                cols[f"c{s}"] = out[:, s]
            yield pd.DataFrame(cols)

    schema = "nid long, centroid_id long, " + ", ".join(
        f"c{s} long" for s in range(n_sub)
    )
    return ensure_min_partitions(df.select(id_col, col)).mapInPandas(
        _assign_codes, schema
    )


def ivfpq_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    col: str = "embedding",
    book: list[list[list[float]]] | None = None,
    n_centroids: int = 16,
    n_queries: int = 8,
    nprobe: int = 2,
    k: int = 5,
) -> DataFrame:
    """IVF-PQ: the standard billion-scale ANN index shape (Jégou et al.
    2011, "Product Quantization for Nearest Neighbor Search" §V) —
    coarse centroids prune the corpus to ``nprobe`` cells per query,
    PQ codes compress what remains ~32x, ADC scores candidates from a
    per-query LUT without decompressing. Composes the engine's two
    existing proven kernels: IVF assignment (``ann.assign_to_centroids_
    pandas``, bit-identical to the q_ann_ivf expression spec) and PQ
    encoding (same kernel conventions as ``pq_encode``: left-to-right
    distance accumulation, first-occurrence argmin — parity-pinned by
    test against ``pq_encode``).

    Determinism contract (shared with q_ann_ivf / q_ann_pq so the
    DuckDB twin is exact): centroids = the first ``n_centroids``
    vectors, queries = the first ``n_queries``, codebook = the dyadic
    ``pq_codebook`` grid, every tie broken on the lower id.

    Scale shape: one corpus pass assigns + encodes (map-only, both
    models ride in closures); the probe set (|queries| x nprobe rows,
    each with its n_sub x n_cent LUT) broadcasts; scoring is a
    broadcast join + LUT lookups over code columns — the corpus never
    shuffles, and only probed-cell candidate rows reach the per-query
    rank. At real scale the assigned+encoded corpus would be WRITTEN
    partitioned by centroid_id so a probe is partition pruning
    (the MapFileOutputFormat lesson, SURVEY.md §1.4).
    """
    from pyspark.sql.window import Window

    from hadoop_gpu_spark.functions.vectors import euclidean_sq

    spark = df.sparkSession
    book_v = book if book is not None else pq_codebook()
    n_sub = len(book_v)
    sub_dim = len(book_v[0][0])
    C = np.asarray(book_v, dtype=np.float64)  # (S, K, D)

    cen = df.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("centroid_id"), F.col(col)
    )
    # Coarse model driver-side once (metadata-sized): feeds the fused
    # assign+encode kernel — previously assign_to_centroids_pandas
    # collected it separately AND the corpus crossed the Python
    # boundary a second time for the codes UDF (see _fused_assign_pq_udf
    # for the bit-identity argument).
    cen_rows = sorted(cen.collect(), key=lambda r: r["centroid_id"])
    cid_v = np.array([int(r["centroid_id"]) for r in cen_rows], dtype=np.int64)
    M = np.asarray([[float(x) for x in r[col]] for r in cen_rows], dtype=np.float64)
    enc = _fused_assign_encode(
        df, id_col, col, cid_v, M, C, n_sub, sub_dim, residual=False
    )

    # nprobe nearest cells per query (exact small-side math, as ivf_topk)
    q = df.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("qid"), F.col(col).alias("__qv")
    )
    cen_b = cen.select("centroid_id", F.col(col).alias("__mv"))
    qc = q.crossJoin(F.broadcast(cen_b))
    w = Window.partitionBy("qid").orderBy(
        euclidean_sq("__qv", "__mv").asc(), F.col("centroid_id").asc()
    )
    probes = (
        qc.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= nprobe)
        .select("qid", "centroid_id")
    )

    # per-query subspace-distance LUTs, driver-side exact (tiny model:
    # n_queries x n_sub x n_cent doubles) — the pq_adc_topk convention,
    # including the sequential accumulation the SQL twin mirrors
    qrows = df.filter(F.col(id_col) < n_queries).select(id_col, col).collect()
    lut_rows = []
    for r in qrows:
        x = np.asarray(r[col], dtype=np.float64)
        per_s = []
        for s in range(n_sub):
            xs = x[s * sub_dim : (s + 1) * sub_dim]
            sq = xs[None, :] - C[s]
            sq *= sq
            acc = sq[:, 0].copy()
            for d in range(1, sub_dim):
                acc += sq[:, d]
            per_s.append([float(v) for v in acc])
        lut_rows.append((int(r[id_col]), per_s))
    lut_df = spark.createDataFrame(lut_rows, "qid long, lut array<array<double>>")

    cand = enc.join(
        F.broadcast(probes.join(F.broadcast(lut_df), "qid")), "centroid_id"
    ).filter(F.col("nid") != F.col("qid"))
    terms = [
        F.expr(f"element_at(element_at(lut, {s + 1}), cast(c{s} as int) + 1)")
        for s in range(n_sub)
    ]
    adc = reduce(lambda a, b: a + b, terms)
    scored = cand.select("qid", "nid", adc.alias("adc"))
    w2 = Window.partitionBy("qid").orderBy(F.col("adc").asc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", F.round("adc", 9).alias("adc"), "rank")
    )


def ivfpq_sql(
    book: list[list[list[float]]],
    table: str = "embeddings",
    n_centroids: int = 16,
    n_queries: int = 8,
    nprobe: int = 2,
    k: int = 5,
) -> str:
    """DuckDB twin of :func:`ivfpq_topk`: the q_ann_ivf assignment/probe
    CTEs composed with pq_adc_sql's dists/codes/LUT CTEs — same
    centroid convention, same argmin CASE chains, same ADC term order,
    same tie rules."""
    n_sub = len(book)
    dist_cols, mins, cases = _pq_sql_parts(book)

    def eucl(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(list_zip({a}::DOUBLE[], {b}::DOUBLE[]), "
            "p -> (p[1]-p[2])*(p[1]-p[2])))"
        )

    adc_terms = []
    for s in range(n_sub):
        whens = " ".join(f"WHEN {kk} THEN q.d{s}_{kk}" for kk in range(len(book[s])))
        adc_terms.append(f"(CASE e.c{s} {whens} END)")
    adc = " + ".join(adc_terms)
    return f"""
    WITH cen AS (
      SELECT vec_id AS centroid_id, embedding FROM {table}
      WHERE vec_id < {n_centroids}),
    assigned AS (
      SELECT e.vec_id, c.centroid_id
      FROM {table} e CROSS JOIN cen c
      QUALIFY ROW_NUMBER() OVER (PARTITION BY e.vec_id
          ORDER BY {eucl('e.embedding', 'c.embedding')}, c.centroid_id) = 1),
    dists AS (SELECT vec_id, {', '.join(dist_cols)} FROM {table}),
    mins AS (SELECT *, {', '.join(mins)} FROM dists),
    codes AS (SELECT vec_id, {', '.join(cases)} FROM mins),
    acodes AS (
      SELECT a.centroid_id, c.* FROM codes c JOIN assigned a USING (vec_id)),
    probes AS (
      SELECT q.vec_id AS qid, c.centroid_id
      FROM {table} q CROSS JOIN cen c
      WHERE q.vec_id < {n_queries}
      QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
          ORDER BY {eucl('q.embedding', 'c.embedding')}, c.centroid_id) <= {nprobe}),
    lut AS (SELECT * FROM dists WHERE vec_id < {n_queries}),
    scored AS (
      SELECT p.qid, e.vec_id AS nid, {adc} AS adc
      FROM probes p JOIN acodes e USING (centroid_id)
      JOIN lut q ON q.vec_id = p.qid
      WHERE e.vec_id <> p.qid),
    ranked AS (
      SELECT qid, nid, adc,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY adc ASC, nid ASC) AS rank
      FROM scored)
    SELECT qid, nid, round(adc, 9) AS adc, rank FROM ranked WHERE rank <= {k}
    """


# --------------------------------------------------------------------------
# IVF-PQ with RESIDUAL encoding — the Jégou et al. 2011 §V.B variant (r16)
# --------------------------------------------------------------------------


def ivfpq_residual_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    col: str = "embedding",
    book: list[list[list[float]]] | None = None,
    n_centroids: int = 16,
    n_queries: int = 8,
    nprobe: int = 2,
    k: int = 5,
) -> DataFrame:
    """IVF-PQ over RESIDUALS (Jégou et al. 2011 §V.B — "IVFADC"): PQ
    encodes x − c(x), the vector's offset from its coarse centroid,
    instead of x itself. Residuals concentrate near the origin, so the
    same codebook budget quantizes them with far less distortion — this
    is the variant every production billion-scale index (faiss
    IndexIVFPQ) actually ships. The ADC lookup table becomes
    per-(query, probed cell): the query's residual against THAT cell,
    q − c_cell, scored against the codebook.

    Composition/determinism contract shared with :func:`ivfpq_topk` /
    q_ann_ivf / q_ann_pq: centroids = first ``n_centroids`` vectors
    (assignment = sequential-accumulation euclidean, first-min/lower-id
    ties — the ``assign_to_centroids_pandas`` kernel), queries = first
    ``n_queries``, codebook = the dyadic ``pq_codebook`` grid, residual
    subtraction in float64 (exact for float32 inputs), codes = the
    ``pq_encode`` accumulation/argmin conventions applied to residuals,
    ties on lower id everywhere.

    Scale shape: ONE corpus pass assigns + residual-encodes map-side
    (centroid matrix + codebook ride the closure — model-sized
    broadcasts); the probe set with its per-(query, cell) LUTs
    (|queries| × nprobe rows) broadcasts; scoring is a broadcast join +
    LUT lookups — the corpus never shuffles. At real scale the codes
    table is written partitioned by centroid_id so a probe is partition
    pruning; residual encoding changes WHAT is stored per row (codes of
    x − c), not the storage or probe topology.
    """
    from pyspark.sql.window import Window

    spark = df.sparkSession
    book_v = book if book is not None else pq_codebook()
    n_sub = len(book_v)
    sub_dim = len(book_v[0][0])
    C = np.asarray(book_v, dtype=np.float64)  # (S, K, D)

    cen = df.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("centroid_id"), F.col(col)
    )
    # Coarse model driver-side (metadata-sized, the kmeans/IVF role):
    # the residual kernel needs the assigned centroid VECTOR, and the
    # per-(query, cell) LUTs need centroids too.
    cen_rows = sorted(cen.collect(), key=lambda r: r["centroid_id"])
    cen_ids = [int(r["centroid_id"]) for r in cen_rows]
    M = np.asarray([[float(x) for x in r[col]] for r in cen_rows], dtype=np.float64)

    # Fused assign + residual-encode: ONE Python crossing for the
    # corpus (was: assign_to_centroids_pandas + a chained _res_codes
    # UDF — the embeddings Arrow-serialized into Python twice, and the
    # assign helper re-collected the centroid frame). Bit-identity
    # argument in _fused_assign_pq_udf; the residual subtract uses the
    # argmin row directly, which equals the old cid_to_row lookup
    # because cen_rows is sorted by centroid_id.
    cid_v = np.asarray(cen_ids, dtype=np.int64)
    enc = _fused_assign_encode(
        df, id_col, col, cid_v, M, C, n_sub, sub_dim, residual=True
    )

    # Probes + per-(query, cell) residual LUTs, driver-side exact
    # (n_queries × nprobe × n_sub × n_cent doubles — model-sized).
    # Probe selection mirrors the ivf convention: sequential-accumulated
    # euclidean, ties on lower centroid_id.
    qrows = sorted(
        df.filter(F.col(id_col) < n_queries).select(id_col, col).collect(),
        key=lambda r: r[id_col],
    )
    probe_rows = []
    for r in qrows:
        x = np.asarray([float(v) for v in r[col]], dtype=np.float64)
        acc = np.zeros(M.shape[0], dtype=np.float64)
        for d in range(M.shape[1]):
            diff = x[d] - M[:, d]
            acc += diff * diff
        order = sorted(range(M.shape[0]), key=lambda i: (acc[i], cen_ids[i]))
        for i in order[:nprobe]:
            rq = x - M[i]  # query residual against THIS cell
            per_s = []
            for s in range(n_sub):
                xs = rq[s * sub_dim : (s + 1) * sub_dim]
                sq = xs[None, :] - C[s]
                sq *= sq
                a = sq[:, 0].copy()
                for d in range(1, sub_dim):
                    a += sq[:, d]
                per_s.append([float(v) for v in a])
            probe_rows.append((int(r[id_col]), int(cen_ids[i]), per_s))
    lut_df = spark.createDataFrame(
        probe_rows, "qid long, centroid_id long, lut array<array<double>>"
    )

    cand = enc.join(F.broadcast(lut_df), "centroid_id").filter(
        F.col("nid") != F.col("qid")
    )
    terms = [
        F.expr(f"element_at(element_at(lut, {s + 1}), cast(c{s} as int) + 1)")
        for s in range(n_sub)
    ]
    adc = reduce(lambda a, b: a + b, terms)
    scored = cand.select("qid", "nid", adc.alias("adc"))
    w2 = Window.partitionBy("qid").orderBy(F.col("adc").asc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", F.round("adc", 9).alias("adc"), "rank")
    )


def ivfadc_r_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    col: str = "embedding",
    book: list[list[list[float]]] | None = None,
    n_centroids: int = 16,
    n_queries: int = 8,
    nprobe: int = 2,
    shortlist: int = 20,
    k: int = 5,
) -> DataFrame:
    """IVFADC+R (Jégou et al. 2011 §VI — "re-ranking with source
    coding"): the residual IVF-PQ index produces a ``shortlist``-sized
    ADC candidate list per query, and a second stage re-ranks those
    candidates by their EXACT squared-L2 distance computed from the raw
    vectors. ADC distances are quantization-distorted estimates; the +R
    stage restores exact ordering over the shortlist, which is how
    production IVFPQ deployments recover recall@k without growing
    nprobe (the paper re-ranks against stored residual refinement
    codes; with the raw corpus available as a columnar table, the exact
    vector IS the best refinement available, so the re-rank uses it).

    Composition: stage 1 is :func:`ivfpq_residual_topk` verbatim with
    ``k=shortlist`` (same determinism contract — first-``n_centroids``
    centroids, first-``n_queries`` queries, dyadic codebook, lower-id
    ties). Stage 2 fetches candidate vectors by id, scores them with
    the ``euclidean_sq`` left-fold (the q_ann_topk exact-distance
    convention, bit-equal to DuckDB's list_sum fold), and re-ranks on
    (dist asc, nid asc). Output: (qid, nid, dist, rank) — round-9 dist.

    Scale shape: stage 1 never shuffles the corpus (see
    ivfpq_residual_topk); stage 2's candidate list is |queries| ×
    shortlist rows — it BROADCASTS onto the corpus scan, so the
    candidate fetch is one map-side semi-join pass (at real scale, an
    id-indexed point-lookup against the vector store — here, a
    broadcast-hash join the corpus streams through), and only
    |queries| × shortlist fetched rows reach the per-query rank. The
    query-vector frame (n_queries rows) broadcasts likewise. The
    corpus crosses zero exchanges in both stages.
    """
    from pyspark.sql.window import Window

    from hadoop_gpu_spark.functions.vectors import euclidean_sq

    short = ivfpq_residual_topk(
        df, id_col, col, book, n_centroids, n_queries, nprobe, k=shortlist
    )
    cand = short.select("qid", "nid")
    nvec = df.select(F.col(id_col).alias("nid"), F.col(col).alias("__nv"))
    qvec = df.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("qid"), F.col(col).alias("__qv")
    )
    fetched = nvec.join(F.broadcast(cand), "nid")
    scored = fetched.join(F.broadcast(qvec), "qid").select(
        "qid", "nid", euclidean_sq("__qv", "__nv").alias("dist")
    )
    w = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", F.round("dist", 9).alias("dist"), "rank")
    )


def ivfadc_r_sql(
    book: list[list[list[float]]],
    table: str = "embeddings",
    n_centroids: int = 16,
    n_queries: int = 8,
    nprobe: int = 2,
    shortlist: int = 20,
    k: int = 5,
) -> str:
    """DuckDB twin of :func:`ivfadc_r_topk`: the full
    :func:`ivfpq_residual_sql` statement (with ``k=shortlist``) nested
    as the candidate subquery, then the exact-distance re-rank with the
    same list_zip sequential squared-diff fold q_ann_topk's conventions
    use and the same (dist asc, nid asc) tie rule."""
    inner = ivfpq_residual_sql(book, table, n_centroids, n_queries, nprobe, shortlist)
    eucl = (
        "list_sum(list_transform(list_zip(q.embedding::DOUBLE[], "
        "e.embedding::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])))"
    )
    return f"""
    WITH short AS (SELECT qid, nid FROM ({inner})),
    scored AS (
      SELECT s.qid, s.nid, {eucl} AS dist
      FROM short s
      JOIN {table} e ON e.vec_id = s.nid
      JOIN {table} q ON q.vec_id = s.qid),
    ranked AS (
      SELECT qid, nid, dist,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dist ASC, nid ASC) AS rank
      FROM scored)
    SELECT qid, nid, round(dist, 9) AS dist, rank FROM ranked WHERE rank <= {k}
    """


def ivfpq_residual_sql(
    book: list[list[list[float]]],
    table: str = "embeddings",
    n_centroids: int = 16,
    n_queries: int = 8,
    nprobe: int = 2,
    k: int = 5,
) -> str:
    """DuckDB twin of :func:`ivfpq_residual_topk`: the ivfpq_sql
    assignment/probe CTEs, with the dists/codes lattice evaluated over
    the RESIDUAL array (list_zip elementwise x − c in DOUBLE) and the
    LUT evaluated per (query, probed cell) over q − c_cell — same
    argmin CASE chains, same ADC term order, same tie rules."""
    n_sub = len(book)
    rdist_cols, rmins, rcases = _pq_sql_parts(book, elem="r[{i}]")

    def eucl(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(list_zip({a}::DOUBLE[], {b}::DOUBLE[]), "
            "p -> (p[1]-p[2])*(p[1]-p[2])))"
        )

    res = (
        "list_transform(list_zip({a}::DOUBLE[], {b}::DOUBLE[]), "
        "p -> p[1] - p[2])"
    )
    adc_terms = []
    for s in range(n_sub):
        whens = " ".join(f"WHEN {kk} THEN q.d{s}_{kk}" for kk in range(len(book[s])))
        adc_terms.append(f"(CASE e.c{s} {whens} END)")
    adc = " + ".join(adc_terms)
    return f"""
    WITH cen AS (
      SELECT vec_id AS centroid_id, embedding AS cemb FROM {table}
      WHERE vec_id < {n_centroids}),
    assigned AS (
      SELECT e.vec_id, c.centroid_id
      FROM {table} e CROSS JOIN cen c
      QUALIFY ROW_NUMBER() OVER (PARTITION BY e.vec_id
          ORDER BY {eucl('e.embedding', 'c.cemb')}, c.centroid_id) = 1),
    res AS (
      SELECT e.vec_id, a.centroid_id,
             {res.format(a='e.embedding', b='c.cemb')} AS r
      FROM {table} e
      JOIN assigned a USING (vec_id)
      JOIN cen c ON c.centroid_id = a.centroid_id),
    rdists AS (SELECT vec_id, centroid_id, {', '.join(rdist_cols)} FROM res),
    rmins AS (SELECT *, {', '.join(rmins)} FROM rdists),
    rcodes AS (SELECT vec_id, centroid_id, {', '.join(rcases)} FROM rmins),
    probes AS (
      SELECT q.vec_id AS qid, c.centroid_id
      FROM {table} q CROSS JOIN cen c
      WHERE q.vec_id < {n_queries}
      QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
          ORDER BY {eucl('q.embedding', 'c.cemb')}, c.centroid_id) <= {nprobe}),
    qres AS (
      SELECT p.qid, p.centroid_id,
             {res.format(a='q.embedding', b='c.cemb')} AS r
      FROM probes p
      JOIN cen c ON c.centroid_id = p.centroid_id
      JOIN {table} q ON q.vec_id = p.qid),
    qlut AS (SELECT qid, centroid_id, {', '.join(rdist_cols)} FROM qres),
    scored AS (
      SELECT q.qid, e.vec_id AS nid, {adc} AS adc
      FROM qlut q JOIN rcodes e ON e.centroid_id = q.centroid_id
      WHERE e.vec_id <> q.qid),
    ranked AS (
      SELECT qid, nid, adc,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY adc ASC, nid ASC) AS rank
      FROM scored)
    SELECT qid, nid, round(adc, 9) AS adc, rank FROM ranked WHERE rank <= {k}
    """
