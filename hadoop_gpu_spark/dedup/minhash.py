"""MinHash + LSH near-duplicate detection.

Pipeline (all JVM-side expressions, one shuffle at the band groupBy):
1. shingle: character k-grams per document (array expr, no explode);
2. base hash: portable md5-derived u32 per shingle;
3. signatures: ``num_hashes`` universal-hash minima
   ``min_i((a_j * h_i + b_j) mod P)`` — constants fixed so any engine
   reproduces them;
4. LSH: group signature into bands of ``rows_per_band``; docs sharing a
   band hash are candidate pairs (banded Jaccard threshold ~
   (1/bands)^(1/rows)).

Scale shape: signatures are computed at scan (no shuffle); candidate
generation shuffles only (band_hash, doc_id) pairs; the text never moves.
A hot bucket (e.g. boilerplate docs) caps via ``max_bucket`` before the
pair explosion — at 100 TB this is the difference between a join and an
accidental cross product.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve against module globals

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SHINGLE_K = 5
P = 4294967291  # largest 32-bit prime
NUM_HASHES = 16
ROWS_PER_BAND = 4

# Fixed universal-hash constants (a odd < 2^30 so a*h < 2^63; b < P).
# Generated once from a fixed seed; reproduced verbatim in oracle SQL.
_A = [
    787650961, 996721403, 629126529, 103629809, 464967765, 651194031,
    915132951, 372189537, 17906545, 523439195, 297131067, 199696321,
    62224433, 754483049, 1020397363, 416036637,
]
_B = [
    3222387265, 2957919001, 2181316105, 2883606683, 2413940029, 3210801719,
    473441693, 3529782379, 1060188357, 423244774, 1745971003, 3396051823,
    3810469671, 2191426176, 402102521, 3311105675,
]
assert all(a % 2 == 1 and a < 1 << 30 for a in _A) and all(b < P for b in _B)


def shingles(text: Column | str, k: int = SHINGLE_K) -> Column:
    """Character k-gram array (short docs yield one truncated shingle)."""
    c = F.col(text) if isinstance(text, str) else text
    n = F.greatest(F.length(c) - k + 1, F.lit(1))
    return F.transform(F.sequence(F.lit(1), n), lambda i: c.substr(i, F.lit(k)))


def _shingle_hashes(text: Column | str, k: int = SHINGLE_K) -> Column:
    """Portable u32 per shingle: ('0x'||substr(md5(s),1,8))::BIGINT."""
    return F.transform(
        shingles(text, k),
        lambda s: F.conv(F.substring(F.md5(F.encode(s, "UTF-8")), 1, 8), 16, 10).cast("long"),
    )


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = NUM_HASHES
) -> DataFrame:
    """id + m0..m{n-1} minhash columns (scan-local, no shuffle).

    Engine-portable expression spec — the form the oracle SQL replicates
    verbatim. Production consumers use :func:`minhash_signatures_pandas`
    (bit-identical, parity-tested); this variant stays as the parity
    anchor and for engines without Arrow."""
    from hadoop_gpu_spark.utils import ensure_min_partitions

    df = ensure_min_partitions(df)
    hashes = _shingle_hashes(text_col).alias("__h")
    out = df.select(F.col(id_col), hashes)

    def perm(j: int):
        # single-arg lambda (two args would make transform pass the index)
        return lambda h: (F.lit(_A[j]) * h + F.lit(_B[j])) % P

    sigs = [
        F.array_min(F.transform(F.col("__h"), perm(j))).alias(f"m{j}")
        for j in range(num_hashes)
    ]
    return out.select(id_col, *sigs)


def minhash_signatures_pandas(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = NUM_HASHES,
    k: int = SHINGLE_K,
) -> DataFrame:
    """Arrow-batched numpy twin of :func:`minhash_signatures` — identical
    output schema (id, m0..m{n-1}) and bit-identical values: the shingle
    hash is the same md5-derived u32 (via winnow's cached hasher) and each
    permutation min is exact int64 arithmetic (a < 2^30, h < 2^32 →
    products < 2^62, no overflow in either engine). Pinned by
    tests/test_operators.py::test_minhash_pandas_matches_expression.

    This is the production signature kernel (every consumer routes through
    it since round 5); :func:`minhash_signatures` is retained as the
    engine-portable expression spec that the oracle SQL replicates, pinned
    to this kernel by the parity test.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    from hadoop_gpu_spark.utils import ensure_min_partitions

    A = np.array(_A[:num_hashes], dtype=np.int64)
    B = np.array(_B[:num_hashes], dtype=np.int64)

    @pandas_udf(ArrayType(LongType()))
    def _udf(texts: pd.Series) -> pd.Series:
        # r16 optimization (guide §4.2): the shingle lattice runs through
        # the bulk single-block MD5 kernel (md5bulk.hash_grams_u32 —
        # bit-identical to the previous per-shingle _hash_shingle path,
        # which paid one interpreter-level hashlib call per shingle with
        # only a dict cache between it and Heaps' law). Per-document
        # Python work is now two C calls (utf-32 encode +
        # sliding_window_view); hashing and the permutation minima are
        # whole-batch numpy (np.minimum.reduceat over per-doc segments).
        from hadoop_gpu_spark.dedup.md5bulk import hash_grams_u32
        from hadoop_gpu_spark.dedup.winnow import _hash_shingle

        n_rows = len(texts)
        views: list[np.ndarray] = []
        counts = np.zeros(n_rows, dtype=np.int64)
        short: dict[int, int] = {}
        nulls: list[int] = []
        for i, t in enumerate(texts):
            if t is None:
                # the expression twin's shingle of NULL is NULL: all-NULL minima
                nulls.append(i)
            elif len(t) >= k:
                cp = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
                v = np.lib.stride_tricks.sliding_window_view(cp, k)
                views.append(v)
                counts[i] = len(v)
            else:
                # short doc: ONE truncated shingle == the whole text
                # (matches shingles()'s greatest(n-k+1, 1) contract)
                short[i] = _hash_shingle(t)
        sigs = np.empty((n_rows, num_hashes), dtype=np.int64)
        nz = counts > 0
        if views:
            grams = np.ascontiguousarray(np.concatenate(views, axis=0))
            h = hash_grams_u32(grams)
            cnz = counts[nz]
            starts = np.cumsum(cnz) - cnz
            for j in range(num_hashes):
                v = (A[j] * h + B[j]) % P
                sigs[nz, j] = np.minimum.reduceat(v, starts)
        for i, hs in short.items():
            sigs[i] = (A * hs + B) % P
        out = pd.Series(list(sigs), dtype=object)
        out.iloc[nulls] = None
        return out

    sig = ensure_min_partitions(df).select(
        F.col(id_col), _udf(F.col(text_col)).alias("__s")
    )
    return sig.select(
        id_col,
        *[F.element_at("__s", j + 1).alias(f"m{j}") for j in range(num_hashes)],
    )


def band_hashes(
    sig_df: DataFrame, id_col: str, num_hashes: int = NUM_HASHES, rows_per_band: int = ROWS_PER_BAND
) -> DataFrame:
    """(id, band, band_hash) — one row per band per doc.

    One explode of an inline (band, band_hash) array — NOT a union of
    per-band projections: each union branch re-evaluates its parent plan,
    so the union form re-scanned the corpus and recomputed the full
    minhash signature set once per band (4x waste, caught by plan audit
    in round 2)."""
    bands = num_hashes // rows_per_band
    entries = []
    for b in range(bands):
        cols = [F.col(f"m{b * rows_per_band + r}").cast("string") for r in range(rows_per_band)]
        bh = F.md5(F.encode(F.concat_ws(":", *cols), "UTF-8"))
        entries.append(F.struct(F.lit(b).alias("band"), bh.alias("band_hash")))
    return sig_df.select(F.col(id_col), F.explode(F.array(*entries)).alias("__e")).select(
        id_col, F.col("__e.band").alias("band"), F.col("__e.band_hash").alias("band_hash")
    )


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = NUM_HASHES,
    rows_per_band: int = ROWS_PER_BAND,
    max_bucket: int = 64,
) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing at least one LSH band.

    Implemented as collect_list per bucket + array pair expansion (cheaper
    than a self-join for bounded buckets); buckets above ``max_bucket`` are
    dropped (boilerplate guard — log/count them in production).

    Signatures come from the Arrow-batched numpy kernel
    (:func:`minhash_signatures_pandas`) — bit-identical to the expression
    form (parity-tested), ~6x faster on the hot path (BENCH r04).
    """
    sig = minhash_signatures_pandas(df, text_col, id_col, num_hashes)
    bands = band_hashes(sig, id_col, num_hashes, rows_per_band)
    buckets = bands.groupBy("band", "band_hash").agg(
        F.array_sort(F.collect_list(id_col)).alias("ids")
    )
    bounded = buckets.filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    pairs = bounded.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))), lambda y: F.struct(x.alias("a"), y.alias("b"))
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select(F.col("p.a").alias("a"), F.col("p.b").alias("b")).distinct()


# ---------------------------------------------------------------------------
# Oracle SQL generators (DuckDB) — exact replicas of the expressions above.
# ---------------------------------------------------------------------------

def _sql_shingle_hashes(text: str = "text", k: int = SHINGLE_K) -> str:
    return (
        f"list_transform(range(1, greatest(length({text}) - {k - 1}, 1) + 1), "
        f"i -> ('0x' || substr(md5(substr({text}, i, {k})), 1, 8))::BIGINT)"
    )


def sql_signature_exprs(num_hashes: int = NUM_HASHES) -> list[str]:
    h = _sql_shingle_hashes()
    return [
        f"list_min(list_transform({h}, h -> ({_A[j]} * h + {_B[j]}) % {P})) AS m{j}"
        for j in range(num_hashes)
    ]


def sql_band_hash_expr(b: int, rows_per_band: int = ROWS_PER_BAND) -> str:
    cols = " || ':' || ".join(
        f"m{b * rows_per_band + r}::VARCHAR" for r in range(rows_per_band)
    )
    return f"md5({cols})"
