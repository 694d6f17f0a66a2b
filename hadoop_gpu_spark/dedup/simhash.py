"""SimHash near-duplicate fingerprints (60-bit, engine-portable).

Each token gets a portable 60-bit md5-derived hash; per document, each bit
position accumulates +1/-1 over tokens (multiset); the sign vector packs
into a single BIGINT. Near-dup candidates = documents matching on any of 4
15-bit chunks (pigeonhole: hamming distance ≤ 3 guarantees a matching
chunk), verified with ``bit_count(a XOR b)``.

60 bits (not 64) so the value stays inside a signed BIGINT in every engine
(16 hex chars would overflow DuckDB's ::BIGINT cast).

Scale shape: fingerprints at scan; candidates shuffle only (chunk, id);
verification is an integer xor — no text comparison anywhere.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve against module globals

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hadoop_gpu_spark.operators.fields import tokenize

BITS = 60
CHUNKS = 4
CHUNK_BITS = BITS // CHUNKS  # 15

# Worker-lifetime token-hash cache (same pattern as winnow._shingle_cache):
# module globals survive across Arrow batches and tasks within a Python
# worker, so the md5 per distinct token is paid once per worker, not once
# per batch. Bounded: reset wholesale if the vocabulary ever exceeds the cap.
_TOKEN_CACHE_MAX = 1 << 20
_token_cache: dict[str, int] = {}


def _hash_token60(tok: str) -> int:
    """Portable 60-bit token hash: ('0x'||substr(md5(utf8(t)),1,15))::BIGINT
    — byte-identical to :func:`_token_hash60` and the oracle SQL."""
    global _token_cache
    v = _token_cache.get(tok)
    if v is None:
        import hashlib

        v = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:15], 16)
        if len(_token_cache) >= _TOKEN_CACHE_MAX:
            _token_cache = {}
        _token_cache[tok] = v
    return v


def _token_hash60(tok: Column) -> Column:
    return F.conv(F.substring(F.md5(F.encode(tok, "UTF-8")), 1, 15), 16, 10).cast("long")


def simhash64(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, simhash BIGINT). Explode-free: one pass of array expressions.

    Engine-portable expression spec — the form the oracle SQL replicates.
    Production consumers use :func:`simhash64_pandas` (bit-identical,
    parity-tested); this stays as the parity anchor.

    Bit j of the result = sign of sum over tokens of (+1 if token-hash bit
    j set else -1). The token array is folded ONCE into a 60-element
    per-bit ones-count accumulator (zip_with inside a single F.aggregate),
    then the sign word is assembled from that array — O(tokens * 60) bit
    ops total instead of 60 full re-traversals of the hash array, and one
    small expression tree instead of 60 independent aggregates.
    """
    from hadoop_gpu_spark.utils import ensure_min_partitions

    df = ensure_min_partitions(df)
    toks = tokenize(text_col)
    hashes = F.transform(toks, _token_hash60)
    df2 = df.select(F.col(id_col), hashes.alias("__th"), F.size(toks).alias("__n"))
    # masks[j] = 1 << j; ones[j] = number of tokens with bit j set.
    masks = F.array(*[F.lit(1 << j).cast("long") for j in range(BITS)])
    ones = F.aggregate(
        F.col("__th"),
        F.array_repeat(F.lit(0).cast("long"), BITS),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a
            + F.when(h.bitwiseAND(m) != 0, F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
        ),
    )
    # Sign positive iff 2*ones > n; the word is the sum of the set masks.
    total = F.aggregate(
        F.zip_with(
            ones,
            masks,
            lambda c, m: F.when(c * 2 > F.col("__n"), m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return df2.select(id_col, total.alias("simhash"))


def simhash64_pandas(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Arrow-batched numpy twin of :func:`simhash64` — identical output:
    same 60-bit md5-derived token hashes (cached per worker via the
    module-level ``_token_cache``; the token vocabulary is small relative
    to token count), the per-bit +1/-1 accumulation as one (tokens x 60)
    bitmatrix column-sum per doc.

    Tokenization matches Java's ``\\s+`` EXACTLY via the explicit ASCII
    class [ \\t\\n\\x0b\\f\\r] (Python's \\s is unicode-aware, Java's is
    not by default — an NBSP must not split here because the JVM variant
    does not split on it; pinned by the parity test's edge docs).

    Bit-equality pinned by
    tests/test_operators.py::test_simhash_pandas_matches_expression.
    """
    import re

    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    from hadoop_gpu_spark.utils import ensure_min_partitions

    java_ws = re.compile(r"[ \t\n\x0b\f\r]+")
    shifts = np.arange(BITS, dtype=np.int64)
    masks = np.int64(1) << shifts

    @pandas_udf(LongType())
    def _udf(texts: pd.Series) -> pd.Series:
        h60 = _hash_token60
        out = np.empty(len(texts), dtype=np.int64)
        null = texts.isna().to_numpy()
        for i, t in enumerate(texts):
            if null[i]:
                continue
            toks = [x for x in java_ws.split(t) if x]
            n = len(toks)
            if n == 0:
                out[i] = 0
                continue
            h = np.fromiter((h60(x) for x in toks), dtype=np.int64, count=n)
            ones = ((h[:, None] >> shifts) & 1).sum(axis=0)
            out[i] = masks[2 * ones > n].sum()
        # NULL text has a NULL fingerprint, as in the expression twin
        return pd.Series(pd.arrays.IntegerArray(out, null))

    df = ensure_min_partitions(df)
    return df.select(F.col(id_col), _udf(F.col(text_col)).alias("simhash"))


def simhash_near_dups(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3, max_bucket: int = 256
) -> DataFrame:
    """Distinct (a, b, hamming) pairs with hamming(simhash) <= max_hamming.

    The 60-bit signature rides along through the chunk explode and the
    bucket collect (8 bytes per row), so verification is a pure array
    expression over each bucket — signatures are computed ONCE and there
    is no join-back (the join-back form re-evaluated the whole simhash
    fold once per join side; caught by plan audit in round 2).

    Fingerprints come from the Arrow-batched numpy kernel
    (:func:`simhash64_pandas`) — bit-identical to the expression fold
    (parity-tested), the production path since round 5."""
    sig = simhash64_pandas(df, text_col, id_col)
    entries = []
    for c in range(CHUNKS):
        val = F.shiftright(F.col("simhash"), c * CHUNK_BITS).bitwiseAND(
            F.lit((1 << CHUNK_BITS) - 1)
        )
        entries.append(F.struct(F.lit(c).alias("chunk"), val.alias("chunk_val")))
    chunked = sig.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*entries)).alias("__e")
    ).select(id_col, "simhash", F.col("__e.chunk").alias("chunk"), F.col("__e.chunk_val").alias("chunk_val"))
    buckets = chunked.groupBy("chunk", "chunk_val").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("simhash").alias("sh")))
        ).alias("items")
    )
    bounded = buckets.filter((F.size("items") >= 2) & (F.size("items") <= max_bucket))
    pairs = bounded.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("items"),
                    lambda x, i: F.transform(
                        F.slice(F.col("items"), i + 2, F.size(F.col("items"))),
                        lambda y: F.struct(
                            x["id"].alias("a"),
                            y["id"].alias("b"),
                            x["sh"].alias("sa"),
                            y["sh"].alias("sb"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.a", "p.b", "p.sa", "p.sb").distinct()
    verified = pairs.withColumn(
        "hamming", F.bit_count(F.expr("sa ^ sb")).cast("long")
    ).filter(F.col("hamming") <= max_hamming)
    return verified.select("a", "b", "hamming")
