"""Winnowing (MOSS) fingerprints — vectorized fast path.

The gate query ``q_winnow_fingerprint`` was the bench cost hotspot
(~3.5 s at sf0.1): char-5-gram md5 hashes plus a sliding-window minimum,
all as interpreted higher-order-function lambdas (Catalyst evaluates HOF
lambda bodies per element outside codegen). This module computes the same
fingerprint set per document inside one Arrow-batched pandas UDF:

- shingle hashes via hashlib.md5 with a worker-global distinct-shingle
  cache (natural-language 5-gram vocabulary is tiny relative to total
  shingle count, so ~95% of md5 calls collapse into dict hits);
- the w=4 sliding minimum via three numpy ``minimum`` passes (the same
  O(n log w) shifted-min recurrence the expression variant uses);
- distinct via ``np.unique``.

Bit-identical to ``dedup.minhash._shingle_hashes`` + the expression
sliding-min in ``queries.q_winnow_fingerprint`` — pinned by
``tests/test_operators.py::test_winnow_pandas_matches_expression`` over
the full sf0.001 corpus plus adversarial short/empty strings, which is
what licenses gating the pandas path against the same DuckDB oracle.

100 TB shape: unchanged — narrow per-document pipeline, zero shuffle,
embarrassingly parallel; only the per-row compute engine moved from
interpreted HOFs to Arrow-batched numpy.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from hadoop_gpu_spark.dedup.minhash import SHINGLE_K

# Worker-global distinct-shingle hash cache. Bounded: natural-language
# 5-gram vocabularies saturate in the low hundreds of thousands; the cap
# only matters for adversarial high-entropy corpora (cache resets, stays
# correct — values are pure functions of the key).
_CACHE_MAX = 1 << 20
_shingle_cache: dict[str, int] = {}


def _hash_shingle(s: str) -> int:
    """Portable u32: ('0x' || substr(md5(utf8(s)), 1, 8))::BIGINT —
    byte-identical to minhash._shingle_hashes / _sql_shingle_hashes."""
    global _shingle_cache
    v = _shingle_cache.get(s)
    if v is None:
        v = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)
        if len(_shingle_cache) >= _CACHE_MAX:
            _shingle_cache = {}
        _shingle_cache[s] = v
    return v


def _winnow_one(text: str, k: int, w: int):
    import numpy as np

    # Mirrors the expression variant exactly, including degenerate docs:
    # length < k yields ONE truncated shingle; fewer hashes than the
    # window width yields one fingerprint = min over all hashes.
    n = max(len(text) - k + 1, 1)
    h = np.fromiter(
        (_hash_shingle(text[i : i + k]) for i in range(n)), dtype=np.int64, count=n
    )
    if n >= w:
        m = np.minimum(
            np.minimum(h[: n - 3], h[1 : n - 2]),
            np.minimum(h[2 : n - 1], h[3:n]),
        )
    else:
        m = np.min(h, keepdims=True)
    return np.unique(m)


def winnow_fingerprints_pandas(
    text: Column | str, k: int = SHINGLE_K, w: int = 4
) -> Column:
    """array<long> of distinct winnow fingerprints per document —
    the vectorized twin of the expression pipeline in
    ``queries.q_winnow_fingerprint``."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(ArrayType(LongType()))
    def _udf(texts: pd.Series) -> pd.Series:
        # NULL text: the expression twin's one NULL shingle hash, [NULL]
        return texts.map(lambda t: [None] if t is None else _winnow_one(t, k, w))

    c = F.col(text) if isinstance(text, str) else text
    return _udf(c)
