"""Deterministic, engine-portable hashing expressions.

All hashes are built from md5 so that the exact same value is computable in
any engine (the DuckDB oracle uses ``('0x' || substr(md5(x), 1, n))::BIGINT``)
— unlike Spark's murmur3 ``hash()`` or DuckDB's ``hash()``, which differ.
These power the reference's hash-based operators:

- ``SequenceFileInputFilter.MD5Filter`` (1-in-f MD5-bucket sampling),
  reference ``M/SequenceFileInputFilter.java:195``.
- ``SequenceFileInputFilter.PercentFilter`` (1-in-f key-hash sampling),
  reference ``M/SequenceFileInputFilter.java:146``.
- ``MD5Hash`` writable (``C/io/MD5Hash.java``).
- MinHash/SimHash document fingerprints (beyond-reference, LLM-pipeline).

Everything here is a pure Column expression — JVM-side, codegen-friendly,
no Python round-trip, safe at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_string(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("string")


def md5_hex(col: Column | str) -> Column:
    """Full 32-hex-char md5 of the value's string form."""
    return F.md5(F.encode(_as_string(col), "UTF-8"))


def hash_u32(col: Column | str, seed: int = 0) -> Column:
    """Deterministic 32-bit unsigned hash as a BIGINT in [0, 2^32).

    Oracle SQL equivalent:
    ``('0x' || substr(md5(x || ':<seed>'), 1, 8))::BIGINT``.
    """
    s = _as_string(col)
    if seed:
        s = F.concat(s, F.lit(f":{seed}"))
    return F.conv(F.substring(F.md5(F.encode(s, "UTF-8")), 1, 8), 16, 10).cast("long")


def hash_u32_sql(expr: str, seed: int = 0) -> str:
    """DuckDB oracle expression matching :func:`hash_u32`."""
    s = f"CAST({expr} AS VARCHAR)"
    if seed:
        s = f"({s} || ':{seed}')"
    return f"('0x' || substr(md5({s}), 1, 8))::BIGINT"


def bucket(col: Column | str, n: int, seed: int = 0) -> Column:
    """Deterministic bucket id in [0, n) — the reference's hash-partitioner
    contract (``M/lib/HashPartitioner.java:29-34``) in portable form."""
    return hash_u32(col, seed) % F.lit(n)


def bucket_sql(expr: str, n: int, seed: int = 0) -> str:
    return f"({hash_u32_sql(expr, seed)} % {n})"
