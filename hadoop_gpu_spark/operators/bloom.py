"""From-scratch distributed Bloom filter (build + membership prefilter).

Reference analog: ``M/io/BloomMapFile.java`` applies a Bloom filter to
key lookups in a MapFile; here the same structure becomes a JOIN
PREFILTER — the shape that matters at 100 TB: build a compact bitset
over the small/trusted side's keys, broadcast it, and drop big-side rows
BEFORE they reach the shuffle. False positives are later removed by an
exact verify join, so composed pipelines (``decontaminate`` gate) remain
EXACT while the shuffle only carries bloom-positive rows; false
negatives cannot occur, so nothing is ever lost.

Scale design:

- Bit positions are computed JVM-side (``xxhash64`` with k different
  seed literals + ``pmod``) — the Python kernels only look bits up, so
  build and probe agree on hashes by construction.
- Build is the treeAggregate shape: each partition folds its rows into a
  LOCAL m-bit bitset via ``mapInPandas`` (one m/8-byte row out per
  partition), the driver ORs the partials — the data never shuffles and
  driver traffic is partitions x m/8 bytes, independent of row count.
- Probe is an Arrow-batched pandas UDF reading the bitset from a real
  SparkContext broadcast (shipped once per executor, not per task);
  membership is vectorized numpy over (N, k) positions.
- Sizing rule: false-positive rate ~ (1 - e^(-kn/m))^k; an overloaded
  bloom degrades to pass-through (prunes nothing) but never to
  incorrectness — size m at ~10 bits per expected distinct key.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd  # module-level: pandas_udf type hints resolve against module globals

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hadoop_gpu_spark.session import engine_state


def _bloom_broadcast(session, bloom: bytes):
    """One broadcast per distinct bitset per session, not per call:
    a bitset is multi-hundred-MB at scale, and repeated query
    construction would otherwise pile up broadcast storage on the
    driver and every executor. ``hadoop_gpu_spark.session.release``
    destroys them."""
    broadcasts = engine_state(session).broadcasts
    key = hashlib.md5(bloom).hexdigest()
    if key not in broadcasts:
        broadcasts[key] = session.sparkContext.broadcast(bloom)
    return broadcasts[key]


def bloom_positions(col: Column, m_bits: int, k: int) -> Column:
    """The k bit positions for a value: ``pmod(xxhash64(seed_i, col), m)``
    — JVM expressions, so build and probe can never disagree."""
    return F.array(
        *[F.pmod(F.xxhash64(F.lit(i), col), F.lit(m_bits)) for i in range(k)]
    )


def build_bloom(
    df: DataFrame,
    col: str,
    m_bits: int = 1 << 20,
    k: int = 4,
    merge_fanin: int = 64,
) -> bytes:
    """Fold a column into an m-bit Bloom bitset (returned as bytes).

    One narrow pass: per-partition local bitsets (mapInPandas), then a
    TREE of OR-merge stages so the driver never receives more than
    ``merge_fanin`` partials. m_bits must be a multiple of 8.

    The tree matters at cluster scale: a flat collect receives one
    m/8-byte partial PER INPUT PARTITION — at 10k scan partitions and a
    production-sized bitset (100M+ bits = 12.5 MB) that is 100+ GB of
    driver traffic, a driver OOM disguised as a collect. Each merge
    stage ORs up to ``merge_fanin`` partials per task (round-robin
    repartition of the tiny partial rows), so driver traffic is capped
    at merge_fanin x m/8 bytes regardless of input partitioning, and the
    merge work itself stays on the executors (the treeAggregate shape).
    OR is associative/commutative, so the result is bit-identical to the
    flat fold for ANY tree shape (pinned by
    tests/test_pending_gates.py::test_bloom_tree_merge_is_bit_identical).
    """
    assert m_bits % 8 == 0
    assert merge_fanin >= 2
    nbytes = m_bits // 8
    parts = df.select(bloom_positions(F.col(col), m_bits, k).alias("pos"))

    def fold(batches):
        bits = np.zeros(nbytes, dtype=np.uint8)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            seen = True
            p = np.concatenate([np.asarray(v, dtype=np.int64) for v in pdf["pos"]])
            # |= with repeated byte indices needs unbuffered accumulation
            np.bitwise_or.at(bits, p >> 3, (1 << (p & 7)).astype(np.uint8))
        if seen:
            yield pd.DataFrame({"b": [bits.tobytes()]})

    def fold_partials(batches):
        bits = np.zeros(nbytes, dtype=np.uint8)
        seen = False
        for pdf in batches:
            for b in pdf["b"]:
                seen = True
                bits |= np.frombuffer(b, dtype=np.uint8)
        if seen:
            yield pd.DataFrame({"b": [bits.tobytes()]})

    partials = parts.mapInPandas(fold, "b binary")
    # <= one partial row per input partition (statically known upper
    # bound — no count() action needed to plan the tree). Width comes
    # from the PARTIALS frame, not the caller's df (r07 ADVICE): parts →
    # partials is map-only over the scan (no query stages), so .rdd here
    # cannot force AQE stage finalization the way .rdd on the caller's
    # possibly-adaptive frame could, and the bound tracks the frame the
    # tree actually merges.
    width = partials.rdd.getNumPartitions()
    while width > merge_fanin:
        width = -(-width // merge_fanin)  # ceil division
        partials = partials.repartition(width).mapInPandas(fold_partials, "b binary")

    out = np.zeros(nbytes, dtype=np.uint8)
    for row in partials.collect():
        out |= np.frombuffer(row["b"], dtype=np.uint8)
    return out.tobytes()


def bloom_might_contain(bloom: bytes, col: Column, m_bits: int, k: int) -> Column:
    """Boolean membership column: True if every one of the value's k bits
    is set (i.e. possibly in the set; False means DEFINITELY absent).

    The bitset rides as a SparkContext broadcast, NOT a task closure:
    under the module's sizing rule (~10 bits per distinct key) a large
    key set yields a multi-hundred-MB bitset, and a closure ships with
    EVERY task while a broadcast ships once per executor (torrent
    protocol). Broadcasts are memoized per distinct bitset (see
    _bloom_broadcast) so repeated query construction reuses one handle;
    ``hadoop_gpu_spark.session.release`` frees them. Falls back to closure
    capture only when no session is active (plain-column unit-test
    contexts).
    """
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    bc = _bloom_broadcast(session, bloom) if session is not None else None
    raw = None if bc is not None else bloom

    @F.pandas_udf("boolean")
    def contains(pos: pd.Series) -> pd.Series:
        bits = np.frombuffer(bc.value if bc is not None else raw, dtype=np.uint8)
        if not len(pos):
            return pd.Series([], dtype=bool)
        P = np.stack([np.asarray(v, dtype=np.int64) for v in pos])
        byte = bits[P >> 3]
        mask = (1 << (P & 7)).astype(np.uint8)
        return pd.Series(((byte & mask) == mask).all(axis=1))

    return contains(bloom_positions(col, m_bits, k))


def bloom_prefiltered_semi_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """EXACT semi join with a Bloom prefilter on the big side: rows whose
    key is definitely absent from ``small`` never reach the shuffle; the
    surviving candidates (true matches + bloom false positives) go
    through a normal semi join that removes the false positives."""
    bloom = build_bloom(small.select(on), on, m_bits, k)
    cand = big.filter(bloom_might_contain(bloom, F.col(on), m_bits, k))
    return cand.join(small.select(on).distinct(), on, "left_semi")
