"""Deterministic HyperLogLog cardinality sketch (engine-exact).

The cardinality member of the mergeable-sketch family this engine ships
for 100 TB corpora — distribution (``operators/quantiles.py``),
frequency (``operators/cms.py``), and now COUNT(DISTINCT): per-group
distinct-count estimates in ``|groups| * m`` register rows of state, one
corpus pass, merge = per-register MAX (commutative + associative +
idempotent — shards, day-over-day increments, and stream micro-batches
combine exactly, and re-merging the same shard twice is harmless, which
count-sum sketches cannot promise). Reference analog: the
UniqValueCount distinct-counter (M/lib/aggregate/UniqValueCount.java:35,
whose state grows with the number of distinct values) re-expressed in
fixed space; the estimator is Flajolet et al. 2007 (HyperLogLog) with
stochastic averaging over an independent bucket hash.

Everything is engine-exact, so the DuckDB oracle compares VALUES — both
the register table and the estimate itself — with zero tolerance bands:

- bucket  = ``hash_u32(v, seed=1) % m``      (md5 — bit-identical in
  Spark, DuckDB, and hashlib; ``m = 2**p`` registers),
- rank    = leading zeros of the independent 32-bit hash
  ``hash_u32(v, seed=2)`` plus one, computed as the INTEGER expression
  ``33 - length(bin(w))`` (both engines' ``bin()`` emit minimal binary
  strings; ``w = 0`` is the explicit 33 arm) — no floats anywhere,
- register table = ``max(rank)`` per (group, bucket) — the sketch,
- harmonic sum scaled to the integer lattice: ``sum(2^-rank)`` over all
  ``m`` registers times ``2^33`` is ``SUM(shiftleft(1, 33 - rank)) +
  v_zero * 2^33`` — an exact BIGINT (≤ ``m * 2^33 = 2^43`` at p=10), so
  the raw estimate is ONE IEEE division of two exactly-representable
  integers (< 2^53): correctly rounded, hence bit-identical across
  engines, with no ``round(double, d)`` call (whose tie semantics
  diverge between engines — see
  tests/test_differential_fuzz.py::test_known_engine_divergent_numeric_behaviors),
- the small-range (linear-counting) branch fires on the exact integer
  predicate ``2 * NUM <= 5 * m * scaled_sum`` (⇔ E_raw ≤ 2.5m) when
  ``v_zero > 0`` and estimates ``m * round(ln(m / v_zero), 9)``: the
  round-at-9 ln discipline is the BM25 idf precedent, and here the
  entire input domain is the ≤ ``m`` integers ``v_zero ∈ [1, m]``, so a
  test verifies Spark/DuckDB parity EXHAUSTIVELY rather than
  probabilistically; the final ``* m`` is a power-of-two scale — exact
  in IEEE, no rounding step at all.

Error: standard error ≈ 1.04/sqrt(m) (~3.25% at p=10) in the raw
regime; the LC branch is the standard bias correction below 2.5m. The
32-bit hash caps usable cardinality around a few hundred million per
group — beyond that, raise the hash width (the reference pipeline's
exact ``UniqValueCount`` dies far earlier). NUM = alpha_m * m^2 * 2^33
is precomputed in Python, rounded to an exact integer literal, and
embedded identically in both engines, so the constant cannot drift
between the Spark plan and the oracle.

100 TB shape: the value column never shuffles — the scan derives
(group, bucket, rank) and the partial aggregate combines map-side, so
at most ``|groups| * m`` register rows cross the one exchange
regardless of corpus size (plan-pinned by test).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hadoop_gpu_spark.functions.hashing import hash_u32, hash_u32_sql

# rank ∈ [1, 33] for a 32-bit hash; harmonic terms scale by 2^_RANK_MAX.
_RANK_MAX = 33


def _check_p(p: int) -> int:
    # Upper bound 10, not 16 (r09 ADVICE medium): the exact-IEEE-division
    # contract needs NUM = alpha_m * m^2 * 2^33 < 2^53 (p=11 already gives
    # ~2.6e16 > 2^53), and the LC predicate's 5 * m * scaled_sum must stay
    # inside BIGINT. The 2^33 lattice CANNOT be rescaled down for larger
    # p: harmonic terms are 2^(scale - rank) with rank up to 33, so any
    # scale < 33 makes them fractional and the exactness argument dies.
    # ~3.25% standard error at p=10 is the design point; callers needing
    # better precision at >2^53 lattices need a wider-than-double proof.
    if not (4 <= p <= 10):
        raise ValueError("p must be in [4, 10] (2^33 lattice exactness bound)")
    return 1 << p


def hll_num(p: int) -> int:
    """``round(alpha_m * m^2 * 2^33)`` as the exact integer estimator
    constant shared verbatim by the Spark plan and the SQL twin."""
    m = _check_p(p)
    alpha = 0.7213 / (1.0 + 1.079 / m)
    num = round(alpha * m * m * float(1 << _RANK_MAX))
    if num >= (1 << 53):  # pragma: no cover - unreachable for p <= 10
        # explicit raise, not assert: the invariant must survive python -O
        raise OverflowError(f"HLL constant {num} not exactly representable")
    return num


def _rank32(w: Column) -> Column:
    """Leading zeros of the 32-bit value ``w`` plus one — pure integer
    expression: ``bin()`` emits the minimal binary string in BOTH
    engines, so ``33 - length(bin(w))`` is the rank for w > 0."""
    return (
        F.when(w == 0, F.lit(_RANK_MAX))
        .otherwise(F.lit(_RANK_MAX) - F.length(F.bin(w)))
        .cast("long")
    )


def _rank32_sql(expr: str) -> str:
    return (
        f"CASE WHEN {expr} = 0 THEN {_RANK_MAX} "
        f"ELSE {_RANK_MAX} - length(bin({expr})) END"
    )


def hll_registers(
    df: DataFrame,
    col: str,
    group_cols: list[str] | None = None,
    p: int = 10,
) -> DataFrame:
    """Build the register table ``(group..., reg, max_rank)`` — the
    sketch itself: ≤ ``|groups| * m`` rows, one pass, map-side-combined.
    Merge two sketches with :func:`hll_merge` (per-register MAX)."""
    m = _check_p(p)
    gcols = list(group_cols or [])
    # NULL keys would otherwise build a phantom NULL register row
    # (counted by regs_hit, skipped by SUM — the estimate inflates
    # identically in both engines, so the oracle can't catch it; r09
    # ADVICE low). COUNT DISTINCT semantics ignore NULLs anyway.
    return (
        df.filter(F.col(col).isNotNull())
        .select(
            *gcols,
            (hash_u32(col, seed=1) % F.lit(m)).alias("reg"),
            _rank32(hash_u32(col, seed=2)).alias("rank"),
        )
        .groupBy(*gcols, "reg")
        .agg(F.max("rank").alias("max_rank"))
    )


def hll_merge(a: DataFrame, b: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Merge register tables: per-(group, reg) MAX — exact, order- and
    partition-invariant, idempotent (merging a shard twice is a no-op)."""
    gcols = list(group_cols or [])
    return (
        a.unionByName(b)
        .groupBy(*gcols, "reg")
        .agg(F.max("max_rank").alias("max_rank"))
    )


def hll_estimate(
    registers: DataFrame,
    group_cols: list[str] | None = None,
    p: int = 10,
) -> DataFrame:
    """Resolve estimates from a register table:
    ``(group..., regs_hit, v_zero, scaled_sum, est_distinct)``.

    ``scaled_sum`` is the harmonic sum times ``2^33`` — exact BIGINT.
    ``est_distinct`` is the raw HLL estimate ``NUM / scaled_sum`` (one
    IEEE division of exact integers) or, in the small-range regime
    (``v_zero > 0`` and ``2 * NUM <= 5 * m * scaled_sum``), linear
    counting ``m * round(ln(m / v_zero), 9)`` (the * m is a
    power-of-two scale, exact in IEEE)."""
    m = _check_p(p)
    num = hll_num(p)
    gcols = list(group_cols or [])
    # An empty register table (no non-NULL value) sums to NULL; 0 keeps
    # the estimate at 0, as COUNT(DISTINCT) gives.
    agg = registers.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("regs_hit"),
        F.coalesce(
            F.sum(
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), CAST({_RANK_MAX} - max_rank AS INT))"
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("hit_sum"),
    )
    v_zero = (F.lit(m) - F.col("regs_hit")).cast("long")
    scaled_sum = (F.col("hit_sum") + v_zero * F.lit(1 << _RANK_MAX)).cast("long")
    out = agg.select(
        *gcols,
        F.col("regs_hit").cast("long").alias("regs_hit"),
        v_zero.alias("v_zero"),
        scaled_sum.alias("scaled_sum"),
    )
    lc = (F.col("v_zero") > 0) & (
        F.lit(2 * num) <= F.lit(5 * m) * F.col("scaled_sum")
    )
    est = F.when(
        lc,
        F.lit(float(m))
        * F.round(F.log(F.lit(float(m)) / F.col("v_zero").cast("double")), 9),
    ).otherwise(F.lit(float(num)) / F.col("scaled_sum").cast("double"))
    return out.withColumn("est_distinct", est.cast("double"))


def hll_distinct(
    df: DataFrame,
    col: str,
    group_cols: list[str] | None = None,
    p: int = 10,
) -> DataFrame:
    """The composed gate op: register build + estimate resolve in one
    plan — one corpus scan; only register rows shuffle."""
    return hll_estimate(hll_registers(df, col, group_cols, p), group_cols, p)


def hll_distinct_sql(
    table: str,
    col_expr: str,
    group_cols: list[str] | None = None,
    p: int = 10,
) -> str:
    """DuckDB twin of :func:`hll_distinct`: same md5 hashes
    (``hash_u32_sql``), same integer rank/harmonic lattice, same exact
    branch predicate, same single-division / round-ln-at-9 estimate."""
    m = _check_p(p)
    num = hll_num(p)
    gcols = list(group_cols or [])
    gsel = "".join(f"{g}, " for g in gcols)
    gby = f"GROUP BY {', '.join(gcols)}" if gcols else ""
    h1 = hash_u32_sql(col_expr, seed=1)
    h2 = hash_u32_sql(col_expr, seed=2)
    return f"""
    WITH regs AS (
      SELECT {gsel}{h1} % {m} AS reg,
             CAST(MAX({_rank32_sql(h2)}) AS BIGINT) AS max_rank
      FROM {table}
      WHERE ({col_expr}) IS NOT NULL
      GROUP BY {"".join(f"{g}, " for g in gcols)}reg),
    agg AS (
      SELECT {gsel}CAST(COUNT(*) AS BIGINT) AS regs_hit,
             CAST({m} - COUNT(*) AS BIGINT) AS v_zero,
             CAST(COALESCE(SUM((1::BIGINT << ({_RANK_MAX} - max_rank))), 0)
                  + ({m} - COUNT(*)) * ({1 << _RANK_MAX}::BIGINT) AS BIGINT)
               AS scaled_sum
      FROM regs {gby})
    SELECT {gsel}regs_hit, v_zero, scaled_sum,
           CAST(CASE
             WHEN v_zero > 0 AND 2 * {num}::BIGINT <= 5 * {m} * scaled_sum
               THEN {float(m)!r} * round(ln({float(m)!r} / CAST(v_zero AS DOUBLE)), 9)
             ELSE {float(num)!r} / CAST(scaled_sum AS DOUBLE)
           END AS DOUBLE) AS est_distinct
    FROM agg
    """
