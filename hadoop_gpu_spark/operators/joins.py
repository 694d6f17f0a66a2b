"""Join operators.

Reference surface (SURVEY.md §2.3):
- map-side sort-merge join expression language ``inner(...)``, ``outer(...)``,
  ``override(...)`` over identically-partitioned sorted sources
  (``M/join/CompositeInputFormat.java:48``, ``M/join/Parser.java:64``,
  ``M/join/OverrideRecordReader.java:36``);
- reduce-side tagged join (``DJ/DataJoinReducerBase.java:92-214``) — per-key
  cross product of sources = plain relational join;
- broadcast idiom via DistributedCache (``C/filecache/DistributedCache.java:115``).

Spark-first restatement: ``df.join`` with Catalyst choosing broadcast /
shuffle-hash / sort-merge; ``override`` is a full-outer join + rightmost-wins
coalesce. Semi/anti/as-of/range joins are beyond the reference surface but
first-class here.

Scale notes:
- ``broadcast_join`` pins the small side below the driver; use for dims
  (region/nation/supplier at any SF, part/customer at small SF).
- Equi-joins shuffle both sides on the key — at 100 TB pre-bucket fact
  tables on the join key (``bucketBy``, as q_bucketed_ctas does) to get
  zero-shuffle SMJ.
- AQE (enabled in session.py) converts to broadcast at runtime when a side
  turns out small, and splits skewed partitions.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def semi_join(left: DataFrame, right: DataFrame, on: list[str] | str) -> DataFrame:
    """Beyond-reference (SURVEY.md §2.3 'not implemented')."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: list[str] | str) -> DataFrame:
    """Beyond-reference (SURVEY.md §2.3 'not implemented')."""
    return left.join(right, on=on, how="left_anti")


def broadcast_join(
    big: DataFrame, small: DataFrame, on: list[str] | str, how: str = "inner"
) -> DataFrame:
    """DistributedCache small-table idiom → explicit broadcast hash join.

    Reference mechanism: C/filecache/DistributedCache.java:115 (side table
    shipped to every task, hash-probed inside map()).
    """
    return big.join(F.broadcast(small), on=on, how=how)


def override_join(sources: list[DataFrame], on: list[str] | str) -> DataFrame:
    """``override(s1, ..., sn)`` — rightmost source's value wins per key.

    Reference: M/join/OverrideRecordReader.java:36 and
    M/join/package.html:61 ("the rightmost non-null element wins" —
    priority-union / coalescing overlay).

    Implementation: iterated full-outer join on the key; for every non-key
    column present in multiple sources, take ``coalesce(later, earlier)``.
    All sources must share the key columns; value columns are aligned by
    name. Single shuffle per join on the key; at scale, pre-bucket all
    sources on the key for a shuffle-free plan.
    """
    keys = [on] if isinstance(on, str) else list(on)

    def merge(acc: DataFrame, nxt: DataFrame) -> DataFrame:
        acc_vals = [c for c in acc.columns if c not in keys]
        nxt_vals = [c for c in nxt.columns if c not in keys]
        a = acc.select(*keys, *[F.col(c).alias(f"__l_{c}") for c in acc_vals])
        b = nxt.select(*keys, *[F.col(c).alias(f"__r_{c}") for c in nxt_vals])
        j = a.join(b, on=keys, how="full_outer")
        out_cols: list[Column] = [F.col(k) for k in keys]
        for c in dict.fromkeys(acc_vals + nxt_vals):  # preserve order, dedup
            l, r = f"__l_{c}", f"__r_{c}"
            if c in acc_vals and c in nxt_vals:
                out_cols.append(F.coalesce(F.col(r), F.col(l)).alias(c))
            elif c in nxt_vals:
                out_cols.append(F.col(r).alias(c))
            else:
                out_cols.append(F.col(l).alias(c))
        return j.select(*out_cols)

    return reduce(merge, sources)


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_point: str,
    right_lo: str,
    right_hi: str,
    extra: Column | None = None,
) -> DataFrame:
    """Point-in-interval join (beyond-reference). ``left.point ∈ [lo, hi)``.

    At scale, Spark would nested-loop this; callers should bucket both sides
    by a coarse range key first (see similarity.ann for the pattern).
    """
    cond = (F.col(left_point) >= F.col(right_lo)) & (F.col(left_point) < F.col(right_hi))
    if extra is not None:
        cond = cond & extra
    return left.join(right, on=cond)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: list[str] | None = None,
    right_cols: list[str] | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join (beyond-reference): for each left row, the latest right row
    with ``right.on <= left.on`` (direction='backward') or the earliest
    right row with ``right.on >= left.on`` (direction='forward'),
    optionally within ``by`` equality groups.

    Shuffle-based formulation (no driver loop, scales): tag both sides,
    union, then ONE window ``last/first(struct(right_cols),
    ignorenulls=True)`` ordered by the as-of key within each ``by`` group —
    one shuffle on (by, on), no cross product. The fill columns are packed
    into a single struct BEFORE the window so every filled column comes
    from the SAME right row: a right row carrying NULL in one fill column
    is still taken wholesale (its struct is non-null), never mixed with
    another row's value for that column. Both directions match DuckDB's
    ASOF JOIN semantics (``l.on >= r.on`` / ``l.on <= r.on``; lossy: left
    rows with no matching right row keep NULL in every fill column; a
    right row at exactly ``on`` matches in both directions).

    NULL keys follow the strict inequality reading (r12 fix): NULL
    matches NOTHING — ``l.on >= r.on`` and the ``by`` equality are never
    true for a NULL operand, exactly as a plain SQL inequality join
    evaluates them. Spark windows sort NULLS FIRST, so NULL-keyed right
    rows would otherwise sit at the front of the frame and get taken by
    ``last()``; they are filtered before the union. A left row with NULL
    ``on`` keeps NULL in every fill column; its fill is forced NULL at
    the window expression (a ``when`` guard — not a second left-scan
    branch). Note DuckDB 1.0's NATIVE ``ASOF JOIN`` is internally
    inconsistent here (backward treats NULL as the largest key and
    matches NULL-to-NULL; forward matches nothing) — the differential
    fuzz therefore oracles NULL-key rows against the inequality
    semantics, not the quirk.

    Scale caveat: with ``by=[]`` the window is global (single partition) —
    fine for small lookup tables (MapFile.getClosest); for large un-keyed
    as-ofs, range-partition on ``on`` and run per-partition with boundary
    rows replicated.
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    by = by or []
    right_cols = right_cols or [c for c in right.columns if c != on and c not in by]

    from pyspark.sql.window import Window

    l = left.withColumn("__side", F.lit(1))
    # NULL-keyed right rows can never match under inequality/equality
    # semantics — drop them before the union or NULLS-FIRST ordering
    # hands them to last()/first().
    r_clean = right.filter(F.col(on).isNotNull())
    for b in by:
        r_clean = r_clean.filter(F.col(b).isNotNull())
    r = r_clean.select(
        *by, on, F.struct(*[F.col(c).alias(c) for c in right_cols]).alias("__r")
    ).withColumn("__side", F.lit(0))
    # struct(...) is non-null even when every field is null, so a right row
    # whose fill columns are all NULL still wins the last()/first() below.
    l_aligned = l.withColumn("__r", F.lit(None).cast(r.schema["__r"].dataType))
    u = l_aligned.unionByName(r, allowMissingColumns=True)
    base = Window.partitionBy(*by)
    if direction == "backward":
        # Right rows sort before left rows at the same key (side 0 < 1), so
        # a right row at exactly t matches a left row at t.
        w = base.orderBy(F.col(on).asc(), F.col("__side").asc()).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        fill = F.last("__r", ignorenulls=True)
    else:
        # Mirror image: right rows sort AFTER left rows at the same key
        # (side desc: 1 before 0), so the frame [current, following) from a
        # left row still contains a right row at exactly t, and first()
        # picks the earliest right at-or-after it.
        w = base.orderBy(F.col(on).asc(), F.col("__side").desc()).rowsBetween(
            Window.currentRow, Window.unboundedFollowing
        )
        fill = F.first("__r", ignorenulls=True)
    # Left rows with NULL `on` match nothing (DuckDB: NULL fails every
    # inequality); forcing their fill NULL here covers the forward
    # direction, where NULLS FIRST would otherwise put a real right row
    # inside their [current, following] frame.
    filled = u.withColumn(
        "__r",
        F.when(
            F.col(on).isNull(), F.lit(None).cast(r.schema["__r"].dataType)
        ).otherwise(fill.over(w)),
    )
    out = filled.filter(F.col("__side") == 1).drop("__side")
    for c in right_cols:
        out = out.withColumn(c, F.col("__r").getField(c))
    return out.drop("__r")


def cogroup_tagged_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    fn=None,
    schema: str | None = None,
) -> DataFrame:
    """The reference's reduce-side tagged join in literal form.

    DataJoinReducerBase regroups per key by source tag and emits the
    cross-product of tag groups (DJ/DataJoinReducerBase.java:174-214).
    Spark's native equivalent is ``groupBy().cogroup().applyInPandas``:
    ``fn(left_pdf, right_pdf) -> pdf`` sees both sides' whole key-groups —
    the general hook for custom combine logic the reference exposed via
    ``collect()`` overrides. Default fn = inner cross-product per key
    (requires ``schema`` covering left+right non-key columns).
    """
    import pandas as pd

    if fn is None:
        l_cols = [c for c in left.columns]
        r_cols = [c for c in right.columns if c != on]
        schema = schema or ", ".join(
            f"{c} {t}" for c, t in
            [(f.name, f.dataType.simpleString()) for f in left.schema]
            + [(f.name, f.dataType.simpleString()) for f in right.schema if f.name != on]
        )

        def fn(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
            if l.empty or r.empty:
                return pd.DataFrame(columns=l_cols + r_cols)
            return l.merge(r.drop(columns=[on]), how="cross")

    return left.groupby(on).cogroup(right.groupby(on)).applyInPandas(fn, schema=schema)
