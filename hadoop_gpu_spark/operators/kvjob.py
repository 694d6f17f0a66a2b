"""KVJob — the MapReduce dataflow contract as a thin Spark compat layer.

Reproduces the reference's job model (SURVEY.md §3.2): a job is
map → partition → sort → combine → shuffle → merge → group → reduce over
(key, value) records (``M/Mapper.java:133``, ``M/Reducer.java:166``,
``M/Partitioner.java:35``, grouping comparator ``M/ReduceTask.java:405``).

This is a COMPAT layer: new code should use DataFrame ops directly (every
shipped reference operator has a native equivalent in operators/*). KVJob
exists so workloads written against the reference contract (pipes/streaming
binaries, per-group iterative jobs) can run unchanged in semantics:

- ``map_fn``: record → iterable of (k, v)  — 0..n outputs (UDTF-like).
- ``combine_fn``/``reduce_fn``: (k, [v...]) → iterable of (k2, v2), with
  values arriving in secondary-sort order when ``value_sort=True``
  (JobConf.getOutputValueGroupingComparator semantics).

Execution shape: mapInPandas (Arrow-batched) for map;
``repartition(key).sortWithinPartitions`` + per-partition group streaming
for the shuffle/sort/group phases — i.e. Spark's shuffle IS the
sort-merge; no extra pass. Combine runs map-side per partition before the
shuffle (the reference's spill combiner, M/MapTask.java:1224-1251).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

KV = tuple[Any, Any]


def _group_stream(rows: Iterable[KV], fn: Callable[[Any, Iterator[Any]], Iterable[KV]]) -> Iterator[KV]:
    """Stream key-grouped rows (already sorted by key) through a reducer."""
    cur_key, cur_vals = object(), None
    for k, v in rows:
        if cur_vals is None or k != cur_key:
            if cur_vals is not None:
                yield from fn(cur_key, iter(cur_vals))
            cur_key, cur_vals = k, [v]
        else:
            cur_vals.append(v)
    if cur_vals is not None:
        yield from fn(cur_key, iter(cur_vals))


def kv_job(
    df: DataFrame,
    map_fn: Callable[[Any], Iterable[KV]] | None = None,
    reduce_fn: Callable[[Any, Iterator[Any]], Iterable[KV]] | None = None,
    combine_fn: Callable[[Any, Iterator[Any]], Iterable[KV]] | None = None,
    key_type: str = "string",
    value_type: str = "string",
    out_key_type: str = "string",
    out_value_type: str = "string",
    num_partitions: int | None = None,
    value_sort: bool = False,
    skip_bad_records: bool = False,
    partition_expr=None,
    map_fn_pandas: Callable[[pd.DataFrame], pd.DataFrame] | None = None,
    combine_fn_pandas: Callable[[pd.DataFrame], pd.DataFrame] | None = None,
    reduce_fn_pandas: Callable[[pd.DataFrame], pd.DataFrame] | None = None,
) -> DataFrame:
    """Run a full MR-contract job over ``df``'s rows. Returns (key, value).

    ``map_fn`` receives each input Row; emit (k, v) pairs. The combiner, if
    given, runs on map-side sorted runs (exactly the reference's spill
    combine). Values reach ``reduce_fn`` sorted when ``value_sort`` — the
    secondary-sort contract (M/JobConf.java:717-728).

    ``skip_bad_records`` is the reference's skip mode (M/SkipBadRecords.java:51):
    records whose map_fn raises are dropped and counted (accumulator
    ``kvjob.skipped``) instead of failing the job. The reference narrows
    bad ranges by binary-search re-execution; per-record granularity here
    is strictly finer.

    ``partition_expr`` is the custom Partitioner hook
    (M/Partitioner.java:35 getPartition(k, v, n)): a Column over (k, v)
    whose hash decides the shuffle target — e.g.
    ``F.substring(F.col("k"), 1, 1)`` reproduces a first-letter
    partitioner. Default: hash of k (M/lib/HashPartitioner.java:29-34).

    **Vectorized fast path** (reference analog: ``M/MapRunner.java`` vs
    ``MultithreadedMapRunner`` — same contract, faster runner): pass
    ``map_fn_pandas`` (whole Arrow batch in, (k, v) frame out — 0..n rows
    per input row via explode-style ops) instead of ``map_fn``, and
    optionally ``combine_fn_pandas`` / ``reduce_fn_pandas`` (key-sorted
    (k, v) frame in — every k group complete — reduced frame out, e.g.
    ``pdf.groupby("k", sort=False).sum()``). Each phase picks its pandas
    variant when given, so tokenize/project/aggregate workloads run
    whole-batch in Arrow instead of row-at-a-time Python (~10-100x).
    ``skip_bad_records`` applies only to the per-record path — a batch
    function is all-or-nothing by construction.
    """
    kv_schema = f"k {key_type}, v {value_type}"
    if (map_fn is None) == (map_fn_pandas is None):
        raise ValueError("exactly one of map_fn / map_fn_pandas required")
    if (reduce_fn is None) == (reduce_fn_pandas is None):
        raise ValueError("exactly one of reduce_fn / reduce_fn_pandas required")
    skipped_acc = (
        df.sparkSession.sparkContext.accumulator(0) if skip_bad_records else None
    )

    def run_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if map_fn_pandas is not None:
                out = map_fn_pandas(pdf)
                yield out if len(out) else pd.DataFrame({"k": [], "v": []})
                continue
            out_k, out_v = [], []
            for row in pdf.itertuples(index=False):
                try:
                    for k, v in map_fn(row):
                        out_k.append(k)
                        out_v.append(v)
                except Exception:
                    if skipped_acc is None:
                        raise
                    skipped_acc.add(1)
            yield pd.DataFrame({"k": out_k, "v": out_v})

    mapped = df.mapInPandas(run_map, schema=kv_schema)

    if combine_fn is not None or combine_fn_pandas is not None:
        def run_combine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                pdf = pdf.sort_values(["k", "v"] if value_sort else ["k"], kind="mergesort")
                if combine_fn_pandas is not None:
                    out = combine_fn_pandas(pdf)
                    yield out if len(out) else pd.DataFrame({"k": [], "v": []})
                    continue
                rows = zip(pdf["k"], pdf["v"])
                out = list(_group_stream(rows, combine_fn))
                yield pd.DataFrame(out, columns=["k", "v"]) if out else pd.DataFrame({"k": [], "v": []})

        mapped = mapped.mapInPandas(run_combine, schema=kv_schema)

    n_parts = num_partitions or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    shuffled = mapped.repartition(n_parts, partition_expr if partition_expr is not None else F.col("k"))
    sort_cols = ["k", "v"] if value_sort else ["k"]
    sorted_parts = shuffled.sortWithinPartitions(*sort_cols)

    out_schema = f"k {out_key_type}, v {out_value_type}"

    def run_reduce_pandas(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Batches arrive key-sorted within the partition, but the last key
        # of a batch may continue into the next — hold that group back and
        # prepend it, so reduce_fn_pandas always sees complete key groups.
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            tail_mask = pdf["k"] == pdf["k"].iloc[-1]
            carry = pdf[tail_mask]
            body = pdf[~tail_mask]
            if len(body):
                yield reduce_fn_pandas(body)
        if carry is not None and len(carry):
            yield reduce_fn_pandas(carry)

    def run_reduce(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Batches within a partition arrive in sorted order, but a key group
        # can span batch boundaries — carry the tail group across batches.
        pending_k, pending_v = object(), []
        have = False
        for pdf in batches:
            for k, v in zip(pdf["k"], pdf["v"]):
                if not have or k != pending_k:
                    if have:
                        out = list(reduce_fn(pending_k, iter(pending_v)))
                        if out:
                            yield pd.DataFrame(out, columns=["k", "v"])
                    pending_k, pending_v, have = k, [v], True
                else:
                    pending_v.append(v)
        if have:
            out = list(reduce_fn(pending_k, iter(pending_v)))
            if out:
                yield pd.DataFrame(out, columns=["k", "v"])

    return sorted_parts.mapInPandas(
        run_reduce_pandas if reduce_fn_pandas is not None else run_reduce,
        schema=out_schema,
    )


def wordcount_kvjob_pandas(df: DataFrame, text_col: str) -> DataFrame:
    """WordCount through the vectorized kv_job contract: whole-batch
    tokenize (str.split + explode) for map, groupby-sum for combine and
    reduce — same (k, v) output as :func:`wordcount_kvjob`, Arrow-speed."""

    def map_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        toks = pdf[text_col].astype(str).str.split().explode()
        toks = toks[toks.notna() & (toks != "")]
        return pd.DataFrame({"k": toks.to_numpy(), "v": 1}).astype({"v": "int64"})

    def sum_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.groupby("k", sort=False, as_index=False)["v"].sum()

    return kv_job(
        df,
        map_fn_pandas=map_batch,
        combine_fn_pandas=sum_batch,
        reduce_fn_pandas=sum_batch,
        key_type="string",
        value_type="long",
        out_key_type="string",
        out_value_type="long",
    )


def wordcount_kvjob(df: DataFrame, text_col: str) -> DataFrame:
    """The reference's WordCount (X/WordCount.java) through the full
    map/combine/shuffle/reduce contract — the compat layer's smoke test."""
    col_idx = df.columns.index(text_col)

    def mapper(row) -> Iterable[KV]:
        for tok in str(row[col_idx]).split():
            if tok:
                yield tok, 1

    def summer(k, vals) -> Iterable[KV]:
        yield k, sum(vals)

    return kv_job(
        df,
        map_fn=mapper,
        reduce_fn=summer,
        combine_fn=summer,
        key_type="string",
        value_type="long",
        out_key_type="string",
        out_value_type="long",
    )
