"""Structured Streaming operators over the events stream.

The reference is strictly batch (SURVEY.md §2.9 — its "streaming" is
subprocess piping), so everything here is beyond-reference north-star
surface: file-source streams, watermarked tumbling/sliding windows, and a
custom stateful sessionizer via applyInPandasWithState.

Batch/stream parity: ``windowed_counts`` over the stream equals
``q_events_hourly``'s batch answer when the stream is drained with
``Trigger.AvailableNow`` — that equivalence is the test.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (one file = one
    micro-batch backlog; drain with availableNow for batch parity).

    The stream schema is NOT hard-coded: it is probed from the parquet
    footer via a driver-side batch read, then the ``ts`` column goes
    through the same ``tables.normalize_event_ts`` helper the batch loader
    uses. The round-3 regression (a test-data regeneration switched the
    file from TIMESTAMP(NANOS) to timestamp[us] and the stream silently
    read Jan-2024 as 1970) is exactly what this probe-and-share prevents:
    any epoch the batch loader can read, the stream reads identically.
    """
    from hadoop_gpu_spark.tables import normalize_event_ts

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Footer-only probe (no data read) so the stream schema always matches
    # the current data epoch.
    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    # The file-stream source needs a directory; glob-filter to the events
    # file inside the sf dir.
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_ts(raw)


def windowed_counts(
    stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts+sums per event_type.

    Late data beyond the watermark is dropped; state is bounded by
    (watermark / window) * |event_type| rows per partition — the 100 TB
    streaming-state story.
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("hour"), "event_type", "cnt", "sum_value")
    )


def sliding_window_avg(
    stream: DataFrame, window: str = "1 hour", slide: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Sliding-window per-type average. avg is decimal-sum / count (not
    F.avg) so the value is order-independent — the determinism rule every
    gated float aggregate follows (queries.py module docstring)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("__sum"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "cnt",
            F.round(F.col("__sum") / F.col("cnt"), 9).alias("avg_value"),
        )
    )


def sessionize_stateful(
    stream: DataFrame,
    gap_minutes: int = 30,
    use_timeout: bool = True,
    timeout_ms: int = 60_000,
) -> DataFrame:
    """Custom stateful sessionizer via applyInPandasWithState: per user,
    emit a row per closed session (session_start, session_end, n_events).

    State = (open session start/end/count); a session closes when the gap
    to the next event exceeds ``gap_minutes`` or (with ``use_timeout``)
    the processing-time timeout flushes it.

    ``use_timeout=False`` disables the timeout machinery entirely
    (GroupStateTimeout.NoTimeout): only in-batch closed sessions are
    emitted and an availableNow drain terminates deterministically —
    required for the correctness gate, because with ProcessingTimeTimeout
    an availableNow query loops 'no new data but cleaning up state'
    batches indefinitely and emits timing-dependent rows (observed on
    Spark 4.1: 99 cleanup batches, never terminating).

    The timeout path IS testable, just not under availableNow: with a
    processing-time trigger the engine keeps running (empty) batches while
    timeouts are registered, so a short ``timeout_ms`` + a bounded poll on
    the sink gives a test that is deterministic in OUTCOME (which sessions
    are flushed) even though the flush batch index is timing-dependent —
    see tests/test_streaming.py::test_sessionize_processing_time_timeout_flushes.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
            StructField("n_events", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start_us", LongType()),
            StructField("end_us", LongType()),
            StructField("n", LongType()),
        ]
    )

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.exists:
            start_us, end_us, n = state.get
        else:
            start_us, end_us, n = None, None, 0
        closed = []
        for pdf in pdfs:
            for ts in sorted(pdf["ts"]):
                t_us = int(pd.Timestamp(ts).value // 1000)
                if start_us is None:
                    start_us, end_us, n = t_us, t_us, 1
                elif t_us - end_us > gap_us:
                    closed.append((user_id, start_us, end_us, n))
                    start_us, end_us, n = t_us, t_us, 1
                else:
                    end_us, n = t_us, n + 1
        if state.hasTimedOut:
            if start_us is not None:
                closed.append((user_id, start_us, end_us, n))
            state.remove()
        else:
            state.update((start_us, end_us, n))
            if use_timeout:
                state.setTimeoutDuration(timeout_ms)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [c[0] for c in closed],
                    "session_start": [pd.Timestamp(c[1], unit="us") for c in closed],
                    "session_end": [pd.Timestamp(c[2], unit="us") for c in closed],
                    "n_events": [c[3] for c in closed],
                }
            )

    return stream.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if use_timeout
            else GroupStateTimeout.NoTimeout
        ),
    )


def progress_dicts(query) -> list[dict]:
    """StreamingQuery.recentProgress as plain dicts across PySpark
    versions (3.x returns dicts; 4.x returns StreamingQueryProgress
    objects carrying .json)."""
    import json

    out = []
    for p in query.recentProgress:
        if isinstance(p, dict):
            out.append(p)
        else:
            out.append(json.loads(p.json))
    return out


_NO_EMPTY_BATCH_CONF = "spark.sql.streaming.noDataMicroBatches.enabled"


def start_skipping_empty_batches(writer, spark: SparkSession):
    """``writer.start()`` with zero-data micro-batches disabled for THIS
    stream (r16 optimization, guide §1.2 fixed per-unit overhead): an
    availableNow drain otherwise appends a no-new-data micro-batch whose
    only job is advancing the watermark and evicting state — measured at
    sf0.1 as a full extra batch of fixed cost (~2.5 s: per-batch
    incremental planning + a state-store commit on EVERY store instance,
    32-128 of them, for zero output rows).

    Exactness: legal ONLY for drains whose emitted rows cannot depend on
    the watermark-advance batch — complete-mode sinks re-emit the (by
    then unchanged) full state each batch, and append-mode
    stream-stream joins / dropDuplicates / no-timeout sessionizers emit
    on data arrival only. Watermark-EMIT shapes (append-mode windowed
    aggregates, processing-time-timeout sessionizers — where the empty
    batch is what finalizes rows) MUST NOT come through here; they keep
    calling ``.start()`` directly with the engine default.

    The conf is snapshotted by the stream when ``start()`` clones the
    session, so restoring it immediately afterwards cannot race the
    running query.
    """
    old = spark.conf.get(_NO_EMPTY_BATCH_CONF, "true")
    spark.conf.set(_NO_EMPTY_BATCH_CONF, "false")
    try:
        return writer.start()
    finally:
        spark.conf.set(_NO_EMPTY_BATCH_CONF, old)


def drain_to_memory(stream_df: DataFrame, name: str, mode: str | None = None) -> DataFrame:
    """Run an availableNow pass into a memory sink; return the result table
    (test/bench utility — batch parity checks). Default mode: complete for
    streaming aggregations; pass mode="append" for non-aggregating streams
    (dedup, stateless maps), where complete is rejected by the planner.

    Skips the trailing zero-data micro-batch (see
    start_skipping_empty_batches): both supported drain shapes —
    complete-mode aggregates and append-mode emit-on-arrival streams —
    are watermark-emit-free by construction. An append-mode WINDOWED
    AGGREGATE (whose rows only emit when the watermark passes) must not
    use this helper; the watermark-semantics tests start such streams
    directly.
    """
    writer = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode or ("complete" if stream_df.isStreaming else "append"))
        .trigger(availableNow=True)
    )
    q = start_skipping_empty_batches(writer, stream_df.sparkSession)
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def _drain_to_snapshot(agg: DataFrame, out_dir: str, transform=None) -> DataFrame:
    """Drain a streaming aggregate with availableNow in complete mode into
    a foreachBatch sink that OVERWRITES a parquet snapshot at ``out_dir``
    each micro-batch (through ``transform`` first, if given); return the
    final snapshot read back as a batch frame. The snapshot-sink shape
    the sketch family and streaming top-k share: overwrite-per-batch
    makes replays idempotent, and the skipped empty batch would only
    re-write an identical snapshot (state unchanged by no data) — see
    start_skipping_empty_batches."""

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        out = transform(batch_df) if transform is not None else batch_df
        out.write.mode("overwrite").parquet(out_dir)

    q = start_skipping_empty_batches(
        agg.writeStream.foreachBatch(sink)
        .outputMode("complete")
        .trigger(availableNow=True),
        agg.sparkSession,
    )
    q.awaitTermination()
    return agg.sparkSession.read.parquet(out_dir)


def exact_dedup_stream(
    stream: DataFrame, text_col: str = "props", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup: md5 content hash + watermarked
    dropDuplicates — state holds one hash per distinct document inside the
    watermark horizon (bounded; the batch near_dedup handles historical
    cross-horizon dupes).
    """
    hashed = stream.withColumn(
        "__h", F.md5(F.encode(F.col(text_col).cast("string"), "UTF-8"))
    )
    return (
        hashed.withWatermark("ts", watermark)
        .dropDuplicates(["__h"])
        .drop("__h")
    )


def stream_stream_join(
    stream: DataFrame,
    left_type: str = "view",
    right_type: str = "click",
    within_minutes: int = 120,
    watermark: str = "4 hours",
) -> DataFrame:
    """Stream-stream inner join with an event-time range constraint — the
    attribution shape (every ``right`` event joined to the same user's
    ``left`` events in the preceding ``within_minutes``).

    Both sides carry watermarks and the join condition bounds event time,
    so the state store holds only ``watermark + within_minutes`` of each
    side per key — the bounded-state requirement for an unbounded run.
    Join timestamps are second-truncated: sub-second precision differs
    between engines (nanos vs micros) and must never decide a boundary.
    """
    v = (
        stream.filter(F.col("event_type") == left_type)
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias(f"{left_type}_id"),
            F.date_trunc("second", F.col("ts")).alias("v_ts"),
        )
        .withWatermark("v_ts", watermark)
    )
    c = (
        stream.filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias(f"{right_type}_id"),
            F.date_trunc("second", F.col("ts")).alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    joined = v.join(
        c,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") > F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {within_minutes} MINUTES")),
    )
    return joined.select(
        F.col("v_user").alias("user_id"),
        f"{left_type}_id",
        f"{right_type}_id",
        (F.unix_timestamp("c_ts") - F.unix_timestamp("v_ts")).alias("gap_s"),
    )


def topk_per_window_snapshot(
    agg_stream: DataFrame, out_dir: str, k: int = 3
) -> DataFrame:
    """Streaming top-k via the foreachBatch snapshot-sink pattern.

    Rank functions are not allowed on a streaming aggregate, so the
    standard shape is: stream the windowed aggregate in ``complete`` mode
    into ``foreachBatch``, rank the (small) full aggregate as a normal
    batch frame each micro-batch, and idempotently OVERWRITE a parquet
    snapshot — the final snapshot after an availableNow drain is the
    answer. At scale the snapshot is |windows| * k rows (bounded by the
    watermark horizon), regardless of input volume; overwrite-per-batch
    makes replays/retries idempotent (the exactly-once story for
    non-transactional sinks).

    ``agg_stream`` must expose (hour, event_type, cnt) — i.e.
    ``windowed_counts`` output; ranking is cnt DESC, event_type ASC per
    hour with row_number semantics (ties break to the lexicographically
    first type, the same deterministic rule every ranked gate uses).
    """
    from hadoop_gpu_spark.operators.sort import top_k_per_group

    def rank(batch_df: DataFrame) -> DataFrame:
        return top_k_per_group(
            batch_df, ["hour"], [F.col("cnt").desc(), F.col("event_type").asc()], k
        )

    return _drain_to_snapshot(agg_stream, out_dir, rank)


def hist_sketch_stream_snapshot(
    stream: DataFrame,
    col: str,
    out_dir: str,
    group_cols: list[str] | None = None,
    lo: float = 0.0,
    hi: float = 1.0,
    n_buckets: int = 512,
    scale: int = 100,
) -> DataFrame:
    """Streaming fixed-lattice histogram sketch (operators.quantiles) via
    the foreachBatch snapshot-sink pattern.

    The sketch's merge IS count-sum, so a streaming groupBy over the
    bucket expression maintains it incrementally with state bounded by
    ``|groups| * n_buckets`` rows — a FIXED size regardless of stream
    volume or uptime, which is the streaming-state story the sketch was
    designed for (no watermark needed: the state cannot grow). Complete
    mode + idempotent overwrite snapshot (the topk_per_window_snapshot
    shape); after an availableNow drain the snapshot EQUALS the batch
    sketch of the same data bit-for-bit (mergeability, pinned by test),
    so a resolved-quantiles gate shares its oracle with the batch
    operator: histogram_quantiles_sql over the batch table.

    Returns the drained snapshot read back as a batch frame
    ``(group..., bucket, cnt)`` — feed it to
    operators.quantiles.hist_quantiles to resolve quantiles.
    """
    from hadoop_gpu_spark.operators.quantiles import hist_counts

    agg = hist_counts(stream, col, group_cols, lo, hi, n_buckets, scale)
    return _drain_to_snapshot(agg, out_dir)


def hll_stream_snapshot(
    stream: DataFrame,
    col: str,
    out_dir: str,
    group_cols: list[str] | None = None,
    p: int = 10,
) -> DataFrame:
    """Streaming HyperLogLog register sketch (operators.hll) via the
    foreachBatch snapshot-sink pattern — streaming COUNT DISTINCT in
    fixed state, completing the streaming-sketch family (distribution =
    hist_sketch_stream_snapshot, frequency = cms_stream_snapshot,
    cardinality = this).

    HLL merge IS per-register MAX, so a streaming groupBy over the
    (group, reg) expressions maintains the sketch incrementally with
    state bounded by ``|groups| * 2^p`` rows — FIXED regardless of
    stream volume, uptime, or KEY CARDINALITY: exact streaming
    COUNT(DISTINCT) must hold every distinct key in state forever (no
    watermark can expire it without changing the answer), while the
    register table never grows past the grid. MAX-merge is additionally
    IDEMPOTENT — a replayed micro-batch is a no-op, a guarantee the
    count-sum sketches (CMS, histogram) cannot make. Complete mode +
    idempotent overwrite snapshot; after an availableNow drain the
    snapshot EQUALS the batch register table of the same data
    bit-for-bit (pinned by test), so a resolved-estimates gate shares
    the batch operator's exact SQL oracle: hll_distinct_sql over the
    batch table.

    Returns the drained snapshot read back as a batch frame
    ``(group..., reg, max_rank)`` — feed it to operators.hll.hll_estimate
    to resolve distinct-count estimates.
    """
    from hadoop_gpu_spark.operators.hll import hll_registers

    agg = hll_registers(stream, col, group_cols, p)
    return _drain_to_snapshot(agg, out_dir)


def docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (the events_stream
    pattern without event time: documents carry no timestamp column, so
    no watermark/ts normalization applies). Schema is probed from the
    parquet footer via a driver-side batch read — the same
    probe-and-share that keeps events_stream immune to data-epoch
    drift."""
    raw_schema = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).schema
    return (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def lsh_bucket_stream_snapshot(
    stream: DataFrame,
    text_col: str,
    id_col: str,
    out_dir: str,
    num_hashes: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """Streaming MinHash-LSH band-bucket census — NEAR-dedup at ingest,
    the streaming counterpart of the batch ``dedup/minhash.py`` pipeline
    (exact_dedup_stream handles byte-identical copies; this catches the
    near-duplicates a content hash misses). Documents flow through the
    proven Arrow-batched signature kernel (bit-identical to the
    expression spec, the q_dedup_minhash parity pin) and the
    ``band_hashes`` explode; a streaming groupBy per (band, band_hash)
    maintains ``(canonical_id, members)`` where canonical = MIN(id) —
    the ingest-dedup decision table: any arriving doc whose bucket row
    already exists with a lower canonical is a near-dup CANDIDATE of
    that canonical (verification joins run downstream, as in batch).

    Merge algebra: MIN and COUNT-SUM are both associative/commutative
    across micro-batches, so after an availableNow drain the snapshot
    EQUALS the batch band census of the same corpus bit-for-bit (pinned
    by test) and the gate shares the batch SQL-lattice oracle. MIN is
    additionally what makes the canonical DETERMINISTIC regardless of
    arrival order — a "keep first seen" rule would make the survivor a
    race. State honesty: one row per DISTINCT (band, band_hash) — this
    grows with corpus novelty (like exact dedup's hash state, unlike
    the fixed-grid sketches); a deployment bounds it with a state-store
    horizon and periodic compaction into the batch index, the same
    division of labor exact_dedup_stream documents.

    Complete mode + idempotent overwrite snapshot (the sketch-family
    shape). Returns the drained snapshot read back as a batch frame
    ``(band, band_hash, canonical_id, members)``.
    """
    from hadoop_gpu_spark.dedup.minhash import band_hashes, minhash_signatures_pandas

    sig = minhash_signatures_pandas(stream, text_col, id_col, num_hashes)
    bands = band_hashes(sig, id_col, num_hashes, rows_per_band)
    agg = bands.groupBy("band", "band_hash").agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).cast("long").alias("members"),
    )
    return _drain_to_snapshot(agg, out_dir)


def _cms_precount(batches):
    """Stateless per-batch-partition value count feeding the weighted CMS
    grid aggregate (module-level so the null-token contract is testable,
    ADVICE r16). ``value_counts(dropna=False)`` keeps a null-token group:
    its NaN index entry Arrow-coerces back to a null string, which the
    weighted ``cms_build`` then hashes exactly like the per-occurrence
    path hashes a null cell — pinned by
    tests/test_r12_candidates.py::test_cms_precount_null_tokens_match_occurrence_form.
    (The production stream never reaches it: tokenize() explodes a split
    array and cannot emit null tokens.)"""
    import pandas as pd  # noqa: PLC0415

    for pdf in batches:
        vc = pdf["tok"].value_counts(dropna=False)
        yield pd.DataFrame({"tok": vc.index, "__c": vc.to_numpy()})


def cms_stream_snapshot(
    stream: DataFrame,
    text_col: str,
    out_dir: str,
    d: int = 4,
    w: int = 512,
) -> DataFrame:
    """Streaming count-min sketch (operators.cms) via the foreachBatch
    snapshot-sink pattern — the deployment the sketch was designed for.

    CMS merge IS count-sum per cell, so a streaming groupBy over the
    (row_id, col_id) cell expressions maintains the sketch incrementally
    with state bounded by ``d * w`` rows — FIXED regardless of stream
    volume, uptime, or (the CMS-specific point) VOCABULARY SIZE: an
    exact streaming token-frequency aggregate holds one state row per
    distinct token and grows with Heaps' law forever, while the sketch
    never exceeds its grid (no watermark needed: the state cannot
    grow). Complete mode + idempotent overwrite snapshot (the
    hist_sketch_stream_snapshot shape); after an availableNow drain the
    snapshot EQUALS the batch sketch of the same corpus bit-for-bit
    (count-sum mergeability across micro-batches, pinned by test), so a
    resolved-estimates gate shares the batch operator's exact SQL
    oracle: cms_token_estimates_sql over the batch table.

    Returns the drained snapshot read back as a batch frame
    ``(row_id, col_id, cnt)`` — feed it to operators.cms.cms_estimate
    to resolve point estimates.
    """
    from hadoop_gpu_spark.operators.cms import cms_build
    from hadoop_gpu_spark.operators.fields import tokenize

    toks = stream.select(F.explode(tokenize(text_col)).alias("tok"))
    # r16 optimization (guide §1.2/§4.2): the batch twin hashes once per
    # DISTINCT token (cms_build distinct_first), but a streaming plan
    # cannot add a second stateful groupBy. A STATELESS per-batch-
    # partition value count gets the same effect: the d md5 row hashes
    # run once per (partition, distinct token) instead of once per
    # occurrence (Zipf stream, Heaps vocabulary — measured 1.14 s vs
    # 0.30 s for the grid build over 270k occurrences / 31 distinct at
    # sf0.1), and the stateful grid aggregate sums the pre-summed
    # counts. EXACT by the same sum-commutativity argument as
    # distinct_first: cell cnt = Σ of occurrence counts over values
    # hashing to the cell, in any grouping of the sum — batch-local,
    # partition-local, or per-occurrence.
    pre = toks.mapInPandas(_cms_precount, "tok string, __c long")
    agg = cms_build(pre, "tok", d, w, weight_col="__c")
    return _drain_to_snapshot(agg, out_dir)
