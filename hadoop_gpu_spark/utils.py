"""Small engine utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame

from hadoop_gpu_spark.session import engine_state


def ensure_min_partitions(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin repartition when the input has fewer partitions than the
    cluster has cores.

    Compute-heavy per-row operators (minhash over shingles, simhash bit
    packing, vector math) otherwise inherit the scan's partitioning — and a
    small single-row-group parquet file scans as ONE task, serializing the
    whole operator. At 100 TB inputs arrive in thousands of row groups and
    this is a no-op; on small/test inputs it restores full parallelism at
    the cost of one narrow exchange.
    """
    # Streaming frames: partition inspection (df.rdd) is illegal pre-
    # start, and micro-batch parallelism is the source's concern
    # (maxFilesPerTrigger / source splits) — pass through untouched so
    # batch kernels (minhash, simhash, vector math) compose into
    # streaming pipelines unchanged.
    if df.isStreaming:
        return df
    spark = df.sparkSession
    if target is None:
        target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    # Split count >= target can still be FAKE parallelism: parquet
    # byte-range splits never split a ROW GROUP, so a single-large-
    # row-group file reports N splits while every row lands in the one
    # split covering the group's offset (observed in the r13 sf10 soak:
    # a 500k-row single-group documents.parquet scanned as 32 partitions
    # with 31 empty — the minhash/simhash/winnow kernels ran serial at
    # 60x instead of 10x). When the file list is small enough to inspect
    # cheaply, count the actual splittable units (row groups) from the
    # footers; at production scale (files >= target) the check is free
    # and this remains a no-op.
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files or len(files) >= target:
        return df
    try:
        groups = 0
        for f in files:
            if not f.endswith(".parquet"):
                return df
            groups += _row_group_count(spark, _strip_file_scheme(f))
            if groups >= target:
                return df
    except Exception:
        return df
    return df.repartition(target)


def collect_at_most(df: DataFrame, max_rows: int):
    """``df`` as a ``pyarrow.Table`` if it has at most ``max_rows`` rows,
    else ``None`` — the one size gate behind every driver-vs-distributed
    choice (k-means, PQ training, BPE training, connected components).

    One bounded job: ``limit(max_rows + 1)`` stops the scan as soon as the
    input is known to be too big, and the rows that come back ARE the
    driver branch's input, so no separate count or sample runs first.
    The caller replays the identical iterations on the table when it gets
    one and runs its distributed loop when it gets ``None``; each site
    keeps its own threshold because each bounds a different replay cost.
    A negative ``max_rows`` always returns ``None`` (tests force the
    distributed branch that way).

    Arrow, not pandas: a nullable long column would reach pandas as
    float64 with NaN, and the driver replays need values exactly as the
    engine holds them (``to_pylist()`` / ``to_numpy()`` per column).
    """
    table = df.limit(max(max_rows + 1, 0)).toArrow()
    return table if table.num_rows <= max_rows else None


def shuffle_width(spark) -> int:
    """The session's configured shuffle width as an int, tolerating
    non-numeric ``spark.sql.shuffle.partitions`` values (some
    distributions accept ``'auto'``) by falling back to
    ``defaultParallelism`` (r14 ADVICE). For the explicit user
    repartitions that pin an exchange at the configured width so AQE's
    byte-sized coalescing cannot collapse a CPU-dense stage
    (ml/nbayes.py, q_sequence_pack — both decompositions at their
    call sites)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (ValueError, TypeError):
        return spark.sparkContext.defaultParallelism


def _row_group_count(spark, path: str) -> int:
    """num_row_groups from the parquet footer, memoized in the session's
    state per (path, mtime, size). Raises on unreadable/remote paths —
    the caller treats any failure as "cannot prove fake parallelism" and
    leaves df alone."""
    import os

    import pyarrow.parquet as pq

    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    counts = engine_state(spark).row_groups
    if key not in counts:
        counts[key] = pq.ParquetFile(path).metadata.num_row_groups
    return counts[key]


def _strip_file_scheme(uri: str) -> str:
    """file:///p, file:/p, file://host/p -> /p (leave non-file URIs and
    bare paths untouched; pyarrow opens local paths, not file: URIs)."""
    if not uri.startswith("file:"):
        return uri
    rest = uri[len("file:"):]
    if rest.startswith("//"):
        rest = rest[2:]
        slash = rest.find("/")
        rest = rest[slash:] if slash >= 0 else rest
    return rest


def hierarchical_prefix_sum(
    sizes: DataFrame,
    bucket_col: str,
    n_col: str,
    out_col: str = "__base",
    superbucket_width: int = 4096,
    descending: bool = False,
) -> DataFrame:
    """(bucket_col, out_col): exclusive prefix sums of ``n_col`` over
    buckets in ``bucket_col`` order (descending=True for desc-ordered
    ranks) — with NOTHING corpus-growing funneled through one task.

    The distributed two-level cumsum both rank-assigning operators
    share (q_sequence_pack token offsets, q_total_order_sort rank
    bases): level 1 is a within-superbucket window (parallel,
    <= superbucket_width rows per partition); level 2 is a global
    ordered window over the |buckets|/superbucket_width-row superbucket
    totals — the ONE global window, two aggregation levels below the
    corpus (1e11 input rows at 256/bucket -> ~95k rows in that task).
    ``sizes`` is consumed twice (level-1 window + level-2 totals):
    eager_persist it BEFORE calling if building it scans the corpus.
    The returned frame is |buckets|-row with no broadcast hint — AQE
    broadcasts the downstream join while it fits and falls back to a
    bounded shuffle join when a 100 TB corpus outgrows that.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    S = superbucket_width
    b = F.col(bucket_col)
    sizes = sizes.withColumn(
        "__sup", F.floor((b if not descending else -b - 1) / S).cast("long")
    )
    order1 = b.desc() if descending else b.asc()
    sw = (
        Window.partitionBy("__sup")
        .orderBy(order1)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = sizes.withColumn(
        "__wbase", F.coalesce(F.sum(n_col).over(sw), F.lit(0).cast("long"))
    )
    order2 = F.col("__sup").asc()  # __sup already encodes direction
    gw = Window.orderBy(order2).rowsBetween(Window.unboundedPreceding, -1)
    super_base = (
        sizes.groupBy("__sup")
        .agg(F.sum(n_col).alias("__sn"))
        .withColumn(
            "__sbase", F.coalesce(F.sum("__sn").over(gw), F.lit(0).cast("long"))
        )
        .select("__sup", "__sbase")
    )
    return (
        within.join(super_base, "__sup")
        .select(
            bucket_col,
            (F.col("__wbase") + F.col("__sbase")).cast("long").alias(out_col),
        )
    )


def sweep_stale_scratch() -> int:
    """Remove pid-suffixed ``hgs_*_<pid>`` scratch dirs in the system temp
    whose owning process is dead. Derby JDBC scratch, test sink dirs, and
    streaming snapshot dirs all use the ``<prefix>_<pid>`` convention —
    idempotent within a process, accumulating across them (114 dead dirs
    found when the pytest-session sweep landed in r09; this shared helper
    moves the sweep to the accumulation SOURCES: it runs at construction
    of every scratch-writing query, not only at pytest startup).
    Conservative: a reused pid skips cleanup; content-addressed caches
    (hgs_native) carry no pid suffix and are never touched. Returns the
    number of dirs removed."""
    import os
    import re
    import shutil
    import tempfile

    tmp = tempfile.gettempdir()
    pat = re.compile(r"\Ahgs_.*_(\d+)\Z")
    try:
        entries = os.listdir(tmp)
    except OSError:  # pragma: no cover
        return 0
    removed = 0
    for name in entries:
        m = pat.match(name)
        if not m or int(m.group(1)) == os.getpid():
            continue
        if not os.path.exists(f"/proc/{m.group(1)}"):
            shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)
            removed += 1
    return removed


def eager_persist(df: DataFrame) -> DataFrame:
    """Materialize a shared intermediate once, keeping RECOMPUTABLE lineage.

    The dual-branch-recompute cure for query plans that read one derived
    frame from two branches (a scalar-aggregate branch plus the main
    pass): persist(MEMORY_AND_DISK) + an eager count() materializes the
    frame into the cache manager, and both plan branches then read the
    same InMemoryRelation — the single-scan structure the eager
    ``localCheckpoint`` pattern gave, WITHOUT its cluster-scale
    availability cost. localCheckpoint truncates lineage onto
    non-replicated executor-local blocks: on a 1000-executor cluster a
    single executor loss makes every query holding a view over that
    checkpoint permanently unrecoverable (no recompute path). A cached
    frame keeps its lineage — a lost block is recomputed from source,
    the query gets slower, never wrong or dead. Cache eviction under
    memory pressure likewise degrades to recompute (MEMORY_AND_DISK
    spills before evicting), so the single-scan property is a fast-path
    guarantee and correctness never depends on it.

    Lifetime: entries stay in the cache manager until
    ``hadoop_gpu_spark.session.release`` or session stop. Spark's CacheManager
    dedupes by logical plan, so storage is bounded by the number of
    DISTINCT persisted plans, not of constructions. Use for frames that
    OUTLIVE their constructor inside a returned plan (q11/q15/q20/q22/
    q_embedding_outliers). Iterative algorithms that re-derive a frame
    from itself (pq_train's Lloyd loop, connected components) keep
    eager ``localCheckpoint`` instead: there lineage TRUNCATION is the
    point (unchecked, the plan doubles per iteration), the blocks are
    consumed inside the call, and the caller releases them
    deterministically in a ``finally``.
    """
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()  # eager: materialize before either consumer branch plans
    engine_state(df.sparkSession).frames.append(df)
    return df


def release_local_checkpoint(df: DataFrame) -> bool:
    """Free the storage blocks behind an EAGER ``localCheckpoint``-ed
    frame once it is fully consumed.

    ``DataFrame.unpersist()`` does NOT release them (verified against
    this Spark build: the blocks belong to the internal RDD the
    ``LogicalRDD`` plan node wraps, not to the cache manager), so a
    consumed checkpoint otherwise stays resident for the session
    lifetime — the r06 ADVICE leak class. This reaches the plan node's
    RDD and unpersists it directly. The frame is UNUSABLE afterwards
    (its lineage was cut); only call on checkpoints that do not outlive
    the computation, e.g. pq_train's training rows — NOT on query plans
    that return a view over their checkpoint (q11/q20).

    Returns True if blocks were released, False if the frame was not a
    localCheckpoint (or the internals were unreachable — best-effort).
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName() != "org.apache.spark.sql.execution.LogicalRDD":
            return False
        plan.rdd().unpersist(False)
        return True
    except Exception:
        return False
