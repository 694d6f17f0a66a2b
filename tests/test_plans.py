"""Plan-shape assertions — the 100 TB survival checks (pushdown, pruning,
broadcast, no cartesians) for the headline queries."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_gpu_spark import plans
from hadoop_gpu_spark.queries import QUERIES
from hadoop_gpu_spark.tables import load_table


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_quantity") > 30).select("l_orderkey")
    pf = plans.pushed_filters(li)
    assert "l_quantity" in pf, pf


def test_column_pruning(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_quantity")
    cols = plans.read_schema_columns(li)
    assert set(cols) <= {"l_orderkey", "l_quantity"}, cols


def test_star_join_broadcasts_dims(spark, sf_dir):
    df = QUERIES["q_join_star"](spark, sf_dir)
    assert plans.has_broadcast_join(df)


def test_no_accidental_cartesian_in_relational_queries(spark, sf_dir):
    # ANN/gram queries use an intentional broadcast NL join; relational ones
    # must not.
    for name in ["q01_pricing_summary", "q_join_star", "q_join_override",
                 "q_join_semi", "q_join_anti", "q_events_hourly"]:
        assert not plans.has_cartesian(QUERIES[name](spark, sf_dir)), name


def test_q1_plans_hash_aggregate(spark, sf_dir):
    # partial/final HashAggregate = the reference's combiner pattern, free.
    df = QUERIES["q01_pricing_summary"](spark, sf_dir)
    assert "HashAggregate" in plans.formatted_plan(df)


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    # CompositeInputFormat parity: co-bucketed tables join with no Exchange
    # on either side (zero-shuffle map-side merge join).
    from hadoop_gpu_spark import sources
    from hadoop_gpu_spark.tables import load_table

    # managed tables land in ./spark-warehouse (gitignored)
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    sources.write_bucketed_table(
        orders.withColumnRenamed("o_custkey", "k"), "orders_bkt", ["k"], 4, ["k"]
    )
    sources.write_bucketed_table(
        customer.withColumnRenamed("c_custkey", "k"), "customer_bkt", ["k"], 4, ["k"]
    )
    a = spark.table("orders_bkt")
    b = spark.table("customer_bkt")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = a.join(b, "k")
        plan = plans.formatted_plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS orders_bkt")
        spark.sql("DROP TABLE IF EXISTS customer_bkt")


def test_partition_pruning_on_partitioned_write(spark, sf_dir, tmp_path):
    # MultipleOutputFormat write + partition-pruned read: the scan lists
    # only the selected lang partition (PartitionFilters in the plan).
    from hadoop_gpu_spark import sources
    from hadoop_gpu_spark.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    path = str(tmp_path / "docs_by_lang")
    sources.write_partitioned(docs, path, ["lang"])
    back = spark.read.parquet(path).filter(F.col("lang") == "en")
    plan = plans.formatted_plan(back)
    assert "PartitionFilters" in plan and "lang" in plan
    n_en = docs.filter(F.col("lang") == "en").count()
    assert back.count() == n_en


def test_q06_filters_pushed_to_scan(spark, sf_dir):
    # Q6 is the canonical pushdown query: every predicate must reach the
    # parquet scan as PushedFilters.
    df = QUERIES["q06_forecast_revenue"](spark, sf_dir)
    pf = plans.pushed_filters(df)
    for col in ["l_shipdate", "l_discount", "l_quantity"]:
        assert col in pf, f"{col} not pushed: {pf}"


def test_grep_ranked_plans_take_ordered_no_window(spark, sf_dir):
    # r14 restructure pin (r13 VERDICT's one perf-weak mark): the top-20
    # rank must come from TakeOrderedAndProject (per-partition heaps) —
    # never from a global WindowExec over the vocabulary-sized
    # (Heaps-law, corpus-unbounded) distinct-match counts frame.
    plan = plans.formatted_plan(QUERIES["q_grep_ranked"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


def test_dedup_pipeline_never_shuffles_text(spark, sf_dir):
    # The ARCHITECTURE.md claim, pinned: in every dedup gate the document
    # text is consumed at the scan (hashing/shingling) and only ids,
    # hashes, and band keys cross an Exchange. A regression that shuffles
    # `text` would silently 100x the shuffle volume at corpus scale.
    for name in [
        "q_near_dedup_survivors",
        "q_dedup_minhash_pairs",
        "q_dedup_simhash_pairs",
        "q_dedup_exact",
        "q_dedup_fingerprint",
        "q_boilerplate_ratio",
        "q_contamination",
        "q_winnow_fingerprint",
        "q_pretrain_pipeline",
    ]:
        cols = plans.shuffled_columns(QUERIES[name](spark, sf_dir))
        assert "text" not in cols, f"{name} shuffles text: {sorted(cols)}"


def test_tfidf_single_tokenize_pass_no_vocab_broadcast(spark, sf_dir):
    # r08 contract (VERDICT r07 #3): document frequency is a window over
    # the tf frame already in flight — ONE tokenize pass in the plan (one
    # documents scan node), NO join at all (the old broadcast of the
    # vocabulary-sized dfreq frame replanned the whole tokenize subtree
    # AND would exceed the 8 GB broadcast cap at open-vocab scale), no
    # scalar crossJoin branch, and text never enters an exchange.
    import re

    df = QUERIES["q_tfidf_topterms"](spark, sf_dir)
    plan = plans.formatted_plan(df)
    scan_ids = set(re.findall(r"^\s*\((\d+)\) Scan parquet", plan, re.M))
    assert len(scan_ids) == 1, f"expected ONE documents scan, got {sorted(scan_ids)}"
    assert "Join" not in plan, "tfidf should derive df via window, not a join"
    assert not plans.has_cartesian(df)
    assert "text" not in plans.shuffled_columns(df)


def test_unigram_logprob_join_unhinted_and_never_shuffles_text(spark, sf_dir):
    # r08 contract (VERDICT r07 #4): the toks⋈freq join carries NO
    # explicit broadcast hint (the vocab side is corpus-cardinality — a
    # forced broadcast would die on the 8 GB cap at open-vocab scale;
    # the hint audit in test_plan_invariants pins the class). At suite
    # scale the planner still chooses a broadcast join from size stats —
    # assert that so a surprise shuffle-regression at small scale stays
    # visible — and the document text never enters an exchange.
    df = QUERIES["q_unigram_logprob"](spark, sf_dir)
    assert plans.has_broadcast_join(df)
    assert "text" not in plans.shuffled_columns(df)


def test_driver_window_invariants():
    # No query window remains: __spark_entry__ exposes every registered
    # query, in registration order, with an oracle for each, so a
    # correctness run over the entry contract covers the whole registry.
    import __spark_entry__ as entry

    assert list(entry.queries()) == list(QUERIES)
    assert set(entry.oracle_sql()) == set(QUERIES)


def test_lsh_ann_corpus_vectors_never_shuffle(spark, sf_dir):
    # The q_ann_lsh scale claim, pinned: corpus embeddings (__cv) are
    # consumed at the scan side of the broadcast join — only the tiny
    # query set and scored candidate rows cross an Exchange.
    cols = plans.shuffled_columns(QUERIES["q_ann_lsh"](spark, sf_dir))
    assert "__cv" not in cols, sorted(cols)
    assert plans.has_broadcast_join(QUERIES["q_ann_lsh"](spark, sf_dir))


def test_lsh_bucketed_corpus_probe_prunes_partitions(spark, sf_dir, tmp_path):
    # The "written bucketed by signature, probe = partition pruning" story
    # from lsh_bucket_topk's docstring, demonstrated: write the corpus
    # partitioned by sig, read back filtered to one query's sig, and the
    # scan must list only that partition (PartitionFilters present).
    from pyspark.sql import functions as F

    from hadoop_gpu_spark.similarity.ann import lsh_signature, lsh_signs
    from hadoop_gpu_spark.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    signs = lsh_signs(5, emb.select(F.size("embedding")).first()[0])
    with_sig = emb.withColumn("sig", lsh_signature("embedding", signs))
    path = str(tmp_path / "corpus_by_sig")
    with_sig.write.partitionBy("sig").parquet(path)

    probe_sig = with_sig.filter(F.col("vec_id") == 0).select("sig").first()[0]
    probe = spark.read.parquet(path).filter(F.col("sig") == probe_sig)
    plan = plans.formatted_plan(probe)
    assert "PartitionFilters" in plan and "sig" in plan
    bucket_n = probe.count()
    assert 0 < bucket_n < emb.count()


def test_ensure_min_partitions_sees_through_fake_splits(spark, tmp_path):
    # A parquet file with ONE row group reports maxPartitionBytes-many
    # byte-range splits, but every row lands in the single split covering
    # the group's offset — partition COUNT is fake parallelism and the
    # old count-only check skipped the repartition, serializing every
    # downstream Arrow kernel (r13 sf10 soak: minhash/simhash/winnow ran
    # ~60x instead of ~10x at 10x data). The helper must count the
    # actual splittable units (row groups) and repartition.
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_gpu_spark.utils import ensure_min_partitions

    rng = np.random.default_rng(7)
    # incompressible hex so the on-disk size exceeds one 8 MB split
    data = rng.integers(0, 256, size=(12000, 1024), dtype=np.uint8)
    texts = [bytes(r).hex() for r in data]
    t = pa.table(
        {"doc_id": pa.array(range(len(texts)), pa.int64()), "text": texts}
    )
    p = str(tmp_path / "onegroup.parquet")
    pq.write_table(t, p, row_group_size=len(texts))
    assert pq.ParquetFile(p).metadata.num_row_groups == 1

    df = spark.read.parquet(p)
    # precondition: the scan must REPORT >= 2 splits or we'd exercise
    # the plain count branch instead of the row-group-aware one
    assert df.rdd.getNumPartitions() >= 2

    fixed = ensure_min_partitions(df, target=2)
    nonempty = fixed.groupBy(F.spark_partition_id()).count().count()
    assert nonempty >= 2


def test_strip_file_scheme():
    from hadoop_gpu_spark.utils import _strip_file_scheme

    assert _strip_file_scheme("file:///a/b.parquet") == "/a/b.parquet"
    assert _strip_file_scheme("file:/a/b.parquet") == "/a/b.parquet"
    assert _strip_file_scheme("file://host/a/b.parquet") == "/a/b.parquet"
    assert _strip_file_scheme("/a/b.parquet") == "/a/b.parquet"
    assert _strip_file_scheme("s3://bkt/a.parquet") == "s3://bkt/a.parquet"


def test_collect_at_most_boundary(spark):
    # The one driver-vs-distributed size gate: a table at exactly
    # max_rows, None one row past it, None for a negative limit (how
    # tests force the distributed branch), an empty table for an empty
    # frame — and values cross exactly (a nullable long stays int/None).
    from hadoop_gpu_spark.utils import collect_at_most

    df = spark.createDataFrame([(i if i % 3 else None,) for i in range(5)], "v long")
    t = collect_at_most(df, 5)
    assert t.num_rows == 5
    assert sorted(t.column("v").to_pylist(), key=repr) == [1, 2, 4, None, None]
    assert collect_at_most(df, 4) is None
    assert collect_at_most(df, -1) is None
    empty = collect_at_most(df.limit(0), 0)
    assert empty is not None and empty.num_rows == 0
    assert empty.schema.names == ["v"]


def test_pipe_pipeline_has_no_rdd_boundary(spark, sf_dir):
    # The Streaming line-protocol legs (pipe_map/pipe_reduce) must stay
    # inside ONE DataFrame plan. The old rdd.pipe form compiled to a
    # `Scan ExistingRDD` leaf, which sat outside Catalyst/AQE: a composed
    # pipeline re-executed the upstream map leg once per downstream plan
    # compile. mapInPandas keeps the exchange a plan node over the
    # parquet scan instead of a plan-opaque RDD leaf.
    from hadoop_gpu_spark.queries import QUERIES

    composed = QUERIES["q_pipe_lang_counts"](spark, sf_dir)
    plan = composed._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    assert "MapInPandas" in plan, plan

    # the full map -> shuffle -> reduce composition too
    from hadoop_gpu_spark.operators.pipes import pipe_map, pipe_reduce

    docs = load_table(spark, "documents", sf_dir).select(
        F.col("lang").alias("k"), F.lit("1").alias("v")
    )
    two_leg = pipe_reduce(pipe_map(docs, "cat"), "cat", num_partitions=4)
    plan2 = two_leg._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan2, plan2


def test_persist_always_paired_with_cleanup():
    # The r03 leak pattern, banned mechanically: any module that calls
    # .persist( must also call .unpersist( (try/finally scoped), and
    # gate-query code (queries.py) may not call .persist or
    # .localCheckpoint DIRECTLY at all — an intermediate that must
    # outlive its function uses utils.eager_persist (recomputable
    # lineage + the session.release() teardown path; the
    # earlier eager-localCheckpoint idiom was retired in r08 because
    # checkpoint blocks are non-replicated and lineage-free — one lost
    # executor at cluster scale kills the returned plan). Iterative
    # operators OUTSIDE queries.py (pq_train's Lloyd loop, connected
    # components) keep localCheckpoint deliberately: there lineage
    # truncation is the point and the blocks are released in-call.
    import ast
    import pathlib

    def calls(src, name):
        return sum(
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == name
            for node in ast.walk(ast.parse(src))
        )

    pkg = pathlib.Path(__file__).resolve().parent.parent / "hadoop_gpu_spark"
    for py in sorted(pkg.rglob("*.py")):
        src = py.read_text()
        n_persist = calls(src, "persist")
        n_unpersist = calls(src, "unpersist")
        if py.name == "queries.py":
            assert n_persist == 0, f"{py.name}: bare .persist() in gate-query code"
            assert calls(src, "localCheckpoint") == 0, (
                f"{py.name}: direct .localCheckpoint() in gate-query code — "
                "use utils.eager_persist (recomputable lineage) instead"
            )
        elif n_persist:
            assert n_unpersist > 0, f"{py.name}: .persist() without .unpersist()"


def test_no_module_level_mutable_state():
    # Driver state belongs to session.EngineState, which a new
    # SparkContext replaces; a module-level container would outlive its
    # session and leak into the next. Allowed: the query registries, and
    # two bounded caches that only Python workers fill.
    import ast
    import pathlib

    allowed = {
        "queries.py:QUERIES",
        "queries.py:ORACLES",
        "dedup/winnow.py:_shingle_cache",
        "dedup/simhash.py:_token_cache",
    }

    def empty_container(node):
        if isinstance(node, ast.Dict):
            return not node.keys
        if isinstance(node, (ast.List, ast.Set)):
            return not node.elts
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id in ("dict", "list", "set")
            and not node.args
            and not node.keywords
        )

    pkg = pathlib.Path(__file__).resolve().parent.parent / "hadoop_gpu_spark"
    found = set()
    for py in sorted(pkg.rglob("*.py")):
        for stmt in ast.parse(py.read_text()).body:
            if isinstance(stmt, ast.Assign):
                targets = stmt.targets
            elif isinstance(stmt, ast.AnnAssign) and stmt.value is not None:
                targets = [stmt.target]
            else:
                continue
            if empty_container(stmt.value):
                rel = py.relative_to(pkg).as_posix()
                found |= {f"{rel}:{t.id}" for t in targets if isinstance(t, ast.Name)}
    assert found - allowed == set(), "module-level mutable state; use session.EngineState"


def test_ranking_operators_use_the_one_top_k():
    # The ranking families rank through operators/sort.top_k_per_group,
    # so a per-query top-k (and any bound pruning added to it) lives in
    # one place. A row_number call in these modules is a second copy.
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "hadoop_gpu_spark"
    offenders = []
    for rel in ("operators/retrieval.py", "similarity/ann.py", "similarity/quantize.py"):
        for node in ast.walk(ast.parse((pkg / rel).read_text())):
            if not isinstance(node, ast.Call):
                continue
            func = node.func
            name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", None)
            if name == "row_number":
                offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, f"row_number outside sort.top_k_per_group: {offenders}"


def test_eager_persist_materializes_and_releases(spark):
    # The dual-branch-recompute cure (utils.eager_persist) end-to-end:
    # the frame is cached with recomputable lineage at construction,
    # both consumer branches plan InMemoryTableScans over ONE
    # InMemoryRelation, and session.release() (bench/test teardown)
    # returns the storage.
    from pyspark.sql import functions as F

    from hadoop_gpu_spark import plans, utils
    from hadoop_gpu_spark.session import engine_state, release

    base = spark.range(1000).select((F.col("id") % 13).alias("k"))
    agg = utils.eager_persist(base.groupBy("k").agg(F.count("*").alias("n")))
    assert agg.storageLevel.useMemory and agg.storageLevel.useDisk
    # scalar branch + main branch — the q11/q15/q20/q22 shape
    mx = agg.agg(F.max("n").alias("mx"))
    both = agg.crossJoin(F.broadcast(mx)).filter(F.col("n") == F.col("mx"))
    plan = plans.formatted_plan(both)
    assert "InMemoryTableScan" in plan
    # lineage stays recomputable: the cached relation's child plan (the
    # recompute path) is still present under the relation node
    assert "InMemoryRelation" in plan
    frames = engine_state(spark).frames
    assert any(f is agg for f in frames)
    release(spark)
    assert not agg.storageLevel.useMemory and not agg.storageLevel.useDisk
    assert frames == []


def test_docstring_test_references_exist():
    # Doc-to-test integrity (VERDICT r05 #3: functions/pii.py cited a
    # test file that did not exist — doc drift in a module whose safety
    # argument was "banned by that test"). Every `tests/<name>.py` path
    # and every `tests/<name>.py::<test_name>` reference mentioned
    # anywhere in package sources must point at a real file (and, for ::
    # references, a test that actually exists in it).
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent
    pkg = root / "hadoop_gpu_spark"
    pat = re.compile(r"tests/([A-Za-z0-9_]+\.py)(?:::([A-Za-z0-9_]+))?")
    missing = []
    for py in sorted(pkg.rglob("*.py")):
        for m in pat.finditer(py.read_text()):
            path = root / "tests" / m.group(1)
            if not path.exists():
                missing.append(f"{py.relative_to(root)}: {m.group(0)} (no such file)")
            elif m.group(2) and m.group(2) not in path.read_text():
                missing.append(f"{py.relative_to(root)}: {m.group(0)} (no such test)")
    assert not missing, "\n".join(missing)


def test_hierarchical_prefix_sum_matches_reference(spark):
    # The shared two-level cumsum (q_sequence_pack offsets,
    # q_total_order_sort rank bases): exclusive prefix sums in bucket
    # order, both directions, across superbucket boundaries (width 4 on
    # 11 buckets forces several), with gaps in the bucket ids.
    from hadoop_gpu_spark.utils import hierarchical_prefix_sum

    rows = [(b, (b * 7) % 5 + 1) for b in [0, 1, 2, 5, 6, 7, 9, 12, 13, 17, 20]]
    sizes = spark.createDataFrame(rows, "b long, n long")

    for descending in (False, True):
        got = {
            r["b"]: r["__base"]
            for r in hierarchical_prefix_sum(
                sizes, "b", "n", superbucket_width=4, descending=descending
            ).collect()
        }
        order = sorted(dict(rows), reverse=descending)
        acc, want = 0, {}
        for b in order:
            want[b] = acc
            acc += dict(rows)[b]
        assert got == want, (descending, got, want)
