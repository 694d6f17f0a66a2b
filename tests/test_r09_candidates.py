"""r09 gate cohort: the quantile-sketch / as-of / bucketed-CTAS trio
REGISTERED in r09 (first driver rows that round) plus the still-staged
q_stream_quantiles (r10 registration — the r09 spare slots went to the
_unigram_nll changed pair). The driver-identical oracle comparison keeps
running here for ALL FOUR every session: for the registered trio it is
the same-session re-proof beside their driver rows; for the staged one
it is the staging evidence (the funnel/pq_train pattern).

Covers: the fixed-lattice histogram quantile sketch (operators/
quantiles.py, batch + streaming forms), the as-of-join gate on real
events, and the bucketed-write CTAS round trip.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.oracle import check_query, driver_unsafe_columns

CANDIDATES = [
    "q_quantile_sketch",
    "q_asof_event_state",
    "q_bucketed_ctas",
    "q_stream_quantiles",
]
R14_GRADUATES = [
    "q_hll_distinct",
    "q_stream_cms_freq",
    "q_sparse_allpairs",
    "q_dup_spans",
    "q_stream_hll_distinct",
    "q_interval_overlap",
    "q_bpe_token_counts",
    "q_nb_lang_confusion",
]
R16_GRADUATES = [
    "q_ann_ivfpq",
    "q_rerank_tfidf",
]


def test_candidate_list_matches_registry_constant():
    from hadoop_gpu_spark import queries as q

    # every graduated candidate is registered with its oracle bound
    graduated = CANDIDATES + R14_GRADUATES + R16_GRADUATES
    assert set(graduated) <= set(q.QUERIES) and set(graduated) <= set(q.ORACLES)
    # the two streaming r14 graduates joined the declared streaming set,
    # as their docstrings required
    assert {"q_stream_cms_freq", "q_stream_hll_distinct"} <= q.STREAMING_SNAPSHOT


def test_readme_counts_match_registry():
    # The README's "N registered queries" figure is a checked fact: this
    # test greps it out and compares it against the registry.
    import pathlib
    import re

    from hadoop_gpu_spark import queries as q

    readme = (pathlib.Path(__file__).parent.parent / "README.md").read_text()
    m = re.search(r"(\d+) registered queries", readme)
    assert m and int(m.group(1)) == len(q.QUERIES), (
        f"README says {m and m.group(1)} registered, registry has {len(q.QUERIES)}"
    )


@pytest.mark.parametrize("name", CANDIDATES)
def test_candidate_gate_oracle(spark, sf_dir, name):
    errs = check_query(spark, name, sf_dir)
    assert not errs, f"{name}: " + "; ".join(errs[:3])


def test_candidate_oracles_emit_driver_safe_types(sf_dir):
    offenders = driver_unsafe_columns(sf_dir, CANDIDATES)
    assert not offenders, offenders


# ---------------------------------------------------------------------------
# Fixed-lattice histogram quantile sketch (operators/quantiles.py).
# ---------------------------------------------------------------------------
def test_hist_quantiles_within_one_bucket_of_exact(spark, sf_dir):
    # The documented error bound, against the sketch's OWN rank
    # definition: est is the upper edge of the bucket holding the exact
    # order statistic x_(ceil(q*n)), so est - width < x_(ceil(q*n)) <= est.
    # (An INTERPOLATED percentile can legitimately sit farther away — it
    # averages across a data gap between adjacent order statistics.)
    import math

    from hadoop_gpu_spark.operators.quantiles import (
        _lattice_params,
        histogram_quantiles,
    )
    from hadoop_gpu_spark.tables import load_table

    lo, hi, n, scale = 0.0, 120000.0, 4096, 100
    _, _, width_units = _lattice_params(lo, hi, n, scale)
    width = width_units / scale
    li = load_table(spark, "lineitem", sf_dir)
    qs = [0.25, 0.5, 0.9, 0.99]
    est = histogram_quantiles(
        li, "l_extendedprice", qs, ["l_returnflag"], lo, hi, n, scale
    ).toPandas()
    vals = li.select("l_returnflag", "l_extendedprice").toPandas()
    checked = 0
    for flag, grp in vals.groupby("l_returnflag"):
        xs = sorted(grp["l_extendedprice"])
        for q in qs:
            stat = xs[math.ceil(q * len(xs)) - 1]
            got = est[(est["l_returnflag"] == flag) & (est["q"] == q)]["est"].iloc[0]
            assert got - width <= stat <= got + 1e-9, (flag, q, got, stat, width)
            checked += 1
    assert checked == 3 * len(qs)


def test_hist_counts_merge_is_count_sum(spark, sf_dir):
    # The mergeability contract: sketch(A ∪ B) == count-sum merge of
    # sketch(A) and sketch(B) — the property that makes the sketch safe
    # under any partitioning, sharding, or incremental build.
    from hadoop_gpu_spark.operators.quantiles import hist_counts
    from hadoop_gpu_spark.tables import load_table

    li = load_table(spark, "lineitem", sf_dir)
    args = dict(lo=0.0, hi=120000.0, n_buckets=512, scale=100)
    a = li.filter(F.col("l_orderkey") % 2 == 0)
    b = li.filter(F.col("l_orderkey") % 2 != 0)
    whole = hist_counts(li, "l_extendedprice", ["l_returnflag"], **args).toPandas()
    merged = (
        hist_counts(a, "l_extendedprice", ["l_returnflag"], **args)
        .unionByName(hist_counts(b, "l_extendedprice", ["l_returnflag"], **args))
        .groupBy("l_returnflag", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .toPandas()
    )
    key = ["l_returnflag", "bucket", "cnt"]
    assert sorted(map(tuple, whole[key].values.tolist())) == sorted(
        map(tuple, merged[key].values.tolist())
    )


def test_hist_counts_partition_invariant(spark, sf_dir):
    from hadoop_gpu_spark.operators.quantiles import hist_counts
    from hadoop_gpu_spark.tables import load_table

    li = load_table(spark, "lineitem", sf_dir)
    args = dict(lo=0.0, hi=120000.0, n_buckets=512, scale=100)
    base = hist_counts(li, "l_extendedprice", None, **args).toPandas()
    shuffled = hist_counts(li.repartition(13), "l_extendedprice", None, **args).toPandas()
    canon = lambda d: sorted(map(tuple, d[["bucket", "cnt"]].values.tolist()))  # noqa: E731
    assert canon(base) == canon(shuffled)


def test_hist_bucket_lattice_engine_parity_on_edges(spark):
    # The bucket id must be bit-identical across engines on the
    # adversarial inputs: exact bucket boundaries, half-cent values
    # (HALF_UP vs round-half-away agree for the non-negative lattice),
    # domain underflow/overflow clamps, zero, and NULL handling.
    import duckdb
    import pandas as pd

    from hadoop_gpu_spark.operators.quantiles import hist_counts

    vals = [
        0.0, 0.004, 0.005, 0.015,            # half-cent rounding at the origin
        29.29, 29.30, 29.304, 29.305,        # a bucket boundary (width 29.30)
        -5.0, -0.005,                        # underflow clamps to bucket 0
        119999.99, 120000.0, 250000.0,       # top edge + overflow clamp
        58.59, 58.60, 58.605,                # second boundary
        9.3e18, 1e300, -1e300,               # beyond ±2^63 lattice units —
        # CLAMP to the edge buckets; before the double-space clamp fix
        # these raised CAST_OVERFLOW (Spark ANSI) / ConversionException
        # (DuckDB) — the one-junk-value-kills-the-100TB-job hole
        None,
        float("nan"), float("inf"), float("-inf"),  # dropped, not raised
    ]
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "i long, x double")
    got = (
        hist_counts(df, "x", None, lo=0.0, hi=120000.0, n_buckets=4096, scale=100)
        .toPandas()
        .sort_values("bucket")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["i", "x"]))
    want = con.sql(
        """
        SELECT CAST((CAST(GREATEST(LEAST(ROUND(x * 100), CAST(11999999 AS DOUBLE)),
               CAST(0 AS DOUBLE)) AS BIGINT) - 0)
               // 2930 AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM t WHERE x IS NOT NULL AND isfinite(x) GROUP BY 1 ORDER BY 1
        """
    ).df()
    con.close()
    assert got.values.tolist() == want.values.tolist()
    # NULL and non-finite dropped on both sides (NaN ordering inside
    # GREATEST/LEAST is engine-divergent; finite-but-huge values CLAMP
    # instead — the double-space clamp means no finite input can raise)
    import math

    finite = [v for v in vals if v is not None and math.isfinite(v)]
    assert int(got["cnt"].sum()) == len(finite)


def test_hist_sketch_plan_single_scan_partial_agg(spark, sf_dir):
    # One corpus pass: exactly one parquet scan in the whole quantile
    # plan, with a partial (map-side) aggregate before the first exchange
    # — only (group, bucket) rows ever shuffle, never corpus rows.
    import re

    from hadoop_gpu_spark import plans
    from hadoop_gpu_spark.queries import q_quantile_sketch

    df = q_quantile_sketch(spark, sf_dir)
    plan = plans.formatted_plan(df)
    # count NODES, not substrings: formatted output lists each node in
    # the tree AND in the numbered detail section
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 1, plan
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 2  # partial+final
    assert "l_extendedprice" not in plans.shuffled_columns(df)


def test_hist_lattice_parity_fuzz(spark):
    # Property form of the edge test: for random values and random
    # lattice parameters, Spark and DuckDB must produce the identical
    # (bucket, cnt) sketch AND the identical quantile estimates.
    import duckdb
    import pandas as pd
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from hadoop_gpu_spark.operators.quantiles import (
        histogram_quantiles,
        histogram_quantiles_sql,
    )

    @given(
        xs=st.lists(
            st.floats(
                min_value=-1e6, max_value=1e6,
                allow_nan=False, allow_infinity=False,
            ),
            min_size=1, max_size=40,
        ),
        n_buckets=st.integers(2, 64),
        scale=st.sampled_from([1, 10, 100, 1000]),
    )
    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def check(xs, n_buckets, scale):
        lo, hi = 0.0, 1e6
        qs = [0.1, 0.5, 0.99, 1.0]
        df = spark.createDataFrame([(x,) for x in xs], "x double")
        got = (
            histogram_quantiles(df, "x", qs, None, lo, hi, n_buckets, scale)
            .toPandas()
            .sort_values("q")
            .reset_index(drop=True)
        )
        con = duckdb.connect()
        con.register("t", pd.DataFrame({"x": xs}))
        want = (
            con.sql(
                histogram_quantiles_sql("t", "x", qs, None, lo, hi, n_buckets, scale)
            )
            .df()
            .sort_values("q")
            .reset_index(drop=True)
        )
        con.close()
        assert got.values.tolist() == want.values.tolist(), (xs, n_buckets, scale)
        # and the documented error bound holds over random data, not
        # just the curated corpus — for in-domain values, the exact
        # order statistic at rank ceil(q*n) lies within (est - width, est]
        if all(lo <= x < hi for x in xs):
            import math

            from hadoop_gpu_spark.operators.quantiles import _lattice_params

            _, _, width_units = _lattice_params(lo, hi, n_buckets, scale)
            width = width_units / scale
            srt = sorted(xs)
            for _, row in got.iterrows():
                stat = srt[math.ceil(row["q"] * len(srt)) - 1]
                # half a lattice unit of slack: the order statistic is a
                # RAW value, the bucket holds its ROUNDED lattice image
                slack = 0.5 / scale + 1e-9
                assert row["est"] - width - slack <= stat <= row["est"] + slack, (
                    xs, n_buckets, scale, row["q"], row["est"], stat,
                )

    check()


def test_hist_quantiles_rejects_bad_domain():
    from hadoop_gpu_spark.operators.quantiles import _lattice_params

    with pytest.raises(ValueError):
        _lattice_params(10.0, 10.0, 64, 100)
    with pytest.raises(ValueError):
        _lattice_params(0.0, 1.0, 0, 100)


# ---------------------------------------------------------------------------
# As-of event-state gate.
# ---------------------------------------------------------------------------
def test_asof_gate_is_left_total_and_null_for_no_prior(spark, sf_dir):
    # Left-join totality: every purchase appears exactly once; purchases
    # before the user's first click carry NULL state (and at least one
    # such row exists in the synthetic corpus, so the NULL path is
    # exercised, not vacuous).
    from hadoop_gpu_spark.queries import q_asof_event_state
    from hadoop_gpu_spark.tables import load_table

    out = q_asof_event_state(spark, sf_dir).toPandas()
    ev = load_table(spark, "events", sf_dir)
    n_purchases = ev.filter(F.col("event_type") == "purchase").count()
    assert len(out) == n_purchases
    assert out["event_id"].is_unique
    assert out["click_us"].isna().sum() > 0
    matched = out.dropna(subset=["click_us"])
    assert (matched["click_us"] <= matched["purchase_us"]).all()


def test_asof_gate_equal_timestamp_matches(spark):
    # The backward as-of includes equality on BOTH engines (right side
    # sorts before left at the same key) — pinned on a handmade case.
    import datetime

    from hadoop_gpu_spark.operators.joins import asof_join

    t0 = datetime.datetime(2026, 1, 1)
    left = spark.createDataFrame([(1, t0)], "user_id long, ts timestamp")
    right = spark.createDataFrame(
        [(1, t0, 42.0)], "user_id long, ts timestamp, v double"
    )
    row = asof_join(left, right, on="ts", by=["user_id"], right_cols=["v"]).collect()[0]
    assert row["v"] == 42.0


# ---------------------------------------------------------------------------
# Streaming quantile sketch.
# ---------------------------------------------------------------------------
def test_stream_sketch_snapshot_equals_batch_sketch(spark, sf_dir):
    # Mergeability, end to end: the availableNow-drained streaming
    # snapshot must equal the batch sketch of the same data bit-for-bit
    # (count-sum merge is exact, so micro-batch increments converge to
    # the batch answer — the property the shared oracle stands on).
    import os
    import tempfile

    from hadoop_gpu_spark.operators.quantiles import hist_counts
    from hadoop_gpu_spark.streaming import events_stream, hist_sketch_stream_snapshot
    from hadoop_gpu_spark.tables import load_table

    args = dict(lo=0.0, hi=1000.0, n_buckets=512, scale=100)
    out_dir = os.path.join(tempfile.gettempdir(), f"hgs_test_sq_{os.getpid()}")
    snap = hist_sketch_stream_snapshot(
        events_stream(spark, sf_dir), "value", out_dir,
        group_cols=["event_type"], **args,
    ).toPandas()
    batch = hist_counts(
        load_table(spark, "events", sf_dir), "value", ["event_type"], **args
    ).toPandas()
    key = ["event_type", "bucket", "cnt"]
    assert sorted(map(tuple, snap[key].values.tolist())) == sorted(
        map(tuple, batch[key].values.tolist())
    )


def test_stream_sketch_state_is_bounded(spark, sf_dir):
    # The streaming-state story: the snapshot (= the state the complete-
    # mode aggregate carries) is capped at |groups| * n_buckets rows by
    # construction, independent of stream volume.
    import os
    import tempfile

    from hadoop_gpu_spark.streaming import events_stream, hist_sketch_stream_snapshot

    out_dir = os.path.join(tempfile.gettempdir(), f"hgs_test_sqb_{os.getpid()}")
    snap = hist_sketch_stream_snapshot(
        events_stream(spark, sf_dir), "value", out_dir,
        group_cols=["event_type"], lo=0.0, hi=1000.0, n_buckets=16, scale=100,
    ).toPandas()
    n_types = snap["event_type"].nunique()
    assert len(snap) <= n_types * 16
    assert (snap["bucket"] < 16).all() and (snap["bucket"] >= 0).all()


# ---------------------------------------------------------------------------
# Bucketed CTAS round trip.
# ---------------------------------------------------------------------------
def _ctas_table_names(sf_dir):
    import os

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    return (
        f"hgs_ctas_orders_{tag}",
        f"hgs_ctas_customer_{tag}",
    )


def test_ctas_tables_cobucket_join_shuffle_free(spark, sf_dir):
    # The 100 TB claim itself: the two CTAS outputs join as a zero-
    # Exchange sort-merge join (pay the shuffle once at write time).
    # Broadcast is disabled for the assertion — at gate scale AQE
    # rightly broadcasts the small side, which would mask the property.
    from hadoop_gpu_spark import plans
    from hadoop_gpu_spark.queries import q_bucketed_ctas

    q_bucketed_ctas(spark, sf_dir).collect()  # materialize the tables
    o_name, c_name = _ctas_table_names(sf_dir)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table(o_name).join(
            spark.table(c_name),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = plans.formatted_plan(j)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024)
        )


def test_ctas_rerun_overwrites_idempotently(spark, sf_dir):
    # The gate runs repeatedly (driver + sweeps + bench warmups): the
    # DROP + CREATE cycle must converge to the same result, not error or
    # accumulate.
    from hadoop_gpu_spark.queries import q_bucketed_ctas

    a = q_bucketed_ctas(spark, sf_dir).toPandas()
    b = q_bucketed_ctas(spark, sf_dir).toPandas()
    key = ["c_mktsegment", "n_orders", "sum_total"]
    assert sorted(map(tuple, a[key].values.tolist())) == sorted(
        map(tuple, b[key].values.tolist())
    )


@pytest.fixture(scope="module", autouse=True)
def _drop_ctas_tables_after(request):
    yield
    # scratch hygiene: the suite's session should not leave managed
    # tables behind in the warehouse
    from hadoop_gpu_spark import get_spark

    spark = get_spark(app_name="hgs-tests", shuffle_partitions=8)
    for t in spark.catalog.listTables():
        if t.name.startswith("hgs_ctas_"):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
