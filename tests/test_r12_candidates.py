"""r12 candidate gates, oracle-pinned while STAGED (built in the r09
continuation; the r11 spare slots are spoken for by the four
test_r11_candidates gates, so these register r12 beside the r08-latest
rotation). Same staging pattern as funnel/pq_train, the r09 trio, and
the r11 quartet: the driver-identical oracle comparison runs here every
session, so registration is a one-line @query move with the evidence
already standing.

Covers: HyperLogLog distinct-count sketch (operators/hll.py) — the
cardinality member of the mergeable-sketch family (quantile sketch =
distribution, CMS = frequency) — and the streaming count-min sketch
(streaming.cms_stream_snapshot), whose availableNow snapshot equals the
batch sketch bit-for-bit and therefore shares q_cms_token_freq's oracle.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tests.oracle import check_query, driver_unsafe_columns

R12_CANDIDATES = [
    "q_hll_distinct",
    "q_stream_cms_freq",
    "q_sparse_allpairs",
    "q_dup_spans",
]

_HLL_P = 10
_HLL_M = 1 << _HLL_P


@pytest.mark.parametrize("name", R12_CANDIDATES)
def test_r12_candidate_gate_oracle(spark, sf_dir, name):
    errs = check_query(spark, name, sf_dir, nonempty=True)
    assert not errs, f"{name}: " + "; ".join(errs[:3])


def test_r12_candidate_oracles_emit_driver_safe_types(sf_dir):
    offenders = driver_unsafe_columns(sf_dir, R12_CANDIDATES)
    assert not offenders, offenders


# ---------------------------------------------------------------------------
# HyperLogLog (operators/hll.py)
# ---------------------------------------------------------------------------
def _py_hll(values, p):
    """Independent hashlib-md5 HyperLogLog — the third implementation,
    replicating registers AND the estimate arithmetic exactly."""
    import hashlib

    m = 1 << p

    def h(v, seed):
        return int(hashlib.md5(f"{v}:{seed}".encode()).hexdigest()[:8], 16)

    regs: dict[int, int] = {}
    for v in values:
        reg = h(v, 1) % m
        w = h(v, 2)
        rank = 33 if w == 0 else 33 - w.bit_length()
        regs[reg] = max(regs.get(reg, 0), rank)
    from hadoop_gpu_spark.operators.hll import hll_num

    num = hll_num(p)
    regs_hit = len(regs)
    v_zero = m - regs_hit
    scaled_sum = sum(1 << (33 - r) for r in regs.values()) + v_zero * (1 << 33)
    if v_zero > 0 and 2 * num <= 5 * m * scaled_sum:
        est = float(m) * round(math.log(float(m) / v_zero), 9)
    else:
        est = float(num) / scaled_sum
    return regs, regs_hit, v_zero, scaled_sum, est


def test_hll_matches_standalone_reference(spark):
    # Registers AND estimate bit-equal to an independent hashlib
    # implementation, on a corpus small enough to hand-verify (the LC
    # branch) and one big enough to leave it (the raw branch at p=4).
    from hadoop_gpu_spark.operators.hll import hll_distinct, hll_registers

    values = [f"v{i}" for i in range(40)] * 3  # duplicates must not matter
    df = spark.createDataFrame([(v,) for v in values], "k string")
    for p in (4, 10):
        regs, regs_hit, v_zero, scaled_sum, est = _py_hll(values, p)
        got = hll_distinct(df, "k", p=p).collect()[0]
        assert (got["regs_hit"], got["v_zero"], got["scaled_sum"]) == (
            regs_hit,
            v_zero,
            scaled_sum,
        ), p
        assert got["est_distinct"] == est, (p, got["est_distinct"], est)
        got_regs = {
            r["reg"]: r["max_rank"] for r in hll_registers(df, "k", p=p).collect()
        }
        assert got_regs == regs, p


def test_hll_p_out_of_lattice_range_raises_valueerror():
    # r09 ADVICE medium: p in [11, 16] used to pass _check_p and then die
    # on a bare assert in hll_num (NUM > 2^53 at p=11 — the exact-IEEE-
    # division contract breaks; under python -O it would SILENTLY break
    # instead). The contract bound is now an explicit ValueError at the
    # gate, so every entry point fails loudly and identically.
    import pytest as _pytest

    from hadoop_gpu_spark.operators.hll import hll_distinct_sql, hll_num

    for p in (3, 11, 16):
        with _pytest.raises(ValueError):
            hll_num(p)
        with _pytest.raises(ValueError):
            hll_distinct_sql("t", "k", p=p)
    assert hll_num(10) < (1 << 53)  # the design point still fits


def test_hll_null_keys_are_ignored_like_count_distinct(spark):
    # r09 ADVICE low: a NULL key used to build a phantom NULL register
    # row — counted by regs_hit, skipped by SUM — inflating the estimate
    # identically in both engines (invisible to the oracle). NULLs are
    # now filtered in hll_registers AND the SQL twin: sketches with and
    # without NULL rows must be identical, matching COUNT(DISTINCT)
    # semantics, and the twin must agree.
    import duckdb as _dd
    import pandas as _pd

    from hadoop_gpu_spark.operators.hll import hll_distinct, hll_distinct_sql

    vals = [f"v{i}" for i in range(30)]
    clean = spark.createDataFrame([(v,) for v in vals], "k string")
    dirty = spark.createDataFrame(
        [(v,) for v in vals] + [(None,)] * 7, "k string"
    )
    a = hll_distinct(clean, "k", p=4).collect()[0]
    b = hll_distinct(dirty, "k", p=4).collect()[0]
    assert a.asDict() == b.asDict()
    con = _dd.connect()
    con.register("t", _pd.DataFrame({"k": vals + [None] * 7}))
    twin = con.sql(hll_distinct_sql("t", "k", p=4)).df().iloc[0]
    con.close()
    assert (
        int(twin["regs_hit"]),
        int(twin["v_zero"]),
        int(twin["scaled_sum"]),
        float(twin["est_distinct"]),
    ) == (b["regs_hit"], b["v_zero"], b["scaled_sum"], b["est_distinct"])


def test_hll_estimator_branches_straddle_the_gate_scales(spark):
    # The gate subject was CHOSEN so both estimator arms earn oracle
    # rows: ~1.1k distinct orders/flag at sf0.001 -> linear counting;
    # ~11k at sf0.01 -> raw harmonic. Pin that fact so a testdata
    # regeneration that collapses it is loud.
    from hadoop_gpu_spark import queries as q
    from hadoop_gpu_spark.operators.hll import hll_num

    num = hll_num(_HLL_P)

    def branches(sf_dir):
        rows = q.q_hll_distinct(spark, sf_dir).collect()
        assert rows
        return {
            (r["v_zero"] > 0 and 2 * num <= 5 * _HLL_M * r["scaled_sum"])
            for r in rows
        }

    assert branches("/root/testdata/sf0.001") == {True}  # all LC
    assert branches("/root/testdata/sf0.01") == {False}  # all raw


def test_hll_estimates_within_theoretical_error(spark, sf_dir):
    # HLL standard error is 1.04/sqrt(m) (~3.25% at p=10); assert every
    # group sits within 3 sigma of the exact distinct count (~9.8%) at
    # both branch regimes. Deterministic (md5), so this is a fixed fact
    # about the corpus, not a flaky probabilistic bound.
    from hadoop_gpu_spark import queries as q
    from hadoop_gpu_spark.tables import load_table

    for d in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        est = {r["l_returnflag"]: r["est_distinct"] for r in q.q_hll_distinct(spark, d).collect()}
        exact = {
            r["l_returnflag"]: r["n"]
            for r in load_table(spark, "lineitem", d)
            .groupBy("l_returnflag")
            .agg(F.countDistinct("l_orderkey").alias("n"))
            .collect()
        }
        assert set(est) == set(exact)
        for flag, e in est.items():
            rel = abs(e / exact[flag] - 1.0)
            assert rel <= 3 * 1.04 / math.sqrt(_HLL_M), (d, flag, e, exact[flag], rel)


def test_hll_merge_is_register_max_and_idempotent(spark):
    # Mergeability (the shard/stream story): sketch(A ∪ B) equals the
    # per-register MAX merge of sketch(A) and sketch(B) exactly — and
    # re-merging the same shard is a no-op (idempotence, which count-sum
    # sketches cannot promise under replayed shards).
    from hadoop_gpu_spark.operators.hll import hll_merge, hll_registers

    a = spark.createDataFrame([(f"a{i}",) for i in range(300)], "k string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(200)] + [("a0",)], "k string")
    whole = {
        (r["reg"]): r["max_rank"]
        for r in hll_registers(a.unionByName(b), "k", p=6).collect()
    }
    sa, sb = hll_registers(a, "k", p=6), hll_registers(b, "k", p=6)
    merged = {r["reg"]: r["max_rank"] for r in hll_merge(sa, sb).collect()}
    assert merged == whole
    twice = {
        r["reg"]: r["max_rank"] for r in hll_merge(hll_merge(sa, sb), sb).collect()
    }
    assert twice == whole


def test_hll_sketch_is_partition_invariant(spark, sf_dir):
    # The register table (and hence every estimate) must not depend on
    # partition layout — max is commutative/associative and the hashes
    # are value-pure.
    from hadoop_gpu_spark.operators.hll import hll_distinct
    from hadoop_gpu_spark.tables import load_table

    li = load_table(spark, "lineitem", sf_dir).select("l_returnflag", "l_orderkey")
    one = sorted(
        tuple(r) for r in hll_distinct(li.repartition(1), "l_orderkey", ["l_returnflag"]).collect()
    )
    many = sorted(
        tuple(r)
        for r in hll_distinct(
            li.repartition(17, "l_orderkey"), "l_orderkey", ["l_returnflag"]
        ).collect()
    )
    assert one == many


def test_hll_lc_branch_engine_parity_is_exhaustive():
    # The linear-counting estimate is m * round(ln(m / v_zero), 9) — a
    # round(double, d) whose tie semantics DIVERGE between engines in
    # general (test_known_engine_divergent_numeric_behaviors). Here the
    # input domain is the m integers v_zero ∈ [1, m], so parity is
    # checked EXHAUSTIVELY: every value the branch can ever produce at
    # p=10 agrees bit-for-bit across Spark's semantics (BigDecimal
    # HALF_UP on the shortest decimal string) and DuckDB's (binary
    # rounding) — proven equal, not assumed safe.
    import duckdb

    from hadoop_gpu_spark import get_spark

    spark = get_spark(app_name="hgs-tests", shuffle_partitions=8)
    got = {
        r["v"]: r["est"]
        for r in spark.range(1, _HLL_M + 1)
        .selectExpr(
            "id AS v",
            f"{float(_HLL_M)!r} * round(ln({float(_HLL_M)!r} / CAST(id AS DOUBLE)), 9) AS est",
        )
        .collect()
    }
    con = duckdb.connect()
    want = dict(
        con.execute(
            f"SELECT v, {float(_HLL_M)!r} * round(ln({float(_HLL_M)!r} / CAST(v AS DOUBLE)), 9) "
            f"FROM generate_series(1, {_HLL_M}) t(v)"
        ).fetchall()
    )
    con.close()
    bad = [v for v in got if got[v] != want[v]]
    assert not bad, bad[:10]


def test_hll_rank_expression_matches_bit_length(spark):
    # The integer leading-zero rank: 33 - length(bin(w)) with the w=0
    # arm — against Python's bit_length on edges and random values, and
    # against DuckDB's identical spelling.
    import random

    import duckdb

    from hadoop_gpu_spark.operators.hll import _rank32

    rng = random.Random(12)
    vals = [0, 1, 2, 3, 2**31 - 1, 2**31, 2**32 - 1] + [
        rng.randrange(2**32) for _ in range(200)
    ]
    df = spark.createDataFrame([(v,) for v in vals], "w long")
    got = {r["w"]: r["rank"] for r in df.select("w", _rank32(F.col("w")).alias("rank")).collect()}
    con = duckdb.connect()
    duck = dict(
        con.execute(
            "SELECT w, CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END "
            "FROM (SELECT unnest(?) AS w)",
            [vals],
        ).fetchall()
    )
    con.close()
    for v in vals:
        want = 33 if v == 0 else 33 - v.bit_length()
        assert got[v] == duck[v] == want, (v, got[v], duck[v], want)


def test_hll_plan_single_scan_key_never_shuffles(spark, sf_dir):
    # One lineitem scan; what crosses the aggregate exchanges is
    # (flag, reg, rank) register rows — the key column itself never
    # shuffles, the property that keeps the sketch viable when the key
    # is a fat string at 100 TB.
    import re

    from hadoop_gpu_spark import plans
    from hadoop_gpu_spark import queries as q

    df = q.q_hll_distinct(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert len(re.findall(r"^\s*\(\d+\) Scan parquet\b", plan, re.M)) == 1, plan
    assert "l_orderkey" not in plans.shuffled_columns(df)


# ---------------------------------------------------------------------------
# Streaming count-min sketch (streaming.cms_stream_snapshot)
# ---------------------------------------------------------------------------
def test_stream_cms_snapshot_equals_batch_sketch(spark, sf_dir):
    # Mergeability end to end: the availableNow-drained streaming CMS
    # must equal the batch sketch of the same corpus bit-for-bit —
    # the property the shared oracle stands on.
    import os
    import tempfile

    from pyspark.sql import functions as F

    from hadoop_gpu_spark.operators.cms import cms_build
    from hadoop_gpu_spark.operators.fields import tokenize
    from hadoop_gpu_spark.streaming import cms_stream_snapshot, docs_stream
    from hadoop_gpu_spark.tables import load_table

    out_dir = os.path.join(tempfile.gettempdir(), f"hgs_test_scms_{os.getpid()}")
    snap = cms_stream_snapshot(
        docs_stream(spark, sf_dir), "text", out_dir, d=4, w=64
    ).toPandas()
    batch = cms_build(
        load_table(spark, "documents", sf_dir).select(
            F.explode(tokenize("text")).alias("tok")
        ),
        "tok",
        d=4,
        w=64,
    ).toPandas()
    key = ["row_id", "col_id", "cnt"]
    assert sorted(map(tuple, snap[key].values.tolist())) == sorted(
        map(tuple, batch[key].values.tolist())
    )


def test_cms_precount_null_tokens_match_occurrence_form(spark):
    # ADVICE r16: _cms_precount uses value_counts(dropna=False), whose
    # NaN index entry Arrow-coerces to a null string. Pin that a batch
    # CONTAINING null tokens produces the identical sketch through the
    # weighted pre-count path and the per-occurrence path (tokenize
    # never emits nulls, so this guards the helper's own contract, not
    # a reachable production shape).
    from hadoop_gpu_spark.operators.cms import cms_build
    from hadoop_gpu_spark.streaming import _cms_precount

    toks = spark.createDataFrame(
        [("a",), (None,), ("b",), (None,), ("a",), (None,)], "tok string"
    )
    occurrence = cms_build(toks, "tok", d=4, w=8).toPandas()
    pre = toks.mapInPandas(_cms_precount, "tok string, __c long")
    weighted = cms_build(pre, "tok", d=4, w=8, weight_col="__c").toPandas()
    # a null token hashes to a null col_id, so compare sorted frames
    # (NaN-equal) rather than tuples (NaN != NaN)
    import pandas as pd

    key = ["row_id", "col_id", "cnt"]

    def rows(df):
        return df[key].sort_values(key).reset_index(drop=True)

    pd.testing.assert_frame_equal(rows(occurrence), rows(weighted), check_dtype=False)


def test_stream_cms_construct_two_scales_then_collect_first(spark, sf_dir):
    # r09 ADVICE low: the snapshot dir was keyed only by PID and the
    # returned frame reads it LAZILY, so constructing the query for a
    # second sf_dir overwrote the first's snapshot before a collect —
    # wrong-scale results for construct-then-collect callers. The dir is
    # now keyed by (pid, sf_dir, d, w): construct at BOTH scales, then
    # collect the FIRST frame and require the first scale's answer.
    import pandas as pd

    from hadoop_gpu_spark.queries import q_stream_cms_freq

    import os

    # second scale chosen to DIFFER from the suite's sf_dir — with a
    # hardcoded sf0.01 this test went vacuous whenever
    # SPARK_GRAFT_TEST_SF_DIR was itself sf0.01 (r11 ADVICE)
    second = (
        "/root/testdata/sf0.01"
        if os.path.normpath(sf_dir) != "/root/testdata/sf0.01"
        else "/root/testdata/sf0.001"
    )
    first = q_stream_cms_freq(spark, sf_dir)
    q_stream_cms_freq(spark, second)  # would overwrite before
    got = first.toPandas().sort_values("token").reset_index(drop=True)
    import tests.oracle as oracle

    con = oracle.duckdb_con(sf_dir)
    from hadoop_gpu_spark.queries import Q_STREAM_CMS_FREQ_ORACLE

    want = con.sql(Q_STREAM_CMS_FREQ_ORACLE).df().sort_values("token").reset_index(drop=True)
    con.close()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_stream_cms_state_is_bounded_by_grid_not_vocab(spark, sf_dir):
    # The CMS-specific streaming story: the snapshot (= the complete-
    # mode state) is capped at d * w rows by construction — an exact
    # streaming token-frequency aggregate would instead hold one state
    # row per distinct token (Heaps-law growth).
    import os
    import tempfile

    from hadoop_gpu_spark.streaming import cms_stream_snapshot, docs_stream

    d, w = 3, 8
    out_dir = os.path.join(tempfile.gettempdir(), f"hgs_test_scmsb_{os.getpid()}")
    snap = cms_stream_snapshot(
        docs_stream(spark, sf_dir), "text", out_dir, d=d, w=w
    ).toPandas()
    assert len(snap) <= d * w
    assert set(snap["row_id"]) <= set(range(d))
    assert (snap["col_id"] >= 0).all() and (snap["col_id"] < w).all()


def test_stream_cms_merges_across_micro_batches(spark, sf_dir):
    # Force MULTIPLE micro-batches (maxFilesPerTrigger=1 over a 3-file
    # copy of the corpus) and assert the drained state still equals the
    # batch sketch — the count-sum merge across micro-batch increments,
    # not just a single-batch replay.
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from hadoop_gpu_spark.operators.cms import cms_build
    from hadoop_gpu_spark.operators.fields import tokenize
    from hadoop_gpu_spark.streaming import cms_stream_snapshot
    from hadoop_gpu_spark.tables import load_table

    base = os.path.join(tempfile.gettempdir(), f"hgs_test_scmsm_{os.getpid()}")
    src_dir = os.path.join(base, "src")
    out_dir = os.path.join(base, "snap")
    shutil.rmtree(base, ignore_errors=True)
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    docs.repartition(3).write.mode("overwrite").parquet(src_dir)
    n_files = len([f for f in os.listdir(src_dir) if f.endswith(".parquet")])
    assert n_files >= 2, "need multiple files to force multiple micro-batches"
    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    snap = cms_stream_snapshot(stream, "text", out_dir, d=2, w=32).toPandas()
    batch = cms_build(
        docs.select(F.explode(tokenize("text")).alias("tok")), "tok", d=2, w=32
    ).toPandas()
    key = ["row_id", "col_id", "cnt"]
    assert sorted(map(tuple, snap[key].values.tolist())) == sorted(
        map(tuple, batch[key].values.tolist())
    )
    shutil.rmtree(base, ignore_errors=True)


def test_hll_sql_twin_matches_reference_fuzz():
    """python <-> DuckDB differential fuzz at tiny p (collision-heavy
    registers, both estimator branches) over random value lists — the
    CMS fuzz stance: the Spark side is pinned to this twin by the
    oracle gate test and by test_hll_matches_standalone_reference."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from hadoop_gpu_spark.operators.hll import hll_distinct_sql

    word = st.text(alphabet="abcxyz", min_size=1, max_size=4)

    @given(
        values=st.lists(word, min_size=1, max_size=40),
        p=st.integers(min_value=4, max_value=6),
    )
    @settings(max_examples=60, deadline=None)
    def run(values, p):
        _, regs_hit, v_zero, scaled_sum, est = _py_hll(values, p)
        con = duckdb.connect()
        con.sql("CREATE TABLE t (k VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?)", [[v] for v in values])
        got = con.sql(hll_distinct_sql("t", "k", p=p)).fetchall()[0]
        con.close()
        assert got == (regs_hit, v_zero, scaled_sum, est), (values, p, got)

    run()


# ---------------------------------------------------------------------------
# Sparse all-pairs TF-IDF cosine (similarity/sparse.py)
# ---------------------------------------------------------------------------
def _py_sparse_allpairs(texts_by_id, tau, max_df, n=3, idf_scale=1000):
    """Independent hashlib/stdlib implementation — the third
    implementation, replicating grams, feature hashing, the idf
    lattice, and the IEEE cosine exactly."""
    import collections
    import hashlib
    import itertools
    import math

    def grams(text):
        toks = [t for t in text.split() if t]
        cnt = max(len(toks) - n + 1, 1)
        gs = [" ".join(toks[i : i + n]) for i in range(cnt)]
        return [g for g in gs if g != ""]

    def h(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16)

    n_docs = float(len(texts_by_id))
    tf = {
        i: collections.Counter(h(g) for g in grams(t)) for i, t in texts_by_id.items()
    }
    df = collections.Counter(g for i in tf for g in tf[i])
    w = {
        i: {
            g: wt
            for g, c in tf[i].items()
            if df[g] <= max_df
            and (wt := c * int(round(math.log(n_docs / df[g]) * idf_scale))) > 0
        }
        for i in tf
    }
    norm2 = {i: sum(x * x for x in w[i].values()) for i in w}
    out = {}
    for a, b in itertools.combinations(sorted(w), 2):
        shared = set(w[a]) & set(w[b])
        if not shared:
            continue
        dot = sum(w[a][g] * w[b][g] for g in shared)
        cos = float(dot) / (math.sqrt(float(norm2[a])) * math.sqrt(float(norm2[b])))
        if cos >= tau:
            out[(a, b)] = (len(shared), cos)
    return out


def test_sparse_allpairs_matches_standalone_reference(spark):
    # A crafted corpus with an exact template pair, a partial overlap,
    # and unrelated docs — Spark output must equal the stdlib reference
    # bit-for-bit (n_shared AND cosine).
    from hadoop_gpu_spark.similarity.sparse import sparse_allpairs

    texts = {
        1: "alpha beta gamma delta epsilon zeta eta theta",
        2: "alpha beta gamma delta epsilon zeta eta iota",
        3: "alpha beta gamma delta epsilon zeta eta theta",  # exact dup of 1
        4: "one two three four five six seven eight nine",
        5: "one two three four five ten eleven twelve",
        6: "completely different words everywhere here now",
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"]): (r["n_shared"], r["cos"])
        for r in sparse_allpairs(docs, tau=0.1, max_df=5).collect()
    }
    want = _py_sparse_allpairs(texts, tau=0.1, max_df=5)
    assert got == want, (got, want)
    assert got[(1, 3)][1] == 1.0  # the exact dup pair at cosine exactly 1


def test_sparse_allpairs_threshold_and_order_invariants(spark, sf_dir):
    # Output contract: doc_a < doc_b, every cosine in [tau, 1], at
    # least one injected near-dup pair surfaces at ~0.99.
    from hadoop_gpu_spark import queries as q

    rows = q.q_sparse_allpairs(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert q._SPARSE_TAU <= r["cos"] <= 1.0 + 1e-12
        assert r["n_shared"] >= 1
    assert max(r["cos"] for r in rows) > 0.95  # the injected near-dups


def test_sparse_allpairs_df_cap_bounds_fanout(spark):
    # The scale contract itself: a feature appearing in > max_df docs
    # must be absent from the posting frame, so per-feature join
    # fan-out can never exceed max_df^2. Construct a boilerplate gram
    # present in every doc and assert it pairs nothing.
    from hadoop_gpu_spark.similarity.sparse import sparse_allpairs

    boiler = "same boiler plate"
    docs = spark.createDataFrame(
        [(i, f"{boiler} unique{i} tail{i} word{i}") for i in range(10)],
        "doc_id long, text string",
    )
    # max_df=2 < 10 docs: the boilerplate grams are dropped; remaining
    # grams are doc-unique -> no pair shares a surviving feature.
    out = sparse_allpairs(docs, tau=0.01, max_df=2).collect()
    assert out == []


def test_sparse_allpairs_idf_lattice_engine_parity_is_exhaustive():
    # idf_u = CAST(round(ln(N/df) * scale) AS BIGINT) must agree across
    # Spark, DuckDB, and Python for EVERY df the operator can see
    # (df ∈ [1, max_df], and far beyond for headroom): verified over
    # df ∈ [1, 4096] at several corpus sizes — the HLL LC-branch
    # stance: proven equal over the whole input domain, not sampled.
    import math

    import duckdb

    from hadoop_gpu_spark import get_spark

    spark = get_spark(app_name="hgs-tests", shuffle_partitions=8)
    con = duckdb.connect()
    for n_docs in (500.0, 5000.0, 1e8):
        got = {
            r["df"]: r["idf_u"]
            for r in spark.range(1, 4097)
            .selectExpr(
                "id AS df",
                f"CAST(round(ln({n_docs!r} / CAST(id AS DOUBLE)) * 1000.0) AS BIGINT) AS idf_u",
            )
            .collect()
        }
        want = dict(
            con.execute(
                f"SELECT v, CAST(trunc(round(ln({n_docs!r} / CAST(v AS DOUBLE)) * 1000.0)) AS BIGINT) "
                "FROM generate_series(1, 4096) t(v)"
            ).fetchall()
        )
        py = {d: int(round(math.log(n_docs / d) * 1000.0)) for d in range(1, 4097)}
        bad = [d for d in got if not (got[d] == want[d] == py[d])]
        assert not bad, (n_docs, bad[:10])
    con.close()


def test_sparse_allpairs_plan_shares_one_posting_relation(spark, sf_dir):
    # The self-join's two branches must read ONE cached posting
    # relation (eager_persist), not recompute the gram/tf/df pipeline
    # per side — the dual-branch-recompute class, pre-empted at build
    # time (the semantic_dedup precedent). And the document text never
    # shuffles: grams hash at the scan.
    import re

    from hadoop_gpu_spark import plans
    from hadoop_gpu_spark import queries as q

    df = q.q_sparse_allpairs(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert plan.count("InMemoryTableScan") >= 2, plan
    live = re.findall(r"^\s*\(\d+\) Scan parquet\b", plan, re.M)
    assert len(live) <= 1, plan  # only the cached relation's build lineage
    assert "text" not in plans.shuffled_columns(df)


@pytest.fixture(scope="module", autouse=True)
def _release_persisted_after_r12(spark):
    yield
    from hadoop_gpu_spark import release

    release(spark)


# ---------------------------------------------------------------------------
# Duplicate-substring spans (dedup/substr.py)
# ---------------------------------------------------------------------------
def _py_dup_spans(texts_by_id, k, min_docs):
    """Independent hashlib/stdlib implementation — positions, distinct-
    doc threshold, and interval-union merge replicated exactly."""
    import collections
    import hashlib

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    pos = {
        i: [(p + 1, h(t[p : p + k])) for p in range(len(t) - k + 1)]
        for i, t in texts_by_id.items()
        if len(t) >= k
    }
    docs_per_gram = collections.Counter()
    for i in pos:
        for g in {g for _, g in pos[i]}:
            docs_per_gram[g] += 1
    out = []
    for i in pos:
        dup = sorted(p for p, g in pos[i] if docs_per_gram[g] >= min_docs)
        run = []
        for p in dup:
            if run and p - run[-1] <= k:
                run.append(p)
            else:
                if run:
                    out.append((i, run[0], run[-1] + k - 1, run[-1] + k - run[0]))
                run = [p]
        if run:
            out.append((i, run[0], run[-1] + k - 1, run[-1] + k - run[0]))
    return sorted(out)


def test_dup_spans_matches_standalone_reference(spark):
    # Crafted corpus: docs 1/2 share a 33-char substring at DIFFERENT
    # offsets (the stride-1 alignment point), doc 3 repeats a substring
    # only within itself (must NOT trigger at min_docs=2), doc 4 is
    # unique. Spark must equal the stdlib reference exactly.
    from hadoop_gpu_spark.dedup.substr import dup_substring_spans

    shared = "the quick brown fox jumps over it"  # 33 chars
    texts = {
        1: f"AAAA {shared} BBBBBBBBBBBBBBBBBBBB",
        2: f"CCCCCCCCCCCCCCCCCCCCCCCCCCCC {shared} DD",
        3: "xyxyxyxyxyxyxyxyxyxyxyxyxyxy xyxyxyxyxyxyxyxyxyxyxyxyxyxy!!",
        4: "completely unique text with no duplicated twenty-gram anywhere",
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = sorted(tuple(r) for r in dup_substring_spans(docs, k=20, min_docs=2).collect())
    want = _py_dup_spans(texts, k=20, min_docs=2)
    assert got == want, (got, want)
    by_doc = {r[0]: r for r in got}
    # the shared substring is found in both docs, COVERED by the span
    # at each doc's own offset (the surrounding shared spaces widen the
    # maximal region by one char on each side — that's correct: the
    # true maximal shared substring is ' <shared> ')
    assert 1 in by_doc and 2 in by_doc
    a, b = texts[1].index(shared) + 1, texts[2].index(shared) + 1
    assert by_doc[1][1] <= a and by_doc[1][2] >= a + len(shared) - 1
    assert by_doc[2][1] <= b and by_doc[2][2] >= b + len(shared) - 1
    # within-doc-only repetition and unique docs emit nothing
    assert 3 not in by_doc and 4 not in by_doc


def test_dup_spans_interval_union_merges_overlaps(spark):
    # Two duplicated regions whose character intervals overlap (gap
    # between duplicated positions <= k) merge into ONE span; a gap
    # > k splits. Built from two docs sharing a prefix and a suffix
    # with unique middles of controlled width.
    from hadoop_gpu_spark.dedup.substr import dup_substring_spans

    pre, suf = "P" * 25, "S" * 25
    texts = {
        # gap between shared prefix and suffix = 10 unique chars (< k):
        # the duplicated intervals [1,25] and [36,60] overlap-or-touch
        # via position gap 35 - 6 = 29 > k? positions: prefix grams at
        # 1..6, suffix grams at 36..41 -> gap 30 > 20 -> SPLIT. Use a
        # 2-char middle instead: suffix at 28..33, gap 28-6=22 > 20 ->
        # still split. Middle of 0 chars is just concat; use 1 char:
        # suffix grams at 27..32, gap 27-6=21 > 20 -> split. The merge
        # case needs the gap <= k: overlap the shared regions by making
        # the middle itself duplicated in a third doc? Simpler: one
        # shared 30-char region with a 1-char unique interruption is
        # not expressible; instead two docs sharing TWO regions 15
        # apart vs 25 apart:
        1: pre + "a" * 15 + suf + "u1u1u1",
        2: pre + "b" * 15 + suf + "v2v2v2",
        3: pre + "c" * 25 + suf + "w3w3w3",
        4: pre + "d" * 25 + suf + "x4x4x4",
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    rows = sorted(
        tuple(r) for r in dup_substring_spans(docs, k=20, min_docs=2).collect()
    )
    want = _py_dup_spans(texts, k=20, min_docs=2)
    assert rows == want, (rows, want)
    spans = {}
    for i, s, e, l in rows:
        spans.setdefault(i, []).append((s, e))
    # 15-char middles: prefix positions 1..6, suffix positions 41..46;
    # gap 41 - 6 = 35 > k -> hmm, both docs' pre+suf are shared with
    # ALL four docs (pre in all, suf in all), so prefix grams are
    # duplicated for every doc. The structural assertion that matters:
    # every doc's spans are disjoint and non-adjacent, and equal the
    # stdlib reference (already asserted) — plus the gap rule holds:
    for i, ss in spans.items():
        ss = sorted(ss)
        for (s1, e1), (s2, e2) in zip(ss, ss[1:]):
            assert s2 > e1 + 1, (i, ss)


def test_dup_spans_output_disjoint_nonadjacent_on_corpus(spark, sf_dir):
    # The output contract on real data: per document, spans are
    # disjoint, non-adjacent, ordered, and at least k long.
    from hadoop_gpu_spark import queries as q
    from hadoop_gpu_spark.dedup.substr import DUPSPAN_K

    rows = q.q_dup_spans(spark, sf_dir).collect()
    assert rows
    spans = {}
    for r in rows:
        assert r["span_len"] == r["span_end"] - r["span_start"] + 1 >= DUPSPAN_K
        spans.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))
    assert any(len(v) > 0 for v in spans.values())
    for i, ss in spans.items():
        ss = sorted(ss)
        for (s1, e1), (s2, e2) in zip(ss, ss[1:]):
            assert s2 > e1 + 1, (i, ss)


def test_dup_spans_plan_two_pass_no_corpus_persist(spark, sf_dir):
    # The r15 shape: the freq branch and the span branch are two
    # INDEPENDENT kernel passes over the parquet scan — exactly two
    # scans, NO InMemoryRelation anywhere (the old eager_persist of the
    # 24-bytes-per-character position frame was the scale bug: at
    # corpus scale it is ~24x the text itself; re-hashing is strictly
    # cheaper) — with document text never shuffling (hashes are
    # computed at the scan).
    import re

    from hadoop_gpu_spark import plans
    from hadoop_gpu_spark import queries as q

    df = q.q_dup_spans(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "InMemoryTableScan" not in plan, plan
    live = re.findall(r"^\s*\(\d+\) Scan parquet\b", plan, re.M)
    assert len(live) == 2, plan
    assert "text" not in plans.shuffled_columns(df)


def test_dup_spans_pandas_matches_expression(spark, sf_dir):
    # The Arrow-batched hash kernel is licensed by bit-equality with
    # the expression spec (the winnow fast-path stance) — full corpus
    # plus adversarial multi-byte text through BOTH pipelines.
    from hadoop_gpu_spark.dedup.substr import dup_substring_spans
    from hadoop_gpu_spark.tables import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    fast = sorted(tuple(r) for r in dup_substring_spans(docs, use_pandas=True).collect())
    spec = sorted(tuple(r) for r in dup_substring_spans(docs, use_pandas=False).collect())
    assert fast == spec
    # multi-byte + exact-k + shorter-than-k edges
    edge = spark.createDataFrame(
        [
            (1, "日本語のテキストです。これは重複検出のテスト行です。"),
            (2, "日本語のテキストです。これは重複検出のテスト行です。"),
            (3, "short"),
            (4, "exactly twenty chars"),
            (5, "exactly twenty chars"),
        ],
        "doc_id long, text string",
    )
    fast = sorted(tuple(r) for r in dup_substring_spans(edge, use_pandas=True).collect())
    spec = sorted(tuple(r) for r in dup_substring_spans(edge, use_pandas=False).collect())
    assert fast == spec
    assert (4, 1, 20, 20) in fast and (5, 1, 20, 20) in fast  # exact-k pair
    assert not any(r[0] == 3 for r in fast)  # shorter than k: no positions


def test_sparse_allpairs_sql_twin_matches_reference_fuzz():
    """python <-> DuckDB differential fuzz over tiny random corpora
    (short alphabets force shared grams and hash-feature reuse) — the
    CMS/HLL fuzz stance: the Spark side is pinned to this twin by the
    oracle gate test and the stdlib-reference test."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from hadoop_gpu_spark.similarity.sparse import sparse_allpairs_sql

    word = st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"])
    doc = st.lists(word, min_size=1, max_size=8).map(" ".join)

    @given(docs=st.lists(doc, min_size=2, max_size=6), tau=st.sampled_from([0.05, 0.3, 0.8]))
    @settings(max_examples=40, deadline=None)
    def run(docs, tau):
        texts = {i: t for i, t in enumerate(docs)}
        want = _py_sparse_allpairs(texts, tau=tau, max_df=4, n=3)
        con = duckdb.connect()
        con.sql("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?, ?)", list(texts.items()))
        got = {
            (a, b): (ns, cos)
            for a, b, ns, cos in con.sql(
                sparse_allpairs_sql("t", tau=tau, max_df=4, n=3)
            ).fetchall()
        }
        con.close()
        assert got == want, (docs, tau, got, want)

    run()


def test_dup_spans_position_chunking_invariant(spark, sf_dir, monkeypatch):
    # The r13 row-emitting kernel yields (id, pos, h) frames of at most
    # POSITION_CHUNK_ROWS rows (bounding Arrow buffer growth — the sf10
    # GCLocker fix); chunk height must never change output. 100 rows
    # forces many flushes mid-document-stream on the real corpus.
    from hadoop_gpu_spark.dedup import substr
    from hadoop_gpu_spark.tables import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    full = sorted(
        tuple(r) for r in substr.dup_substring_spans(docs, use_pandas=True).collect()
    )
    monkeypatch.setattr(substr, "POSITION_CHUNK_ROWS", 100)
    monkeypatch.setattr(substr, "HASH_SUB_ROWS", 128)
    monkeypatch.setattr(substr, "COMBINE_ROWS", 64)
    tiny = sorted(
        tuple(r) for r in substr.dup_substring_spans(docs, use_pandas=True).collect()
    )
    assert full == tiny


def test_dup_spans_sql_twin_matches_reference_fuzz():
    """python <-> DuckDB differential fuzz with a small k (k=4 over a
    2-letter alphabet — duplicated substrings everywhere, heavy
    interval merging) — pins the twin the Spark side is gated on."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from hadoop_gpu_spark.dedup.substr import dup_substring_spans_sql

    doc = st.text(alphabet="xy", min_size=0, max_size=24)

    @given(docs=st.lists(doc, min_size=2, max_size=6), min_docs=st.integers(2, 3))
    @settings(max_examples=60, deadline=None)
    def run(docs, min_docs):
        texts = {i: t for i, t in enumerate(docs)}
        want = _py_dup_spans(texts, k=4, min_docs=min_docs)
        con = duckdb.connect()
        con.sql("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?, ?)", list(texts.items()))
        got = sorted(
            con.sql(
                dup_substring_spans_sql("t", k=4, min_docs=min_docs)
            ).fetchall()
        )
        con.close()
        assert got == want, (docs, min_docs, got, want)

    run()
