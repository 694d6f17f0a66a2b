"""r06 gate queries, verified against the exact DuckDB oracle the driver
runs (same pattern as
tests/test_multimodal.py::test_pending_media_probe_gate; see the gate
cohort note in queries.py). Covers the six gates added after the r05
window froze: PII redaction, int8 scalar quantization, PQ encode, the
streaming foreachBatch top-k snapshot, PQ-ADC top-k, and Bloom
decontamination. All eight gates (these six plus q_media_probe /
q_audio_decode in test_multimodal.py) were registered and windowed in
round 6; this suite remains as the local fast-path oracle check.
"""

from __future__ import annotations

import pytest

from tests.oracle import check_query, driver_unsafe_columns

PENDING = [
    "q_pii_redact",
    "q_sq8_quantize",
    "q_pq_encode",
    "q_stream_topk",
    "q_ann_pq",
    "q_bloom_decontaminate",
]

# r07 cohort — built + oracle-pinned in r06 while the r06 window was
# exactly full; registered and windowed in round 7 (see the gate cohort
# note in queries.py). Retained as the local fast-path oracle check.
PENDING_R07 = [
    "q_chunk_documents",
    "q_domain_cap",
    "q_embedding_outliers",
    "q_text_normalize",
]


@pytest.mark.parametrize("name", [*PENDING, *PENDING_R07])
def test_pending_gate_oracle(spark, sf_dir, name):
    errs = check_query(spark, name, sf_dir)
    assert not errs, f"{name}: " + "; ".join(errs[:3])


def test_pending_oracles_emit_driver_safe_types(sf_dir):
    names = [*PENDING, *PENDING_R07, "q_media_probe", "q_audio_decode"]
    offenders = driver_unsafe_columns(sf_dir, names)
    assert not offenders, offenders


def test_pii_counts_vary(spark, sf_dir):
    # The md5-derived injection must make every family's count vary
    # across documents — a constant-count gate would pass vacuously.
    from hadoop_gpu_spark.queries import q_pii_redact

    pdf = q_pii_redact(spark, sf_dir).toPandas()
    assert set(pdf["n_emails"]) >= {1, 2}
    assert 0 in set(pdf["n_phones"]) and 1 in set(pdf["n_phones"])
    assert 0 in set(pdf["n_ips"]) and 1 in set(pdf["n_ips"])
    # Redaction is never vacuous: every doc had at least its email
    # replaced, so the redacted text embeds the token.
    assert (pdf["redacted_len"] > 0).all()


def test_pii_regex_engine_parity_on_edge_strings(spark):
    # The Java (Spark) and RE2 (DuckDB) engines must agree on the full
    # match set for the declared pattern subset — exercised on adversarial
    # strings, not just the synthetic corpus: boundary digits, greedy
    # domain backtracking, adjacent PII, 4-letter TLD cap, non-PII
    # lookalikes.
    import duckdb

    from hadoop_gpu_spark.functions.pii import EMAIL_RE, IPV4_RE, PHONE_RE, redact_pii
    from pyspark.sql import functions as F

    cases = [
        "a@b.io tail",
        "x user.name+tag@sub.domain.org y",
        "toolongtld@host.example stays",
        "ip 1.2.3.4 and 255.255.255.255.",
        "no-break1234.5.6.7.8999 inside digits",
        "call +1-200-300-4000+1-200-300-4000",
        "adjacent a@b.de1.2.3.4",
        "dots..everywhere@..x.yz",
        "not an email @ here, not a phone +1-20-300-4000",
    ]
    sdf = spark.createDataFrame([(i, s) for i, s in enumerate(cases)], "i long, t string")
    got = {
        r["i"]: r["red"]
        for r in sdf.select("i", redact_pii(F.col("t")).alias("red")).collect()
    }
    con = duckdb.connect()
    for i, s in enumerate(cases):
        want = con.execute(
            "SELECT regexp_replace(regexp_replace(regexp_replace(?,"
            " ?, '<EMAIL>', 'g'), ?, '<PHONE>', 'g'), ?, '<IP>', 'g')",
            [s, EMAIL_RE, PHONE_RE, IPV4_RE],
        ).fetchone()[0]
        assert got[i] == want, f"case {i}: {got[i]!r} != {want!r}"
    con.close()


def test_sq8_zero_dimension_guard(spark):
    # A constant-zero dimension must quantize to 0, not divide by zero.
    from pyspark.sql import functions as F

    from hadoop_gpu_spark.similarity.quantize import dim_absmax, sq8_codes

    df = spark.createDataFrame(
        [(1, [0.0, 2.0, -4.0]), (2, [0.0, 1.0, 4.0])],
        "vec_id long, embedding array<float>",
    )
    amax = dim_absmax(df)
    assert amax == [0.0, 2.0, 4.0]
    rows = {r["vec_id"]: r["q"] for r in df.select("vec_id", sq8_codes(F.col("embedding"), amax).alias("q")).collect()}
    assert rows[1] == [0, 127, -127]
    assert rows[2] == [0, 64, 127]  # round(0.5*127)=round(63.5) HALF_UP -> 64


def test_pq_codebook_is_dyadic_and_deterministic():
    from hadoop_gpu_spark.similarity.quantize import pq_codebook

    b1, b2 = pq_codebook(), pq_codebook()
    assert b1 == b2
    vals = [c for s in b1 for k in s for c in k]
    assert all(v * 16 == int(v * 16) for v in vals)  # dyadic /16
    assert min(vals) >= -1.0 and max(vals) <= 1.0
    assert len(b1) == 8 and len(b1[0]) == 16 and len(b1[0][0]) == 8


def test_pq_encode_tie_breaks_to_lowest_index(spark):
    # Two identical centroids -> the code must be the LOWER index on both
    # engines (ordered CASE chain). Build a 1-subspace book with a
    # duplicated centroid that exactly matches the vector.
    from hadoop_gpu_spark.similarity.quantize import pq_encode

    book = [[[0.5, -0.5], [0.25, 0.25], [0.25, 0.25]]]
    df = spark.createDataFrame(
        [(7, [0.25, 0.25])], "vec_id long, embedding array<float>"
    )
    row = pq_encode(df, book=book).collect()[0]
    assert row["c0"] == 1 and row["pq_code"] == "1"


def test_bloom_no_false_negatives_and_prunes(spark):
    # Every inserted key must test positive (false negatives are
    # impossible by construction — assert it anyway, it is the property
    # exactness rests on), and absent keys must mostly prune.
    from pyspark.sql import functions as F

    from hadoop_gpu_spark.operators.bloom import bloom_might_contain, build_bloom

    m_bits, k = 1 << 16, 4
    inserted = spark.range(0, 2000).select((F.col("id") * 7 + 3).alias("v"))
    bloom = build_bloom(inserted, "v", m_bits, k)
    n_in = inserted.filter(bloom_might_contain(bloom, F.col("v"), m_bits, k)).count()
    assert n_in == 2000  # zero false negatives
    absent = spark.range(0, 2000).select((F.col("id") * 7 + 4).alias("v"))
    n_fp = absent.filter(bloom_might_contain(bloom, F.col("v"), m_bits, k)).count()
    assert n_fp < 200  # ~(1-e^-kn/m)^k ~ 0.01 at this sizing; prunes >90%


def test_bloom_tree_merge_is_bit_identical(spark):
    # The tree of OR-merge stages (driver-traffic cap at cluster scale)
    # must produce the SAME bitset as the flat fold for any partitioning
    # and any fan-in — OR is associative/commutative, assert it anyway:
    # this is the property the prefilter's exactness composes with.
    from pyspark.sql import functions as F

    from hadoop_gpu_spark.operators.bloom import build_bloom

    m_bits, k = 1 << 14, 3
    base = spark.range(0, 3000).select((F.col("id") * 11 + 5).alias("v"))
    flat = build_bloom(base.repartition(2), "v", m_bits, k)
    for nparts, fanin in ((64, 4), (33, 2), (64, 64)):
        tree = build_bloom(base.repartition(nparts), "v", m_bits, k, merge_fanin=fanin)
        assert tree == flat, (nparts, fanin)


def test_bloom_broadcast_memoized_and_releasable(spark):
    # One broadcast per DISTINCT bitset, however many query constructions
    # reuse it (a fresh broadcast per call would pile up storage across
    # bench warm cycles). release() empties the session's broadcasts.
    from pyspark.sql import functions as F

    from hadoop_gpu_spark.operators import bloom as bl
    from hadoop_gpu_spark.session import engine_state, release

    release(spark)
    broadcasts = engine_state(spark).broadcasts
    bitset = bytes(64)
    df = spark.range(5)
    for _ in range(4):
        df.filter(bl.bloom_might_contain(bitset, F.col("id"), 512, 3)).count()
    assert len(broadcasts) == 1
    other = bytes([1]) + bytes(63)
    df.filter(bl.bloom_might_contain(other, F.col("id"), 512, 3)).count()
    assert len(broadcasts) == 2
    release(spark)
    assert not broadcasts


def test_bloom_cache_evicts_stale_application_entries(spark):
    # After a context stop/restart in a long-lived process, the old
    # context's state (and its dead broadcast handles) must not serve the
    # new one: the first lookup from another context replaces the state.
    import hashlib

    from hadoop_gpu_spark import session
    from hadoop_gpu_spark.operators import bloom as bl

    session.release(spark)
    stale = session.EngineState(context=object())
    stale.broadcasts["feedface"] = object()
    session._state = stale
    try:
        bl._bloom_broadcast(spark, bytes(64))
        state = session.engine_state(spark)
        assert state is not stale
        assert state.context is spark.sparkContext
        assert list(state.broadcasts) == [hashlib.md5(bytes(64)).hexdigest()]
    finally:
        session.release(spark)


def test_bloom_release_destroys_handles(spark):
    # release() uses destroy() (driver copy freed too, not just
    # executors): a destroyed handle is unusable, which is the
    # executable form of the lifetime claim.
    import pytest as _pytest
    from pyspark.sql import functions as F

    from hadoop_gpu_spark.operators import bloom as bl
    from hadoop_gpu_spark.session import engine_state, release

    release(spark)
    df = spark.range(5)
    df.filter(bl.bloom_might_contain(bytes(64), F.col("id"), 512, 3)).count()
    (bc,) = engine_state(spark).broadcasts.values()
    release(spark)
    assert not engine_state(spark).broadcasts
    with _pytest.raises(Exception):
        bc.destroy()  # second destroy on a dead handle must fail loudly


def test_bloom_prefiltered_semi_join_is_exact(spark):
    # The composed prefilter+verify must equal the plain semi join row
    # for row — bloom false positives removed, nothing lost.
    from pyspark.sql import functions as F

    from hadoop_gpu_spark.operators.bloom import bloom_prefiltered_semi_join

    big = spark.range(0, 5000).select((F.col("id") % 977).alias("key"), "id")
    small = spark.range(0, 200).select((F.col("id") * 3).alias("key"))
    got = sorted(
        (r["key"], r["id"])
        for r in bloom_prefiltered_semi_join(big, small, "key", 1 << 14, 4).collect()
    )
    want = sorted(
        (r["key"], r["id"])
        for r in big.join(small.distinct(), "key", "left_semi").collect()
    )
    assert got == want and len(got) > 0


def test_pq_expr_pandas_parity_fuzz(spark):
    # The expression anchor and the Arrow/numpy production kernel must be
    # BIT-identical (left-to-right accumulation + first-min tie rule on
    # both) — same proof style as the dedup kernel twins.
    import numpy as np

    from hadoop_gpu_spark.similarity.quantize import (
        pq_codebook,
        pq_encode,
        pq_encode_expr,
    )

    rng = np.random.default_rng(11)
    rows = [
        (i, [float(v) for v in rng.normal(0, 0.7, 64).astype(np.float32)])
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    book = pq_codebook()
    a = {r["vec_id"]: r["pq_code"] for r in pq_encode(df, book=book).collect()}
    b = {r["vec_id"]: r["pq_code"] for r in pq_encode_expr(df, book=book).collect()}
    assert a == b


def test_pii_redact_is_map_only(spark, sf_dir):
    # The scrub must ride the scan: zero Exchange nodes (each document is
    # redacted where it sits — the plan shape that survives 100 TB) and
    # the whole pass fused into whole-stage codegen.
    from hadoop_gpu_spark import plans
    from hadoop_gpu_spark.queries import q_pii_redact

    df = q_pii_redact(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "Exchange" not in plan, plan
    assert plans.wholestage_codegen_ids(df) >= 1


def test_pq_encode_never_shuffles(spark, sf_dir):
    # Map-only Arrow kernel: no KEYED shuffle (the only Exchange allowed
    # is ensure_min_partitions' round-robin spread, a no-op at scale),
    # and the Python stage is Arrow-batched (ArrowEvalPython), not
    # row-at-a-time (BatchEvalPython).
    from hadoop_gpu_spark import plans
    from hadoop_gpu_spark.queries import q_pq_encode

    df = q_pq_encode(spark, sf_dir)
    assert plans.shuffled_columns(df) == set()
    plan = plans.formatted_plan(df)
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan


def test_sq8_plan_shapes(spark, sf_dir):
    # Model pass: only exploded (pos, x) pairs cross the Exchange after a
    # partial (map-side) aggregate — the full embedding array never
    # shuffles. Encode pass: map-only with the model as plan literals.
    from pyspark.sql import functions as F

    from hadoop_gpu_spark import plans
    from hadoop_gpu_spark.queries import q_sq8_quantize
    from hadoop_gpu_spark.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    agg = (
        emb.select(F.posexplode("embedding").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.max(F.abs(F.col("x"))).alias("amax"))
    )
    assert "embedding" not in plans.shuffled_columns(agg)
    assert plans.formatted_plan(agg).count("HashAggregate") >= 2  # partial+final
    encode_plan = plans.formatted_plan(q_sq8_quantize(spark, sf_dir))
    assert "Exchange" not in encode_plan, encode_plan


def test_stream_topk_snapshot_shape(spark, sf_dir):
    # <=3 rows per hour, ranks are 1..n contiguous, counts non-increasing.
    from hadoop_gpu_spark.queries import q_stream_topk

    pdf = q_stream_topk(spark, sf_dir).toPandas()
    assert len(pdf) > 0
    for _, grp in pdf.sort_values("rank").groupby("hour"):
        assert list(grp["rank"]) == list(range(1, len(grp) + 1))
        assert len(grp) <= 3
        assert list(grp["cnt"]) == sorted(grp["cnt"], reverse=True)


# ---------------------------------------------------------------------------
# r07 cohort behavioral tests (beyond the oracle pins above).
# ---------------------------------------------------------------------------
def test_chunk_documents_window_arithmetic(spark):
    # Hand-checkable case: 10 tokens, window 4, stride 3 -> starts
    # 0,3,6,9 with chunk lengths 4,4,4,1; empty doc yields no chunks.
    from hadoop_gpu_spark.operators.chunking import chunk_documents

    df = spark.createDataFrame(
        [(1, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), (2, "   "), (3, "a b")],
        "doc_id long, text string",
    )
    out = chunk_documents(df, "doc_id", "text", window=4, stride=3).toPandas()
    d1 = out[out.doc_id == 1].sort_values("chunk_id")
    assert list(d1.start_token) == [0, 3, 6, 9]
    assert list(d1.n_tokens) == [4, 4, 4, 1]
    assert list(d1.chunk_id) == [0, 1, 2, 3]
    assert (out.doc_id != 2).all()
    d3 = out[out.doc_id == 3]
    assert len(d3) == 1 and int(d3.n_tokens.iloc[0]) == 2


def test_chunk_engine_parity_on_edge_strings(spark):
    # Java vs RE2 agreement on the chunk tokenization itself, exercised
    # on the exact character the engines' \s classes disagree about
    # (\x0B vertical tab — Java's \s includes it, RE2's does not; the
    # explicit class in chunking._WS_CLASS pins both engines to Java's
    # set). Unicode whitespace (NBSP) is NOT whitespace for either
    # engine's ASCII class — also covered.
    import duckdb

    from hadoop_gpu_spark.operators.chunking import chunk_documents, chunk_sql

    edge = [
        (1, "a\x0bb c"),          # the divergent char: must split like Java \s
        (2, "x\x0b\x0b\x0by"),
        (3, "nbsp one token"),
        (4, "tabs\tnl\nvt\x0bff\x0ccr\rend"),
        (5, " lead and trail "),
        (6, "\x0b"),
        (7, ""),
    ]
    sdf = spark.createDataFrame(edge, "doc_id long, text string")
    got = sorted(
        map(
            tuple,
            chunk_documents(sdf, "doc_id", "text", window=3, stride=2)
            .toPandas()
            .values.tolist(),
        )
    )
    con = duckdb.connect()
    con.register("documents", __import__("pandas").DataFrame(edge, columns=["doc_id", "text"]))
    want = sorted(
        map(tuple, con.sql(chunk_sql("documents", "doc_id", "text", window=3, stride=2)).df().values.tolist())
    )
    con.close()
    assert got == want
    # and the divergent char really did tokenize Java-style (3 tokens)
    n1 = [r for r in got if r[0] == 1]
    assert n1 and n1[0][3] == 3


def test_chunk_documents_plan_is_narrow_and_jvm_only(spark, sf_dir):
    # Map-only narrow plan: no shuffle, no Python evaluation node — the
    # whole pass must stay inside whole-stage codegen.
    from hadoop_gpu_spark.queries import q_chunk_documents

    plan = q_chunk_documents(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_text_normalize_plan_is_narrow_and_jvm_only(spark, sf_dir):
    from hadoop_gpu_spark.queries import q_text_normalize

    plan = q_text_normalize(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_normalize_text_engine_parity_on_edge_strings(spark):
    # Java vs RE2 agreement on the exact normalize pipeline, exercised on
    # the adversarial chars where the engines' \s classes differ
    # (\x0B vertical tab), plus unicode, case, punctuation runs.
    import duckdb

    from hadoop_gpu_spark.functions.text import NORMALIZE_TEXT_SQL_TMPL, normalize_text
    from pyspark.sql import functions as F2

    edge = [
        "Hello, World!",
        "tabs\tand\nnewlines\rand\x0bvertical\x0ctabs",
        "unicode: café über ☃ snowman",
        "MIXED case 123 with   runs    of spaces",
        "",
        "!!!@@@###",
        "\x0b\x0b\x0b",
        "a\x00b",
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(edge)], "i long, s string")
    got = {
        r["i"]: r["n"]
        for r in df.select("i", normalize_text("s").alias("n")).collect()
    }
    con = duckdb.connect()
    expr = NORMALIZE_TEXT_SQL_TMPL.format(col="s")
    for i, s in enumerate(edge):
        want = con.sql(f"SELECT {expr} AS n FROM (SELECT ? AS s)", params=[s]).fetchone()[0]
        assert got[i] == want, (i, repr(s), repr(got[i]), repr(want))
    con.close()


def test_domain_cap_precap_matches_plain_window(spark, sf_dir):
    # The skew-armored two-stage path must be RESULT-IDENTICAL to the
    # plain ranking window (any key's global top-n is a subset of the
    # union of its per-partition top-n).
    from hadoop_gpu_spark.operators.sampling import domain_cap
    from hadoop_gpu_spark.tables import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    a = domain_cap(docs, "source", "doc_id", n=5, pre_cap=True).toPandas()
    b = domain_cap(docs, "source", "doc_id", n=5, pre_cap=False).toPandas()
    key = ["source", "doc_id", "rank"]
    assert sorted(map(tuple, a[key].values.tolist())) == sorted(
        map(tuple, b[key].values.tolist())
    )
    assert a.groupby("source")["doc_id"].count().max() <= 5
    assert set(a["rank"]) <= set(range(1, 6))


def test_embedding_outliers_zero_variance_degenerates_to_zero(spark):
    # All-identical vectors: every distance-to-centroid is 0, variance is
    # 0 — the CASE guard must emit z = 0 everywhere instead of raising
    # DIVIDE_BY_ZERO (ANSI mode raises even for double division).
    from pyspark.sql import functions as F2

    import hadoop_gpu_spark.queries as q

    df = spark.createDataFrame(
        [(i, [1.0, 2.0, 2.0]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    import hadoop_gpu_spark.tables as tables

    orig = tables.load_table
    try:
        tables.load_table = lambda spark_, name, sf: df
        out = q.q_embedding_outliers(spark, "unused").toPandas()
    finally:
        tables.load_table = orig
    assert (out["z"] == 0.0).all()
    assert (~out["is_outlier"]).all()


# ---------------------------------------------------------------------------
# r08 pending gate: q_funnel (operators/funnel.py).
# ---------------------------------------------------------------------------
def test_funnel_gate_oracle(spark, sf_dir):
    errs = check_query(spark, "q_funnel", sf_dir)
    assert not errs, "; ".join(errs[:3])


def test_funnel_partial_paths_and_strict_ordering(spark):
    # The gate corpus is dense (every user completes all 3 steps), so the
    # partial paths need explicit coverage: missing steps, out-of-order
    # completion, same-timestamp strictness, and entities with no first
    # step (excluded entirely).
    import datetime

    from hadoop_gpu_spark.operators.funnel import funnel

    t0 = datetime.datetime(2026, 1, 1, 0, 0, 0)

    def ts(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    rows = [
        # user 1: full funnel in order
        (1, ts(0), "view"), (1, ts(1), "click"), (1, ts(2), "purchase"),
        # user 2: view only
        (2, ts(0), "view"),
        # user 3: purchase BEFORE click -> only 2 steps count
        (3, ts(0), "view"), (3, ts(2), "click"), (3, ts(1), "purchase"),
        # user 4: no view at all -> excluded from output
        (4, ts(0), "click"), (4, ts(1), "purchase"),
        # user 5: click at the SAME timestamp as view -> strict > fails
        (5, ts(0), "view"), (5, ts(0), "click"),
        # user 6: second view earlier than first click; click equals the
        # LATER view's time -> still counts (min view is the anchor)
        (6, ts(5), "view"), (6, ts(1), "view"), (6, ts(5), "click"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = {
        r["user_id"]: (r["t_view"], r["t_click"], r["t_purchase"], r["steps_completed"])
        for r in funnel(df, "user_id", "ts", "event_type", ["view", "click", "purchase"]).collect()
    }

    def us(minutes):
        return int(ts(minutes).replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)

    assert out[1] == (us(0), us(1), us(2), 3)
    assert out[2] == (us(0), None, None, 1)
    assert out[3] == (us(0), us(2), None, 2)
    assert 4 not in out
    assert out[5] == (us(0), None, None, 1)
    assert out[6] == (us(1), us(5), None, 2)
    assert set(out) == {1, 2, 3, 5, 6}


def test_funnel_generic_entity_type_and_step_validation(spark):
    # r06 ADVICE: the output schema was hardcoded '<user> long' + string-
    # interpolated step columns. The entity column's type must now follow
    # the input schema (string ids work), and a non-identifier step name
    # must fail fast at the driver, not at executor time.
    import datetime

    import pytest as _pytest

    from hadoop_gpu_spark.operators.funnel import funnel

    t0 = datetime.datetime(2026, 1, 1)
    rows = [
        ("alice", t0, "view"),
        ("alice", t0 + datetime.timedelta(minutes=1), "click"),
        ("bob", t0, "view"),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, event_type string")
    out = {r["user_id"]: r["steps_completed"] for r in funnel(df, "user_id", "ts", "event_type", ["view", "click"]).collect()}
    assert out == {"alice": 2, "bob": 1}
    with _pytest.raises(ValueError, match="identifier-safe"):
        funnel(df, "user_id", "ts", "event_type", ["view", "bad-step"])
    with _pytest.raises(ValueError, match="identifier-safe"):
        funnel(df, "user_id", "ts", "event_type", ["view", "two words"])


def test_funnel_wide_partition_knob_is_result_invariant(spark, sf_dir):
    # The n_partitions memory knob (the 100 TB sizing contract in the
    # docstring) must not change results — only task granularity.
    from hadoop_gpu_spark.operators.funnel import funnel
    from hadoop_gpu_spark.tables import load_table

    ev = load_table(spark, "events", sf_dir)
    steps = ["view", "click", "purchase"]
    key = ["user_id", "t_view", "t_click", "t_purchase", "steps_completed"]
    canon = lambda d: sorted(map(tuple, d[key].fillna(-1).values.tolist()))
    base = canon(funnel(ev, "user_id", "ts", "event_type", steps).toPandas())
    wide = funnel(ev, "user_id", "ts", "event_type", steps, n_partitions=64)
    assert wide.rdd.getNumPartitions() == 64
    assert canon(wide.toPandas()) == base


def test_funnel_survives_small_arrow_batches_and_repartitioning(spark, sf_dir):
    # The kernel must concatenate a partition's Arrow batches before
    # resolving (an entity's events can span batches) and be invariant to
    # the input's physical layout.
    from hadoop_gpu_spark.operators.funnel import funnel
    from hadoop_gpu_spark.tables import load_table

    ev = load_table(spark, "events", sf_dir)
    steps = ["view", "click", "purchase"]
    base = funnel(ev, "user_id", "ts", "event_type", steps).toPandas()
    s2 = spark.newSession()
    s2.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    s2.conf.set("spark.sql.shuffle.partitions", "3")
    ev2 = load_table(s2, "events", sf_dir).repartition(5)
    tiny = funnel(ev2, "user_id", "ts", "event_type", steps).toPandas()
    key = ["user_id", "t_view", "t_click", "t_purchase", "steps_completed"]
    canon = lambda d: sorted(map(tuple, d[key].fillna(-1).values.tolist()))
    assert canon(base) == canon(tiny)


def test_funnel_skew_pathological_entity(spark):
    # VERDICT r08 next-round #3: prove the memory contract under skew —
    # ONE entity owning ~a partition's worth of events. Hash partitioning
    # cannot split an entity, so under skew the per-task peak is
    # max(largest entity's rows, rows/partitions) — the docstring's
    # "per-task memory is the partition's event rows" bound with the
    # skewed entity as its floor. This fixture makes one user hold 300k
    # events (1000x every other user, >> corpus/n_partitions) and pins:
    # (a) the operator completes and resolves the mega user EXACTLY
    # (first-completion times known by construction), (b) every normal
    # user still resolves, (c) the layout fact itself — the mega user's
    # partition carries >= its 300k rows while the median partition is
    # tiny, so the test fails if a future rewrite silently starts
    # splitting entities (correctness) or replicating the corpus
    # (memory).
    from pyspark.sql import functions as F

    from hadoop_gpu_spark.operators.funnel import funnel

    n_mega = 100_000  # x3 event types = 300k events for user 0
    mega = (
        spark.range(n_mega)
        .select(
            F.lit(0).alias("user_id"),
            F.explode(
                F.array(
                    F.struct(
                        (F.lit(1_000_000) + F.col("id") * 3).alias("sec"),
                        F.lit("view").alias("event_type"),
                    ),
                    F.struct(
                        (F.lit(1_000_001) + F.col("id") * 3).alias("sec"),
                        F.lit("click").alias("event_type"),
                    ),
                    F.struct(
                        (F.lit(1_000_002) + F.col("id") * 3).alias("sec"),
                        F.lit("purchase").alias("event_type"),
                    ),
                )
            ).alias("e"),
        )
        .select("user_id", "e.sec", "e.event_type")
    )
    normal = (
        spark.range(1, 201)
        .select(
            F.col("id").alias("user_id"),
            F.explode(
                F.array(
                    F.struct((F.lit(500) + F.col("id")).alias("sec"), F.lit("view").alias("event_type")),
                    F.struct((F.lit(700) + F.col("id")).alias("sec"), F.lit("click").alias("event_type")),
                    F.struct((F.lit(900) + F.col("id")).alias("sec"), F.lit("purchase").alias("event_type")),
                )
            ).alias("e"),
        )
        .select("user_id", "e.sec", "e.event_type")
    )
    ev = mega.unionByName(normal).withColumn(
        "ts", F.timestamp_seconds(F.col("sec"))
    ).drop("sec")

    out = funnel(
        ev, "user_id", "ts", "event_type", ["view", "click", "purchase"],
        n_partitions=8,
    ).toPandas()
    assert len(out) == 201  # every user performed step 0
    m = out[out.user_id == 0].iloc[0]
    # first view at sec 1_000_000; first click strictly after it is
    # 1_000_001; first purchase strictly after that is 1_000_002
    assert (m.t_view, m.t_click, m.t_purchase) == (
        1_000_000 * 10**6, 1_000_001 * 10**6, 1_000_002 * 10**6
    )
    assert m.steps_completed == 3
    rest = out[out.user_id != 0]
    assert (rest.steps_completed == 3).all()
    assert (rest.t_view == (500 + rest.user_id) * 10**6).all()

    # the layout fact: the entity is unsplittable, so its partition
    # carries all 300k of its rows; the median partition is ~3-row users
    sizes = (
        ev.repartition(8, F.col("user_id"))
        .select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .count()
        .toPandas()["count"]
    )
    assert sizes.max() >= 3 * n_mega
    assert sizes.median() < 3 * n_mega / 100


# ---------------------------------------------------------------------------
# r08 pending gate: q_pq_train (integer-lattice k-means codebook training).
# ---------------------------------------------------------------------------
def test_pq_train_gate_oracle(spark, sf_dir):
    errs = check_query(spark, "q_pq_train", sf_dir)
    assert not errs, "; ".join(errs[:3])


def test_pq_train_actually_trains(spark, sf_dir):
    # The trained book must differ from the md5-ordered init (Lloyd moved
    # centroids) and assignments against it must use every subspace. A
    # training run that returns its init would pass the oracle vacuously
    # (the oracle replays the same iterations) — this pins that the
    # iterations DO something.
    from hadoop_gpu_spark.similarity.quantize import pq_train
    from hadoop_gpu_spark.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    trained = pq_train(emb).toPandas().sort_values(["sub", "cluster_id"])
    assert len(trained) == 128  # 8 subspaces x 16 centroids
    init_only = pq_train(emb, iters=0).toPandas().sort_values(["sub", "cluster_id"])
    d_cols = [f"c{d}" for d in range(8)]
    assert not trained[d_cols].equals(init_only[d_cols])
    # centroids stay on the quantized lattice and inside the data range
    assert trained[d_cols].abs().max().max() <= 2_000_000


def test_pq_train_releases_its_checkpoint(spark, sf_dir):
    # r06 ADVICE: pq_train pinned its training rows with an eager
    # localCheckpoint and never freed them — the blocks stayed resident
    # for the session lifetime. Training must now leave RDD storage
    # exactly as it found it (DataFrame.unpersist() does NOT free
    # checkpoint blocks; utils.release_local_checkpoint reaches the
    # LogicalRDD's rdd — asserted here end-to-end).
    from hadoop_gpu_spark.similarity.quantize import pq_train
    from hadoop_gpu_spark.tables import load_table

    sc = spark.sparkContext

    def storage_ids():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    before = storage_ids()
    pq_train(load_table(spark, "embeddings", sf_dir)).collect()
    leaked = storage_ids() - before
    assert not leaked, f"pq_train left checkpoint blocks resident: {leaked}"


def test_pq_train_driver_path_matches_distributed(spark, sf_dir, monkeypatch):
    # r16 optimization: small quantized training sets run the Lloyd
    # iterations driver-side. The two paths must produce the identical
    # book (md5-ordered init, argmin ties, floor-division update all
    # replicated exactly) — forced here by pinning the threshold to -1
    # for the distributed run.
    from hadoop_gpu_spark.similarity import quantize as qz
    from hadoop_gpu_spark.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    fast = (
        qz.pq_train(emb).toPandas().sort_values(["sub", "cluster_id"]).reset_index(drop=True)
    )
    monkeypatch.setattr(qz, "DRIVER_PQ_TRAIN_MAX_ROWS", -1)
    slow = (
        qz.pq_train(emb).toPandas().sort_values(["sub", "cluster_id"]).reset_index(drop=True)
    )
    assert fast.equals(slow)


def test_pq_train_invariant_under_partitioning(spark, sf_dir):
    # The whole point of the integer lattice: identical book under
    # adversarial shuffle layouts AND input re-slicing (float-mean Lloyd
    # cannot promise this; see ml/kmeans.py docstring).
    from hadoop_gpu_spark.similarity.quantize import pq_train
    from hadoop_gpu_spark.tables import load_table

    books = []
    for parts, inparts in (("3", 1), ("17", 5)):
        s = spark.newSession()
        s.conf.set("spark.sql.shuffle.partitions", parts)
        emb = load_table(s, "embeddings", sf_dir).repartition(inparts)
        b = pq_train(emb).toPandas().sort_values(["sub", "cluster_id"]).reset_index(drop=True)
        books.append(b)
    assert books[0].equals(books[1])


def test_pq_train_composes_with_encode(spark, sf_dir):
    # Train -> encode: the trained int-lattice book converts to floats
    # (c / 1e6) and drives the existing PQ encoder; every vector must get
    # a full 8-subspace code with centroids in range.
    from hadoop_gpu_spark.similarity.quantize import pq_encode, pq_train
    from hadoop_gpu_spark.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    rows = pq_train(emb).collect()
    book = [[None] * 16 for _ in range(8)]
    for r in rows:
        book[int(r["sub"])][int(r["cluster_id"])] = [
            r[f"c{d}"] / 1_000_000.0 for d in range(8)
        ]
    out = pq_encode(emb, book=book).toPandas()
    assert len(out) == emb.count()
    for s in range(8):
        assert out[f"c{s}"].between(0, 15).all()
