"""Operator-level unit tests mirroring the reference's test styles
(SURVEY.md §5): golden expectations, join consistency (TestDatamerge),
sort-validator invariants (TestMiniMRDFSSort)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hadoop_gpu_spark.operators import joins, sort
from hadoop_gpu_spark.operators.sampling import md5_sample


def test_override_join_rightmost_wins(spark):
    # TestDatamerge-style: keys in all/some/one source (FIXTURES.md §5).
    a = spark.createDataFrame([(1, "a1"), (2, "a2"), (3, "a3")], ["k", "val"])
    b = spark.createDataFrame([(2, "b2"), (3, None), (4, "b4")], ["k", "val"])
    c = spark.createDataFrame([(3, "c3")], ["k", "val"])
    out = {r["k"]: r["val"] for r in joins.override_join([a, b, c], "k").collect()}
    # rightmost non-null wins: b overrides a; c overrides b; b's NULL at k=3
    # does not clobber (coalesce semantics, M/join/OverrideRecordReader.java:36)
    assert out == {1: "a1", 2: "b2", 3: "c3", 4: "b4"}


def test_semi_anti_partition(spark):
    a = spark.createDataFrame([(i,) for i in range(10)], ["k"])
    b = spark.createDataFrame([(i,) for i in range(0, 10, 2)], ["k"])
    semi = joins.semi_join(a, b, "k").count()
    anti = joins.anti_join(a, b, "k").count()
    assert semi + anti == 10 and semi == 5


def test_asof_join_matches_pandas(spark):
    left = [(1, 10, "l0"), (1, 25, "l1"), (2, 5, "l2"), (3, 7, "l3")]
    right = [(1, 9, "r0"), (1, 20, "r1"), (2, 6, "r2")]
    l = spark.createDataFrame(left, ["g", "t", "lv"])
    r = spark.createDataFrame(right, ["g", "t", "rv"])
    out = joins.asof_join(l, r, on="t", by=["g"], right_cols=["rv"]).toPandas()
    expect = pd.merge_asof(
        pd.DataFrame(left, columns=["g", "t", "lv"]).sort_values("t"),
        pd.DataFrame(right, columns=["g", "t", "rv"]).sort_values("t"),
        on="t",
        by="g",
        direction="backward",
    )
    got = out.sort_values(["g", "t"]).reset_index(drop=True)
    exp = expect.sort_values(["g", "t"]).reset_index(drop=True)
    assert got[["g", "t", "rv"]].where(got.notna(), None).values.tolist() == \
        exp[["g", "t", "rv"]].where(exp.notna(), None).values.tolist()


def test_asof_join_null_right_column_takes_latest_row_wholesale(spark):
    # r08 ADVICE low, landed r10: right_cols are packed into ONE struct and
    # filled by ONE last(ignorenulls) window, so every filled column comes
    # from the SAME right row — a latest-prior right row carrying NULL in
    # one fill column is taken wholesale (DuckDB ASOF semantics), never
    # torn against an older row's value. This test was the falsifier
    # (strict xfail) written one round before the fix, per the queue.
    # right rows for key 1: t=5 (val=1.0, aux='a'), t=8 (val=NULL,
    # aux='b'); probe at t=10. ASOF semantics: match the t=8 row
    # wholesale -> (val NULL, aux 'b'). Today's per-column fill returns
    # (val 1.0, aux 'b') — columns from two different right rows.
    l = spark.createDataFrame([(1, 10)], "g long, t long")
    r = spark.createDataFrame(
        [(1, 5, 1.0, "a"), (1, 8, None, "b")], "g long, t long, val double, aux string"
    )
    out = joins.asof_join(l, r, on="t", by=["g"], right_cols=["val", "aux"]).collect()
    assert len(out) == 1
    row = out[0]
    assert row["aux"] == "b" and row["val"] is None, (
        "torn row: val filled from an older right row than aux"
    )


def test_asof_join_forward_direction(spark):
    # forward = earliest right at-or-after the probe (r10: the mirror
    # window — first(ignorenulls) over [current, following), right rows
    # sorted after left at equal t so an exact-t right still matches).
    l = spark.createDataFrame([(1, 10), (1, 4), (2, 10)], "g long, t long")
    r = spark.createDataFrame(
        [(1, 4, None, "x"), (1, 12, 7.0, "y"), (2, 3, 9.0, "z")],
        "g long, t long, val double, aux string",
    )
    out = {
        (row["g"], row["t"]): (row["val"], row["aux"])
        for row in joins.asof_join(
            l, r, on="t", by=["g"], right_cols=["val", "aux"], direction="forward"
        ).collect()
    }
    # equal-t match taken WHOLESALE (val NULL from the matched row, never
    # torn against the later row's 7.0)
    assert out[(1, 4)] == (None, "x")
    assert out[(1, 10)] == (7.0, "y")
    assert out[(2, 10)] == (None, None)  # no right row at-or-after

    with pytest.raises(ValueError):
        joins.asof_join(l, r, on="t", by=["g"], direction="nearest")


def test_asof_join_null_keys_match_nothing(spark):
    # r12 fix (r11 VERDICT #3): NULL keys follow the strict inequality
    # reading — they match NOTHING on either side. Before the pre-union
    # isNotNull filter, Spark's NULLS-FIRST window order let a NULL-`t`
    # right row (sorted to the front) fill ANY backward-probing left row
    # with no real prior match; a NULL-`by` right row likewise paired
    # with NULL-`by` left rows, where SQL equality never matches NULL.
    l = spark.createDataFrame(
        [(1, 3, "probe"), (1, None, "null_t"), (None, 9, "null_g")],
        "g long, t long, lv string",
    )
    r = spark.createDataFrame(
        [(1, None, "poison_t"), (None, 1, "poison_g"), (1, 8, "late")],
        "g long, t long, rv string",
    )
    out = {
        row["lv"]: row["rv"]
        for row in joins.asof_join(
            l, r, on="t", by=["g"], right_cols=["rv"]
        ).collect()
    }
    # probe at t=3: only right rows are NULL-t / NULL-g (never match) and
    # t=8 (after the probe) -> no fill
    assert out == {"probe": None, "null_t": None, "null_g": None}, out

    # forward direction: a NULL-t LEFT row sorts NULLS FIRST, so without
    # the fill guard its [current, following] frame would swallow the
    # real t=8 right row
    fwd = {
        row["lv"]: row["rv"]
        for row in joins.asof_join(
            l, r, on="t", by=["g"], right_cols=["rv"], direction="forward"
        ).collect()
    }
    assert fwd == {"probe": "late", "null_t": None, "null_g": None}, fwd


def test_total_order_sort_validator(spark, sf_dir):
    from hadoop_gpu_spark.tables import load_table

    orders = load_table(spark, "orders", sf_dir)
    out = sort.total_order_sort(orders, ["o_totalprice"], num_partitions=4)
    assert sort.sort_validator(out, ["o_totalprice"])


def test_key_field_sort_spec(spark):
    df = spark.createDataFrame([("a", "10"), ("b", "9"), ("c", "100")], ["f1", "f2"])
    # -k2,2nr → field 2 numeric reverse
    cols = sort.key_field_sort_expr("-k2,2nr", ["f1", "f2"])
    got = [r["f1"] for r in df.orderBy(*cols).collect()]
    assert got == ["c", "a", "b"]  # 100, 10, 9 numeric desc (lexical would differ)


def test_top_k_per_group(spark):
    df = spark.createDataFrame([(g, v) for g in range(3) for v in range(10)], ["g", "v"])
    out = sort.top_k_per_group(df, ["g"], [F.col("v").desc()], 2)
    assert out.count() == 6
    assert {r["v"] for r in out.collect()} == {8, 9}
    assert out.schema["rank"].dataType.simpleString() == "bigint"
    assert {(r["v"], r["rank"]) for r in out.collect()} == {(9, 1), (8, 2)}
    # a tie on the first key ranks by the second key, as the caller orders
    tied = spark.createDataFrame(
        [(0, 5, "b"), (0, 5, "a"), (0, 7, "c"), (0, 1, "d")], "g int, v int, id string"
    )
    got = sort.top_k_per_group(tied, ["g"], [F.col("v").desc(), F.col("id").asc()], 3)
    assert sorted((r["rank"], r["id"]) for r in got.collect()) == [(1, "c"), (2, "a"), (3, "b")]


def test_samplers_deterministic_and_partition(spark, sf_dir):
    from hadoop_gpu_spark.tables import load_table

    li = load_table(spark, "lineitem", sf_dir)
    s1 = md5_sample(li, "l_orderkey", 16).count()
    s2 = md5_sample(li, "l_orderkey", 16).count()
    assert s1 == s2 and 0 < s1 < li.count()
    # different seeds → different (deterministic) samples
    p = md5_sample(li, "l_orderkey", 16, seed=1).count()
    assert p != s1 or p > 0


def test_regex_filter_matches_python_re(spark):
    # RegexFilter (M/SequenceFileInputFilter.java:103): rlike is an
    # UNANCHORED search, like Java Matcher.find — pin against python
    # re.search on the shared Java/RE2 subset.
    import re

    from hadoop_gpu_spark.operators.sampling import regex_filter

    keys = ["alpha_1", "beta_22", "gamma", "ALPHA_3", "a1b2", ""]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    for pattern in [r"^alpha", r"[0-9]+", r"a.b", r"^$"]:
        got = {r["k"] for r in regex_filter(df, "k", pattern).collect()}
        want = {k for k in keys if re.search(pattern, k)}
        assert got == want, (pattern, got, want)


def test_interval_sample_every_nth_in_key_order(spark):
    # IntervalSampler (M/lib/InputSampler.java:251): every interval-th
    # record in ORDER-COLUMN order, starting from the first, no matter
    # how the input rows arrive.
    from hadoop_gpu_spark.operators.sampling import interval_sample

    rows = [(k,) for k in [7, 3, 11, 1, 9, 5, 13, 15, 2, 8]]
    df = spark.createDataFrame(rows, "k int").repartition(4)
    got = sorted(r["k"] for r in interval_sample(df, "k", 3).collect())
    want = sorted(sorted(k for (k,) in rows)[::3])
    assert got == want
    # interval=1 keeps everything; interval > n keeps only the first
    assert interval_sample(df, "k", 1).count() == len(rows)
    assert [r["k"] for r in interval_sample(df, "k", 100).collect()] == [1]


def test_secondary_sort_stream_order(spark):
    # FIXTURES.md §4 kv_pairs contract: within each k1 group (one partition),
    # rows arrive ordered by k2.
    rows = [(k1, k2, k1 * 100 + k2) for k1 in range(4) for k2 in (3, 1, 2, 0)]
    df = spark.createDataFrame(rows, ["k1", "k2", "v"])
    out = sort.secondary_sort(df, ["k1"], ["k2"])

    def check(it):
        import pandas as pd_

        for pdf in it:
            g = pdf.groupby("k1")["k2"].apply(lambda s: list(s) == sorted(s))
            yield pd_.DataFrame({"ok": [bool(g.all())]})

    res = out.mapInPandas(check, schema="ok boolean").collect()
    assert all(r["ok"] for r in res)


def test_join_expression_language(spark):
    from hadoop_gpu_spark.operators.join_expr import compose_join, parse_join_expr

    a = spark.createDataFrame([(0, "a0"), (1, "a1"), (2, "a2")], ["k", "val"])
    b = spark.createDataFrame([(1, "b1"), (2, "b2"), (3, "b3")], ["k", "val"])
    c = spark.createDataFrame([(2, "c2"), (4, "c4")], ["k", "val"])
    srcs = {"a": a, "b": b, "c": c}

    inner = compose_join("inner(a,b)", srcs, on="k")
    assert sorted(r["k"] for r in inner.collect()) == [1, 2]
    assert set(inner.columns) == {"k", "val_0", "val_1"}

    outer = compose_join("outer(a,b)", srcs, on="k")
    assert sorted(r["k"] for r in outer.collect()) == [0, 1, 2, 3]

    # nested expression like TestDatamerge.java:288-295
    nested = compose_join("outer(inner(a,b), override(b,c))", srcs, on="k")
    rows = {r["k"]: r.asDict() for r in nested.collect()}
    # inner(a,b) = {1,2}; override(b,c) = {1,2,3,4}; full outer = {1,2,3,4}
    assert sorted(rows) == [1, 2, 3, 4]
    # override(b,c): c wins at k=2 → 'c2', b elsewhere
    assert rows[2]["val"] == "c2" and rows[3]["val"] == "b3" and rows[4]["val"] == "c4"

    # parse errors
    import pytest as _pytest

    with _pytest.raises(ValueError):
        parse_join_expr("bogus(a,b)")
    with _pytest.raises(ValueError):
        parse_join_expr("inner(a,")


def test_kvjob_skip_bad_records(spark):
    from hadoop_gpu_spark.operators.kvjob import kv_job

    df = spark.createDataFrame([(1,), (2,), (3,), (4,)], ["x"])

    def mapper(row):
        if row.x == 3:
            raise ValueError("poison record")
        yield str(row.x), row.x

    def reducer(k, vals):
        yield k, sum(vals)

    out = kv_job(
        df, mapper, reducer, value_type="long", out_value_type="long",
        skip_bad_records=True,
    )
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {"1": 1, "2": 2, "4": 4}  # record 3 skipped, job survived


def test_read_xml_records(spark, tmp_path):
    from hadoop_gpu_spark.sources import read_xml_records

    p = tmp_path / "recs.xml"
    p.write_text(
        "<root><rec><name>alpha</name><n>1</n></rec>"
        "<rec><name>beta</name><n>2</n></rec></root>"
    )
    out = read_xml_records(spark, str(p), "rec", ["name", "n"])
    rows = {r["name"]: r["n"] for r in out.collect()}
    assert rows == {"alpha": "1", "beta": "2"}


def test_salted_agg_matches_plain(spark, sf_dir):
    from hadoop_gpu_spark.operators.skew import salted_agg
    from hadoop_gpu_spark.tables import load_table

    li = load_table(spark, "lineitem", sf_dir)
    # one row whose salt source is NULL must still be counted
    li = li.unionByName(li.limit(1).withColumn("l_orderkey", F.lit(None).cast("long")))
    plain = {
        (r["l_returnflag"],): (r["cnt"], r["sq"])
        for r in li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("l_quantity").alias("sq"))
        .collect()
    }
    salted = {
        (r["l_returnflag"],): (r["cnt"], r["sq"])
        for r in salted_agg(
            li,
            ["l_returnflag"],
            n_salts=8,
            salt_source="l_orderkey",
            partials=[(F.count(F.lit(1)), "cnt"), (F.sum("l_quantity"), "sq")],
            finals=[("sum", "cnt"), ("sum", "sq")],
        ).collect()
    }
    assert salted == plain


def test_salted_join_matches_plain(spark, sf_dir):
    from hadoop_gpu_spark.operators.skew import salted_join
    from hadoop_gpu_spark.tables import load_table

    orders = load_table(spark, "orders", sf_dir).select(
        F.col("o_custkey").alias("k"), "o_orderkey"
    )
    customer = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("k"), "c_name"
    )
    plain = orders.join(customer, "k").count()
    salted = salted_join(orders, customer, "k", n_salts=4, big_salt_source="o_orderkey").count()
    assert salted == plain


def test_salted_join_keeps_rows_with_null_salt_source(spark):
    from hadoop_gpu_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(1, 10), (1, 11), (2, None), (3, 13)], "k long, src long"
    )
    small = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    plain = sorted(big.join(small, "k").collect())
    salted = sorted(salted_join(big, small, "k", n_salts=4, big_salt_source="src").collect())
    assert len(plain) == 3
    assert salted == plain


def test_with_salt_is_in_range_and_partition_independent(spark):
    from hadoop_gpu_spark.operators.skew import with_salt

    n = 5
    sources = [-(2**63), -7, -1, 0, None, 1, 6, 2**63 - 1] + list(range(100, 140))
    df = spark.createDataFrame(list(enumerate(sources)), "id long, src long")

    def salts(frame):
        return {r["id"]: r["__salt"] for r in with_salt(frame, n, "src").collect()}

    one, seven = salts(df.repartition(1)), salts(df.repartition(7))
    assert one == seven
    assert len(one) == len(sources)
    assert all(0 <= v < n for v in one.values())
    assert len(set(one.values())) == n  # the 48 sources reach every salt


def test_cogroup_tagged_join_equals_inner_join(spark):
    from hadoop_gpu_spark.operators.joins import cogroup_tagged_join

    a = spark.createDataFrame([(1, "a1"), (2, "a2"), (2, "a2b")], ["k", "va"])
    b = spark.createDataFrame([(2, "b2"), (2, "b2b"), (3, "b3")], ["k", "vb"])
    via_cogroup = cogroup_tagged_join(a, b, "k").toPandas()
    via_join = a.join(b, "k").toPandas()
    key = lambda d: sorted(map(tuple, d[["k", "va", "vb"]].values.tolist()))
    # per-key cross product (2 a-rows x 2 b-rows at k=2) matches the join
    assert key(via_cogroup) == key(via_join)
    assert len(via_cogroup) == 4


def test_connected_components_transitive_groups(spark):
    from hadoop_gpu_spark.dedup.components import connected_components, dedup_survivors

    # chain 1-2, 2-3 plus separate pair 10-11 plus isolated node via df
    pairs = spark.createDataFrame([(2, 1), (2, 3), (10, 11)], ["a", "b"])
    comp = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10

    docs = spark.createDataFrame([(i, f"d{i}") for i in [1, 2, 3, 10, 11, 99]], ["doc_id", "text"])
    surv = sorted(r["doc_id"] for r in dedup_survivors(docs, pairs, "doc_id").collect())
    assert surv == [1, 10, 99]


def test_connected_components_long_chain(spark):
    from hadoop_gpu_spark.dedup.components import connected_components

    # a 12-node path exercises multi-round convergence
    pairs = spark.createDataFrame([(i, i + 1) for i in range(12)], ["a", "b"])
    comp = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert set(comp.values()) == {0}


def test_connected_components_driver_path_matches_distributed(spark, monkeypatch):
    # Small edge lists run the label-propagation rounds driver-side.
    # The two paths must agree exactly — including the NON-CONVERGED
    # truncation at max_iter (a path longer than 2^rounds hops keeps
    # partial labels in BOTH paths) and null endpoints (a null joins
    # nothing, so a null node keeps a null label).
    from hadoop_gpu_spark.dedup import components as comp_mod

    def components(pairs, mi):
        out = comp_mod.connected_components(pairs, max_iter=mi).collect()
        return sorted((tuple(r) for r in out), key=repr)

    cases = [
        ([(2, 1), (2, 3), (10, 11)], 20),      # transitive groups
        ([(i, i + 1) for i in range(40)], 20),  # long path, converges
        ([(i, i + 1) for i in range(40)], 2),   # truncated at max_iter
        ([("b", "a"), ("b", "c"), ("x", "y")], 20),  # string node ids
        ([(None, 5), (1, 2), (2, 3)], 20),     # null endpoint
    ]
    for rows, mi in cases:
        pairs = spark.createDataFrame(rows, ["a", "b"])
        fast = components(pairs, mi)
        monkeypatch.setattr(comp_mod, "DRIVER_CC_MAX_EDGES", -1)
        slow = components(pairs, mi)
        monkeypatch.undo()
        assert fast == slow, (rows[:3], mi)
    assert fast == sorted([(1, 1), (2, 1), (3, 1), (5, 5), (None, None)], key=repr)


def test_parse_field_spec():
    import pytest as _pytest

    from hadoop_gpu_spark.operators.fields import parse_field_spec

    assert parse_field_spec("0-2:4") == [0, 1, 2, 4]
    assert parse_field_spec("3") == [3]
    assert parse_field_spec("1:0") == [1, 0]  # reorder preserved
    with _pytest.raises(ValueError):
        parse_field_spec("3-")


def test_sequence_pack_deterministic_across_sessions(spark, sf_dir):
    """q_sequence_pack output must be a pure function of the data — the
    round-3 driver red was a hash flip under a different session/partition
    state. Two fresh sessions with different shuffle.partitions must agree
    on the exact (seq_id, n_tokens, seq_hash) set."""
    from hadoop_gpu_spark.queries import QUERIES

    q = QUERIES["q_sequence_pack"]
    results = []
    for parts in ("3", "17"):
        s = spark.newSession()
        s.conf.set("spark.sql.shuffle.partitions", parts)
        rows = {
            (r["seq_id"], r["n_tokens"], r["seq_hash"]) for r in q(s, sf_dir).collect()
        }
        results.append(rows)
    assert results[0] == results[1]
    assert len(results[0]) > 0


def test_winnow_pandas_matches_expression(spark, sf_dir):
    """The vectorized winnow path must be bit-identical to the expression
    variant — full sf0.001 corpus plus degenerate docs (empty, shorter
    than a shingle, shorter than the window)."""
    from pyspark.sql import functions as F

    from hadoop_gpu_spark.dedup.winnow import winnow_fingerprints_pandas
    from hadoop_gpu_spark.queries import winnow_fingerprints_expr
    from hadoop_gpu_spark.tables import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    edge = spark.createDataFrame(
        [(100001, ""), (100002, "ab"), (100003, "abcde"), (100004, "abcdefg"),
         (100005, "aaaaaaaaaa"), (100006, "héllo wörld")],
        ["doc_id", "text"],
    )
    both = docs.union(edge).select(
        "doc_id",
        F.array_sort(winnow_fingerprints_expr("text")).alias("e"),
        F.array_sort(winnow_fingerprints_pandas("text")).alias("p"),
    )
    bad = both.filter(F.col("e") != F.col("p"))
    assert bad.count() == 0, bad.limit(5).collect()
    assert both.count() > 500


def test_lsh_signature_pandas_matches_expression(spark, sf_dir):
    """The vectorized LSH signature must equal the expression variant on
    every embedding — the license for gating the fast path against the
    SQL-signature oracle."""
    from pyspark.sql import functions as F

    from hadoop_gpu_spark.similarity.ann import (
        lsh_signature,
        lsh_signature_pandas_auto,
        lsh_signs,
    )
    from hadoop_gpu_spark.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    signs = lsh_signs(5, 64)
    both = emb.select(
        lsh_signature("embedding", signs).alias("e"),
        lsh_signature_pandas_auto("embedding", 5).alias("p"),
    )
    assert both.filter(F.col("e") != F.col("p")).count() == 0
    assert both.count() > 100


def test_minhash_pandas_matches_expression(spark, sf_dir):
    """Vectorized minhash signatures must be bit-identical to the
    expression variant — full sf0.001 corpus plus degenerate docs."""
    from pyspark.sql import functions as F

    from hadoop_gpu_spark.dedup.minhash import (
        NUM_HASHES,
        minhash_signatures,
        minhash_signatures_pandas,
    )
    from hadoop_gpu_spark.tables import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    edge = spark.createDataFrame(
        [(200001, ""), (200002, "ab"), (200003, "abcde"), (200004, "héllo wörld"), (200005, None)],
        "doc_id long, text string",
    )
    both = docs.union(edge)
    e = minhash_signatures(both, "text", "doc_id")
    p = minhash_signatures_pandas(both, "text", "doc_id")
    joined = e.alias("e").join(p.alias("p"), on="doc_id")
    # null-safe: NULL text has an all-NULL signature in both paths
    mismatch = joined.filter(
        " OR ".join(f"NOT (e.m{j} <=> p.m{j})" for j in range(NUM_HASHES))
    )
    assert mismatch.count() == 0, mismatch.limit(3).collect()
    assert joined.count() > 500
    assert joined.filter("doc_id = 200005 AND e.m0 IS NULL").count() == 1


def test_simhash_pandas_matches_expression(spark, sf_dir):
    """Vectorized simhash must be bit-identical to the expression variant,
    including tokenizer-boundary edge cases: Java's \\s+ is ASCII-only, so
    an NBSP (\\u00a0) must NOT split tokens in either path."""
    from pyspark.sql import functions as F

    from hadoop_gpu_spark.dedup.simhash import simhash64, simhash64_pandas
    from hadoop_gpu_spark.tables import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    edge = spark.createDataFrame(
        [
            (300001, ""),
            (300002, "   "),
            (300003, "one"),
            (300004, "a\u00a0b c"),  # NBSP joins tokens: Java \s+ will not split it
            (300005, "x\ty\nz\x0b\x0c\rw"),
            (300006, "héllo wörld"),
            (300007, None),
        ],
        "doc_id long, text string",
    )
    both = docs.union(edge)
    e = simhash64(both, "text", "doc_id").withColumnRenamed("simhash", "e")
    p = simhash64_pandas(both, "text", "doc_id").withColumnRenamed("simhash", "p")
    joined = e.join(p, "doc_id")
    # null-safe: NULL text has a NULL fingerprint in both paths
    bad = joined.filter(~F.col("e").eqNullSafe(F.col("p")))
    assert bad.count() == 0, bad.limit(5).collect()
    assert joined.count() > 500
    assert joined.filter("doc_id = 300007 AND e IS NULL").count() == 1


def test_vectorized_kernels_random_parity(spark):
    """One randomized sweep over all four Arrow-batched fast paths: on a
    batch of adversarial random strings (unicode, exotic whitespace,
    repeats, NULLs) every numpy twin must equal its expression twin
    bit-for-bit, also over a few rows spread across 16 partitions, so
    zero-row Arrow batches cross the worker. Complements the corpus
    parity tests with tokenizer/boundary fuzz."""
    import random

    from pyspark.sql import functions as F

    from hadoop_gpu_spark.dedup.minhash import (
        NUM_HASHES,
        minhash_signatures,
        minhash_signatures_pandas,
    )
    from hadoop_gpu_spark.dedup.simhash import simhash64, simhash64_pandas
    from hadoop_gpu_spark.dedup.winnow import winnow_fingerprints_pandas
    from hadoop_gpu_spark.queries import winnow_fingerprints_expr

    rng = random.Random(20260813)
    alphabet = list("ab \t\n\x0b\f\r éλ中0.!") 
    docs = [
        (i, "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 40))))
        for i in range(200)
    ] + [(200, None), (201, None)]
    schema = "doc_id long, text string"
    sparse = [(1, None), (2, "a b c d e f"), (3, None), (4, ""), (5, "x y z w v u t s")]
    for df in (
        spark.createDataFrame(docs, schema).coalesce(2),
        spark.createDataFrame(sparse, schema).repartition(16),
    ):
        w = df.select(
            "doc_id",
            F.array_sort(winnow_fingerprints_expr("text")).alias("e"),
            F.array_sort(winnow_fingerprints_pandas("text")).alias("p"),
        )
        assert w.filter(~F.col("e").eqNullSafe(F.col("p"))).count() == 0

        s = (
            simhash64(df, "text", "doc_id").withColumnRenamed("simhash", "e")
            .join(simhash64_pandas(df, "text", "doc_id").withColumnRenamed("simhash", "p"), "doc_id")
        )
        assert s.filter(~F.col("e").eqNullSafe(F.col("p"))).count() == 0

        e = minhash_signatures(df, "text", "doc_id")
        p = minhash_signatures_pandas(df, "text", "doc_id")
        p = p.select("doc_id", *[F.col(f"m{j}").alias(f"p{j}") for j in range(NUM_HASHES)])
        j = e.join(p, "doc_id")
        bad = j.filter(" OR ".join(f"NOT (m{k} <=> p{k})" for k in range(NUM_HASHES)))
        assert bad.count() == 0
        assert j.count() == df.count()

    # LSH signatures on random float vectors (including negatives/zeros)
    from hadoop_gpu_spark.similarity.ann import (
        lsh_signature,
        lsh_signature_pandas_auto,
        lsh_signs,
    )

    vecs = [
        (i, [rng.uniform(-2.0, 2.0) if rng.random() > 0.1 else 0.0 for _ in range(16)])
        for i in range(200)
    ]
    vdf = spark.createDataFrame(vecs, "vec_id long, embedding array<float>").coalesce(2)
    signs = lsh_signs(6, 16)
    both = vdf.select(
        lsh_signature("embedding", signs).alias("e"),
        lsh_signature_pandas_auto("embedding", 6).alias("p"),
    )
    assert both.filter(F.col("e") != F.col("p")).count() == 0


def test_array_form_percentile_is_bitwise_equal_to_scalar_calls(spark):
    # r16 optimization pin (q_approx_stats): the exact percentile pair is
    # computed as ONE array-form aggregate — percentile(x, array(p1, p2))
    # must be BIT-identical per fraction to separate percentile(x, p)
    # calls (same counts map, same interpolation), or the fusion would
    # silently change the gate's tolerance booleans. Adversarial values:
    # duplicates, negatives, a huge-magnitude double, non-dyadic
    # fractions of the row count.
    import math

    rows = [(i % 3, v) for i, v in enumerate(
        [1.5, -2.25, 1.5, 0.0, 3.75, -2.25, 1e15, 7.125, 2.5, -0.5, 9.0]
    )]
    df = spark.createDataFrame(rows, "g int, x double").coalesce(2)
    got = (
        df.groupBy("g")
        .agg(
            F.expr("percentile(x, 0.5)").alias("m"),
            F.expr("percentile(x, 0.99)").alias("p"),
            F.expr("percentile(x, array(0.5D, 0.99D))").alias("mp"),
        )
        .collect()
    )
    assert got, "empty result"
    for r in got:
        assert math.isclose(r["m"], r["mp"][0], rel_tol=0, abs_tol=0) and r["m"] == r["mp"][0]
        assert r["p"] == r["mp"][1]
