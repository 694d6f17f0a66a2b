"""KVJob compat layer + subprocess pipe operators."""

from __future__ import annotations

import sys
import textwrap

from pyspark.sql import functions as F

from hadoop_gpu_spark.operators.fields import token_counts
from hadoop_gpu_spark.operators.kvjob import kv_job, wordcount_kvjob
from hadoop_gpu_spark.operators.pipes import pipe_map
from hadoop_gpu_spark.tables import load_table


def test_wordcount_kvjob_matches_native(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir).limit(50)
    via_kv = {r["k"]: r["v"] for r in wordcount_kvjob(docs, "text").collect()}
    native = {r["token"]: r["cnt"] for r in token_counts(docs, "text").collect()}
    assert via_kv == native


def test_wordcount_pandas_path_matches_row_path(spark, sf_dir):
    # The vectorized runner must produce bit-identical (k, v) output to the
    # per-record runner — same Mapper contract, different MapRunner.
    from hadoop_gpu_spark.operators.kvjob import wordcount_kvjob_pandas

    docs = load_table(spark, "documents", sf_dir).limit(80)
    row_path = {(r["k"], r["v"]) for r in wordcount_kvjob(docs, "text").collect()}
    pandas_path = {(r["k"], r["v"]) for r in wordcount_kvjob_pandas(docs, "text").collect()}
    assert pandas_path == row_path


def test_reduce_pandas_carry_across_batches(spark):
    # A key group spanning Arrow batch boundaries must reach
    # reduce_fn_pandas as ONE complete group. Force 1-row batches so every
    # multi-row group spans a boundary; a missing carry would double-emit.
    import pandas as pd

    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        rows = [("a", 1)] * 5 + [("b", 2)] * 3 + [("c", 7)]
        df = spark.createDataFrame(rows, ["w", "n"])

        def map_batch(pdf: pd.DataFrame) -> pd.DataFrame:
            return pd.DataFrame({"k": pdf["w"].to_numpy(), "v": pdf["n"].to_numpy()})

        def reduce_batch(pdf: pd.DataFrame) -> pd.DataFrame:
            return pdf.groupby("k", sort=False, as_index=False)["v"].sum()

        out = kv_job(
            df,
            map_fn_pandas=map_batch,
            reduce_fn_pandas=reduce_batch,
            value_type="long",
            out_value_type="long",
            num_partitions=2,
        )
        got = {r["k"]: r["v"] for r in out.collect()}
        assert got == {"a": 5, "b": 6, "c": 7}, got
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")


def test_kvjob_rejects_ambiguous_runner_choice(spark):
    import pytest

    df = spark.createDataFrame([("x",)], ["w"])
    with pytest.raises(ValueError):
        kv_job(df, map_fn=lambda r: [], map_fn_pandas=lambda p: p, reduce_fn=lambda k, v: [])
    with pytest.raises(ValueError):
        kv_job(df, map_fn=lambda r: [(r.w, 1)])


def test_kvjob_value_sort_secondary_contract(spark):
    rows = [(1, 30), (1, 10), (2, 5), (1, 20), (2, 1)]
    df = spark.createDataFrame(rows, ["g", "v"])

    def mapper(row):
        yield row.g, row.v

    def reducer(k, vals):
        yield k, ",".join(str(v) for v in vals)  # order-sensitive

    out = {
        int(r["k"]): r["v"]
        for r in kv_job(
            df, mapper, reducer, key_type="int", value_type="long",
            out_key_type="int", out_value_type="string", value_sort=True,
        ).collect()
    }
    assert out == {1: "10,20,30", 2: "1,5"}


def test_pipe_map_cat_roundtrip(spark):
    df = spark.createDataFrame([("a", "1"), ("b", "2")], ["k", "v"])
    out = {r["k"]: r["v"] for r in pipe_map(df, "cat").collect()}
    assert out == {"a": "1", "b": "2"}


def test_chain_and_multi_input_union(spark, sf_dir):
    from pyspark.sql import functions as F

    from hadoop_gpu_spark.operators.setops import chain

    li = load_table(spark, "lineitem", sf_dir)
    out = chain(
        li,
        lambda d: d.filter(F.col("l_quantity") > 10),
        lambda d: d.select("l_orderkey", "l_quantity"),
        lambda d: d.withColumn("q2", F.col("l_quantity") * 2),
    )
    assert out.columns == ["l_orderkey", "l_quantity", "q2"]


def test_near_dedup_pipeline(spark, sf_dir):
    from hadoop_gpu_spark.dedup import near_dedup
    from hadoop_gpu_spark.tables import load_table as lt

    docs = lt(spark, "documents", sf_dir)
    out = near_dedup(docs, jaccard_threshold=0.8)
    assert 0 < out.count() <= docs.count()
    # idempotent-ish: survivors contain no exact duplicate texts
    assert out.select("text").distinct().count() == out.count()


def test_kvjob_side_input_lookup(spark, sf_dir):
    # DistributedCache idiom: broadcast dim probed inside map_fn.
    nation = load_table(spark, "nation", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    lookup = spark.sparkContext.broadcast(
        {r["n_nationkey"]: r["n_name"] for r in nation.collect()}
    )

    def mapper(row):
        yield lookup.value.get(row.c_nationkey, "?"), 1

    def reducer(k, vals):
        yield k, sum(vals)

    got = {
        r["k"]: r["v"]
        for r in kv_job(
            customer.select("c_nationkey"), mapper, reducer,
            value_type="long", out_value_type="long",
        ).collect()
    }
    expect = {
        r["n_name"]: r["cnt"]
        for r in customer.join(nation, customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert got == expect


def test_kvjob_custom_partitioner(spark):
    # Partitioner parity: first-letter partitioning keeps all keys with the
    # same prefix in one reducer partition (KeyFieldBasedPartitioner-style).
    from hadoop_gpu_spark.operators.kvjob import kv_job

    rows = [(w,) for w in ["apple", "angle", "berry", "blob", "cat", "cow"]]
    df = spark.createDataFrame(rows, ["w"])

    def mapper(row):
        yield row.w, 1

    seen_partitions = {}

    def reducer(k, vals):
        # group stays intact regardless of the partition expr
        yield k, sum(vals)

    out = kv_job(
        df, mapper, reducer,
        value_type="long", out_value_type="long",
        partition_expr=F.substring(F.col("k"), 1, 1),
        num_partitions=3,
    )
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {w: 1 for (w,) in rows}


def test_vint_roundtrip_and_known_bytes():
    # Hadoop WritableUtils VInt encoding, checked against known byte
    # sequences (so compatibility is with Hadoop, not just with ourselves)
    # plus a sweep roundtrip through the stream reader.
    import io

    from hadoop_gpu_spark.operators.pipes import read_vint, write_vint

    def enc(i):
        b = io.BytesIO()
        write_vint(b, i)
        return b.getvalue()

    assert enc(0) == b"\x00"
    assert enc(127) == b"\x7f"
    assert enc(-112) == bytes([0x90])
    assert enc(128) == bytes([0x8F, 0x80])
    assert enc(300) == bytes([0x8E, 0x01, 0x2C])
    assert enc(-113) == bytes([0x87, 0x70])
    for i in [*range(-300, 300), 2**16, 2**31 - 1, -(2**31), 2**53]:
        buf = io.BytesIO(enc(i))
        assert read_vint(buf) == i, i


# A Pipes map task stand-in that speaks the framing with its OWN decoder
# (not imported from the engine). It pins the downlink handshake and
# yields each MAP_ITEM; the tests append what the child sends back up.
_VINT_CHILD = textwrap.dedent("""
    import sys
    inp, out = sys.stdin.buffer, sys.stdout.buffer

    def rv():
        first = inp.read(1)
        if not first: return None
        b = first[0] - 256 if first[0] >= 0x80 else first[0]
        if -112 <= b <= 127: return b
        neg = b < -120
        size = -(b + 120) if neg else -(b + 112)
        i = 0
        for byte in inp.read(size): i = (i << 8) | byte
        return (i ^ -1) if neg else i

    def wv(i):
        if -112 <= i <= 127: out.write(bytes([i & 0xff])); return
        length, v = -112, i
        if i < 0: v ^= -1; length = -120
        t = v
        while t: t >>= 8; length -= 1
        out.write(bytes([length & 0xff]))
        size = -(length + 112) if length >= -120 else -(length + 120)
        for idx in range(size - 1, -1, -1): out.write(bytes([(v >> (8*idx)) & 0xff]))

    def wt(b):
        wv(len(b)); out.write(b)

    def map_items():
        text = b"org.apache.hadoop.io.Text"
        while True:
            code = rv()
            if code is None or code == 8:  # CLOSE
                return
            if code == 0: assert rv() == 0; continue             # START + version
            if code == 1: assert rv() == 0; continue             # SET_JOB_CONF: empty
            if code == 2:                                         # SET_INPUT_TYPES
                assert inp.read(rv()) == text and inp.read(rv()) == text
                continue
            if code == 3:                                         # RUN_MAP
                inp.read(rv()); assert rv() == 0; assert rv() == 1  # numReduces, pipedInput
                continue
            assert code == 4, code                                # MAP_ITEM
            yield inp.read(rv()), inp.read(rv())
""")


def _pipe_child(tmp_path, body: str) -> list[str]:
    child = tmp_path / "child.py"
    child.write_text(_VINT_CHILD + textwrap.dedent(body))
    return [sys.executable, str(child)]


def test_pipe_binary_protocol_roundtrip(spark, tmp_path):
    # End-to-end through the stand-in child. Values >127 bytes force
    # multi-byte VInts on the wire.
    from hadoop_gpu_spark.operators.pipes import pipe_binary

    child = _pipe_child(tmp_path, """
        for k, v in map_items():
            wv(50)                        # OUTPUT
            wt(k.decode().upper().encode())
            wt(str(len(v)).encode())
        wv(54)                            # DONE
        out.flush()
    """)
    rows = [("alpha", "x" * 200), ("beta", "y"), ("gamma", "z" * 1000)]
    df = spark.createDataFrame(rows, ["k", "v"]).repartition(2)
    got = {(r["k"], r["v"]) for r in pipe_binary(df, child).collect()}
    assert got == {("ALPHA", "200"), ("BETA", "1"), ("GAMMA", "1000")}


def test_pipe_binary_survives_multi_mb_partition(spark, tmp_path):
    # Deadlock probe (TestStreamDataProtocol analog): one partition pushes
    # ~8 MB down AND ~8 MB back — far beyond the OS pipe buffer (64 KB) in
    # BOTH directions at once. If the writer thread blocked on a full
    # stdin pipe while the reader waited on stdout (or vice versa), this
    # would hang, not fail; the timeout is pytest-level wall clock.
    from hadoop_gpu_spark.operators.pipes import pipe_binary

    child = _pipe_child(tmp_path, """
        for k, v in map_items():
            wv(50); wt(k); wt(v)
        wv(54)
        out.flush()
    """)
    n, vlen = 2000, 4096
    df = spark.range(n).selectExpr("cast(id as string) AS k", f"repeat('v', {vlen}) AS v").coalesce(1)
    got = pipe_binary(df, child).collect()
    assert len(got) == n
    assert all(len(r["v"]) == vlen for r in got)
    assert {r["k"] for r in got} == {str(i) for i in range(n)}


def test_pipe_binary_eof_before_done_raises(spark, tmp_path):
    # A child that exits 0 without DONE may have cut its output short:
    # the task fails instead of returning the rows it got.
    import pytest as _pytest

    from hadoop_gpu_spark.operators.pipes import pipe_binary

    child = _pipe_child(tmp_path, """
        for k, v in map_items():
            wv(50); wt(k); wt(v)
        out.flush()
    """)
    df = spark.createDataFrame([("a", "1"), ("b", "2")], ["k", "v"]).coalesce(1)
    with _pytest.raises(Exception) as e:
        pipe_binary(df, child).collect()
    assert "before DONE" in str(e.value)


def test_pipe_binary_rejects_partitioned_output(spark, tmp_path):
    # RUN_MAP sends numReduces=0, so a PARTITIONED_OUTPUT(51) frame (the
    # child choosing a reduce partition) is a protocol violation.
    import pytest as _pytest

    from hadoop_gpu_spark.operators.pipes import pipe_binary

    child = _pipe_child(tmp_path, """
        for k, v in map_items():
            wv(51); wv(0); wt(k); wt(v)
        wv(54)
        out.flush()
    """)
    df = spark.createDataFrame([("a", "1")], ["k", "v"]).coalesce(1)
    with _pytest.raises(Exception) as e:
        pipe_binary(df, child).collect()
    assert "bad uplink command 51" in str(e.value)


def test_pipes_native_handshake_and_counters(spark):
    # Full control-plane exchange against the compiled C++ task: START/
    # SET_JOB_CONF/SET_INPUT_TYPES/RUN_MAP downlink, OUTPUT + counter
    # registration + DONE uplink. The counter frames are consumed without
    # error, and the rows are the per-partition partial counts.
    import pytest as _pytest

    from hadoop_gpu_spark.operators.pipes import pipe_binary
    from hadoop_gpu_spark.pipes_native import compiler, ensure_built

    if compiler() is None:
        _pytest.skip("no C++ toolchain")
    binary = ensure_built("wordcount")
    df = spark.createDataFrame(
        [("1", "a b c"), ("2", "b c d d")], ["k", "v"]
    ).coalesce(1)
    got = {(r["k"], int(r["v"])) for r in pipe_binary(df, [binary]).collect()}
    assert got == {("a", 1), ("b", 2), ("c", 2), ("d", 2)}


def test_pipes_socket_transport_native_mapreduce(spark):
    # The reference's ACTUAL transport: engine opens a loopback
    # ServerSocket per task, exports hadoop.pipes.command.port, the C++
    # task connects and the whole protocol (handshake, frames, counters,
    # DONE) runs over that connection (Application.java:120-125). The
    # engine's shuffle is the reduce: a groupBy sum over the partials of
    # both map tasks.
    import pytest as _pytest

    from hadoop_gpu_spark.operators.pipes import pipe_binary
    from hadoop_gpu_spark.pipes_native import compiler, ensure_built

    if compiler() is None:
        _pytest.skip("no C++ toolchain")
    wc_map = ensure_built("wordcount")
    df = spark.createDataFrame(
        [("1", "a b c"), ("2", "b c d d"), ("3", "a a")], ["k", "v"]
    ).repartition(2)
    partials = pipe_binary(df, [wc_map], transport="socket")
    final = partials.groupBy("k").agg(F.sum(F.col("v").cast("long")).alias("n"))
    got = {(r["k"], r["n"]) for r in final.collect()}
    assert got == {("a", 3), ("b", 2), ("c", 2), ("d", 2)}


def test_pipe_binary_child_failure_propagates(spark, tmp_path):
    # A crashing child must fail the job loudly (nonzero exit ->
    # RuntimeError), not silently truncate output — the reference task
    # JVM kills the attempt the same way.
    import sys
    import textwrap

    import pytest as _pytest

    from hadoop_gpu_spark.operators.pipes import pipe_binary

    child = tmp_path / "crash.py"
    child.write_text(textwrap.dedent("""
        import sys
        sys.stdin.buffer.read(4)
        sys.exit(7)
    """))
    df = spark.createDataFrame([("a", "b")], ["k", "v"]).coalesce(1)
    with _pytest.raises(Exception) as e:
        pipe_binary(df, [sys.executable, str(child)]).collect()
    assert "exited 7" in str(e.value)


def test_kvjob_contract_fuzz_matches_python_model(spark):
    # Randomized MR-contract conformance: random (key, value) multisets
    # through kv_job — with and without a combiner, with value_sort, with
    # a custom partitioner — must equal a pure-Python groupby model.
    # Derandomized like the rest of the suite (hypothesis ci profile).
    from collections import defaultdict

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from hadoop_gpu_spark.operators.kvjob import kv_job

    kv_lists = st.lists(
        st.tuples(st.sampled_from("abcdef"), st.integers(-50, 50)),
        min_size=1,
        max_size=30,
    )

    @given(rows=kv_lists, use_combiner=st.booleans(), value_sort=st.booleans())
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(rows, use_combiner, value_sort):
        df = spark.createDataFrame(rows, "w string, n long")

        def map_fn(row):
            # rows arrive as pandas itertuples records — attribute access
            yield row.w, int(row.n)

        def reduce_fn(k, vals):
            vals = list(vals)
            # value_sort contract: reduce sees values ascending, so the
            # concatenation is deterministic only under value_sort; the
            # sum is order-free and checks the plain path.
            if value_sort:
                yield k, ",".join(str(v) for v in vals)
            else:
                yield k, str(sum(vals))

        def combine_fn(k, vals):
            # pre-sum per map-side run — only legal for the sum job
            yield k, sum(int(v) for v in vals)

        out = kv_job(
            df,
            map_fn=map_fn,
            reduce_fn=reduce_fn,
            combine_fn=combine_fn if (use_combiner and not value_sort) else None,
            value_type="long",
            value_sort=value_sort,
            num_partitions=3,
        )
        got = sorted((r["k"], r["v"]) for r in out.collect())

        model = defaultdict(list)
        for w, n in rows:
            model[w].append(n)
        if value_sort:
            want = sorted(
                (k, ",".join(str(v) for v in sorted(vs))) for k, vs in model.items()
            )
        else:
            want = sorted((k, str(sum(vs))) for k, vs in model.items())
        assert got == want, (rows, use_combiner, value_sort)

    run()
