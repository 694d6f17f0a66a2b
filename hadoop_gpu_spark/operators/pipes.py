"""Subprocess operators — the reference's Streaming and Pipes UDF surfaces.

Reference:
- Streaming (S/PipeMapper.java:35, S/PipeMapRed.java:48): any executable
  over stdin/stdout, newline-framed, tab-separated KV.
- Pipes (M/pipes/BinaryProtocol.java:62-80): C++ binaries over a socket
  protocol; here subsumed by the same line protocol (the reference's own
  Pipes defaults all KV to Text — SubmitterToAccels.java:131-135).

Spark restatement: a mapInPandas subprocess exchange keeps the exact
line-framing contract (tab-separated KV in, first-tab split out) while
staying inside ONE DataFrame plan. ``pipe_map`` runs the command as the
map phase; ``pipe_reduce`` feeds it key-grouped sorted lines
(post-shuffle), matching a streaming -reducer.

The earlier ``rdd.pipe`` form crossed a DF→RDD→DF boundary, which sits
outside Catalyst/AQE: a composed pipeline (pipe_map → agg, or
map→reduce) recompiled the upstream plan per downstream action and lost
whole-stage codegen around the exchange. The mapInPandas form is one
plan — tests/test_plans.py asserts no RDD scan boundary remains.
"""

from __future__ import annotations

import shlex

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _line_exchange(command: str, line_iter, sep: str):
    """Per-partition child exchange for the line protocol: feed
    ``k<TAB>v`` lines (S/PipeMapRed.java:342-355 framing) on the child's
    stdin from a thread, yield its stdout lines parsed at the first
    separator. The child is ALWAYS reaped: any exception path (feeder
    error, consumer abandoning the generator, nonzero exit) kills and
    waits in the finally."""
    import subprocess
    import threading

    proc = subprocess.Popen(
        shlex.split(command), stdin=subprocess.PIPE, stdout=subprocess.PIPE
    )
    try:

        def feed():
            try:
                for line in line_iter:
                    proc.stdin.write(line.encode("utf-8"))
                    proc.stdin.write(b"\n")
                proc.stdin.close()
            except BrokenPipeError:  # child exited early; surfaced via rc
                pass

        t = threading.Thread(target=feed, daemon=True)
        t.start()
        sep_b = sep
        for raw in proc.stdout:
            line = raw.decode("utf-8").rstrip("\n")
            yield tuple(line.split(sep_b, 1)) if sep_b in line else (line, None)
        t.join()
        rc = proc.wait()
        if rc != 0:
            raise RuntimeError(f"pipe child exited {rc}")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def _kv_batches(pairs, batch_size: int = 10_000):
    """Pack (k, v) tuples into pandas frames for mapInPandas output."""
    import pandas as _pd

    ks, vs = [], []
    for k, v in pairs:
        ks.append(k)
        vs.append(v)
        if len(ks) >= batch_size:
            yield _pd.DataFrame({"k": ks, "v": vs})
            ks, vs = [], []
    if ks:
        yield _pd.DataFrame({"k": ks, "v": vs})


def pipe_map(df: DataFrame, command: str, sep: str = "\t") -> DataFrame:
    """Streaming mapper: each row → one ``k<TAB>v`` line on the child's
    stdin; each stdout line parsed back to (k, v) at the first separator
    (S/PipeMapRed.java:342-355 framing). One subprocess per partition,
    inside the DataFrame plan (mapInPandas, no RDD boundary)."""
    cols = df.columns
    lines_df = df.select(
        F.concat_ws(sep, *[F.col(c).cast("string") for c in cols]).alias("line")
    )

    def run_partition(batches):
        batches = iter(batches)
        first = next(batches, None)
        if first is None:  # empty partition: don't spawn a child
            return

        def gen_lines():
            for pdf in _chain_first(first, batches):
                yield from pdf["line"]

        yield from _kv_batches(_line_exchange(command, gen_lines(), sep))

    return lines_df.mapInPandas(run_partition, "k string, v string")


def pipe_reduce(
    kv: DataFrame, command: str, sep: str = "\t", num_partitions: int | None = None
) -> DataFrame:
    """Streaming reducer: shuffle on k, sort within partitions, stream
    ``k<TAB>v`` lines (key-contiguous — the -reducer grouping contract)
    through the command. mapInPandas preserves partition order, so the
    sortWithinPartitions grouping survives the Arrow batch boundaries."""
    spark = kv.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    arranged = kv.repartition(n, "k").sortWithinPartitions("k", "v")
    lines_df = arranged.select(
        F.concat_ws(sep, F.col("k").cast("string"), F.col("v").cast("string")).alias(
            "line"
        )
    )

    def run_partition(batches):
        batches = iter(batches)
        first = next(batches, None)
        if first is None:
            return

        def gen_lines():
            for pdf in _chain_first(first, batches):
                yield from pdf["line"]

        yield from _kv_batches(_line_exchange(command, gen_lines(), sep))

    return lines_df.mapInPandas(run_partition, "k string, v string")


def _chain_first(first, rest):
    yield first
    yield from rest


# --- Binary protocol (M/pipes/BinaryProtocol.java) -------------------------
#
# The reference's Pipes wire format: Hadoop VInt-prefixed byte strings
# (WritableUtils.writeVInt + raw bytes) carrying message-coded items
# (BinaryProtocol.java:62-80 and its C++ twin Pipes.hh). pipe_binary
# reproduces both layers:
#
# - serialization: VInt framing for every code/length/string, big-endian
#   float for PROGRESS — byte-identical to WritableUtils;
# - control plane: the downlink handshake START(version=0) →
#   SET_JOB_CONF → SET_INPUT_TYPES → RUN_MAP(split, numReduces,
#   pipedInput) → MAP_ITEM* → CLOSE (BinaryProtocol.java:248-292), and
#   the uplink state machine OUTPUT / PARTITIONED_OUTPUT / STATUS /
#   PROGRESS / REGISTER_COUNTER / INCREMENT_COUNTER / DONE
#   (BinaryProtocol.java:105-145). The run ends at DONE(54), exactly like
#   the reference's UplinkReaderThread; EOF-before-DONE from a legacy
#   child is tolerated (recorded in counters as a protocol deviation).
#
# Transport: both the reference's loopback-socket transport (a
# ServerSocket per task, port passed via the hadoop.pipes.command.port
# env var — Application.java:120-125) and a stdio mode carrying the same
# bytes over the child's stdin/stdout (line-tool-style children, tests).
# The native C++ tasks auto-detect the env var and connect, exactly like
# the reference's C++ runtime.

MSG_START = 0
MSG_SET_JOB_CONF = 1
MSG_SET_INPUT_TYPES = 2
MSG_RUN_MAP = 3
MSG_MAP_ITEM = 4
MSG_RUN_REDUCE = 5
MSG_REDUCE_KEY = 6
MSG_REDUCE_VALUE = 7
MSG_CLOSE = 8
MSG_ABORT = 9
MSG_OUTPUT = 50
MSG_PARTITIONED_OUTPUT = 51
MSG_STATUS = 52
MSG_PROGRESS = 53
MSG_DONE = 54
MSG_REGISTER_COUNTER = 55
MSG_INCREMENT_COUNTER = 56
PROTOCOL_VERSION = 0  # BinaryProtocol.java:46


def write_vint(out, i: int) -> None:
    """Hadoop WritableUtils.writeVInt: single byte for -112..127, else a
    length-prefix byte then big-endian magnitude bytes."""
    if -112 <= i <= 127:
        out.write(bytes([i & 0xFF]))
        return
    length = -112
    if i < 0:
        i ^= -1
        length = -120
    tmp = i
    while tmp:
        tmp >>= 8
        length -= 1
    out.write(bytes([length & 0xFF]))
    size = -(length + 112) if length >= -120 else -(length + 120)
    for idx in range(size - 1, -1, -1):
        out.write(bytes([(i >> (8 * idx)) & 0xFF]))


def _read_exact(stream, n: int) -> bytes | None:
    buf = b""
    while len(buf) < n:
        chunk = stream.read(n - len(buf))
        if not chunk:
            return None
        buf += chunk
    return buf


def read_vint(stream) -> int | None:
    first = stream.read(1)
    if not first:
        return None
    b = first[0]
    if b >= 0x80:
        b -= 256
    if -112 <= b <= 127:
        return b
    negative = b < -120
    size = -(b + 120) if negative else -(b + 112)
    data = _read_exact(stream, size)
    if data is None:
        raise EOFError("truncated vint")
    i = 0
    for byte in data:
        i = (i << 8) | byte
    return (i ^ -1) if negative else i


def _write_text(out, data: bytes) -> None:
    """Text.writeString: VInt byte length + UTF-8 bytes."""
    write_vint(out, len(data))
    out.write(data)


def _read_text(stream) -> bytes:
    n = read_vint(stream)
    if n is None:
        raise EOFError("EOF where Text expected")
    data = _read_exact(stream, n)
    if data is None:
        raise EOFError("truncated Text")
    return data


class _PerTaskReplaceParam:
    """AccumulatorParam over {(stage_id, partition_id): {name: long}} that
    REPLACES a task's entry on merge — re-executions of the same task
    (speculative duplicates, stage retries after fetch failure) overwrite
    their own previous contribution instead of double-counting."""

    def zero(self, value):
        return dict(value) if value else {}

    def addInPlace(self, a, b):
        a.update(b)
        return a


class PipesCounters:
    """Job-wide Pipes counters with exactly-once totals per stage
    execution.

    Spark only guarantees exactly-once accumulator updates inside
    actions; updates from transformations (this exchange runs inside
    mapInPandas) are at-least-once under retries. This wrapper restores
    exactness for the retry/speculation case by keying each update on
    (stageId, partitionId) and merging replace-wise — a re-run task
    overwrites its own prior update. Counters still re-count if the SAME
    plan is re-executed by a second action (new stage id) — cache the
    frame between actions if that matters, as with any engine counter.
    """

    def __init__(self, acc):
        self._acc = acc

    def add(self, counter_dict: dict) -> None:
        from pyspark import TaskContext

        tc = TaskContext.get()
        key = (tc.stageId(), tc.partitionId()) if tc is not None else (-1, -1)
        self._acc.add({key: dict(counter_dict)})

    @property
    def value(self) -> dict:
        out: dict[str, int] = {}
        for per_task in self._acc.value.values():
            for k, v in per_task.items():
                out[k] = out.get(k, 0) + v
        return out


def pipes_counters(spark) -> PipesCounters:
    """Exactly-once counters for ``pipe_binary(counters=...)`` — see
    :class:`PipesCounters`."""
    return PipesCounters(spark.sparkContext.accumulator({}, _PerTaskReplaceParam()))


def pipe_binary(
    df: DataFrame,
    command: list[str],
    job_conf: dict[str, str] | None = None,
    input_types: tuple[str, str] = (
        "org.apache.hadoop.io.Text",
        "org.apache.hadoop.io.Text",
    ),
    counters=None,
    transport: str = "stdio",
    num_reduces: int = 0,
) -> DataFrame:
    """Run an external binary under the full Pipes BinaryProtocol.

    Downlink per partition: START(version 0), SET_JOB_CONF (flattened
    key/value Text list), SET_INPUT_TYPES, RUN_MAP (split descriptor,
    numReduces=0, pipedInput=1), one MAP_ITEM(4) per row, CLOSE(8).
    Uplink: OUTPUT/PARTITIONED_OUTPUT become (k, v) rows; STATUS and
    PROGRESS are consumed; REGISTER_COUNTER/INCREMENT_COUNTER accumulate
    into ``counters`` (see :func:`pipes_counters`); DONE(54) ends the
    exchange. Arbitrary bytes are safe — the reason the reference built a
    binary protocol at all.

    ``num_reduces > 0`` enables the child-Partitioner hook (the
    reference's C++ ``Partitioner`` class, wordcount-part.cc): RUN_MAP
    carries the reduce count and the output grows a ``part`` column from
    the child's PARTITIONED_OUTPUT frames (plain OUTPUT rows get part
    -1 = engine decides). Feed that frame to
    ``pipe_binary_reduce(partition_col="part")`` to co-locate keys by
    the CHILD's assignment.
    """
    spark = df.sparkSession
    cols = df.columns
    if len(cols) != 2:
        raise ValueError("pipe_binary expects a 2-column (key, value) frame")
    conf_items = sorted((job_conf or {}).items())

    def run_partition(batches):
        from pyspark import TaskContext

        part_id = TaskContext.get().partitionId() if TaskContext.get() else -1

        def feed_body(w):
            write_vint(w, MSG_RUN_MAP)
            _write_text(w, f"partition-{part_id}".encode("utf-8"))  # split
            write_vint(w, num_reduces)  # 0 = map-only; engine shuffle reduces
            write_vint(w, 1)  # pipedInput
            for pdf in batches:
                for k, v in zip(pdf.iloc[:, 0], pdf.iloc[:, 1]):
                    write_vint(w, MSG_MAP_ITEM)
                    _write_text(w, str(k).encode("utf-8"))
                    _write_text(w, str(v).encode("utf-8"))

        yield from _batched_frames(
            _pipes_exchange(command, conf_items, input_types, feed_body, counters, transport),
            with_part=num_reduces > 0,
        )

    # mapInPandas keeps the exchange inside ONE DataFrame plan — the
    # earlier .rdd/createDataFrame round-trip sat outside AQE's stage
    # reuse, so a composed map->reduce pipeline re-executed the map leg
    # once per downstream plan compile (observed 3x per collect).
    out_schema = (
        "part int, k string, v string" if num_reduces > 0 else "k string, v string"
    )
    return df.select(
        F.col(cols[0]).cast("string").alias("k"), F.col(cols[1]).cast("string").alias("v")
    ).mapInPandas(run_partition, out_schema)


def pipe_binary_reduce(
    kv: DataFrame,
    command: list[str],
    job_conf: dict[str, str] | None = None,
    input_types: tuple[str, str] = (
        "org.apache.hadoop.io.Text",
        "org.apache.hadoop.io.Text",
    ),
    counters=None,
    num_partitions: int | None = None,
    transport: str = "stdio",
    partition_col: str | None = None,
) -> DataFrame:
    """The reduce leg of the Pipes protocol: shuffle ``kv`` on k, sort
    within partitions, then per partition send RUN_REDUCE(partition,
    pipedOutput=1) followed by the reference's grouped framing — one
    REDUCE_KEY(6) per distinct key, one REDUCE_VALUE(7) per value
    (BinaryProtocol.java:290-304) — and CLOSE. With :func:`pipe_binary` as
    the map leg this completes an all-native C++ MapReduce pipeline: the
    engine contributes exactly what the reference's framework did (split,
    shuffle, sort); both user legs run compiled code.
    """
    spark = kv.sparkSession
    cols = [c for c in kv.columns if c != partition_col]
    if len(cols) != 2:
        raise ValueError("pipe_binary_reduce expects a 2-column (key, value) frame")
    conf_items = sorted((job_conf or {}).items())
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    sel = kv.select(
        *([F.col(partition_col).alias("__part")] if partition_col else []),
        F.col(cols[0]).cast("string").alias("k"),
        F.col(cols[1]).cast("string").alias("v"),
    )
    if partition_col:
        # honor the CHILD's partition assignment (Partitioner hook): rows
        # sharing a child-assigned part co-locate; part -1 (plain OUTPUT)
        # falls back to key hashing
        arranged = (
            sel.withColumn(
                "__part", F.when(F.col("__part") >= 0, F.col("__part")).otherwise(F.crc32("k") % n)
            )
            .repartition(n, "__part")
            .sortWithinPartitions("k", "v")
            .drop("__part")
        )
    else:
        arranged = sel.repartition(n, "k").sortWithinPartitions("k", "v")

    def run_partition(batches):
        from pyspark import TaskContext

        part_id = TaskContext.get().partitionId() if TaskContext.get() else -1

        def feed_body(w):
            write_vint(w, MSG_RUN_REDUCE)
            write_vint(w, part_id)
            write_vint(w, 1)  # pipedOutput
            current = None
            # batches arrive in partition order, so key grouping from
            # sortWithinPartitions survives the Arrow batch boundaries
            for pdf in batches:
                for k, v in zip(pdf["k"], pdf["v"]):
                    kb = k.encode("utf-8")
                    if kb != current:
                        write_vint(w, MSG_REDUCE_KEY)
                        _write_text(w, kb)
                        current = kb
                    write_vint(w, MSG_REDUCE_VALUE)
                    _write_text(w, v.encode("utf-8"))

        yield from _batched_frames(
            _pipes_exchange(command, conf_items, input_types, feed_body, counters, transport)
        )

    return arranged.mapInPandas(run_partition, "k string, v string")


def _batched_frames(rows, batch_size: int = 10_000, with_part: bool = False):
    """Pack an iterator of (part, k, v) tuples into pandas frames for
    mapInPandas output (the part column is emitted only when the child
    partitioner is engaged)."""
    import pandas as _pd

    ps, ks, vs = [], [], []
    for p, k, v in rows:
        ps.append(p)
        ks.append(k)
        vs.append(v)
        if len(ks) >= batch_size:
            yield (_pd.DataFrame({"part": ps, "k": ks, "v": vs}) if with_part
                   else _pd.DataFrame({"k": ks, "v": vs}))
            ps, ks, vs = [], [], []
    if ks:
        yield (_pd.DataFrame({"part": ps, "k": ks, "v": vs}) if with_part
               else _pd.DataFrame({"k": ks, "v": vs}))


def _pipes_exchange(
    command, conf_items, input_types, feed_body, counters, transport="stdio"
):
    """Shared child exchange: handshake + ``feed_body`` + CLOSE down; the
    uplink state machine up (yields (k, v) rows until DONE).

    ``transport="socket"`` reproduces the reference's actual transport
    (Application.java:120-125): a loopback ServerSocket whose port is
    passed to the child via the ``hadoop.pipes.command.port`` env var; the
    child connects and the whole protocol runs over that connection.
    ``"stdio"`` speaks the same bytes over the child's stdin/stdout
    (useful for line-tool-style children and tests).
    """
    import os
    import struct
    import subprocess
    import threading

    # Every resource is released on EVERY path (malformed uplink frame,
    # accept timeout, consumer abandoning the generator): the child is
    # killed+reaped and the sockets closed in the finally — only the happy
    # path reaches the graceful proc.wait() first.
    srv = conn = proc = None
    try:
        if transport == "socket":
            import socket as _socket

            srv = _socket.socket(_socket.AF_INET, _socket.SOCK_STREAM)
            srv.bind(("127.0.0.1", 0))
            srv.listen(1)
            srv.settimeout(30)
            env = dict(os.environ)
            env["hadoop.pipes.command.port"] = str(srv.getsockname()[1])
            proc = subprocess.Popen(command, env=env)
            conn, _ = srv.accept()
            child_in = conn.makefile("wb")
            child_out = conn.makefile("rb")
        else:
            proc = subprocess.Popen(
                command, stdin=subprocess.PIPE, stdout=subprocess.PIPE
            )
            child_in = proc.stdin
            child_out = proc.stdout

        yield from _exchange_loop(
            child_in, child_out, conf_items, input_types, feed_body, counters
        )
        rc = proc.wait()
        if rc != 0:
            raise RuntimeError(f"pipes child exited {rc}")
    finally:
        if conn is not None:
            try:
                conn.close()
            except OSError:
                pass
        if srv is not None:
            try:
                srv.close()
            except OSError:
                pass
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()


def _exchange_loop(child_in, child_out, conf_items, input_types, feed_body, counters):
    import struct
    import threading

    def feed():
        try:
            w = child_in
            write_vint(w, MSG_START)
            write_vint(w, PROTOCOL_VERSION)
            write_vint(w, MSG_SET_JOB_CONF)
            write_vint(w, 2 * len(conf_items))
            for k, v in conf_items:
                _write_text(w, str(k).encode("utf-8"))
                _write_text(w, str(v).encode("utf-8"))
            write_vint(w, MSG_SET_INPUT_TYPES)
            _write_text(w, input_types[0].encode("utf-8"))
            _write_text(w, input_types[1].encode("utf-8"))
            feed_body(w)
            write_vint(w, MSG_CLOSE)
            w.close()
        except BrokenPipeError:  # child exited early; surfaced via rc below
            pass

    t = threading.Thread(target=feed, daemon=True)
    t.start()
    local_counters: dict[str, int] = {}
    counter_names: dict[int, str] = {}
    done = False
    while not done:
        code = read_vint(child_out)
        if code is None:
            # legacy child: EOF without DONE — tolerated, recorded
            local_counters["__protocol__.eof_before_done"] = 1
            break
        if code in (MSG_OUTPUT, MSG_PARTITIONED_OUTPUT):
            part = -1  # plain OUTPUT: engine decides the partition
            if code == MSG_PARTITIONED_OUTPUT:
                part = read_vint(child_out)  # child Partitioner's assignment
            key = _read_text(child_out)
            value = _read_text(child_out)
            yield (part, key.decode("utf-8"), value.decode("utf-8"))
        elif code == MSG_STATUS:
            _read_text(child_out)
        elif code == MSG_PROGRESS:
            struct.unpack(">f", _read_exact(child_out, 4))
        elif code == MSG_REGISTER_COUNTER:
            cid = read_vint(child_out)
            group = _read_text(child_out).decode("utf-8")
            name = _read_text(child_out).decode("utf-8")
            counter_names[cid] = f"{group}.{name}"
        elif code == MSG_INCREMENT_COUNTER:
            cid = read_vint(child_out)
            amount = read_vint(child_out)  # VLong: same wire encoding
            key = counter_names.get(cid, f"__counter_{cid}__")
            local_counters[key] = local_counters.get(key, 0) + amount
        elif code == MSG_DONE:
            done = True
        else:
            raise RuntimeError(f"pipes exchange: bad uplink command {code}")
    if counters is not None and local_counters:
        counters.add(local_counters)
    t.join()
