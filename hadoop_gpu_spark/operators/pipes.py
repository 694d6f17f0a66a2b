"""Subprocess operators — the reference's Streaming and Pipes UDF surfaces.

Reference:
- Streaming (S/PipeMapper.java:35, S/PipeMapRed.java:48): any executable
  over stdin/stdout, newline-framed, tab-separated KV.
- Pipes (M/pipes/BinaryProtocol.java:62-80): C++ binaries over a VInt
  byte protocol, on a loopback socket or stdio.

Spark restatement: a mapInPandas subprocess exchange keeps each wire
contract while staying inside ONE DataFrame plan. ``pipe_map`` runs a
line-protocol command as the map phase (tab-separated KV in, first-tab
split out); ``pipe_binary`` runs a Pipes binary as the map task. Both are
map-side only: the reduce is the engine's shuffle (``groupBy`` on the
output frame), as the paper's Pipes extension routes map tasks only
(M/pipes/PipesGPUMapRunner.java:39-110).

The earlier ``rdd.pipe`` form crossed a DF→RDD→DF boundary, which sits
outside Catalyst/AQE: a composed pipeline (pipe_map → agg) recompiled
the upstream plan per downstream action and lost whole-stage codegen
around the exchange. The mapInPandas form is one plan —
tests/test_plans.py asserts no RDD scan boundary remains.
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


def _chain_first(first, rest):
    yield first
    yield from rest


# --- Binary protocol (M/pipes/BinaryProtocol.java) -------------------------
#
# The reference's Pipes wire format: Hadoop VInt-prefixed byte strings
# (WritableUtils.writeVInt + raw bytes) carrying message-coded items
# (BinaryProtocol.java:62-80 and its C++ twin Pipes.hh). pipe_binary
# reproduces the map side of both layers:
#
# - serialization: VInt framing for every code/length/string, big-endian
#   float for PROGRESS — byte-identical to WritableUtils;
# - control plane: the downlink handshake START(version=0) →
#   SET_JOB_CONF(empty) → SET_INPUT_TYPES(Text, Text) → RUN_MAP(split,
#   numReduces=0, pipedInput=1) → MAP_ITEM* → CLOSE
#   (BinaryProtocol.java:248-292), and the uplink state machine OUTPUT /
#   STATUS / PROGRESS / REGISTER_COUNTER / INCREMENT_COUNTER / DONE
#   (BinaryProtocol.java:105-145). The run ends at DONE(54), exactly like
#   the reference's UplinkReaderThread. Counter frames are read and
#   discarded. An uplink that ends before DONE, or any other frame
#   (PARTITIONED_OUTPUT included: the child was told numReduces=0), fails
#   the task.
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
MSG_CLOSE = 8
MSG_OUTPUT = 50
MSG_STATUS = 52
MSG_PROGRESS = 53
MSG_DONE = 54
MSG_REGISTER_COUNTER = 55
MSG_INCREMENT_COUNTER = 56
PROTOCOL_VERSION = 0  # BinaryProtocol.java:46
# the reference's Pipes defaults every key and value to Text
# (SubmitterToAccels.java:131-135)
TEXT_INPUT_TYPES = (b"org.apache.hadoop.io.Text", b"org.apache.hadoop.io.Text")


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


def pipe_binary(df: DataFrame, command: list[str], transport: str = "stdio") -> DataFrame:
    """Run an external binary as the map task of the Pipes BinaryProtocol.

    Downlink per partition: START(version 0), SET_JOB_CONF (empty),
    SET_INPUT_TYPES (Text, Text), RUN_MAP (split descriptor,
    numReduces=0, pipedInput=1), one MAP_ITEM(4) per row, CLOSE(8).
    Uplink: OUTPUT frames become (k, v) rows; STATUS, PROGRESS and the
    counter frames are consumed; DONE(54) ends the exchange. Arbitrary
    bytes are safe — the reason the reference built a binary protocol at
    all. The reduce is the engine's own shuffle: aggregate the output
    frame with ``groupBy``.

    ``transport="socket"`` reproduces the reference's actual transport
    (Application.java:120-125): a loopback ServerSocket whose port is
    passed to the child via the ``hadoop.pipes.command.port`` env var.
    ``"stdio"`` speaks the same bytes over the child's stdin/stdout.
    """
    cols = df.columns
    if len(cols) != 2:
        raise ValueError("pipe_binary expects a 2-column (key, value) frame")

    def run_partition(batches):
        from pyspark import TaskContext

        tc = TaskContext.get()
        split = f"partition-{tc.partitionId() if tc else -1}".encode("utf-8")
        items = ((k, v) for pdf in batches for k, v in zip(pdf["k"], pdf["v"]))
        yield from _kv_batches(_pipes_exchange(command, split, items, transport))

    # mapInPandas keeps the exchange inside ONE DataFrame plan — the
    # earlier .rdd/createDataFrame round-trip sat outside AQE's stage
    # reuse, so a downstream aggregate re-executed the map leg once per
    # plan compile (observed 3x per collect).
    return df.select(
        F.col(cols[0]).cast("string").alias("k"), F.col(cols[1]).cast("string").alias("v")
    ).mapInPandas(run_partition, "k string, v string")


def _pipes_exchange(command, split: bytes, items, transport: str):
    """Start the child on ``transport`` and run the protocol exchange over
    it; yields the child's (k, v) OUTPUT rows. Raises when the child exits
    nonzero or ends its uplink before DONE."""
    import os
    import subprocess

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

        done = yield from _exchange_loop(child_in, child_out, split, items)
        rc = proc.wait()
        if rc != 0:
            raise RuntimeError(f"pipes child exited {rc}")
        if not done:
            raise RuntimeError("pipes child ended its uplink before DONE")
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


def _exchange_loop(child_in, child_out, split: bytes, items):
    """Feed the downlink from a thread, read the uplink here. Yields
    (k, v) rows; returns whether the child sent DONE."""
    import struct
    import threading

    def feed():
        try:
            w = child_in
            write_vint(w, MSG_START)
            write_vint(w, PROTOCOL_VERSION)
            write_vint(w, MSG_SET_JOB_CONF)
            write_vint(w, 0)  # no job conf entries
            write_vint(w, MSG_SET_INPUT_TYPES)
            _write_text(w, TEXT_INPUT_TYPES[0])
            _write_text(w, TEXT_INPUT_TYPES[1])
            write_vint(w, MSG_RUN_MAP)
            _write_text(w, split)
            write_vint(w, 0)  # numReduces: map-only, the engine's shuffle reduces
            write_vint(w, 1)  # pipedInput
            for k, v in items:
                write_vint(w, MSG_MAP_ITEM)
                _write_text(w, str(k).encode("utf-8"))
                _write_text(w, str(v).encode("utf-8"))
            write_vint(w, MSG_CLOSE)
            w.close()
        except ConnectionError:  # child exited early; surfaced by the caller
            pass

    t = threading.Thread(target=feed, daemon=True)
    t.start()
    while True:
        code = read_vint(child_out)
        if code is None:
            t.join()
            return False
        if code == MSG_OUTPUT:
            key = _read_text(child_out)
            value = _read_text(child_out)
            yield (key.decode("utf-8"), value.decode("utf-8"))
        elif code == MSG_STATUS:
            _read_text(child_out)
        elif code == MSG_PROGRESS:
            struct.unpack(">f", _read_exact(child_out, 4))
        elif code == MSG_REGISTER_COUNTER:
            read_vint(child_out)  # counter id
            _read_text(child_out)  # group
            _read_text(child_out)  # name
        elif code == MSG_INCREMENT_COUNTER:
            read_vint(child_out)  # counter id
            read_vint(child_out)  # amount (VLong: same wire encoding)
        elif code == MSG_DONE:
            t.join()
            return True
        else:
            raise RuntimeError(f"pipes exchange: bad uplink command {code}")
