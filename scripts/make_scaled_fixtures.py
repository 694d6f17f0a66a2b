"""Deterministic N-fold scale-up of a testdata sf directory.

The macro-scale soak (r11 VERDICT queue #5; reference analog: gridmix's
role, H/src/benchmarks/gridmix/README:20-45) needs an sf1-sized dataset,
but /root/testdata is read-only and driver-owned. This script builds one
from sf0.1 by key-shifted replication — the standard scaling recipe that
preserves schemas, per-key densities, and join fan-outs exactly:

- copy i of each fact/dim row gets every surrogate key offset by
  i * key_span, so copies reference each other and never collide;
- region/nation stay fixed (bounded dimensions, as in TPC-H proper);
- document text gets a per-copy marker token appended (i > 0), so doc
  counts scale while copies remain NEAR-duplicates — dedup queries see a
  10x-denser candidate load instead of a degenerate exact-dup collapse;
- embeddings replicate as-is: ANN/kmeans see a 10x corpus.

Usage::

    python scripts/make_scaled_fixtures.py [factor] [src_dir] [out_dir]

defaults: factor=10, src=/root/testdata/sf0.1, out=/tmp/sf1. Output goes
OUTSIDE the repo by default — these are soak inputs, not checked-in
fixtures; `scripts/scale_soak.py --json` records the scaling table.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# table -> {column: span_source_column}; every listed column is shifted
# by i * (max(span_source) + 1) in copy i. Span sources are the key's
# own defining table so foreign keys shift in lockstep.
_FIXED = ["region", "nation"]
_SHIFTS: dict[str, list[tuple[str, tuple[str, str]]]] = {
    "customer": [("c_custkey", ("customer", "c_custkey"))],
    "supplier": [("s_suppkey", ("supplier", "s_suppkey"))],
    "part": [("p_partkey", ("part", "p_partkey"))],
    "orders": [
        ("o_orderkey", ("orders", "o_orderkey")),
        ("o_custkey", ("customer", "c_custkey")),
    ],
    "lineitem": [
        ("l_orderkey", ("orders", "o_orderkey")),
        ("l_partkey", ("part", "p_partkey")),
        ("l_suppkey", ("supplier", "s_suppkey")),
    ],
    "events": [
        ("event_id", ("events", "event_id")),
        ("user_id", ("events", "user_id")),
    ],
    "documents": [("doc_id", ("documents", "doc_id"))],
    "embeddings": [("vec_id", ("embeddings", "vec_id"))],
}


def scale(src: str, out: str, factor: int) -> None:
    os.makedirs(out, exist_ok=True)
    spans: dict[tuple[str, str], int] = {}
    for table, shifts in _SHIFTS.items():
        t = pq.read_table(os.path.join(src, f"{table}.parquet"))
        for _, key in shifts:
            if key not in spans and key[0] == table:
                spans[key] = int(pc.max(t[key[1]]).as_py()) + 1

    for table in _FIXED:
        t = pq.read_table(os.path.join(src, f"{table}.parquet"))
        pq.write_table(t, os.path.join(out, f"{table}.parquet"))
        print(f"{table}: {t.num_rows} rows (fixed)")

    for table, shifts in _SHIFTS.items():
        t = pq.read_table(os.path.join(src, f"{table}.parquet"))
        copies = []
        for i in range(factor):
            c = t
            for col, key in shifts:
                idx = c.schema.get_field_index(col)
                shifted = pc.add(c[col], pa.scalar(i * spans[key], type=c.schema.field(idx).type))
                c = c.set_column(idx, c.schema.field(idx), shifted)
            if table == "documents" and i > 0:
                idx = c.schema.get_field_index("text")
                marked = pc.binary_join_element_wise(
                    c["text"], pa.scalar(f"copy{i}"), " "
                )
                c = c.set_column(idx, c.schema.field(idx), marked)
            copies.append(c)
        big = pa.concat_tables(copies)
        # Realistic row-group layout (r13): pyarrow's 1M-row default left
        # documents/events/embeddings as ONE row group, which scans as a
        # single effective partition however many byte-range splits Spark
        # reports (row groups are the splittable unit). Real corpora ship
        # thousands of groups; 64k rows/group keeps the soak measuring
        # scaling exponents, not a degenerate layout. The degenerate
        # layout itself is pinned separately by
        # tests/test_plans.py::test_ensure_min_partitions_sees_through_fake_splits.
        pq.write_table(
            big, os.path.join(out, f"{table}.parquet"), row_group_size=65536
        )
        print(f"{table}: {t.num_rows} -> {big.num_rows} rows")


if __name__ == "__main__":
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out = sys.argv[3] if len(sys.argv) > 3 else "/tmp/sf1"
    scale(src, out, factor)
