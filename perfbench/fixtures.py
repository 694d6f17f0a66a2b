"""Seeded benchmark fixtures.

The base tables in ``seed_data/`` are the engine's sf0.01 test tables
(10 parquet files, ~1.9 MB). A fixture is ``factor`` key-shifted copies of
them, the recipe of ``scripts/make_scaled_fixtures.py`` (whose key map this
module imports): copy ``i`` offsets every surrogate key by ``i * span`` so
joins fan out exactly as in the base, ``region``/``nation`` stay fixed, and
document copies get a marker token so they stay near-duplicates. The oracle
runs on the same files, so replication preserves oracle agreement.

The seed changes the bytes, never the shape: it permutes the row order of
every replicated table and picks the near-duplicate marker tokens. The same
seed always writes identical files; ``digest`` records their SHA-256.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SEED_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "seed_data")


def _scaling_recipe():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "scripts"))
    try:
        import make_scaled_fixtures as recipe
    finally:
        sys.path.pop(0)
    return recipe._FIXED, recipe._SHIFTS


def _marker(rng: np.random.Generator, i: int) -> str:
    letters = "abcdefghijklmnopqrstuvwxyz"
    return "".join(letters[j] for j in rng.integers(0, 26, 6)) + str(i)


def generate(out: str, seed: int, factor: int) -> str:
    """Write the fixture for ``seed`` into ``out``; return its digest."""
    fixed, shifts = _scaling_recipe()
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    spans: dict[tuple[str, str], int] = {}
    tables = {name: pq.read_table(os.path.join(SEED_DATA, f"{name}.parquet")) for name in [*fixed, *shifts]}
    for table, cols in shifts.items():
        for _, key in cols:
            if key[0] == table:
                spans[key] = int(pc.max(tables[table][key[1]]).as_py()) + 1

    for table in fixed:
        pq.write_table(tables[table], os.path.join(out, f"{table}.parquet"))
    for table, cols in shifts.items():
        base = tables[table]
        copies = []
        for i in range(factor):
            c = base
            for col, key in cols:
                idx = c.schema.get_field_index(col)
                field = c.schema.field(idx)
                c = c.set_column(idx, field, pc.add(c[col], pa.scalar(i * spans[key], type=field.type)))
            if table == "documents" and i > 0:
                idx = c.schema.get_field_index("text")
                marked = pc.binary_join_element_wise(c["text"], pa.scalar(_marker(rng, i)), " ")
                c = c.set_column(idx, c.schema.field(idx), marked)
            copies.append(c)
        big = pa.concat_tables(copies)
        big = big.take(pa.array(rng.permutation(big.num_rows)))
        pq.write_table(big, os.path.join(out, f"{table}.parquet"), row_group_size=65536)
    return digest(out)


def digest(directory: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(directory, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


if __name__ == "__main__":
    # python3 perfbench/fixtures.py <out_dir> <seed> <factor>
    d = generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
    print(json.dumps({"dir": sys.argv[1], "digest": d}))
