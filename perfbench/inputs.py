"""Seeded input generator.

The benchmark ships a copy of the engine's synthetic fixture
(``fixture/sf0.01`` and ``fixture/sf0.001``) and derives each seed's
inputs from it: seed 0 is the fixture byte for byte; any other seed
permutes the row order of every table and shifts the entity keys by
one seed-derived offset. Row counts, value distributions and graph
degree distributions are unchanged, so every seed asks the engine for
the same amount of work while the physical layout and the key values
it sees differ.

The key offset is a multiple of 5040 (divisible by 1..10, 12, 14, 15,
16, 18, 20), so small-modulus key classes a query may test survive the
shift, and stays below 500,000 so customer vertices never reach the
``1000000 + suppkey`` supplier-vertex namespace of the transaction
graph.
"""

from __future__ import annotations

import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: key columns shifted together, so every join and graph edge survives
_KEY_COLUMNS = {
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}

_PROPS = re.compile(r'\{"k": (\d+)\}')


def key_offset(seed: int) -> int:
    return 0 if seed == 0 else 5040 * (1 + seed % 99)


def _shift_props(col: pa.ChunkedArray, offset: int) -> pa.Array:
    """events.props carries the transfer counterparty ``{"k": <user>}``;
    it is shifted with user_id so the flow graph keeps its edges."""
    out = []
    for v in col.to_pylist():
        m = _PROPS.fullmatch(v)
        if m is None:
            raise ValueError(f"unexpected events.props layout: {v!r}")
        out.append('{"k": %d}' % (int(m.group(1)) + offset))
    return pa.array(out, pa.string())


def derive_table(table: pa.Table, name: str, seed: int) -> pa.Table:
    if seed == 0:
        return table
    offset = key_offset(seed)
    for col in _KEY_COLUMNS.get(name, ()):
        i = table.schema.get_field_index(col)
        shifted = pc.add(table.column(col), pa.scalar(offset, table.schema.field(col).type))
        table = table.set_column(i, table.schema.field(col), shifted)
    if name == "events":
        i = table.schema.get_field_index("props")
        table = table.set_column(i, table.schema.field("props"), _shift_props(table.column("props"), offset))
    # one generator per (seed, table): a table's permutation does not
    # depend on which other tables were generated before it
    rng = np.random.default_rng([seed, TABLES.index(name)])
    return table.take(pa.array(rng.permutation(table.num_rows)))


def generate(sf: str, seed: int, out_dir: str) -> str:
    """Write seed ``seed``'s inputs for scale ``sf`` (``"0.01"``) into
    ``out_dir`` (created fresh) and return it. The same (sf, seed)
    always yields byte-identical files."""
    src = os.path.join(FIXTURE, f"sf{sf}")
    if not os.path.isdir(src):
        raise FileNotFoundError(f"no fixture for sf{sf} under {FIXTURE}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    for name in TABLES:
        path = os.path.join(src, f"{name}.parquet")
        if seed == 0:
            shutil.copyfile(path, os.path.join(out_dir, f"{name}.parquet"))
            continue
        table = derive_table(pq.read_table(path), name, seed)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
    return out_dir
