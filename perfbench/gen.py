"""Seeded inputs for the benchmark.

An input directory is a copy of the engine's scale-factor-0.001 test data
(``data/sf0.001``, the same ten tables its tests read) in the manner of
``scripts/scale_smoke.py``: every key column in ``SHIFTED_KEYS`` shifted by
a seed-derived offset (foreign keys shift with the keys they reference) and
every table's rows permuted by the seed. Types, value distributions and row
counts are those of the test data for every seed; only the keys, the row
order and so the parquet bytes differ. Every seed is therefore a new plan
for the engine and a cold operator cache, over the same amount of work.

Only numpy and pyarrow are used; nothing here touches Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# the key columns scripts/scale_smoke.py shifts, except vector ids, which
# the ANN queries address by literal id (``vec_id == 0``, ``vec_id % 50``)
SHIFTED_KEYS = {
    "customer": ("c_custkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
}


def key_offset(seed: int) -> int:
    """Seed-derived shift applied to every key in ``SHIFTED_KEYS``."""
    return (1 + seed % 9) * 1_000_000


def write_inputs(out_dir: str, seed: int, names: tuple[str, ...]) -> None:
    """Write the seed's copy of the named tables to ``out_dir``."""
    rng = np.random.default_rng(seed)
    off = key_offset(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        tbl = pq.read_table(os.path.join(SOURCE, f"{name}.parquet"))
        for col in SHIFTED_KEYS.get(name, ()):
            i = tbl.schema.get_field_index(col)
            shifted = pa.array(tbl.column(col).to_numpy() + off, tbl.schema.field(i).type)
            tbl = tbl.set_column(i, col, shifted)
        tbl = tbl.take(rng.permutation(tbl.num_rows))
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def input_size(data_dir: str, names: tuple[str, ...]) -> tuple[int, int]:
    """(rows, bytes) of the named tables in ``data_dir``."""
    rows = nbytes = 0
    for name in names:
        path = os.path.join(data_dir, f"{name}.parquet")
        rows += pq.ParquetFile(path).metadata.num_rows
        nbytes += os.path.getsize(path)
    return rows, nbytes
