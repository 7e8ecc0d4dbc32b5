"""Seeded input tables for the benchmark, written as an ordinary sf dir.

The base tables under ``data/`` are the repository's deterministic test
tables, committed unchanged (``data/sf0.1`` for the measured runs,
``data/sf0.001`` for the suite's floor pass; SHA-256 in ``SOURCES``).
The workload seed only remaps ``documents.doc_id`` through a seeded
permutation; seed 0 copies every table byte for byte. The engine derives
page urls, geotags and tie-breaks from ``doc_id``, so each seed binds
texts to different ids while the texts, the table sizes and every other
column stay those of the test tables.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
BASE_SEED = 42
# (scale, table) -> SHA-256 of the committed file
SOURCES = {
    ("sf0.1", "documents"):
        "d10b0da67e5aceb465e89365781dab5c69d3c62b64a8308398c6fd3fb09bcf82",
    ("sf0.1", "lineitem"):
        "e2be01994986260d75f144c52a2648eb294f82e5ba86f32e7a84230be01856d2",
    ("sf0.001", "documents"):
        "dae477afb99976de4d51a57a650a5af1d3d0c3593bcf7195a77a6b068ae867bc",
    ("sf0.001", "lineitem"):
        "104501c514a4f24eb4ef0431eeb7cc95dd2b78b516d01b9d7be62c9132165c52",
}


def source(scale: str, table: str) -> str:
    return os.path.join(DATA, scale, f"{table}.parquet")


def doc_id_permutation(n: int, seed: int) -> np.ndarray:
    """doc_id remap of one workload seed; seed 0 is the identity."""
    if seed == 0:
        return np.arange(n, dtype=np.int64)
    return np.random.default_rng([BASE_SEED, seed]).permutation(n)


def write_sf_dir(out_dir: str, seed: int, tables: tuple[str, ...],
                 scale: str = "sf0.1") -> str:
    """Write ``tables`` of ``scale`` as ``<out_dir>/<table>.parquet``,
    with ``documents.doc_id`` remapped for ``seed``; return out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name in tables:
        src, dst = source(scale, name), os.path.join(out_dir,
                                                     f"{name}.parquet")
        if name != "documents" or seed == 0:
            shutil.copyfile(src, dst)
            continue
        t = pq.read_table(src)
        ids = t.column("doc_id").to_numpy()
        # the test tables number documents 0..n-1
        perm = doc_id_permutation(len(ids), seed)
        t = t.set_column(t.schema.get_field_index("doc_id"), "doc_id",
                         pa.array(perm[ids], pa.int64()))
        pq.write_table(t, dst)
    return out_dir
