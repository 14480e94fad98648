"""Seeded, deterministic input composer for the benchmark.

Builds a workload's input tables from the small base tables shipped in
``perfbench/base`` (a copy of the sf0.001 test tables), with the key and
row-order rules of ``tools/make_scaled_sf.py`` at a single copy (so its
per-copy text rotation and embedding nudge do not arise):

* each key family is shifted by a seeded multiple of ``KEY_SPAN``,
  identically in every table of the family, so the tables join exactly
  as the base data does and two seeds give disjoint key ranges;
* the tiny dimensions (region, nation) are kept as they are;
* every other table is written in a seeded row order.

Streaming inputs are the same rows split into seeded micro-batch files
with increasing modification times, so a file source reads them in a
fixed order, one file per trigger.

Nothing here imports Spark: composing runs in plain pyarrow/numpy
before the benchmark starts its clock. Output is cached per
(seed, size) under the cache directory and reused when complete.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")

KEY_FAMILIES = {
    "custkey": {"customer": ["c_custkey"], "orders": ["o_custkey"]},
    "orderkey": {"orders": ["o_orderkey"], "lineitem": ["l_orderkey"]},
    "suppkey": {"supplier": ["s_suppkey"], "lineitem": ["l_suppkey"]},
    "partkey": {"part": ["p_partkey"], "lineitem": ["l_partkey"]},
    "event_id": {"events": ["event_id"]},
    "user_id": {"events": ["user_id"]},
    "doc_id": {"documents": ["doc_id"]},
}
ORDERED_TABLES = ("customer", "supplier", "part", "orders", "lineitem", "events", "documents")
SHARED_DIMS = ("region", "nation")
TABLES = SHARED_DIMS + ORDERED_TABLES
KEY_SPAN = 1 << 20  # above every key of the base tables


def _base(table: str) -> pa.Table:
    return pq.read_table(os.path.join(BASE_DIR, f"{table}.parquet"))


def _key_offsets(seed: int) -> dict[str, int]:
    rng = np.random.default_rng([seed, 1 << 20])
    return {fam: int(rng.integers(1, 64)) * KEY_SPAN for fam in KEY_FAMILIES}


def compose_table(table: str, seed: int, offsets: dict[str, int]) -> pa.Table:
    """One table: keys shifted by their family's offset, in a seeded row order."""
    t = _base(table)
    if table in SHARED_DIMS:
        return t
    for fam, cols_by_table in KEY_FAMILIES.items():
        for c in cols_by_table.get(table, []):
            col = pc.add(t[c], pa.scalar(offsets[fam], t.schema.field(c).type))
            t = t.set_column(t.schema.get_field_index(c), c, col)
    rng = np.random.default_rng([seed, ORDERED_TABLES.index(table)])
    return t.take(pa.array(rng.permutation(t.num_rows)))


def split_files(t: pa.Table, n_files: int, seed: int, out_dir: str) -> list[str]:
    """Split ``t`` into ``n_files`` seeded, near-equal parquet files whose
    modification times increase in file order."""
    rng = np.random.default_rng([seed, 12])
    order = rng.permutation(t.num_rows)
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, part in enumerate(np.array_split(order, n_files)):
        p = os.path.join(out_dir, f"part-{i:03d}.parquet")
        pq.write_table(t.take(pa.array(np.sort(part))), p)
        mtime = 1_700_000_000 + 10 * i
        os.utime(p, (mtime, mtime))
        paths.append(p)
    return paths


def _fingerprint() -> str:
    """Hash of the base tables and of this composer, so a cached input is
    reused only while both are unchanged."""
    h = hashlib.sha1()
    for path in [os.path.join(BASE_DIR, f"{t}.parquet") for t in TABLES] + [__file__]:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def compose(cache_root: str, seed: int, size: dict) -> tuple[str, dict]:
    """Compose (or reuse) the inputs for one (seed, size).

    ``size`` optionally maps ``event_files`` to the number of micro-batch
    files of events. Returns the input directory (``<table>.parquet`` per table, plus
    ``events_stream/`` when asked for) and its manifest of rows and bytes
    per table."""
    key = json.dumps({"seed": seed, "size": size, "inputs": _fingerprint()}, sort_keys=True)
    out = os.path.join(cache_root, hashlib.sha1(key.encode()).hexdigest()[:16])
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return out, json.load(f)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    offsets = _key_offsets(seed)
    manifest = {"seed": seed, "size": size, "tables": {}}
    composed = {}
    for table in TABLES:
        t = compose_table(table, seed, offsets)
        composed[table] = t
        p = os.path.join(tmp, f"{table}.parquet")
        pq.write_table(t, p)
        manifest["tables"][table] = {"rows": t.num_rows, "bytes": os.path.getsize(p)}
    if size.get("event_files"):
        paths = split_files(
            composed["events"], int(size["event_files"]), seed, os.path.join(tmp, "events_stream")
        )
        manifest["tables"]["events_stream"] = {
            "rows": composed["events"].num_rows,
            "bytes": sum(os.path.getsize(p) for p in paths),
        }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, manifest
