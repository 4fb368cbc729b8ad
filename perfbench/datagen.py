"""Seeded benchmark inputs built from a read-only base directory.

A workload at scale K reads K disjoint replicas of every base table,
concatenated and shuffled into one parquet file per table:

- integer keys are shifted per replica, so each replica is a new
  population (group sizes stay realistic while key cardinality and
  row mass grow K-fold);
- every document token gets a per-replica prefix (``r{i}_``), so the
  vocabulary grows and no text is duplicated across replicas;
- embedding dimension j of replica i is perturbed by
  ``((31 * i + offset + j) mod 7) / 100``, so replicas do not collide
  in the same near-duplicate buckets.

The seed chooses the row order of every table and the perturbation
``offset``; the same (seed, scale) always yields the same files. Inputs
are cached per (seed, scale) under the cache directory, so repeated
runs pay generation once.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

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

SHIFTS = {
    "region": {"r_regionkey": 1_000},
    "nation": {"n_nationkey": 1_000, "n_regionkey": 1_000},
    "part": {"p_partkey": 10_000_000},
    "supplier": {"s_suppkey": 10_000_000},
    "customer": {"c_custkey": 10_000_000},
    "orders": {"o_orderkey": 1_000_000_000, "o_custkey": 10_000_000},
    "lineitem": {
        "l_orderkey": 1_000_000_000,
        "l_suppkey": 10_000_000,
        "l_partkey": 10_000_000,
    },
    "events": {"event_id": 1_000_000_000, "user_id": 10_000_000},
    "documents": {"doc_id": 10_000_000},
    "embeddings": {"vec_id": 10_000_000, "label": 1_000},
}

# Cached input sets kept per cache directory; older ones are evicted.
MAX_CACHED = 6


def _perturb(col: pa.ChunkedArray, replica: int, offset: int) -> pa.Array:
    arr = col.combine_chunks()
    values = arr.values.to_numpy(zero_copy_only=False).astype(np.float64)
    lengths = np.diff(arr.offsets.to_numpy())
    dims = np.concatenate([np.arange(n) for n in lengths]) if len(lengths) else values
    bump = ((31 * replica + offset + dims) % 7) / 100.0
    out = (values + bump).astype(np.float32)
    return pa.ListArray.from_arrays(arr.offsets, pa.array(out, pa.float32()))


def _replica(table: pa.Table, name: str, replica: int, offset: int) -> pa.Table:
    cols = []
    for field in table.schema:
        col = table[field.name]
        shift = SHIFTS[name].get(field.name)
        if shift is not None:
            col = pc.add(col, pa.scalar(replica * shift, field.type))
        elif name == "documents" and field.name == "text":
            col = pc.replace_substring_regex(col, r"(\S+)", f"r{replica}_\\1")
        elif name == "embeddings" and field.name == "embedding":
            col = _perturb(col, replica, offset)
        cols.append(col)
    return pa.table(cols, schema=table.schema)


def materialize(base_dir: str, dest: str, scale: int, seed: int) -> None:
    """Write the (seed, scale) input set for ``base_dir`` into ``dest``."""
    rng = np.random.default_rng(seed)
    offset = int(rng.integers(0, 7))
    os.makedirs(dest)
    for name in TABLES:
        base = pq.read_table(os.path.join(base_dir, f"{name}.parquet"))
        table = pa.concat_tables(_replica(base, name, i, offset) for i in range(scale))
        table = table.take(rng.permutation(table.num_rows))
        pq.write_table(table, os.path.join(dest, f"{name}.parquet"), compression="snappy")


def inputs(cache_dir: str, base_dir: str, scale: int, seed: int) -> tuple[str, float]:
    """Return the input directory for (seed, scale), building it if it is
    not cached, and the seconds spent building it (0 when cached)."""
    dest = os.path.join(cache_dir, f"x{scale}-seed{seed}")
    if os.path.isdir(dest):
        os.utime(dest)
        return dest, 0.0
    for name in TABLES:
        if not os.path.isfile(os.path.join(base_dir, f"{name}.parquet")):
            raise FileNotFoundError(f"base table {name}.parquet missing under {base_dir}")
    os.makedirs(cache_dir, exist_ok=True)
    t0 = time.perf_counter()
    tmp = f"{dest}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    materialize(base_dir, tmp, scale, seed)
    os.rename(tmp, dest)
    gen_s = time.perf_counter() - t0
    cached = sorted(
        (e.path for e in os.scandir(cache_dir) if e.is_dir() and e.name.startswith("x") and ".tmp" not in e.name),
        key=os.path.getmtime,
    )
    for old in cached[:-MAX_CACHED]:
        shutil.rmtree(old, ignore_errors=True)
    return dest, gen_s


if __name__ == "__main__":
    import sys

    # python datagen.py CACHE_DIR BASE_DIR SCALE SEED -> prints "<dir> <gen_s>"
    cache_dir, base_dir, scale, seed = sys.argv[1:5]
    path, secs = inputs(cache_dir, base_dir, int(scale), int(seed))
    print(path, secs)
