"""Seeded derivation of a workload's input tables.

The source tables under ``perfbench/data`` are copies of the sf0.1 test
tables (TESTDATA.md) that the workloads read. A run writes its own copy of
each table as a directory of parquet part files, so the engine's reads
(``{dir}/{name}.parquet``) work unchanged, and DuckDB reads the same files
through a glob.

The seed changes row order and where the part files split, and nothing
else: the queries filter on key ranges (q38 reads ``c_custkey < 300``, the
synthetic geotags are functions of the keys), so moving keys would change
the work itself rather than sample it. The resume workload's key-offset
replicas use fixed offsets for the same reason, and because it keeps the
DuckDB oracle digest valid for every seed (see ``oracle.py``).
"""

from __future__ import annotations

import hashlib
import zlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SOURCE = Path(__file__).resolve().parent / "data"

# key column of each table that gets key-offset replicas
REPLICA_KEYS = {"customer": "c_custkey", "supplier": "s_suppkey"}
# multiple of 10, so every replica keeps the Riga-hotspot share of keys
# (``synth_lat_sql``: key % 10 < 3) and the replicas never share a key
REPLICA_KEY_OFFSET = 1_000_000
N_PARTS = 4

# table -> number of key-offset copies
TABLES = {
    "xref": {"customer": 1, "supplier": 1, "documents": 1},
    # elements x3 against items x1: 1.34M pairs within the correlator's
    # 4.5 km seek radius and ~358k DA candidates, over the 300k DA gate
    "resume": {"customer": 3, "supplier": 1},
}


def content_key(workload: str) -> str:
    """Digest of everything the derived inputs' *content* depends on.

    Deliberately excludes the seed: the seed only reorders and re-splits
    rows, which leaves every table's multiset of rows unchanged.
    """
    h = hashlib.sha256()
    for table, copies in sorted(TABLES[workload].items()):
        h.update(f"{table}:{copies}:{REPLICA_KEY_OFFSET}".encode())
        h.update((SOURCE / f"{table}.parquet").read_bytes())
    return h.hexdigest()


def _split_sizes(n: int, rng: np.random.Generator) -> list[int]:
    # each part holds 80-120 % of an even share, so the scan's partitioning
    # stays comparable across seeds while the split points move
    w = rng.uniform(0.8, 1.2, N_PARTS)
    cuts = np.floor(np.cumsum(w) / w.sum() * n).astype(int)
    cuts[-1] = n
    return np.diff(np.concatenate([[0], cuts])).tolist()


def derive(workload: str, seed: int, out_dir: Path) -> dict[str, dict]:
    """Write the workload's tables under ``out_dir``; return rows, bytes
    and part-file count per table. The same seed gives byte-identical files."""
    rng = np.random.default_rng([seed, zlib.crc32(workload.encode())])
    manifest = {}
    for table, copies in sorted(TABLES[workload].items()):
        src = pq.read_table(SOURCE / f"{table}.parquet")
        if copies > 1:
            key = REPLICA_KEYS[table]
            idx = src.schema.get_field_index(key)
            src = pa.concat_tables(
                src.set_column(idx, key, pc.add(src[key], k * REPLICA_KEY_OFFSET))
                for k in range(copies)
            )
        src = src.take(pa.array(rng.permutation(src.num_rows)))
        tdir = out_dir / f"{table}.parquet"
        tdir.mkdir(parents=True)
        start = 0
        for i, size in enumerate(_split_sizes(src.num_rows, rng)):
            pq.write_table(
                src.slice(start, size), tdir / f"part-{i:05d}.parquet",
                compression="snappy",
            )
            start += size
        manifest[table] = {
            "rows": src.num_rows,
            "bytes": sum(f.stat().st_size for f in tdir.iterdir()),
            "files": N_PARTS,
        }
    return manifest
