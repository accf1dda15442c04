"""Output digests and the DuckDB oracle they are checked against.

Rows are normalised the way ``tools/parity.py`` does (columns sorted by
name, floats as ``%.9g``, rows sorted), but hashed with ``hashlib``:
Python's ``hash()`` of a string is salted per process, so a digest cached
by one run would never match in the next.

An oracle digest is cached per workload and input *content* (see
``inputs.content_key``), not per seed: a seed only reorders and re-splits
the rows, and neither SQL nor the engine may answer differently for a
reordered table. The cache key also covers the oracle SQL texts and the
DuckDB version, so a changed oracle is recomputed.

``oracle_digests.json`` next to this file pins the digests for the
current key of each workload (``python3 perfbench/pin_digests.py``
rewrites it), so a fresh checkout does not pay the one-off oracle cost
(about 70 s for xref, 35 s for resume on 4 cores). A run whose key is not
pinned computes the digests and caches them under ``.perfbench/``.
"""

from __future__ import annotations

import hashlib
import json
import math
import time
from pathlib import Path


def digest(pdf) -> dict:
    """Row count, sorted column names and an order-insensitive sha256."""
    cols = sorted(pdf.columns)
    recs = []
    for row in pdf[cols].itertuples(index=False):
        rec = []
        for v in row:
            if isinstance(v, float):
                rec.append("<null>" if math.isnan(v) else f"{v:.9g}")
            elif v is None:
                rec.append("<null>")
            else:
                rec.append(str(v))
        recs.append("\x1f".join(rec))
    recs.sort()
    h = hashlib.sha256("\x1e".join(recs).encode())
    return {"rows": len(recs), "cols": cols, "sha256": h.hexdigest()}


def count_digest(n: int) -> dict:
    """Digest of a step whose result is a row count."""
    return {"rows": 1, "cols": ["n"], "sha256": hashlib.sha256(str(n).encode()).hexdigest()}


def connect(input_dir: Path, tables):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    # spills go next to the inputs, not to DuckDB's default ./.tmp
    con.execute(f"SET temp_directory = '{input_dir.parent / 'duckdb_tmp'}'")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{input_dir / (t + '.parquet')}/*.parquet')"
        )
    return con


PINNED = Path(__file__).resolve().parent / "oracle_digests.json"


def oracle_digests(
    cache_file: Path,
    content_key: str,
    input_dir: Path,
    tables,
    oracles: dict[str, tuple[str, str]],
) -> tuple[dict[str, dict], float]:
    """{step: digest} for ``oracles`` = {step: (kind, sql)}; kind "rows"
    digests the result rows, "count" the single count it returns, and
    "values" keeps the single row's values as they are.

    Returns the digests and the seconds spent computing them (0 on a hit).
    """
    import duckdb

    h = hashlib.sha256(content_key.encode())
    h.update(duckdb.__version__.encode())
    for step, (kind, sql) in sorted(oracles.items()):
        h.update(f"{step}\0{kind}\0{sql}\0".encode())
    key = h.hexdigest()
    for f in (PINNED, cache_file):
        cached = json.loads(f.read_text()) if f.is_file() else {}
        if key in cached:
            return cached[key], 0.0
    cache = cached

    t0 = time.perf_counter()
    con = connect(input_dir, tables)
    try:
        out = {}
        for step, (kind, sql) in oracles.items():
            if kind == "count":
                out[step] = count_digest(con.execute(sql).fetchone()[0])
            elif kind == "values":
                out[step] = [int(v) for v in con.execute(sql).fetchone()]
            else:
                out[step] = digest(con.execute(sql).fetchdf())
    finally:
        con.close()
    cache[key] = out
    cache_file.parent.mkdir(parents=True, exist_ok=True)
    tmp = cache_file.with_suffix(".tmp")
    tmp.write_text(json.dumps(cache, indent=1, sort_keys=True))
    tmp.replace(cache_file)
    return out, time.perf_counter() - t0
