"""Rewrite ``oracle_digests.json`` with the DuckDB oracle digests of every
workload's current inputs and oracle texts.

Run from the repository root after changing the source tables, a
workload's tables or steps, or an oracle text: ``python3 perfbench/pin_digests.py``.
"""

from __future__ import annotations

import shutil
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent


def main() -> int:
    sys.path[:0] = [str(HERE), str(Path.cwd())]
    import inputs
    import oracle
    import workloads

    oracle.PINNED.unlink(missing_ok=True)
    state = Path.cwd() / ".perfbench"
    state.mkdir(exist_ok=True)
    scratch = Path(tempfile.mkdtemp(prefix="pin-", dir=state))
    try:
        for w in inputs.TABLES:
            manifest = inputs.derive(w, 0, scratch / w)
            _, secs = oracle.oracle_digests(
                oracle.PINNED, inputs.content_key(w), scratch / w, list(manifest),
                workloads.oracles(w),
            )
            print(f"{w}: oracle digests computed in {secs:.1f} s")
    finally:
        shutil.rmtree(scratch)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
