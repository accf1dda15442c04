"""Checkpointed-correlate scaling probe (round 4).

Measures the two-phase checkpointed_correlate (grouped-map small
components + one dedicated bucket per giant, each solved in one task)
end-to-end on the same 1M-row images table as tools/bench_scaling.py,
at two parallelism levels in fresh JVMs, with the same in-run
software-clock calibration.

Reported per leg: total wall, component structure (count of small/big),
and throughput (input rows/s); parent reports raw + clock-normalized
scaling efficiency. Run:

    python tools/bench_checkpointed.py [n_images] [radius_m] [lo] [hi]
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.bench_scaling import TABLE_PATH, calibrate, ensure_table  # noqa: E402


def child(cpus: int, n: int, radius: float) -> None:
    from pyspark.sql import functions as F

    from osmalyzer_spark.checkpoint import CheckpointedRun
    from osmalyzer_spark.datagen import data_items_view, osm_elements_view
    from osmalyzer_spark.operators.correlator import (
        CorrelatorParams,
        checkpointed_correlate,
    )
    from osmalyzer_spark.session import get_spark

    calib = calibrate(cpus)
    spark = get_spark(
        f"ck-scaling-{cpus}", parallelism=cpus, shuffle_partitions=cpus * 8
    )
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "262144")
    images = spark.read.parquet(f"{TABLE_PATH}_{n}")
    elems = osm_elements_view(images).select("elem_id", "elem_lat", "elem_lon")
    items = data_items_view(images).select("item_id", "item_lat", "item_lon")

    out_dir = tempfile.mkdtemp(prefix=f"ckbench_{cpus}_")
    shutil.rmtree(out_dir, ignore_errors=True)
    ck = CheckpointedRun(out_dir, run_id="bench", n_buckets=64)
    phases: dict = {}
    t0 = time.time()
    corr = checkpointed_correlate(
        spark,
        elems,
        items,
        CorrelatorParams(
            match_distance=15, unmatch_distance=75, strong_extra_distance=700
        ),
        ck,
        phase_times=phases,
    )
    by_kind = {
        r["kind"]: r["n"]
        for r in corr.groupBy("kind").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    wall = time.time() - t0
    n_big = len(ck.done_buckets(spark)) - ck.n_buckets
    shutil.rmtree(out_dir, ignore_errors=True)
    calib_after = calibrate(cpus)
    print(
        "CHILD_RESULT "
        + json.dumps(
            {
                "cpus": cpus,
                "calib_chunks_per_core_s": calib,
                "calib_after_chunks_per_core_s": calib_after,
                "wall_s": round(wall, 3),
                "phases": phases,
                "by_kind": by_kind,
                "n_big_components": n_big,
                "rows_per_s": round(sum(by_kind.values()) / wall, 1),
            }
        )
    )


def run_child(cpus: int, n: int, radius: float) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--child", str(cpus), str(n), str(radius)],
        capture_output=True,
        text=True,
        timeout=3600,
    )
    for line in out.stdout.splitlines():
        if line.startswith("CHILD_RESULT "):
            return json.loads(line[len("CHILD_RESULT "):])
    raise RuntimeError(f"child failed (cpus={cpus}):\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        child(int(sys.argv[2]), int(sys.argv[3]), float(sys.argv[4]))
        return
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    radius = float(sys.argv[2]) if len(sys.argv) > 2 else 1500.0
    lo, hi = (int(sys.argv[3]), int(sys.argv[4])) if len(sys.argv) > 4 else (2, 8)
    ensure_table(n)
    r_lo = run_child(lo, n, radius)
    r_hi = run_child(hi, n, radius)
    assert r_lo["by_kind"] == r_hi["by_kind"], "outputs differ between levels!"
    eff = (r_lo["wall_s"] / r_hi["wall_s"]) / (hi / lo)
    clock_ratio = (
        r_lo["calib_chunks_per_core_s"] / r_hi["calib_chunks_per_core_s"]
    )
    phase_eff = {
        k: round((r_lo["phases"][k] / r_hi["phases"][k]) / (hi / lo), 3)
        for k in r_lo.get("phases", {})
        if k.endswith("_s") and r_hi["phases"].get(k)
    }
    print(
        json.dumps(
            {
                "n_images": n,
                "low": r_lo,
                "high": r_hi,
                "scaling_efficiency_raw": round(eff, 3),
                # perfect scaling delivers equal work in software-clock units
                # (T*cores*calib equal across legs), so normalized = raw *
                # (calib_lo/calib_hi) — same model as bench_scaling.py
                "scaling_efficiency_clock_normalized": round(eff * clock_ratio, 3),
                "phase_efficiency_raw": phase_eff,
            }
        )
    )


if __name__ == "__main__":
    main()
