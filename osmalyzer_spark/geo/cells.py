"""Compact-cell spatial index as pure JVM-side column expressions.

Replaces the reference's driver-side 50x50 uniform grid
(Core/Helpers/Chunker/Chunker.cs:10-63) with a fixed-resolution global
integer grid encoded into one int64 column:

    iy = floor((lat + 90) / cell_deg)        # 0 .. 180/cell_deg
    ix = floor((lon + 180) / cell_deg)       # 0 .. 360/cell_deg
    cell_id = iy * X_STRIDE + ix

X_STRIDE = 100_000_000 supports cell_deg >= 1e-5 deg (~1 m) without ix
overflowing the stride, and iy*stride stays far below int64 max. A flat
stride (vs bit interleaving) keeps neighbor arithmetic a single add —
cheap and codegen-friendly — and makes ranges of ix contiguous, which is
what the 3x3-ring candidate join needs.

Unlike the reference's bbox-derived grid (rebuilt per dataset, invalidated
on mutation — Core/OsmData.cs:471,882,924), resolution here is chosen from
the query radius so a radius-r lookup only ever inspects the 3x3 (or
(2k+1)^2) neighbor ring; the cell column is precomputed per snapshot and
never a driver-side structure.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

X_STRIDE = 100_000_000
MIN_CELL_DEG = 1e-5
# meters per degree latitude (and per degree longitude at the equator)
_M_PER_DEG = 111_320.0


def cell_deg_for_radius(radius_m: float, max_abs_lat_deg: float = 60.0) -> float:
    """Smallest safe cell size (degrees) so that any two points within
    `radius_m` are in the same or adjacent cells (3x3 ring sufficiency).

    Longitude degrees shrink by cos(lat); size for the worst-case latitude
    the data can reach (Latvia extent ~58.1 => cos ~0.53; default 60 is
    conservative and still fine at 100 TB world-scale inputs below |60|).
    """
    deg_lat = radius_m / _M_PER_DEG
    deg_lon = radius_m / (_M_PER_DEG * math.cos(math.radians(max_abs_lat_deg)))
    return max(deg_lat, deg_lon, MIN_CELL_DEG)


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.col(x)


def cell_id_expr(lat, lon, cell_deg: float) -> Column:
    """int64 cell id for a point at the given resolution (native exprs)."""
    if cell_deg < MIN_CELL_DEG:
        raise ValueError(f"cell_deg {cell_deg} below minimum {MIN_CELL_DEG}")
    iy = F.floor((_c(lat) + F.lit(90.0)) / F.lit(cell_deg)).cast("long")
    ix = F.floor((_c(lon) + F.lit(180.0)) / F.lit(cell_deg)).cast("long")
    return (iy * F.lit(X_STRIDE) + ix).alias("cell_id")


def cell_id_sql(lat: str, lon: str, cell_deg: float) -> str:
    """Same encoding as ANSI SQL text (DuckDB oracle builder)."""
    return (
        f"(cast(floor(({lat} + 90.0) / {cell_deg!r}) as bigint) * {X_STRIDE} "
        f"+ cast(floor(({lon} + 180.0) / {cell_deg!r}) as bigint))"
    )


def checked_cell_id_expr(
    lat, lon, cell_deg: float, max_abs_lat_deg: float
) -> Column:
    """cell_id_expr plus a runtime extent assertion.

    The flat-stride neighbor ring wraps incorrectly across the ±180
    antimeridian (ix under/overflow lands in the adjacent row), and
    cell_deg_for_radius sizes cells for a maximum |latitude| — beyond it
    the 3x3 ring can silently miss in-radius pairs. Rather than return
    wrong answers, points outside the supported extent fail the job with
    an explicit error naming the bound.
    """
    bad = (F.abs(_c(lat)) > F.lit(float(max_abs_lat_deg))) | (
        F.abs(_c(lon)) > F.lit(180.0 - cell_deg)
    )
    msg = F.format_string(
        "coordinate outside supported cell-index extent "
        f"(|lat| <= {max_abs_lat_deg!r}, |lon| <= 180-cell_deg): lat=%s lon=%s "
        "— raise max_abs_lat_deg or pre-filter the input",
        _c(lat).cast("string"),
        _c(lon).cast("string"),
    )
    # assert_true evaluates per row (returns NULL when the condition
    # holds), so gating the cell id on it keeps the check in the plan
    return F.when(
        F.assert_true(~bad, msg).isNull(), cell_id_expr(lat, lon, cell_deg)
    )


def neighbor_cells_expr(cell_id, ring: int = 1) -> Column:
    """array<long> of the (2*ring+1)^2 neighbor cell ids around cell_id.

    The offset table is a tiny literal array; `transform` keeps the
    expansion inside codegen. Explode the result to generate candidate
    join keys for a radius query.
    """
    offs = [
        dy * X_STRIDE + dx
        for dy in range(-ring, ring + 1)
        for dx in range(-ring, ring + 1)
    ]
    return F.transform(
        F.array(*[F.lit(o) for o in offs]), lambda o: _c(cell_id) + o
    )


def with_cell(
    df: DataFrame,
    cell_deg: float,
    lat: str = "lat",
    lon: str = "lon",
    out: str = "cell_id",
) -> DataFrame:
    """Attach the cell index column."""
    return df.withColumn(out, cell_id_expr(lat, lon, cell_deg))
