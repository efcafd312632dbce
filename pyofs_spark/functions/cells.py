"""Hierarchical quad-cell index (H3/S2-style) over WGS84 lon/lat.

The reference addresses space by grid indices (i, j) of a fixed model grid
(ref: PyOFS/model/wcofs.py:765-784 record-per-cell addressing,
rasterio.transform.from_origin affine at wcofs.py:302-306). For a web-scale
engine we need a *global hierarchical* cell scheme with parent/child and
neighbor arithmetic — this module provides a Z-less quad tiling:

    resolution r: cell edge = 180 / 2**r degrees
                  x ∈ [0, 2**(r+1)) columns (lon), y ∈ [0, 2**r) rows (lat)
    cell_id(r)   = y * 2**(r+1) + x          (row-major, per-resolution id)
    parent       = (x >> 1, y >> 1) at r-1
    neighbors    = chebyshev ring arithmetic on (x, y)

Everything here is emitted as *SQL expression strings* so that:
  1. the Spark plan stays fully JVM-side (whole-stage codegen, no UDF), and
  2. the identical expression text runs on DuckDB for oracle parity.

`numpy` twins live in kernels.py for golden tests.
"""

from __future__ import annotations

from .sqlgen import flit

MAX_RES = 20  # 180/2^20 deg ≈ 19 m cells — finer than any use case here


def cell_size_deg(res: int) -> float:
    return 180.0 / (1 << res)


def nx(res: int) -> int:
    return 2 << res


def ny(res: int) -> int:
    return 1 << res


def cell_x_sql(lon_col: str, res: int) -> str:
    """Column index of lon at resolution res; clamps lon=180 into last col."""
    n = nx(res)
    size = cell_size_deg(res)
    # floor((lon+180)/size), clamped to [0, nx-1]
    return (
        f"least({n - 1}, greatest(0, "
        f"cast(floor(({lon_col} + 180.0e0) / {flit(size)}) as bigint)))"
    )


def cell_y_sql(lat_col: str, res: int) -> str:
    n = ny(res)
    size = cell_size_deg(res)
    return (
        f"least({n - 1}, greatest(0, "
        f"cast(floor(({lat_col} + 90.0e0) / {flit(size)}) as bigint)))"
    )


def cell_id_sql(lon_col: str, lat_col: str, res: int) -> str:
    """Row-major cell id at resolution res (bigint)."""
    return f"({cell_y_sql(lat_col, res)} * {nx(res)} + {cell_x_sql(lon_col, res)})"


def parent_cell_sql(cell_id_col: str, res: int) -> str:
    """Parent cell id at res-1 given a cell id at res (portable SQL: no
    engine-specific integer-div operator; ids are non-negative so floor
    division over double is exact below 2**53)."""
    n = nx(res)
    np_ = nx(res - 1)
    # x = id % n, y = id // n; parent = (y>>1)*np + (x>>1)
    return (
        f"(cast(floor(cast(floor({cell_id_col} / {n}.0e0) as bigint) / 2.0e0) as bigint)"
        f" * {np_} + cast(floor(({cell_id_col} % {n}) / 2.0e0) as bigint))"
    )


def neighbor_offsets(ring: int) -> list[tuple[int, int]]:
    """(dx, dy) offsets of the chebyshev ring at distance `ring` (ring 0 = self)."""
    if ring == 0:
        return [(0, 0)]
    out = []
    for dx in range(-ring, ring + 1):
        for dy in range(-ring, ring + 1):
            if max(abs(dx), abs(dy)) == ring:
                out.append((dx, dy))
    return out


def disk_offsets(ring: int) -> list[tuple[int, int]]:
    """All offsets with chebyshev distance <= ring (the filled disk)."""
    out = []
    for r in range(ring + 1):
        out.extend(neighbor_offsets(r))
    return out
