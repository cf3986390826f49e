"""Deterministic polygon fixture: one convex polygon per city center
(FIXTURES.md §3, sized so hot cells carry many overlapping polygons).

Vertices are computed ONCE here in Python floats and shared verbatim by
the engine (as a broadcast DataFrame) and the DuckDB oracle (as literal
VALUES) — both sides consume the identical IEEE doubles.
"""

from __future__ import annotations

import math

from .coords import CITIES


def polygon_rows(n_vertices: int = 6) -> list[dict]:
    """One convex CCW n-gon per city; radius 20..180 km, jittered."""
    rows = []
    for pid, (name, clon, clat) in enumerate(CITIES):
        r_km = 20.0 + 15.0 * (pid % 5) + 5.0 * (pid % 3)
        r_deg = r_km / 111.32
        coslat = math.cos(math.radians(clat))
        phase = 0.37 * (pid + 1)
        ring_lon, ring_lat = [], []
        for v in range(n_vertices):
            ang = 2.0 * math.pi * v / n_vertices + phase
            # slight per-vertex radius jitter keeps polygons non-regular
            rj = r_deg * (1.0 + 0.15 * math.sin(3.0 * ang + pid))
            ring_lon.append(clon + rj * math.cos(ang) / coslat)
            ring_lat.append(clat + rj * math.sin(ang))
        # ensure CCW (positive shoelace area)
        area = 0.0
        for i in range(n_vertices):
            j = (i + 1) % n_vertices
            area += ring_lon[i] * ring_lat[j] - ring_lon[j] * ring_lat[i]
        if area < 0:
            ring_lon.reverse()
            ring_lat.reverse()
        rows.append(dict(polygon_id=pid, name=f"poly_{name}",
                         ring_lon=ring_lon, ring_lat=ring_lat,
                         lon_min=min(ring_lon), lon_max=max(ring_lon),
                         lat_min=min(ring_lat), lat_max=max(ring_lat)))
    return rows


def polygons_values_sql() -> str:
    """The same polygons as a DuckDB VALUES table with flattened vertex
    columns (v0x..v5y) for the unrolled convex containment oracle."""
    rows = []
    for r in polygon_rows():
        vs = ", ".join(
            f"{repr(r['ring_lon'][i])}, {repr(r['ring_lat'][i])}"
            for i in range(len(r["ring_lon"])))
        rows.append(f"({r['polygon_id']}, {vs})")
    cols = ", ".join(f"v{i}x, v{i}y" for i in range(6))
    return (f"(VALUES {', '.join(rows)}) AS polys(polygon_id, {cols})")


def convex_inside_sql(lon: str = "lon", lat: str = "lat",
                      n_vertices: int = 6) -> str:
    """WHERE clause: point strictly inside the convex CCW polygon —
    all edge cross-products positive."""
    conds = []
    for i in range(n_vertices):
        j = (i + 1) % n_vertices
        conds.append(
            f"((v{j}x - v{i}x)*({lat} - v{i}y) "
            f"- (v{j}y - v{i}y)*({lon} - v{i}x)) > 0")
    return " AND ".join(conds)
