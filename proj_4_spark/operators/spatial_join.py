"""Point-in-polygon spatial join: one Arrow pass, cover lookup + exact
ray cast, then explode.

Replaces PROJ's scalar quadtree + point-in-rect gating (PROJ
src/quadtree.hpp:60+, src/trans.cpp:44-173) with a cell-indexed join
in which each point crosses into Python once:

  1. driver-side: each polygon's conservative S2 cell cover at the join
     level (bbox rasterization, a superset), held as (cell, polygon_id)
     NumPy arrays sorted by cell and closed over by the UDF;
  2. one ``arrow_udf`` over (lon, lat): encode at the join level, look
     the cells up in the cover (binary search), expand to candidate
     (point, polygon) pairs, run the exact even-odd ray cast and return
     the accepted polygon ids per point as ``array<long>``;
  3. ``explode`` the ids (narrow, no join, no shuffle, no broadcast).

Non-finite or null coordinates are never candidates.  At 100 TB the
only wide operation is the optional final aggregation; hot cells (CBD
megacities — the Zipf head of the page distribution) cost only a
longer candidate list in the map task that holds them, and the
per-polygon counts use salting (plans/salting.py).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from ..functions.geo import CHUNK
from ..index import s2 as s2idx


def polygon_cover(polygon_rows: list[dict], level: int):
    """(cell, polygon_id) int64 arrays of every polygon's bbox cover at
    ``level``, sorted by cell (then polygon id) for binary search."""
    cells = [np.empty(0, np.int64)]
    pids = [np.empty(0, np.int64)]
    for r in polygon_rows:
        c = s2idx.cover_bbox(r["lon_min"], r["lat_min"],
                             r["lon_max"], r["lat_max"], level)
        cells.append(c)
        pids.append(np.full(len(c), int(r["polygon_id"]), np.int64))
    cell = np.concatenate(cells)
    pid = np.concatenate(pids)
    order = np.lexsort((pid, cell))
    return cell[order], pid[order]


def polygon_cover_df(spark, polygon_rows: list[dict], level: int) -> DataFrame:
    """The :func:`polygon_cover` pairs as a (cell, polygon_id) table."""
    cell, pid = polygon_cover(polygon_rows, level)
    return spark.createDataFrame(list(zip(cell.tolist(), pid.tolist())),
                                 "cell long, polygon_id long")


def polygon_rings(polygon_rows: list[dict]) -> dict:
    """polygon_id -> (ring lon, ring lat) float64 arrays."""
    return {int(r["polygon_id"]): (np.asarray(r["ring_lon"], dtype=np.float64),
                                   np.asarray(r["ring_lat"], dtype=np.float64))
            for r in polygon_rows}


def _runs(first: np.ndarray, n: np.ndarray) -> np.ndarray:
    """Indices of the concatenated runs [first[k], first[k] + n[k])."""
    return np.arange(n.sum()) + np.repeat(first - (np.cumsum(n) - n), n)


def ray_cast(px: np.ndarray, py: np.ndarray, ids: np.ndarray,
             rings: dict) -> np.ndarray:
    """Strict-inside test of each (px, py) against polygon ``ids`` by
    vectorized even-odd ray casting over the polygon's ring (the exact
    test; candidates come pre-filtered by the cell cover)."""
    # one sort groups the rows by polygon and orders each group by y, so
    # the rows an edge crosses, (y1 > y) != (y2 > y), i.e.
    # min(y1, y2) <= y < max(y1, y2), are one run found by binary
    # search; only those (row, edge) pairs are evaluated, all at once
    # (NaN sorts last and crosses nothing)
    if not len(px):
        return np.zeros(0, dtype=bool)
    order = np.lexsort((py, ids))
    sy = py[order]
    sids = ids[order]
    bounds = np.flatnonzero(np.diff(sids)) + 1
    first, n, edges = [], [], []
    for s, e in zip(np.concatenate(([0], bounds)),
                    np.concatenate((bounds, [len(sids)]))):
        x1, y1 = rings[int(sids[s])]
        x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
        lo = np.searchsorted(sy[s:e], np.minimum(y1, y2), "left")
        hi = np.searchsorted(sy[s:e], np.maximum(y1, y2), "left")
        first.append(s + lo)
        n.append(hi - lo)
        edges.append(np.stack((x1, y1, x2, y2)))
    n = np.concatenate(n)
    row = _runs(np.concatenate(first), n)
    x1, y1, x2, y2 = np.repeat(np.concatenate(edges, axis=1), n, axis=1)
    xint = (x2 - x1) * (sy[row] - y1) / (y2 - y1) + x1
    crossed = row[px[order][row] < xint]
    out = np.zeros(len(px), dtype=bool)
    out[order] = np.bincount(crossed, minlength=len(px)) % 2 == 1
    return out


def contained_ids(lon: np.ndarray, lat: np.ndarray, cover, rings: dict,
                  level: int):
    """Polygons strictly containing each point.

    Returns ``(counts, ids)``: ``counts[k]`` accepted polygons for point
    ``k`` and their ids, in point order then ascending id.  Points with
    a non-finite coordinate are never candidates."""
    cover_cell, cover_pid = cover
    rows = np.flatnonzero(np.isfinite(lon) & np.isfinite(lat))
    cell = s2idx.cell_id(lon[rows], lat[rows], level)
    lo = np.searchsorted(cover_cell, cell, "left")
    n = np.searchsorted(cover_cell, cell, "right") - lo
    cand = np.repeat(rows, n)
    pid = cover_pid[_runs(lo, n)]
    inside = ray_cast(lon[cand], lat[cand], pid, rings)
    return np.bincount(cand[inside], minlength=len(lon)), pid[inside]


def pip_join(points: DataFrame, polygon_rows: list[dict], level: int = 10,
             lon: str = "lon", lat: str = "lat") -> DataFrame:
    """points × polygons -> (points.*, polygon_id) for every polygon
    strictly containing the point."""
    cover = polygon_cover(polygon_rows, level)
    rings = polygon_rings(polygon_rows)

    @arrow_udf("array<long>")
    def _contained(lon_a: pa.Array, lat_a: pa.Array) -> pa.Array:
        x = lon_a.to_numpy(zero_copy_only=False)   # null -> NaN
        y = lat_a.to_numpy(zero_copy_only=False)
        # run_chunked's CHUNK-row blocks, by hand: the ids per point
        # have no fixed width, so its preallocated outputs do not fit
        counts = np.empty(len(x), np.int64)
        ids = [np.empty(0, np.int64)]
        for i in range(0, len(x), CHUNK):
            counts[i:i + CHUNK], got = contained_ids(
                x[i:i + CHUNK], y[i:i + CHUNK], cover, rings, level)
            ids.append(got)
        offsets = np.zeros(len(x) + 1, np.int32)
        np.cumsum(counts, out=offsets[1:])
        return pa.ListArray.from_arrays(pa.array(offsets),
                                        pa.array(np.concatenate(ids)))

    ids = _contained(F.col(lon).cast("double"), F.col(lat).cast("double"))
    return points.withColumn("polygon_id", F.explode(ids))
