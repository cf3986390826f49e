"""Point-in-polygon join (operators/spatial_join.py) against a
brute-force even-odd test over every (point, polygon) pair."""

import numpy as np
import pytest

from proj_4_spark.index import s2
from proj_4_spark.operators import spatial_join as SJ

LEVEL = 8
SCHEMA = "doc_id long, lon double, lat double, tag string"
# the level-8 cell that s2.cell_id gives NaN/inf coordinates; the square
# polygon 5 covers it, so such rows would be candidates without the mask
with np.errstate(invalid="ignore"):
    NAN_CELL = int(s2.cell_id(np.array([np.nan]), np.array([0.0]), LEVEL)[0])


def _poly(pid, ring):
    lon = [float(p[0]) for p in ring]
    lat = [float(p[1]) for p in ring]
    return {"polygon_id": pid, "name": f"p{pid}", "ring_lon": lon,
            "ring_lat": lat, "lon_min": min(lon), "lon_max": max(lon),
            "lat_min": min(lat), "lat_max": max(lat)}


POLYS = [
    _poly(1, [(10, 45), (12, 45), (12, 47), (10, 47)]),
    # nested in 1
    _poly(2, [(10.5, 45.5), (11.5, 45.5), (11.5, 46.5), (10.5, 46.5)]),
    # overlaps 1 and 2
    _poly(3, [(11.2, 46.0), (12.6, 45.4), (12.6, 46.9)]),
    # concave (an L)
    _poly(4, [(20, 10), (22, 10), (22, 11), (21, 11), (21, 12), (20, 12)]),
    _poly(5, [(44.5, 35.0), (45.5, 35.0), (45.5, 36.0), (44.5, 36.0)]),
]


def _inside(x, y, ring_lon, ring_lat):
    """Scalar even-odd ray cast (the reference)."""
    inside = False
    n = len(ring_lon)
    for i in range(n):
        x1, y1 = ring_lon[i], ring_lat[i]
        x2, y2 = ring_lon[(i + 1) % n], ring_lat[(i + 1) % n]
        if (y1 > y) != (y2 > y) and x < (x2 - x1) * (y - y1) / (y2 - y1) + x1:
            inside = not inside
    return inside


def _points():
    """Uniform points over each padded bbox, every ring vertex and
    every edge midpoint."""
    rng = np.random.default_rng(11)
    lon, lat = [], []
    for p in POLYS:
        lon.append(rng.uniform(p["lon_min"] - 0.6, p["lon_max"] + 0.6, 600))
        lat.append(rng.uniform(p["lat_min"] - 0.6, p["lat_max"] + 0.6, 600))
        rl, ra = np.asarray(p["ring_lon"]), np.asarray(p["ring_lat"])
        lon += [rl, (rl + np.roll(rl, -1)) / 2]
        lat += [ra, (ra + np.roll(ra, -1)) / 2]
    return np.concatenate(lon), np.concatenate(lat)


def _brute(lon, lat):
    return sorted((k, p["polygon_id"]) for k in range(len(lon))
                  for p in POLYS
                  if _inside(lon[k], lat[k], p["ring_lon"], p["ring_lat"]))


def _frame(spark, lon, lat, partitions=4):
    rows = [(k, float(x), float(y), f"t{k}")
            for k, (x, y) in enumerate(zip(lon, lat))]
    return spark.createDataFrame(rows, SCHEMA).repartition(partitions)


def test_pip_join_matches_brute_force(spark):
    lon, lat = _points()
    want = _brute(lon, lat)
    # the set exercises nesting, overlap, vertices and rejected candidates
    assert {(k, 1) for k, p in want if p == 2} <= set(want)
    assert any(p == 3 and (k, 1) in want for k, p in want)
    cover_cell, _ = SJ.polygon_cover(POLYS, LEVEL)
    in_cover = np.isin(s2.cell_id(lon, lat, LEVEL), cover_cell)
    inside_any = np.zeros(len(lon), bool)
    inside_any[[k for k, _ in want]] = True
    assert (in_cover & ~inside_any).sum() > 100

    pts = _frame(spark, lon, lat)
    out = SJ.pip_join(pts, POLYS, level=LEVEL)
    assert out.columns == pts.columns + ["polygon_id"]
    rows = out.collect()
    assert sorted((r.doc_id, r.polygon_id) for r in rows) == want
    assert all(r.tag == f"t{r.doc_id}" and r.lon == lon[r.doc_id]
               and r.lat == lat[r.doc_id] for r in rows)


def test_pip_join_one_arrow_pass(spark):
    lon, lat = _points()
    out = SJ.pip_join(_frame(spark, lon, lat), POLYS, level=LEVEL)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("ArrowEvalPython") == 1
    assert "BroadcastHashJoin" not in final
    assert "BroadcastExchange" not in final


@pytest.mark.parametrize("bad", [np.nan, np.inf, -np.inf, None])
def test_pip_join_non_finite_never_matches(spark, bad):
    """NaN, +-inf and null in either coordinate give no row."""
    rows = [(0, bad, 35.5, "a"), (1, 45.0, bad, "b"), (2, bad, bad, "c"),
            (3, 45.0, 35.5, "d")]
    pts = spark.createDataFrame(rows, SCHEMA)
    got = [(r.doc_id, r.polygon_id)
           for r in SJ.pip_join(pts, POLYS, level=LEVEL).collect()]
    assert got == [(3, 5)]


def test_non_finite_is_never_a_candidate(monkeypatch):
    lon = np.array([np.nan, 45.0, np.inf, -np.inf, 0.0, 45.0])
    lat = np.array([35.5, np.nan, 0.0, np.inf, -np.inf, 35.5])
    cover = SJ.polygon_cover(POLYS, LEVEL)
    assert NAN_CELL in cover[0]
    seen = []

    def recording(px, py, ids, rings):
        seen.append((px.copy(), py.copy()))
        return np.ones(len(px), bool)

    monkeypatch.setattr(SJ, "ray_cast", recording)
    counts, ids = SJ.contained_ids(lon, lat, cover, SJ.polygon_rings(POLYS),
                                   LEVEL)
    assert counts.tolist() == [0, 0, 0, 0, 0, 1]
    assert ids.tolist() == [5]
    assert all(np.isfinite(px).all() and np.isfinite(py).all()
               for px, py in seen)


def test_pip_join_empty_inputs(spark):
    empty = spark.createDataFrame([], SCHEMA)
    assert SJ.pip_join(empty, POLYS, level=LEVEL).collect() == []
    sparse = spark.createDataFrame([(0, 0.0, 0.0, "a")], SCHEMA)
    sparse = sparse.repartition(8)
    assert sparse.rdd.glom().map(len).collect().count(0) == 7
    assert SJ.pip_join(sparse, POLYS, level=LEVEL).collect() == []
    assert SJ.pip_join(empty.repartition(8), POLYS, level=LEVEL).count() == 0


def test_polygon_cover_df_rows(spark):
    cell, pid = SJ.polygon_cover(POLYS, LEVEL)
    want = sorted((int(c), p["polygon_id"]) for p in POLYS
                  for c in s2.cover_bbox(p["lon_min"], p["lat_min"],
                                         p["lon_max"], p["lat_max"], LEVEL))
    assert sorted(zip(cell.tolist(), pid.tolist())) == want
    assert (np.diff(cell) >= 0).all()
    got = sorted(tuple(r) for r in
                 SJ.polygon_cover_df(spark, POLYS, LEVEL).collect())
    assert got == want


def test_ray_cast_matches_scalar():
    lon, lat = _points()
    lon = np.concatenate([lon, [np.nan, np.inf, -np.inf, 11.0, 11.0, 11.0]])
    lat = np.concatenate([lat, [46.0, 46.0, 46.0, np.nan, np.inf, -np.inf]])
    rings = SJ.polygon_rings(POLYS)
    pairs = [(k, pid) for k in range(len(lon)) for pid in rings]
    k = np.array([p[0] for p in pairs])
    ids = np.array([p[1] for p in pairs])
    got = SJ.ray_cast(lon[k], lat[k], ids, rings)
    want = [_inside(lon[q], lat[q], *rings[pid]) for q, pid in pairs]
    assert got.tolist() == want
    assert SJ.ray_cast(lon[:0], lat[:0], ids[:0], rings).tolist() == []
