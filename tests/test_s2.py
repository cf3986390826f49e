"""S2 cell-index tests: geometry from the reference's s2.cpp, cell-id
layout invariants from the public S2 spec (roundtrips, hierarchy,
prefix containment)."""

import numpy as np

from proj_4_spark.index import s2


def test_st_uv_roundtrip():
    s = np.linspace(0, 1, 1001)
    np.testing.assert_allclose(s2.uv_to_st(s2.st_to_uv(s)), s, atol=1e-15)


def test_face_uv_xyz_roundtrip():
    rng = np.random.RandomState(3)
    lon = rng.uniform(-np.pi, np.pi, 5000)
    lat = rng.uniform(-np.pi / 2, np.pi / 2, 5000)
    x, y, z = s2.lonlat_to_xyz(lon, lat)
    f, u, v = s2.xyz_to_face_uv(x, y, z)
    assert ((f >= 0) & (f <= 5)).all()
    assert (np.abs(u) <= 1 + 1e-12).all() and (np.abs(v) <= 1 + 1e-12).all()
    x2, y2, z2 = s2.face_uv_to_xyz(f, u, v)
    n = np.sqrt(x2 * x2 + y2 * y2 + z2 * z2)
    np.testing.assert_allclose(x2 / n, x, atol=1e-14)
    np.testing.assert_allclose(y2 / n, y, atol=1e-14)
    np.testing.assert_allclose(z2 / n, z, atol=1e-14)


def test_face_ij_cellid_roundtrip():
    rng = np.random.RandomState(4)
    f = rng.randint(0, 6, 10000)
    i = rng.randint(0, 1 << 30, 10000)
    j = rng.randint(0, 1 << 30, 10000)
    ids = s2.from_face_ij(f, i, j)
    assert (s2.level_of(ids) == 30).all()
    f2, i2, j2 = s2.to_face_ij(ids)
    assert (f == f2).all() and (i == i2).all() and (j == j2).all()


def test_parent_hierarchy():
    rng = np.random.RandomState(5)
    lon = rng.uniform(-180, 180, 2000)
    lat = rng.uniform(-89.9, 89.9, 2000)
    leaf = s2.cell_id(lon, lat)
    prev = leaf
    for lvl in range(29, -1, -1):
        p = s2.parent(leaf, lvl)
        assert (s2.level_of(p) == lvl).all()
        # parent at lvl of (parent at lvl+1) == parent at lvl
        assert (s2.parent(prev, lvl) == p).all()
        prev = p


def test_center_containment():
    rng = np.random.RandomState(6)
    lon = rng.uniform(-180, 180, 2000)
    lat = rng.uniform(-89.9, 89.9, 2000)
    for lvl in (4, 8, 12, 16, 24, 30):
        cells = s2.cell_id(lon, lat, lvl)
        clon, clat = s2.cell_center(cells)
        # re-encoding the center must land in the same cell
        assert (s2.cell_id(clon, clat, lvl) == cells).all()


def test_leaf_center_accuracy():
    lon = np.array([2.3522, -74.0060, 151.2093, 179.9999, -179.9999, 0.0])
    lat = np.array([48.8566, 40.7128, -33.8688, 0.01, -0.01, 89.99])
    leaf = s2.cell_id(lon, lat)
    clon, clat = s2.cell_center(leaf)
    # leaf cells are ~1 cm: chord distance to center < 2 cm
    # (lon-degree extent blows up near the poles, so compare in 3D)
    x1, y1, z1 = s2.lonlat_to_xyz(np.deg2rad(lon), np.deg2rad(lat))
    x2, y2, z2 = s2.lonlat_to_xyz(np.deg2rad(clon), np.deg2rad(clat))
    chord_m = 6371e3 * np.sqrt((x1 - x2) ** 2 + (y1 - y2) ** 2 + (z1 - z2) ** 2)
    assert chord_m.max() < 0.02


def test_cover_bbox_superset():
    """Every point in the bbox must fall in a covered cell."""
    rng = np.random.RandomState(7)
    for (lo0, la0, lo1, la1) in [(2.0, 48.5, 2.6, 49.0), (-74.5, 40.4, -73.6, 41.0)]:
        for lvl in (8, 10):
            cover = set(s2.cover_bbox(lo0, la0, lo1, la1, lvl).tolist())
            lon = rng.uniform(lo0, lo1, 3000)
            lat = rng.uniform(la0, la1, 3000)
            cells = s2.cell_id(lon, lat, lvl)
            assert set(cells.tolist()) <= cover


def test_spark_parent_matches_index_all_levels(spark):
    """functions.geo.s2_parent (Catalyst bit expression) equals
    index.s2.parent at every level, on ids of all six faces — faces
    4 and 5 are negative int64 — and keeps a null id null."""
    from pyspark.sql import functions as F

    from proj_4_spark.functions.geo import s2_parent

    rng = np.random.RandomState(7)
    face = np.repeat(np.arange(6), 50)
    ids = s2.from_face_ij(face, rng.randint(0, 1 << 30, face.size),
                          rng.randint(0, 1 << 30, face.size))
    ids = np.concatenate([ids, s2.parent(ids, 17)])
    assert (ids < 0).sum() == 200  # faces 4-5 at both levels
    df = spark.createDataFrame([(int(c),) for c in ids] + [(None,)],
                               "cell long")
    rows = df.select("cell", *(s2_parent(F.col("cell"), lv).alias(f"p{lv}")
                               for lv in range(31))).collect()
    got = {r["cell"]: r for r in rows}
    assert all(v is None for v in got.pop(None))
    for lv in range(31):
        want = s2.parent(ids, lv)
        assert [got[int(c)][f"p{lv}"] for c in ids] == want.tolist()
