"""Reference answers, computed once per seed outside timing.

- ``polygon_counts``: per-polygon point counts by an even-odd ray
  cast written here, independent of ``operators.spatial_join``.
- ``pages_expected``: every mention the pages job should mine (the
  generated ones plus the one ``synthesize_pages`` appends) and the
  per-polygon counts DuckDB gives over ``polygons_values_sql`` and
  ``convex_inside_sql``.
- ``headline_expected``: each query's DuckDB oracle over the
  generated tables.
"""

from __future__ import annotations

import numpy as np


def _inside(px: np.ndarray, py: np.ndarray, rx: np.ndarray,
            ry: np.ndarray) -> np.ndarray:
    """Even-odd rule: a point is inside when a ray towards +x crosses
    the ring an odd number of times."""
    odd = np.zeros(len(px), dtype=bool)
    for (x1, y1), (x2, y2) in zip(zip(rx, ry), zip(np.roll(rx, -1),
                                                   np.roll(ry, -1))):
        straddles = (y1 > py) != (y2 > py)
        with np.errstate(invalid="ignore", divide="ignore"):
            xcross = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        odd ^= straddles & (px < xcross)
    return odd


def polygon_counts(lon: np.ndarray, lat: np.ndarray,
                   polygons: list[dict]) -> dict[int, int]:
    """{polygon_id: points strictly inside} for polygons with any."""
    out = {}
    for p in polygons:
        near = ((lon >= p["lon_min"]) & (lon <= p["lon_max"])
                & (lat >= p["lat_min"]) & (lat <= p["lat_max"]))
        n = int(_inside(lon[near], lat[near], np.asarray(p["ring_lon"]),
                        np.asarray(p["ring_lat"])).sum())
        if n:
            out[int(p["polygon_id"])] = n
    return out


def pages_expected(input_dir: str) -> dict:
    """Mentions (lon, lat arrays) and per-polygon mention counts."""
    import duckdb

    from proj_4_spark.sources.coords import coords_cte
    from proj_4_spark.sources.polygons import (convex_inside_sql,
                                               polygons_values_sql)

    con = duckdb.connect()
    con.sql(f"CREATE VIEW docs AS SELECT doc_id FROM "
            f"read_parquet('{input_dir}/documents.parquet')")
    con.sql(f"""CREATE VIEW m AS
        SELECT CAST(printf('%.6f', lon) AS DOUBLE) AS lon,
               CAST(printf('%.6f', lat) AS DOUBLE) AS lat
        FROM ({coords_cte('docs')})
        UNION ALL SELECT lon, lat
        FROM read_parquet('{input_dir}/mentions.parquet')""")
    lon, lat = con.sql("SELECT lon, lat FROM m").fetchnumpy().values()
    rows = con.sql(f"""
        SELECT polys.polygon_id, count(*) AS n FROM m
        CROSS JOIN {polygons_values_sql()}
        WHERE {convex_inside_sql('m.lon', 'm.lat')}
        GROUP BY 1""").fetchall()
    return {"lon": np.asarray(lon), "lat": np.asarray(lat),
            "counts": {int(p): int(n) for p, n in rows}}


def headline_expected(input_dir: str, names: list[str]) -> dict:
    """{query: oracle DataFrame} plus the documents' (lon, lat)."""
    import duckdb

    from proj_4_spark.queries import oracle_sql
    from proj_4_spark.sources.coords import coords_cte

    con = duckdb.connect()
    for t in ("documents", "embeddings", "lineitem"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{input_dir}/{t}.parquet'")
    sql = oracle_sql()
    out = {n: con.sql(sql[n]).df() for n in names}
    pts = con.sql(f"SELECT doc_id, lon, lat FROM ({coords_cte()})")
    out["_points"] = pts.df()
    return out
