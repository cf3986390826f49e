"""Geo column functions: projection, geodesic, S2-cell pandas UDFs.

The compiled :class:`~proj_4_spark.proj.Transform` is built once on the
driver (PROJ's parse/analyze/setup, src/create.cpp:206-303) and closed
over by an Arrow-batched pandas UDF — the Spark restatement of
``proj_trans_generic`` (/root/reference/src/trans.cpp:418-566): strided
double arrays in, strided double arrays out, per-point in-band errors
(NaN instead of HUGE_VAL).

No per-row Python anywhere: every UDF maps NumPy float64 arrays.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..index import s2 as s2idx
from ..kernels import geodesic as k_geod
from ..proj import Transform, compile_projstring


CHUNK = 65536
"""Rows per kernel invocation inside a UDF.  Arrow batches stay large
(amortize JVM<->Python IPC) but the NumPy kernels run on cache-sized
blocks: large temporaries cause mmap/page-fault churn that costs ~6x
(measured: 4M-row S2 encode 4.4 s unchunked vs 0.7 s in 64k chunks)."""


def run_chunked(kernel, *arrays):
    """kernel(*arrays) -> tuple/list of result arrays, evaluated in
    CHUNK-row blocks (dtypes inferred from the first block)."""
    n = len(arrays[0])
    first = kernel(*(a[:CHUNK] for a in arrays))
    single = not isinstance(first, (tuple, list))
    if single:
        first = (first,)
    if n <= CHUNK:
        return first[0] if single else first
    outs = [np.empty(n, dtype=np.asarray(r).dtype) for r in first]
    for o, r in zip(outs, first):
        o[:CHUNK] = r
    for i in range(CHUNK, n, CHUNK):
        res = kernel(*(a[i:i + CHUNK] for a in arrays))
        if single:
            res = (res,)
        for o, r in zip(outs, res):
            o[i:i + CHUNK] = r
    return outs[0] if single else outs


def project_udf(projstr_or_transform, direction: str = "fwd"):
    """pandas UDF (lon,lat[,z,t] degrees) -> struct<x,y,z double>.

    Angular edges are degrees (gie convention); projected edges meters.
    """
    tr = (projstr_or_transform if isinstance(projstr_or_transform, Transform)
          else compile_projstring(projstr_or_transform))

    @pandas_udf("struct<x: double, y: double, z: double>")
    def _project(a: pd.Series, b: pd.Series) -> pd.DataFrame:
        def k(aa, bb):
            x, y, z, _ = tr.transform_deg(aa, bb, direction=direction)
            return x, y, z

        x, y, z = run_chunked(k, a.to_numpy(np.float64),
                              b.to_numpy(np.float64))
        return pd.DataFrame({"x": x, "y": y, "z": z})

    return _project


def project_select_udf(selector):
    """pandas UDF (lon, lat degrees) -> struct<x, y, z double, op int>:
    per-point candidate-operation selection (plans/candidates.py,
    trans.cpp:44-173 semantics).  ``op`` is the chosen candidate index
    (-1 = no candidate / all failed -> NaN)."""

    @pandas_udf("struct<x: double, y: double, z: double, op: int>")
    def _project(a: pd.Series, b: pd.Series) -> pd.DataFrame:
        x, y, z, op = run_chunked(
            selector.transform_deg, a.to_numpy(np.float64),
            b.to_numpy(np.float64))
        return pd.DataFrame({"x": x, "y": y, "z": z,
                             "op": op.astype(np.int32)})

    return _project


def with_projected(df: DataFrame, projstr: str, lon: str = "lon",
                   lat: str = "lat", prefix: str = "",
                   direction: str = "fwd") -> DataFrame:
    """Append projected columns ``{prefix}x, {prefix}y`` to ``df``."""
    u = project_udf(projstr, direction)
    st = u(F.col(lon), F.col(lat))
    return (df.withColumn("_pj", st)
              .withColumn(prefix + "x", F.col("_pj.x"))
              .withColumn(prefix + "y", F.col("_pj.y"))
              .drop("_pj"))


def s2_cell_udf(level: int):
    """pandas UDF (lon_deg, lat_deg) -> int64 S2 cell id at ``level``."""

    @pandas_udf("long")
    def _cell(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(run_chunked(
            lambda a, b: s2idx.cell_id(a, b, level),
            lon.to_numpy(np.float64), lat.to_numpy(np.float64)))

    return _cell


def s2_face_ij_udf(level: int):
    """pandas UDF (lon, lat) -> struct<face int, i long, j long> at
    ``level`` (i/j are the leaf coordinates truncated to the level grid).
    This integer triple is the SQL-checkable core of the tile
    assignment: it is bijective with the Hilbert cell id."""
    shift = s2idx.MAX_LEVEL - level

    @pandas_udf("struct<face: int, i: long, j: long>")
    def _fij(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        def k(a, b):
            cid = s2idx.cell_id(a, b, level)
            face, i, j = s2idx.to_face_ij(cid)
            return face.astype(np.int32), i >> shift, j >> shift

        face, i, j = run_chunked(k, lon.to_numpy(np.float64),
                                 lat.to_numpy(np.float64))
        return pd.DataFrame({"face": face, "i": i, "j": j})

    return _fij


def s2_cell_to_face_ij_udf(level: int):
    """pandas UDF cell_id -> struct<face int, i long, j long> with i/j
    truncated to the ``level`` grid (inverse of :func:`s2_face_ij_udf`
    composed with :func:`s2_cell_udf`)."""
    shift = s2idx.MAX_LEVEL - level

    @pandas_udf("struct<face: int, i: long, j: long>")
    def _decode(cid: pd.Series) -> pd.DataFrame:
        face, i, j = s2idx.to_face_ij(cid.to_numpy(np.int64))
        return pd.DataFrame({"face": face.astype(np.int32),
                             "i": i >> shift, "j": j >> shift})

    return _decode


def s2_parent_udf(level: int):
    @pandas_udf("long")
    def _parent(cid: pd.Series) -> pd.Series:
        return pd.Series(s2idx.parent(cid.to_numpy(np.int64), level))

    return _parent


def a7hex_cell_udf(res: int):
    """pandas UDF (lon, lat) -> int64 aperture-7 icosahedral hex cell
    (index/hexdggs.py).  NOT canonical-H3-bit-compatible — the surface
    is named a7hex to make that explicit; see index/hexdggs.py."""
    from ..index import hexdggs as hx

    @pandas_udf("long")
    def _cell(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(run_chunked(
            lambda a, b: hx.encode(a, b, res),
            lon.to_numpy(np.float64), lat.to_numpy(np.float64)))

    return _cell


# deprecated pre-rename alias (round <=3 name; the index was never H3
# bit-compatible and the old name suggested it was)
hex_cell_udf = a7hex_cell_udf


def a7hex_parent_udf(parent_res: int):
    """pandas UDF int64 a7hex cell -> ancestor cell at parent_res
    (center re-encode, aperture-7 approximate containment)."""
    from ..index import hexdggs as hx

    @pandas_udf("long")
    def _parent(cell: pd.Series) -> pd.Series:
        return pd.Series(run_chunked(
            lambda c: hx.parent(c, parent_res),
            cell.to_numpy(np.int64)))

    return _parent


def vincenty_fixed_udf(lat2: float, lon2: float, n_iter: int = 16):
    """pandas UDF (lat1, lon1 degrees) -> struct<s12 double, azi1
    double>: fixed-iteration Vincenty inverse to a constant point
    (kernels/geodesic.py::vincenty_inverse_fixed), the SQL-mirrorable
    geodesic used by the driver gate (oracle:
    plans/oracles.py::vincenty_sql)."""

    @pandas_udf("struct<s12: double, azi1: double>")
    def _inv(lat1: pd.Series, lon1: pd.Series) -> pd.DataFrame:
        s12, azi1 = run_chunked(
            lambda a, b: k_geod.vincenty_inverse_fixed(
                a, b, lat2, lon2, n_iter=n_iter),
            lat1.to_numpy(np.float64), lon1.to_numpy(np.float64))
        return pd.DataFrame({"s12": s12, "azi1": azi1})

    return _inv


def geodesic_inverse_udf(a: float | None = None, f: float | None = None):
    """pandas UDF (lat1,lon1,lat2,lon2 degrees) ->
    struct<s12 double, azi1 double, azi2 double>  (Karney inverse,
    /root/reference/src/geodesic.c:1080)."""
    ga = 6378137.0 if a is None else a
    gf = 1 / 298.257223563 if f is None else f
    g = k_geod.Geodesic.init(ga, gf)

    @pandas_udf("struct<s12: double, azi1: double, azi2: double>")
    def _inv(lat1: pd.Series, lon1: pd.Series,
             lat2: pd.Series, lon2: pd.Series) -> pd.DataFrame:
        def k(a, b, c, d):
            s12, azi1, azi2, _ = k_geod.inverse(g, a, b, c, d)
            return s12, azi1, azi2

        s12, azi1, azi2 = run_chunked(
            k, lat1.to_numpy(np.float64), lon1.to_numpy(np.float64),
            lat2.to_numpy(np.float64), lon2.to_numpy(np.float64))
        return pd.DataFrame({"s12": s12, "azi1": azi1, "azi2": azi2})

    return _inv


def geodesic_direct_udf(a: float | None = None, f: float | None = None):
    """pandas UDF (lat1,lon1,azi1 degrees, s12 m) ->
    struct<lat2 double, lon2 double, azi2 double>  (Karney direct,
    /root/reference/src/geodesic.c:686)."""
    ga = 6378137.0 if a is None else a
    gf = 1 / 298.257223563 if f is None else f
    g = k_geod.Geodesic.init(ga, gf)

    @pandas_udf("struct<lat2: double, lon2: double, azi2: double>")
    def _dir(lat1: pd.Series, lon1: pd.Series,
             azi1: pd.Series, s12: pd.Series) -> pd.DataFrame:
        lat2, lon2, azi2 = run_chunked(
            lambda a_, b, c, d: k_geod.direct(g, a_, b, c, d),
            lat1.to_numpy(np.float64), lon1.to_numpy(np.float64),
            azi1.to_numpy(np.float64), s12.to_numpy(np.float64))
        return pd.DataFrame({"lat2": lat2, "lon2": lon2, "azi2": azi2})

    return _dir


# ----------------- pure-Catalyst (JVM codegen) expressions ---------------

_R_MEAN = 6371008.8  # IUGG mean earth radius


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column,
                radius: float = _R_MEAN) -> Column:
    """Great-circle distance in meters as a pure Catalyst expression
    (stays inside WholeStageCodegen — no Python)."""
    rl1, rl2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2.0
    dlon = F.radians(lon2 - lon1) / 2.0
    h = F.sin(dlat) ** 2 + F.cos(rl1) * F.cos(rl2) * F.sin(dlon) ** 2
    return F.lit(2.0 * radius) * F.asin(F.sqrt(h))


def utm_all_zones_udf(approx: bool = True):
    """pandas UDF (lon,lat) -> struct<zone int, easting double,
    northing double> — per-point UTM with the zone derived from the
    longitude (tmerc.cpp:737-779) and a vectorized TM kernel.

    This is the Spark restatement of PROJ's per-point operation
    selection (src/trans.cpp:44-173): instead of a per-point dispatch
    loop, the zone is a vectorized integer expression and a SINGLE
    TM evaluation runs with a per-point central meridian.
    """
    from ..kernels import tmerc as k_tmerc
    from ..kernels.ellipsoid import Ellipsoid

    ell = Ellipsoid.from_name("GRS80")
    params = {"approx": True} if approx else {}
    C = k_tmerc.setup(params, ell, 0.9996, 0.0)
    a = ell.a

    @pandas_udf("struct<zone: int, easting: double, northing: double>")
    def _utm(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        lo = lon.to_numpy(np.float64)
        la = lat.to_numpy(np.float64)
        def k(lo_c, la_c):
            zone = (np.floor((lo_c + 180.0) / 6.0).astype(np.int64) % 60 + 1)
            lam0 = np.radians((zone * 6 - 183).astype(np.float64))
            lam = np.radians(lo_c) - lam0
            phi = np.radians(la_c)
            xk, yk = k_tmerc.fwd(lam, phi, C)
            e = a * xk + 500000.0
            n = a * yk + np.where(la_c < 0, 1.0e7, 0.0)
            return zone.astype(np.int32), e, n

        zone, e, n = run_chunked(k, lo, la)
        return pd.DataFrame({"zone": zone, "easting": e, "northing": n})

    return _utm


def utm_zone(lon: Column) -> Column:
    """UTM zone number from longitude — integer Catalyst expression
    (zone logic of /root/reference/src/projections/tmerc.cpp:737-779)."""
    return (F.floor((lon + F.lit(180.0)) / F.lit(6.0)).cast("int") % 60 + 1)


def factors_udf(projstr_or_transform):
    """pandas UDF (lon, lat degrees) -> struct<h, k, s double>:
    meridional/parallel/areal scale via proj_factors semantics
    (src/factors.cpp:111-240 central differences)."""
    from ..kernels.factors import factors as k_factors
    from ..proj import Transform, compile_projstring

    tr = (projstr_or_transform if isinstance(projstr_or_transform, Transform)
          else compile_projstring(projstr_or_transform))

    @pandas_udf("struct<h: double, k: double, s: double>")
    def _factors(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        def k(lo, la):
            f = k_factors(tr, lo, la)
            return f["h"], f["k"], f["s"]

        h, kk, s = run_chunked(k, lon.to_numpy(np.float64),
                               lat.to_numpy(np.float64))
        return pd.DataFrame({"h": h, "k": kk, "s": s})

    return _factors


def unitconvert_time_udf(t_in: str, t_out: str):
    """pandas UDF over the time channel of +proj=unitconvert
    (src/conversions/unitconvert.cpp time units: mjd, decimalyear,
    gps_week, yyyymmdd)."""
    from ..proj import compile_projstring

    tr = compile_projstring(f"+proj=unitconvert +t_in={t_in} +t_out={t_out}")
    t_fwd = tr.ops[0].t_fwd

    @pandas_udf("double")
    def _conv(t: pd.Series) -> pd.Series:
        out = run_chunked(lambda a: t_fwd(a), t.to_numpy(np.float64))
        return pd.Series(out)

    return _conv


def transform4d_udf(projstr_or_transform, direction: str = "fwd"):
    """pandas UDF (lon_deg, lat_deg, t) -> struct<lon_out, lat_out,
    z_out double> for 4D (kinematic) pipelines such as +proj=defmodel;
    z starts at 0."""
    tr = (projstr_or_transform if isinstance(projstr_or_transform, Transform)
          else compile_projstring(projstr_or_transform))

    @pandas_udf("struct<lon_out: double, lat_out: double, z_out: double>")
    def _t4d(a: pd.Series, b: pd.Series, c: pd.Series) -> pd.DataFrame:
        def k(lo, la, tt):
            x, y, z, _ = tr.transform_deg(lo, la, z=np.zeros_like(lo),
                                          t=tt, direction=direction)
            return x, y, z

        x, y, z = run_chunked(k, a.to_numpy(np.float64),
                              b.to_numpy(np.float64),
                              c.to_numpy(np.float64))
        return pd.DataFrame({"lon_out": x, "lat_out": y, "z_out": z})

    return _t4d


def dms_expr(deg: Column, pos: str, neg: str) -> Column:
    """Format decimal degrees as the reference's DMS ascii
    (src/rtodms.cpp:38-100 with the default 3 fractional second
    digits): ``49d30'30.5"N`` — seconds rounded to 0.001" with
    trailing fraction zeros trimmed, the seconds term dropped when it
    rounds to zero, the minutes term dropped when both are zero.
    Pure Catalyst (format_string + regexp_replace), no Python."""
    total = F.floor(F.abs(deg) * (3600.0 * 1000.0) + F.lit(0.5))
    sec = (total % 60000).cast("double") / 1000.0
    rem = F.floor(total / 60000)
    minute = (rem % 60).cast("int")
    d = F.floor(rem / 60).cast("int")
    hemi = F.when(deg < 0, F.lit(neg)).otherwise(F.lit(pos))
    with_sec = F.format_string("%dd%d'%.3f", d, minute, sec)
    with_sec = F.regexp_replace(with_sec, r"(\.\d*?)0+$", "$1")
    with_sec = F.regexp_replace(with_sec, r"\.$", "")
    body = (F.when(sec != 0.0, F.concat(with_sec, F.lit("\"")))
             .when(minute != 0, F.format_string("%dd%d'", d, minute))
             .otherwise(F.format_string("%dd", d)))
    return F.concat(body, hemi)


def roundtrip_udf(projstr_or_transform):
    """pandas UDF (lon,lat degrees) -> struct<x,y,lon2,lat2 double>:
    forward projection plus the inverse of the result, one Arrow hop
    (the fwd/inv pair shares a batch, so Newton-fallback inverses —
    src/generic_inverse.cpp — are exercised without a second
    exchange)."""
    tr = (projstr_or_transform if isinstance(projstr_or_transform, Transform)
          else compile_projstring(projstr_or_transform))

    @pandas_udf("struct<x: double, y: double, lon2: double, lat2: double>")
    def _rt(a: pd.Series, b: pd.Series) -> pd.DataFrame:
        def k(aa, bb):
            x, y, _, _ = tr.transform_deg(aa, bb)
            lo, la, _, _ = tr.transform_deg(x, y, direction="inv")
            return x, y, lo, la

        x, y, lo, la = run_chunked(k, a.to_numpy(np.float64),
                                   b.to_numpy(np.float64))
        return pd.DataFrame({"x": x, "y": y, "lon2": lo, "lat2": la})

    return _rt
