"""CRS-level API: EPSG subset registry + cs2cs-style CRS->CRS planner.

Mirrors the reference's proj_create("EPSG:n") / proj_create_crs_to_crs
surface (src/create.cpp:206-303, src/crs_to_crs.cpp:319-360) for a
curated subset of well-known codes; the reference resolves codes
against its bundled SQLite database, which is out of scope — the
proj-string definitions below are the standard published proj4
expansions of each code.

crs_to_crs composes: inverse(src CRS) -> src datum -> WGS84 hub ->
dst datum -> forward(dst CRS), with +towgs84 Helmert bridges expanded
per side (towgs84_step_dicts) and adjacent cancelling cart steps
removed by the pipeline compiler.
"""

from __future__ import annotations

from .proj import (Transform, _ANGULAR_IDS, cancel_inverse_pairs,
                   compile_operation, compile_projstring, invert_step_dict,
                   nadgrids_step_dicts, parse_projstring,
                   towgs84_step_dicts)

_UTM_NORTH = range(32601, 32661)
_UTM_SOUTH = range(32701, 32761)
_UTM_ETRS = range(25828, 25838)   # ETRS89 / UTM 28N..37N
_SA_LO = range(2046, 2056)        # Hartebeesthoek94 / Lo15..Lo33

EPSG = {
    # geographic
    4326: "+proj=longlat +ellps=WGS84",
    4258: "+proj=longlat +ellps=GRS80",   # ETRS89
    4269: "+proj=longlat +ellps=GRS80",   # NAD83
    4267: "+proj=longlat +ellps=clrk66 +towgs84=-8,160,176",       # NAD27
    4230: "+proj=longlat +ellps=intl +towgs84=-87,-98,-121",       # ED50
    4277: "+proj=longlat +ellps=airy "
          "+towgs84=446.448,-125.157,542.06,0.15,0.247,0.842,-20.489",
    4314: "+proj=longlat +ellps=bessel "
          "+towgs84=598.1,73.7,418.2,0.202,0.045,-2.455,6.7",      # DHDN
    4312: "+proj=longlat +ellps=bessel "
          "+towgs84=577.326,90.129,463.919,5.137,1.474,5.297,2.4232",  # MGI
    # projected, WGS84/ETRS89-datum
    3857: "+proj=webmerc +ellps=WGS84",
    3035: "+proj=laea +lat_0=52 +lon_0=10 +x_0=4321000 +y_0=3210000 "
          "+ellps=GRS80",
    3413: "+proj=stere +lat_0=90 +lat_ts=70 +lon_0=-45 +x_0=0 +y_0=0 "
          "+ellps=WGS84",
    3031: "+proj=stere +lat_0=-90 +lat_ts=-71 +lon_0=0 +x_0=0 +y_0=0 "
          "+ellps=WGS84",
    2154: "+proj=lcc +lat_1=49 +lat_2=44 +lat_0=46.5 +lon_0=3 "
          "+x_0=700000 +y_0=6600000 +ellps=GRS80",   # RGF93 / Lambert-93
    2193: "+proj=tmerc +lat_0=0 +lon_0=173 +k=0.9996 +x_0=1600000 "
          "+y_0=10000000 +ellps=GRS80",              # NZGD2000 / NZTM2000
    5070: "+proj=aea +lat_1=29.5 +lat_2=45.5 +lat_0=23 +lon_0=-96 "
          "+x_0=0 +y_0=0 +ellps=GRS80",              # NAD83 / CONUS Albers
    # projected, non-WGS84 datum (Helmert bridge)
    27700: "+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 "
           "+x_0=400000 +y_0=-100000 +ellps=airy "
           "+towgs84=446.448,-125.157,542.06,0.15,0.247,0.842,-20.489",
    28992: "+proj=sterea +lat_0=52.15616055555555 "
           "+lon_0=5.38763888888889 +k=0.9999079 +x_0=155000 "
           "+y_0=463000 +ellps=bessel "
           "+towgs84=565.417,50.3319,465.552,-0.398957,0.343988,"
           "-1.8774,4.0725",                         # Amersfoort / RD New
    21781: "+proj=somerc +lat_0=46.95240555555556 "
           "+lon_0=7.439583333333333 +k_0=1 +x_0=600000 +y_0=200000 "
           "+ellps=bessel +towgs84=674.374,15.056,405.346",  # CH1903/LV03
    2056: "+proj=somerc +lat_0=46.95240555555556 "
          "+lon_0=7.439583333333333 +k_0=1 +x_0=2600000 +y_0=1200000 "
          "+ellps=bessel +towgs84=674.374,15.056,405.346",  # CH1903+/LV95
    31370: "+proj=lcc +lat_1=51.16666723333333 +lat_2=49.8333339 "
           "+lat_0=90 +lon_0=4.367486666666666 +x_0=150000.013 "
           "+y_0=5400088.438 +ellps=intl "
           "+towgs84=-106.869,52.2978,-103.724,0.3366,-0.457,1.8422,"
           "-1.2747",                                # Belgian Lambert 72
    31466: "+proj=tmerc +lat_0=0 +lon_0=6 +k=1 +x_0=2500000 +y_0=0 "
           "+ellps=bessel "
           "+towgs84=598.1,73.7,418.2,0.202,0.045,-2.455,6.7",  # DHDN GK2
    # world small-scale
    54030: "+proj=robin +lon_0=0 +x_0=0 +y_0=0 +ellps=WGS84",
    54009: "+proj=moll +lon_0=0 +x_0=0 +y_0=0 +ellps=WGS84",
}


# generated national-grid families: the kernels (utm/tmerc/lcc/stere)
# already cover these methods, so the codes are pure parameter DATA —
# each family below is the standard published proj4 expansion, indexed
# by the EPSG zone arithmetic
_UTM_NAD83 = range(26901, 26924)     # NAD83 / UTM 1N..23N
_UTM_ED50 = range(23028, 23039)      # ED50 / UTM 28N..38N
_MGA94 = range(28348, 28359)         # GDA94 / MGA 48..58
_MGA2020 = range(7846, 7857)         # GDA2020 / MGA 46..56
_UTM_WGS72_N = range(32201, 32261)   # WGS72 / UTM 1N..60N
_UTM_WGS72_S = range(32301, 32361)   # WGS72 / UTM 1S..60S
_GK_PULKOVO = range(28402, 28433)    # Pulkovo 1942 / GK zone 2..32
_LCC_FRANCE = range(3942, 3951)      # RGF93 / CC42..CC50

# published datum bridges for the generated families
_TOWGS84_WGS72 = "+towgs84=0,0,4.5,0,0,0.554,0.2263"
_TOWGS84_ED50 = "+towgs84=-87,-98,-121"
_TOWGS84_PULKOVO = "+towgs84=23.92,-141.27,-80.9,0,0.35,0.82,-0.12"

_UPS = {
    32661: "+proj=stere +lat_0=90 +lon_0=0 +k=0.994 +x_0=2000000 "
           "+y_0=2000000 +ellps=WGS84",   # WGS84 / UPS North
    32761: "+proj=stere +lat_0=-90 +lon_0=0 +k=0.994 +x_0=2000000 "
           "+y_0=2000000 +ellps=WGS84",   # WGS84 / UPS South
    5041: "+proj=stere +lat_0=90 +lon_0=0 +k=0.994 +x_0=2000000 "
          "+y_0=2000000 +ellps=WGS84",    # WGS84 / UPS North (E,N)
    5042: "+proj=stere +lat_0=-90 +lon_0=0 +k=0.994 +x_0=2000000 "
          "+y_0=2000000 +ellps=WGS84",    # WGS84 / UPS South (E,N)
}


def epsg_projstring(code: int) -> str:
    """Resolve an EPSG code: curated subset + generated national-grid
    families (UTM/WGS84, UTM/NAD83, UTM/ED50, UTM/WGS72, MGA94,
    MGA2020, Pulkovo Gauss-Krüger, RGF93 Lambert CC, UPS,
    Hartebeesthoek Lo)."""
    code = int(code)
    if code in EPSG:
        return EPSG[code]
    if code in _UPS:
        return _UPS[code]
    if code in _UTM_NORTH:
        return f"+proj=utm +zone={code - 32600} +ellps=WGS84"
    if code in _UTM_SOUTH:
        return f"+proj=utm +zone={code - 32700} +south +ellps=WGS84"
    if code in _UTM_ETRS:
        return f"+proj=utm +zone={code - 25800} +ellps=GRS80"
    if code in _UTM_NAD83:
        return f"+proj=utm +zone={code - 26900} +ellps=GRS80"
    if code in _UTM_ED50:
        return (f"+proj=utm +zone={code - 23000} +ellps=intl "
                f"{_TOWGS84_ED50}")
    if code in _MGA94:
        return f"+proj=utm +zone={code - 28300} +south +ellps=GRS80"
    if code in _MGA2020:
        return f"+proj=utm +zone={code - 7800} +south +ellps=GRS80"
    if code in _UTM_WGS72_N:
        return (f"+proj=utm +zone={code - 32200} +ellps=WGS72 "
                f"{_TOWGS84_WGS72}")
    if code in _UTM_WGS72_S:
        return (f"+proj=utm +zone={code - 32300} +south +ellps=WGS72 "
                f"{_TOWGS84_WGS72}")
    if code in _GK_PULKOVO:
        n = code - 28400
        return (f"+proj=tmerc +lat_0=0 +lon_0={6 * n - 3} +k=1 "
                f"+x_0={n * 1_000_000 + 500_000} +y_0=0 +ellps=krass "
                f"{_TOWGS84_PULKOVO}")
    if code in _LCC_FRANCE:
        i = code - 3942
        lat0 = 42 + i
        return (f"+proj=lcc +lat_1={lat0 - 0.75} +lat_2={lat0 + 0.75} "
                f"+lat_0={lat0} +lon_0=3 +x_0=1700000 "
                f"+y_0={(i + 1) * 1_000_000 + 200_000} +ellps=GRS80")
    if code in _SA_LO:
        # Hartebeesthoek94 / Lo15..Lo33 — south-west oriented Gauss
        # conformal (the classic +axis=wsu family)
        lon0 = 15 + 2 * (code - 2046)
        return (f"+proj=tmerc +lat_0=0 +lon_0={lon0} +k=1 +x_0=0 "
                "+y_0=0 +axis=wsu +ellps=WGS84")
    from .epsg_data import EPSG_GENERATED

    if code in EPSG_GENERATED:
        return EPSG_GENERATED[code]
    raise KeyError(
        f"EPSG:{code} not in the registry ({len(EPSG_GENERATED)} "
        "generated + curated codes; see epsg_data.py for the supported "
        "method/datum/unit envelope; pass a proj-string instead)")


def registry_codes() -> list[int]:
    """Every EPSG code the registry resolves (curated + generated)."""
    from .epsg_data import EPSG_GENERATED

    out = set(EPSG) | set(_UPS) | set(EPSG_GENERATED)
    for rng in (_UTM_NORTH, _UTM_SOUTH, _UTM_ETRS, _UTM_NAD83,
                _UTM_ED50, _MGA94, _MGA2020, _UTM_WGS72_N,
                _UTM_WGS72_S, _GK_PULKOVO, _LCC_FRANCE, _SA_LO):
        out.update(rng)
    return sorted(out)


def _resolve(defn) -> str:
    if isinstance(defn, int):
        return epsg_projstring(defn)
    if isinstance(defn, dict):
        from .crs_io import projjson_to_projstring
        return projjson_to_projstring(defn)
    s = str(defn).strip()
    if s.upper().startswith("EPSG:"):
        return epsg_projstring(int(s.split(":", 1)[1]))
    from .crs_io import is_projjson, is_wkt, projjson_to_projstring, \
        wkt_to_projstring
    if is_wkt(s):
        return wkt_to_projstring(s)
    if is_projjson(s):
        return projjson_to_projstring(s)
    return s


def compile_crs(defn) -> Transform:
    """proj_create equivalent: proj-string or EPSG:n -> Transform."""
    return compile_projstring(_resolve(defn))


def projinfo(defn) -> dict:
    """CRS introspection, the `projinfo -o PROJ,WKT2` direction
    (src/apps/projinfo.cpp:947-1030): accept any form `proj_create`
    accepts (proj-string, EPSG:n, WKT1/WKT2, PROJJSON) and report the
    normalized proj-string, the WKT2 export where the writer covers
    the method, the CRS kind, the ellipsoid, and the pipeline edge
    units.  The definition is compiled, so an invalid CRS raises the
    same error `compile_crs` would."""
    from .crs_io import (projstring_to_projjson, projstring_to_wkt1,
                         projstring_to_wkt2)
    from .proj import CLASSIC, PROJECTED, RADIANS

    projstr = _resolve(defn)
    tr = compile_projstring(projstr)
    in_u, out_u = tr.input_units(), tr.output_units()
    if out_u == RADIANS:
        kind = "geographic"
    elif in_u == RADIANS and out_u in (PROJECTED, CLASSIC):
        kind = "projected"
    else:
        kind = "transformation"
    ell = next((op.ell for op in tr.ops
                if getattr(op, "ell", None) is not None), None)
    try:
        wkt2 = projstring_to_wkt2(projstr)
    except Exception:
        wkt2 = None  # method outside the WKT2 writer's subset
    try:
        projjson = projstring_to_projjson(projstr)
    except Exception:
        projjson = None  # method outside the PROJJSON writer's subset
    try:
        wkt1 = projstring_to_wkt1(projstr)
    except Exception:
        wkt1 = None  # method outside the WKT1 writer's subset
    return {
        "projstring": projstr,
        "wkt1": wkt1,
        "wkt2": wkt2,
        "projjson": projjson,
        "kind": kind,
        "input_units": in_u,
        "output_units": out_u,
        "ellipsoid": None if ell is None else
            {"a": ell.a, "b": ell.b, "f": ell.f, "es": ell.es},
        "n_steps": len(tr.ops),
    }


def _crs_step_dicts(top: dict) -> list[dict]:
    """Step dicts whose combined forward maps WGS84 angular -> the
    CRS; empty for a WGS84-compatible geographic CRS."""
    if "axis" in top and str(top["axis"]) != "enu":
        top = dict(top)
        spec = str(top.pop("axis"))
        steps = _crs_step_dicts(top)
        # the CRS's +axis orientation applies on its projected side
        # (fwd.cpp:172-173), i.e. LAST in the WGS84->CRS direction
        return steps + [{"proj": "axisswap", "axis": spec}]
    if "geoidgrids" in top and top.get("proj") != "vgridshift":
        # classic vertical datum emulation: CRS heights are
        # orthometric, the hub is ellipsoidal; WGS84->CRS subtracts
        # the geoid undulation (vgridshift forward) at hub lon/lat
        # before any horizontal datum bridge or projection
        top = dict(top)
        spec = str(top.pop("geoidgrids"))
        return ([{"proj": "vgridshift", "grids": spec}]
                + _crs_step_dicts(top))
    if "nadgrids" in top and top.get("proj") != "hgridshift":
        # datum-file shift takes precedence over +towgs84, matching
        # the reference's classic +nadgrids handling
        return nadgrids_step_dicts(top)
    if "towgs84" in top and top.get("proj") != "helmert":
        return towgs84_step_dicts(top)
    if top.get("proj") in _ANGULAR_IDS:
        return []   # datum treated as WGS84-compatible (ballpark,
        # exactly like cs2cs without datum information)
    return [dict(top)]


# curated geographic codes whose authority axis order is lat,lon
# (EPSG "Geodetic CRS" north,east convention); projected codes in the
# registry are all easting,northing
_LATLON_ORDERED = {4326, 4258, 4269, 4267, 4230, 4277, 4314, 4312}


def _epsg_code(defn) -> int | None:
    if isinstance(defn, int):
        return defn
    if isinstance(defn, str) and defn.strip().upper().startswith("EPSG:"):
        return int(defn.strip().split(":", 1)[1])
    return None


def crs_to_crs(src, dst, always_xy: bool = True) -> Transform:
    """proj_create_crs_to_crs equivalent: Transform whose forward maps
    src CRS coordinates -> dst CRS coordinates through the WGS84
    geographic hub.  Angular edges are degrees via transform_deg,
    radians via transform (same convention as compile_projstring).

    always_xy=True (default) is proj_normalize_for_visualization
    semantics — GIS-friendly lon,lat on both angular edges.  With
    always_xy=False the authority axis order applies: geographic EPSG
    codes take/produce lat,lon (an axisswap step each side, matching
    the reference where EPSG:4326 is north,east —
    src/4D_api.cpp proj_normalize_for_visualization,
    src/conversions/axisswap.cpp)."""
    s_str, d_str = _resolve(src), _resolve(dst)
    s_top = parse_projstring(s_str)[0]
    d_top = parse_projstring(d_str)[0]
    for t, which in ((s_top, "src"), (d_top, "dst")):
        if t.get("proj") == "pipeline":
            raise ValueError(f"crs_to_crs: {which} must be a CRS, "
                             "not a pipeline")
    steps = [invert_step_dict(d) for d in reversed(_crs_step_dicts(s_top))]
    steps += _crs_step_dicts(d_top)
    if not always_xy:
        if _epsg_code(src) in _LATLON_ORDERED:
            steps.insert(0, {"proj": "axisswap", "order": "2,1"})
        if _epsg_code(dst) in _LATLON_ORDERED:
            steps.append({"proj": "axisswap", "order": "2,1"})
    # cancel adjacent identical fwd/inv pairs (cart_wgs84 around the
    # hub); unlike a pipeline, identity steps are kept
    ops = cancel_inverse_pairs([compile_operation(d) for d in steps])
    return Transform(ops=ops, definition=f"{s_str} => {d_str}")
