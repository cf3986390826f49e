"""proj-string compiler: parse -> analyze -> setup -> fused executable.

The Spark-first restatement of PROJ's query lifecycle
(/root/reference/src/create.cpp:206-303, src/init.cpp:434-714,
src/pipeline.cpp): parsing + analysis + constant setup all happen once
on the driver, producing an immutable, picklable ``Transform`` that is
broadcast to executors and applied to NumPy batches inside pandas UDFs.

Execution semantics (prepare / kernel / finalize) mirror
/root/reference/src/fwd.cpp:40-174 and src/inv.cpp:39-141:

- angular input: clamp |phi| <= pi/2, reject |lam| > 10 rad,
  subtract lam0, wrap to [-pi, pi]
- classic output: scale by a, add false eastings, convert units
- errors are per-point and in-band: NaN components (PROJ uses
  HUGE_VAL; src/trans.cpp:377-415)
"""

from __future__ import annotations

import importlib
import math
import re
from dataclasses import dataclass
from functools import partial
from typing import Callable

import numpy as np

from .kernels import cart as k_cart
from .kernels import helmert as k_helmert
from .kernels import lcc as k_lcc
from .kernels import merc as k_merc
from .kernels import tmerc as k_tmerc
from .kernels.common import DEG_TO_RAD, HALFPI, adjlon
from .kernels.ellipsoid import Ellipsoid

PJ_EPS_LAT = 1e-12

# named correction grids (driver registers, executors get via the
# broadcast UDF closure) — the analogue of PROJ's grid file catalog
GRID_REGISTRY: dict[str, object] = {}

# +proj=defmodel master files: name -> JSON text
DEFMODEL_REGISTRY: dict[str, str] = {}

# IO unit tags (src/proj_internal.h:192-200)
WHATEVER = "whatever"
CLASSIC = "classic"  # plane coords in units of the semimajor axis
PROJECTED = "projected"
CARTESIAN = "cartesian"
RADIANS = "radians"
DEGREES = "degrees"

# named prime meridians, degrees east of Greenwich
# (/root/reference/src/datums.cpp:73-88 pj_prime_meridians)
PRIME_MERIDIANS: dict[str, float] = {
    "greenwich": 0.0,
    "lisbon": -(9 + 7 / 60.0 + 54.862 / 3600.0),
    "paris": 2 + 20 / 60.0 + 14.025 / 3600.0,
    "bogota": -(74 + 4 / 60.0 + 51.3 / 3600.0),
    "madrid": -(3 + 41 / 60.0 + 16.58 / 3600.0),
    "rome": 12 + 27 / 60.0 + 8.4 / 3600.0,
    "bern": 7 + 26 / 60.0 + 22.5 / 3600.0,
    "jakarta": 106 + 48 / 60.0 + 27.79 / 3600.0,
    "ferro": -(17 + 40 / 60.0),
    "brussels": 4 + 22 / 60.0 + 4.71 / 3600.0,
    "stockholm": 18 + 3 / 60.0 + 29.8 / 3600.0,
    "athens": 23 + 42 / 60.0 + 58.815 / 3600.0,
    "oslo": 10 + 43 / 60.0 + 22.5 / 3600.0,
}

# linear units (subset of /root/reference/src/units.cpp)
UNITS: dict[str, float] = {
    "m": 1.0,
    "km": 1000.0,
    "dm": 0.1,
    "cm": 0.01,
    "mm": 0.001,
    "ft": 0.3048,
    "us-ft": 1200.0 / 3937.0,
    "us-yd": 3 * 1200.0 / 3937.0,
    "yd": 0.9144,
    "in": 0.0254,
    "mi": 1609.344,
    "us-mi": 6336000.0 / 3937.0,
    "kmi": 1852.0,
    "fath": 1.8288,
    "ch": 20.1168,
    "link": 0.201168,
}

ANGULAR_UNITS: dict[str, float] = {  # to radians
    "rad": 1.0,
    "deg": DEG_TO_RAD,
    "grad": math.pi / 200.0,
}


# classic datum registry (src/datums.cpp pj_datums[]): +datum=NAME
# expands to an ellipsoid + datum-shift definition
DATUMS: dict[str, dict] = {
    "WGS84": {"ellps": "WGS84", "towgs84": "0,0,0"},
    "GGRS87": {"ellps": "GRS80", "towgs84": "-199.87,74.79,246.62"},
    "NAD83": {"ellps": "GRS80", "towgs84": "0,0,0"},
    "NAD27": {"ellps": "clrk66",
              "nadgrids": "@conus,@alaska,@ntv2_0.gsb,@ntv1_can.dat"},
    # the reference's current datums table points potsdam at the
    # BETA2007 NTv2 grid (datums.cpp), not a Helmert
    "potsdam": {"ellps": "bessel", "nadgrids": "@BETA2007.gsb"},
    "carthage": {"ellps": "clrk80ign", "towgs84": "-263.0,6.0,431.0"},
    "hermannskogel": {
        "ellps": "bessel",
        "towgs84": "577.326,90.129,463.919,5.137,1.474,5.297,2.4232"},
    "militargeographische_institut": {
        "ellps": "bessel",
        "towgs84": "577.326,90.129,463.919,5.137,1.474,5.297,2.4232"},
    "ire65": {"ellps": "mod_airy",
              "towgs84": "482.530,-130.596,564.557,-1.042,-0.214,"
                         "-0.631,8.15"},
    "nzgd49": {"ellps": "intl",
               "towgs84": "59.47,-5.04,187.44,0.47,-0.1,1.024,-4.5993"},
    "OSGB36": {"ellps": "airy",
               "towgs84": "446.448,-125.157,542.060,0.1502,0.2470,"
                          "0.8421,-20.4894"},
}

# registered classic init files (the reference resolves +init=FILE:KEY
# against its data dir, src/init.cpp:112-230; here content is
# registered by name — see sources/initfiles.py for the parser)
INIT_REGISTRY: dict[str, dict] = {}


_DMS_VALUE = re.compile(
    r"^([+-]?)(\d+(?:\.\d+)?)[dD°]"
    r"(?:(\d+(?:\.\d+)?)'?(?:(\d+(?:\.\d+)?)\"?)?)?"
    r"([NSEWnsew])?$")


def _maybe_dms(v: str) -> str:
    """Convert a DMS-form parameter value ('34d58', +lon_0=7d26'22.5\"E)
    to decimal degrees (src/dmstor.cpp); non-DMS values pass through."""
    m = _DMS_VALUE.match(v)
    if m is None:
        return v
    sign, deg, mins, secs, hemi = m.groups()
    val = float(deg) + (float(mins) if mins else 0.0) / 60.0 \
        + (float(secs) if secs else 0.0) / 3600.0
    if sign == "-":
        val = -val
    if hemi and hemi.upper() in "SW":
        val = -val
    return repr(val)


def _resolve_init(spec: str) -> dict:
    """'FILE:KEY' -> param dict from INIT_REGISTRY (init.cpp:112-230).
    'epsg:NNNN' resolves through the curated EPSG registry, the
    classic proj4 idiom the reference maps onto its EPSG database."""
    if ":" not in spec:
        raise ValueError(f"init: malformed '{spec}' (want FILE:KEY)")
    fname, key = spec.split(":", 1)
    if fname.lower() == "epsg":
        from .crs import epsg_projstring

        return dict(parse_projstring(epsg_projstring(int(key)))[0])
    entries = INIT_REGISTRY.get(fname)
    if entries is None:
        raise FileNotFoundError(
            f"init file '{fname}' not registered (use "
            "sources.initfiles.register_init_file)")
    if key not in entries:
        raise KeyError(f"init: no entry <{key}> in '{fname}'")
    return entries[key]


def _shrink_projstring(s: str) -> str:
    """pj_shrink-equivalent cleanup (src/internal.cpp:192-276): ';'
    counts as whitespace, repeated whitespace collapses, and '=' / ','
    are greedy (consume surrounding whitespace), so cs2cs/gie-style
    strings like 'proj = pipeline; step proj = cart' or
    'towgs84 =  -81.07, -89.36' tokenize the way the reference's argv
    builder does.  Double-quoted values after '=' keep their spaces."""
    out: list[str] = []
    ws = False
    in_string = False
    for ch in s:
        if in_string:
            if ch == '"':
                in_string = False
            else:
                # \x01 marks an in-quote space; restored after argv split
                out.append("\x01" if ch.isspace() else ch)
            continue
        if ch == '"' and out and out[-1] == "=":
            in_string = True
            ws = False
            continue
        if ch.isspace() or ch == ";":
            if not ws and out:
                out.append(" ")
            ws = True
            continue
        ws = False
        out.append(ch)
    collapsed = "".join(out)
    # greedy '=' and ','
    collapsed = re.sub(r"\s*([=,])\s*", r"\1", collapsed)
    return collapsed


def parse_projstring(s: str) -> list[dict]:
    """proj-string -> list of param dicts (one per pipeline step).

    Mirrors the paralist construction of /root/reference/src/init.cpp:482-496
    (+key=value tokens; bare +key is a boolean flag; +init=FILE:KEY
    splices the registered entry's params at its position, so explicit
    params written BEFORE +init win, like the reference's
    first-occurrence pj_param scan) and the step splitting of
    src/pipeline.cpp:361+.  +datum=NAME expands per pj_datums[].
    """
    tokens = _shrink_projstring(s.replace("\t", " ")).split()
    global_params: dict = {}
    steps: list[dict] = []
    cur = global_params
    for tok in tokens:
        t = tok.lstrip("+").replace("\x01", " ")
        if t == "step":
            steps.append({})
            cur = steps[-1]
            continue
        if "=" in t:
            k, v = t.split("=", 1)
            if k == "init":
                for ik, iv in _resolve_init(v).items():
                    cur.setdefault(ik, iv)
                continue
            # pj_param scans the paralist from the head: on duplicate
            # keys the FIRST occurrence wins (src/init.cpp:482-496)
            cur.setdefault(k, _maybe_dms(v) if isinstance(v, str) else v)
        else:
            cur.setdefault(t, True)
    for d in [global_params] + steps:
        datum = d.get("datum")
        if isinstance(datum, str) and datum in DATUMS:
            for k, v in DATUMS[datum].items():
                d.setdefault(k, v)
    if global_params.get("proj") == "pipeline":
        # globals (except proj=pipeline) are inherited by each step;
        # "inv" is special: every occurrence TOGGLES the step direction
        # (pipeline.cpp:516-523 — global +inv plus step +inv = forward)
        inherited = {k: v for k, v in global_params.items()
                     if k not in ("proj", "inv")}
        g_inv = "inv" in global_params
        merged = []
        for st in steps:
            d = dict(inherited)
            d.update(st)
            if g_inv != ("inv" in st):
                d["inv"] = True
            else:
                d.pop("inv", None)
            merged.append(d)
        return [{"proj": "pipeline", "_steps": merged,
                 **{k: v for k, v in global_params.items()
                    if k != "inv"}}]
    if steps:
        # a bare leading +step (no +proj=pipeline) is tolerated like
        # the reference (gie's '+step +proj=latlong' fixtures): treat
        # as an implicit single-step pipeline
        if "proj" not in global_params:
            inherited = dict(global_params)
            merged = []
            for st in steps:
                d = dict(inherited)
                d.update(st)
                merged.append(d)
            return [{"proj": "pipeline", "_steps": merged,
                     **global_params}]
        raise ValueError("+step outside +proj=pipeline")
    return [global_params]


@dataclass
class Operation:
    """A compiled coordinate operation — the analogue of an executable PJ
    (src/proj_internal.h:457-693): immutable constants + kernel closures."""

    proj_id: str
    params: dict
    ell: Ellipsoid
    lam0: float = 0.0
    phi0: float = 0.0
    x0: float = 0.0
    y0: float = 0.0
    z0: float = 0.0
    k0: float = 1.0
    to_meter: float = 1.0
    fr_meter: float = 1.0
    vto_meter: float = 1.0
    vfr_meter: float = 1.0
    over: bool = False
    from_greenwich: float = 0.0  # +pm (fwd.cpp:108, inv.cpp:113)
    left: str = RADIANS
    right: str = CLASSIC
    consts: object = None
    # kernels operate on (a, b[, z, t]) channel arrays
    fwd_k: Callable | None = None
    inv_k: Callable | None = None
    t_fwd: Callable | None = None  # time-channel map (unitconvert)
    t_inv: Callable | None = None
    inverse: bool = False  # +inv on this step
    omit_fwd: bool = False
    omit_inv: bool = False
    # +geoc: angular edges carry GEOCENTRIC latitude; converted to
    # geographic in fwd_prepare / back in inv_finalize
    # (fwd.cpp:80-82 pj_geocentric_latitude)
    geoc: bool = False
    # CLASSIC input scaling 1/a override: the reference computes P->ra
    # from the USER ellipsoid before a setup may force another a (e.g.
    # krovak forces Bessel, krovak.cpp:287, but ell_set.cpp:618's ra is
    # never recomputed — fwd scales by Bessel a, inv divides by user a)
    ra_in: float | None = None

    # ---- generic prepare/finalize (fwd.cpp:40-174, inv.cpp:39-141) ----

    def _prepare_angular(self, x, y, err):
        bad = (np.abs(y) - HALFPI > PJ_EPS_LAT) | (x > 10) | (x < -10) | ~np.isfinite(x) | ~np.isfinite(y)
        err |= bad
        y = np.clip(y, -HALFPI, HALFPI)
        if self.geoc:
            y = np.arctan2(np.sin(y), (1.0 - self.ell.es) * np.cos(y))
        if not self.over:
            x = adjlon(x)
        x = (x - self.from_greenwich) - self.lam0
        if not self.over:
            x = adjlon(x)
        return x, y, err

    def _finalize_out(self, x, y, z, units):
        if units == CLASSIC:
            x = x * self.ell.a
            y = y * self.ell.a
            units = PROJECTED
        if units == PROJECTED:
            x = self.fr_meter * (x + self.x0)
            y = self.fr_meter * (y + self.y0)
            z = self.vfr_meter * (z + self.z0)
        elif units == CARTESIAN:
            x = x * self.fr_meter
            y = y * self.fr_meter
            z = z * self.fr_meter
        return x, y, z

    def _prepare_in(self, x, y, z, units):
        if units in (PROJECTED, CLASSIC):
            x = self.to_meter * x - self.x0
            y = self.to_meter * y - self.y0
            z = self.vto_meter * z - self.z0
            if units == CLASSIC:
                ra = self.ra_in if self.ra_in is not None else self.ell.ra
                x = x * ra
                y = y * ra
        elif units == CARTESIAN:
            x = x * self.to_meter
            y = y * self.to_meter
            z = z * self.to_meter
        return x, y, z

    def apply(self, x, y, z, t, forward: bool = True):
        """Apply with full prepare/finalize. Arrays in, arrays out; NaN
        marks per-point failure. ``forward`` already accounts for +inv."""
        x = np.asarray(x, dtype=np.float64).copy()
        y = np.asarray(y, dtype=np.float64).copy()
        z = np.asarray(z, dtype=np.float64).copy()
        t = np.asarray(t, dtype=np.float64)
        err = np.zeros(x.shape, dtype=bool)
        if forward:
            if self.left == RADIANS:
                x, y, err = self._prepare_angular(x, y, err)
            elif self.left == CARTESIAN:
                x, y, z = self._prepare_in(x, y, z, self.left)
            res = self.fwd_k(x, y, z, t)
            if len(res) == 4:
                x, y, z, t = res
            else:
                x, y, z = res
            if self.t_fwd is not None:
                t = self.t_fwd(t)
            x, y, z = self._finalize_out(x, y, z, self.right)
            if self.right == RADIANS:
                z = self.vfr_meter * (z + self.z0)
        else:
            x, y, z = self._prepare_in(x, y, z, self.right)
            if self.right == RADIANS:
                z = self.vto_meter * z - self.z0
            if self.t_inv is not None:
                t = self.t_inv(t)
            res = self.inv_k(x, y, z, t)
            if len(res) == 4:
                x, y, z, t = res
            else:
                x, y, z = res
            if self.left == RADIANS:
                x = x + self.from_greenwich + self.lam0
                if not self.over:
                    x = adjlon(x)
                if self.geoc:
                    y = np.arctan2((1.0 - self.ell.es) * np.sin(y),
                                   np.cos(y))
            elif self.left == CARTESIAN:
                x = x * self.fr_meter
                y = y * self.fr_meter
                z = z * self.fr_meter
        bad = err | np.isnan(x) | np.isnan(y)
        if bad.any():
            x = np.where(bad, np.nan, x)
            y = np.where(bad, np.nan, y)
            z = np.where(bad, np.nan, z)
        return x, y, z, t


def _ratio(v) -> float:
    """float with the pj_param ratio syntax ('2.0/0.2')."""
    s = str(v)
    if "/" in s:
        num, den = s.split("/", 1)
        den_f = float(den)
        if den_f == 0.0:
            raise ValueError(f"zero denominator in ratio {s!r}")
        return float(num) / den_f
    return float(v)


def compile_operation(params: dict) -> Operation:
    """Instantiate one +proj= step; the analogue of pj_init_ctx
    (src/init.cpp:434-714) + the projection constructor, which here is
    the ``OPERATIONS`` entry for the id (PROJ's pj_list.h)."""
    proj_id = params.get("proj")
    if proj_id is None:
        raise ValueError("missing +proj")
    if proj_id == "pipeline":
        raise ValueError("nested pipeline")

    ell = Ellipsoid.from_params(params)
    lam0 = float(params.get("lon_0", 0.0)) * DEG_TO_RAD
    phi0 = float(params.get("lat_0", 0.0)) * DEG_TO_RAD
    x0 = float(params.get("x_0", 0.0))
    y0 = float(params.get("y_0", 0.0))
    k0 = float(params.get("k_0", params.get("k", 1.0)))
    if k0 <= 0:
        raise ValueError("k <= 0")
    units = params.get("units")
    to_meter = (_ratio(params["to_meter"]) if "to_meter" in params
                else (UNITS[units] if units else 1.0))
    vunits = params.get("vunits")
    # vertical units default to the horizontal ones (init.cpp vto_meter
    # fallback); fwd scales z by 1/vto on the RADIANS-output edge only
    vto_meter = (_ratio(params["vto_meter"]) if "vto_meter" in params
                 else (UNITS[vunits] if vunits else to_meter))
    pm = params.get("pm")
    if pm is None:
        from_greenwich = 0.0
    elif pm in PRIME_MERIDIANS:
        from_greenwich = PRIME_MERIDIANS[pm] * DEG_TO_RAD
    else:
        from_greenwich = float(pm) * DEG_TO_RAD

    op = Operation(
        proj_id=proj_id, params=params, ell=ell, lam0=lam0, phi0=phi0,
        x0=x0, y0=y0, k0=k0, to_meter=to_meter, fr_meter=1.0 / to_meter,
        vto_meter=vto_meter, vfr_meter=1.0 / vto_meter,
        geoc="geoc" in params and ell.es != 0.0,
        over="over" in params, from_greenwich=from_greenwich,
        inverse="inv" in params,
        omit_fwd="omit_fwd" in params, omit_inv="omit_inv" in params,
    )
    build = OPERATIONS.get(proj_id)
    if build is None:
        raise NotImplementedError(f"+proj={proj_id} not implemented")
    build(op)
    if op.inv_k is None and op.fwd_k is not None:
        # numeric Newton inverse on the forward kernel
        # (src/generic_inverse.cpp:33+)
        from .kernels.generic_inverse import generic_inverse

        fwdk = op.fwd_k

        def _num_inv(x, y, z, t, _f=fwdk):
            def f2(la, ph):
                xx, yy, _ = _f(la, ph, np.zeros_like(la),
                               np.full_like(la, np.inf))
                return xx, yy

            # seed away from the poles: the numeric Jacobian is
            # singular at |phi| = pi/2 (cos phi = 0)
            seed = min(max(op.phi0 or 1e-7, -1.4), 1.4)
            la, ph = generic_inverse(f2, x, y, phi0=seed)
            return la, ph, z

        op.inv_k = _num_inv
    return op


# --- operation constructors ----------------------------------------------
# One per OPERATIONS entry: each takes the Operation holding the parsed
# common parameters and installs the kernels, constants and unit tags.
# Long-tail kernel modules are imported inside the constructor, so a worker
# only loads the kernels of the operations it compiles.


def _lift(f, *args):
    """A 2D kernel ``f(a, b, *args) -> (a', b')`` as a 4-channel kernel:
    z passes through, t is unused."""
    return lambda x, y, z, t: (*f(x, y, *args), z)


def _planar(op, fwd, inv, *args):
    """Install a 2D kernel pair sharing the trailing ``args``; with
    ``inv=None`` compile_operation falls back to the generic inverse."""
    op.fwd_k = _lift(fwd, *args)
    op.inv_k = None if inv is None else _lift(inv, *args)


def _pair(module: str, name: str, *args, inverse: bool = True):
    """Constructor for ``kernels.<module>.<name>_fwd`` (and ``_inv``) with
    fixed trailing ``args``."""
    def build(op):
        K = importlib.import_module(f"{__package__}.kernels.{module}")
        _planar(op, getattr(K, f"{name}_fwd"),
                getattr(K, f"{name}_inv") if inverse else None, *args)

    return build


def _angular_identity(x, y, z, t):
    return x, y, z


def _merc(op):
    C = op.consts = k_merc.setup(op.params, op.ell, op.k0, op.proj_id)
    _planar(op, k_merc.fwd, k_merc.inv, C)


def _tmerc(op):
    C = op.consts = k_tmerc.setup(op.params, op.ell, op.k0, op.phi0,
                                  op.proj_id)
    _planar(op, k_tmerc.fwd, k_tmerc.inv, C)


def _utm(op):
    ov = k_tmerc.utm_params(op.params, op.ell)
    op.lam0, op.phi0 = ov["lam0"], ov["phi0"]
    op.x0, op.y0, op.k0 = ov["x0"], ov["y0"], ov["k0"]
    _tmerc(op)


def _lcc(op):
    C, op.phi0 = k_lcc.setup(op.params, op.ell, op.k0, op.phi0)
    op.consts = C
    _planar(op, k_lcc.fwd, k_lcc.inv, C)


def _cart(op):
    C = op.consts = k_cart.setup(op.params, op.ell)
    op.left, op.right = RADIANS, CARTESIAN
    op.fwd_k = lambda x, y, z, t: k_cart.fwd(x, y, z, C)
    op.inv_k = lambda x, y, z, t: k_cart.inv(x, y, z, C)


def _helmert(op):
    params = op.params
    if "theta" in params:
        # 4-parameter 2D helmert (helmert.cpp:360-435 fourparam
        # path): theta arc-seconds, s is a PLAIN scale multiplier
        # (default 1), planar rotation, z untouched
        theta = float(params["theta"]) * DEG_TO_RAD / 3600.0
        sc = float(params.get("s", 1.0))
        if sc == 0.0 or sc <= -1.0e6:
            raise ValueError("helmert: invalid value for s.")
        hx = float(params.get("x", 0.0))
        hy = float(params.get("y", 0.0))
        cr, sr = math.cos(theta) * sc, math.sin(theta) * sc
        cri, sri = math.cos(theta) / sc, math.sin(theta) / sc

        def _h2_fwd(x, y, z, t):
            return cr * x + sr * y + hx, -sr * x + cr * y + hy, z

        def _h2_inv(x, y, z, t):
            dx, dy = x - hx, y - hy
            return cri * dx - sri * dy, sri * dx + cri * dy, z

        op.left, op.right = WHATEVER, WHATEVER
        op.fwd_k = _h2_fwd
        op.inv_k = _h2_inv
    else:
        C = op.consts = k_helmert.setup(params)
        op.left, op.right = CARTESIAN, CARTESIAN
        op.fwd_k = lambda x, y, z, t: k_helmert.fwd(x, y, z, C, t)
        op.inv_k = lambda x, y, z, t: k_helmert.inv(x, y, z, C, t)


def _latlong(op):
    op.left, op.right = RADIANS, RADIANS
    op.lam0 = 0.0  # identity marker op; src/projections/latlong.cpp
    op.fwd_k = _angular_identity
    op.inv_k = _angular_identity


def _noop(op):
    op.left, op.right = WHATEVER, WHATEVER
    op.fwd_k = _angular_identity
    op.inv_k = _angular_identity


def _axisswap(op):
    params = op.params
    idx = []
    sign = []
    if "axis" in params and "order" in params:
        raise ValueError(
            "axisswap: 'order' and 'axis' are mutually exclusive")
    if "axis" in params:
        # classic PROJ.4 enu specification (axisswap.cpp:218-258):
        # out[i] = in[channel(axis[i])] * direction(axis[i])
        spec = str(params["axis"])
        if len(spec) != 3 or any(c not in "ewnsud" for c in spec):
            raise ValueError(f"axisswap: invalid +axis={spec}")
        chan = {"e": 0, "w": 0, "n": 1, "s": 1, "u": 2, "d": 2}
        neg_c = {"w", "s", "d"}
        for c in spec:
            idx.append(chan[c])
            sign.append(-1.0 if c in neg_c else 1.0)
        if sorted(idx) != [0, 1, 2]:
            raise ValueError(f"axisswap: axis '{spec}' repeats an axis")
    else:
        order = [o.strip()
                 for o in str(params.get("order", "1,2,3,4")).split(",")]
        for o in order:
            neg = o.startswith("-")
            idx.append(int(o.lstrip("-")) - 1)
            sign.append(-1.0 if neg else 1.0)
    # pad to 4 channels with identity
    for i in range(len(idx), 4):
        idx.append(i)
        sign.append(1.0)

    # a spec touching the time channel returns 4 values; the
    # apply() wrapper accepts either arity (axisswap.cpp is 4D)
    four = any(i == 3 for i in idx[:3]) or idx[3] != 3 \
        or sign[3] != 1.0

    def _swap(x, y, z, t, idx=tuple(idx), sign=tuple(sign),
              four=four):
        chans = [x, y, z, t]
        out = [sign[i] * chans[idx[i]] for i in range(4 if four
                                                      else 3)]
        return tuple(out)

    op.left, op.right = WHATEVER, WHATEVER
    op.fwd_k = _swap

    inv_idx = [0, 0, 0, 0]
    inv_sign = [1.0, 1.0, 1.0, 1.0]
    for i in range(4):
        inv_idx[idx[i]] = i
        inv_sign[idx[i]] = sign[i]

    def _unswap(x, y, z, t, idx=tuple(inv_idx),
                sign=tuple(inv_sign), four=four):
        chans = [x, y, z, t]
        out = [sign[i] * chans[idx[i]] for i in range(4 if four
                                                      else 3)]
        return tuple(out)

    op.inv_k = _unswap


def _unitconvert(op):
    params = op.params

    def factor(name, angular_ok=True):
        if name in UNITS:
            return UNITS[name], "linear"
        if angular_ok and name in ANGULAR_UNITS:
            return ANGULAR_UNITS[name], "angular"
        try:
            # numeric ratio units (unitconvert.cpp strtod fallback)
            return float(name), "linear"
        except ValueError:
            raise ValueError(f"unknown unit {name}") from None

    xy_in = params.get("xy_in")
    xy_out = params.get("xy_out")
    z_in = params.get("z_in")
    z_out = params.get("z_out")
    fxy = 1.0
    if xy_in or xy_out:
        fi, ci = factor(xy_in) if xy_in else (1.0, None)
        fo, co = factor(xy_out) if xy_out else (1.0, None)
        if ci and co and ci != co:
            raise ValueError(
                f"unitconvert: xy_in={xy_in} and xy_out={xy_out} "
                "mix linear and angular units (unitconvert.cpp "
                "rejects cross-class conversion)")
        fxy = fi / fo
    fz = 1.0
    if z_in or z_out:
        fi, ci = factor(z_in) if z_in else (1.0, None)
        fo, co = factor(z_out) if z_out else (1.0, None)
        if ci and co and ci != co:
            raise ValueError(
                f"unitconvert: z_in={z_in} and z_out={z_out} "
                "mix linear and angular units")
        fz = fi / fo

    def _uc_fwd(x, y, z, t, fxy=fxy, fz=fz):
        return x * fxy, y * fxy, z * fz

    def _uc_inv(x, y, z, t, fxy=fxy, fz=fz):
        return x / fxy, y / fxy, z / fz

    # unit tags per the reference (unitconvert.cpp:462-516):
    # angular xy units tag the edge RADIANS/DEGREES, else WHATEVER
    def _edge_tag(name):
        if name == "rad":
            return RADIANS
        if name in ANGULAR_UNITS:
            return DEGREES
        return WHATEVER

    op.left = _edge_tag(xy_in) if xy_in else WHATEVER
    op.right = _edge_tag(xy_out) if xy_out else WHATEVER
    op.fwd_k = _uc_fwd
    op.inv_k = _uc_inv
    op.consts = (fxy, fz)
    t_in = params.get("t_in")
    t_out = params.get("t_out")
    if t_in or t_out:
        # calendar conversions via the mjd pivot
        # (src/conversions/unitconvert.cpp:149-270, :438+)
        from .kernels import timeunits as TU

        fin = TU.TO_MJD[t_in] if t_in else (lambda v: v)
        fout = TU.FROM_MJD[t_out] if t_out else (lambda v: v)
        rin = TU.FROM_MJD[t_in] if t_in else (lambda v: v)
        rout = TU.TO_MJD[t_out] if t_out else (lambda v: v)
        op.t_fwd = lambda t: fout(fin(t))
        op.t_inv = lambda t: rin(rout(t))


def _affine(op):
    # 4x4 affine transform (src/transformations/affine.cpp:30+)
    def gp(key, default):
        return float(op.params.get(key, default))

    off = np.array([gp("xoff", 0.0), gp("yoff", 0.0), gp("zoff", 0.0)])
    S = np.array(
        [
            [gp("s11", 1.0), gp("s12", 0.0), gp("s13", 0.0)],
            [gp("s21", 0.0), gp("s22", 1.0), gp("s23", 0.0)],
            [gp("s31", 0.0), gp("s32", 0.0), gp("s33", 1.0)],
        ]
    )
    # the inverse matrix is computed LAZILY: a singular forward
    # matrix is legal as long as only the forward direction runs
    # (affine.cpp defers the error to the inverse call; gie's
    # omit_fwd/omit_inv fixtures rely on this)
    try:
        Sinv = np.linalg.inv(S)
    except np.linalg.LinAlgError:
        Sinv = None
    tscale = gp("tscale", 1.0)

    def _aff_fwd(x, y, z, t, S=S, off=off):
        return (
            off[0] + S[0, 0] * x + S[0, 1] * y + S[0, 2] * z,
            off[1] + S[1, 0] * x + S[1, 1] * y + S[1, 2] * z,
            off[2] + S[2, 0] * x + S[2, 1] * y + S[2, 2] * z,
        )

    def _aff_inv(x, y, z, t, S=Sinv, off=off, ts=tscale):
        if S is None or ts == 0.0:
            nan = np.full_like(np.asarray(x, dtype=np.float64),
                               np.nan)
            return nan, nan.copy(), nan.copy()
        dx, dy, dz = x - off[0], y - off[1], z - off[2]
        return (
            S[0, 0] * dx + S[0, 1] * dy + S[0, 2] * dz,
            S[1, 0] * dx + S[1, 1] * dy + S[1, 2] * dz,
            S[2, 0] * dx + S[2, 1] * dy + S[2, 2] * dz,
        )

    op.left, op.right = WHATEVER, WHATEVER
    op.fwd_k = _aff_fwd
    op.inv_k = _aff_inv


def _push_pop(op):
    # stack steps; Transform.transform moves the channels
    op.left, op.right = WHATEVER, WHATEVER
    op.consts = tuple(i for i in (1, 2, 3, 4) if f"v_{i}" in op.params)


def _horner(op):
    from .kernels import horner as k_horner

    C = op.consts = k_horner.setup(op.params)
    op.left, op.right = WHATEVER, WHATEVER
    _planar(op, k_horner.fwd, k_horner.inv, C)


def _topocentric(op):
    # geocentric <-> topocentric rotation about an origin
    # (src/conversions/topocentric.cpp:22-46; IOGP GN 7-2)
    params = op.params
    has_xyz = any(k in params for k in ("X_0", "Y_0", "Z_0"))
    has_llh = any(k in params for k in ("lon_0", "lat_0", "h_0"))
    if has_xyz and has_llh:
        raise ValueError("topocentric: (X_0,Y_0,Z_0) and "
                         "(lon_0,lat_0,h_0) are mutually exclusive")
    cartC = k_cart.setup({}, op.ell)
    if has_xyz:
        if not all(k in params for k in ("X_0", "Y_0", "Z_0")):
            raise ValueError("topocentric: missing Y_0 and/or Z_0")
        X0 = float(params["X_0"])
        Y0 = float(params["Y_0"])
        Z0 = float(params["Z_0"])
        la, ph, _ = k_cart.inv(np.array([X0]), np.array([Y0]),
                               np.array([Z0]), cartC)
        lam_o, phi_o = float(la[0]), float(ph[0])
    else:
        if "lon_0" not in params:
            raise ValueError("topocentric: missing X_0 or lon_0")
        if "lat_0" not in params:
            raise ValueError("topocentric: missing lat_0")
        lam_o, phi_o = op.lam0, op.phi0
        h0 = float(params.get("h_0", 0.0))
        X, Y, Z = k_cart.fwd(np.array([lam_o]), np.array([phi_o]),
                             np.array([h0]), cartC)
        X0, Y0, Z0 = float(X[0]), float(Y[0]), float(Z[0])
    sp, cp = math.sin(phi_o), math.cos(phi_o)
    sl, cl = math.sin(lam_o), math.cos(lam_o)
    op.lam0 = 0.0  # origin handled inside the kernel
    op.left, op.right = CARTESIAN, CARTESIAN

    def _topo_fwd(x, y, z, t):
        dX, dY, dZ = x - X0, y - Y0, z - Z0
        return (-dX * sl + dY * cl,
                -dX * sp * cl - dY * sp * sl + dZ * cp,
                dX * cp * cl + dY * cp * sl + dZ * sp)

    def _topo_inv(x, y, z, t):
        return (X0 - x * sl - y * sp * cl + z * cp * cl,
                Y0 + x * cl - y * sp * sl + z * cp * sl,
                Z0 + y * cp + z * sp)

    op.fwd_k = _topo_fwd
    op.inv_k = _topo_inv


def _molobadekas(op):
    # Molodensky-Badekas: helmert about a reference point
    # (helmert.cpp:699-740; out = s*R*(v - refp) + T + refp)
    params = op.params
    C = op.consts = k_helmert.setup(params)
    refp = np.array([float(params.get("px", 0.0)),
                     float(params.get("py", 0.0)),
                     float(params.get("pz", 0.0))])
    op.left, op.right = CARTESIAN, CARTESIAN

    def _mb_fwd(x, y, z, t, C=C, refp=refp):
        X, Y, Z = k_helmert.fwd(x - refp[0], y - refp[1], z - refp[2],
                                C, t)
        return X + refp[0], Y + refp[1], Z + refp[2]

    def _mb_inv(x, y, z, t, C=C, refp=refp):
        X, Y, Z = k_helmert.inv(x - refp[0], y - refp[1], z - refp[2],
                                C, t)
        return X + refp[0], Y + refp[1], Z + refp[2]

    op.fwd_k = _mb_fwd
    op.inv_k = _mb_inv


def _geogoffset(op):
    # arc-second geographic offsets (transformations/affine.cpp
    # geogoffset entry)
    arc = DEG_TO_RAD / 3600.0
    dlon = float(op.params.get("dlon", 0.0)) * arc
    dlat = float(op.params.get("dlat", 0.0)) * arc
    dh = float(op.params.get("dh", 0.0))
    op.left, op.right = RADIANS, RADIANS
    op.fwd_k = lambda x, y, z, t: (x + dlon, y + dlat, z + dh)
    op.inv_k = lambda x, y, z, t: (x - dlon, y - dlat, z - dh)


def _vertoffset(op):
    # EPSG 1046 "Vertical Offset and Slope"
    # (transformations/vertoffset.cpp)
    arc = DEG_TO_RAD / 3600.0
    slope_lon = float(op.params.get("slope_lon", 0.0)) * arc
    slope_lat = float(op.params.get("slope_lat", 0.0)) * arc
    zoff = float(op.params.get("dh", 0.0))
    s0 = math.sin(op.phi0)
    omess = 1.0 - op.ell.es * s0 * s0
    rho0 = op.ell.a * (1.0 - op.ell.es) / (omess * math.sqrt(omess))
    nu0 = op.ell.a / math.sqrt(omess)
    p0, l0 = op.phi0, op.lam0
    op.left, op.right = RADIANS, RADIANS

    def _voff(y, x):
        return (zoff + slope_lat * rho0 * (y - p0)
                + slope_lon * nu0 * x * np.cos(y))

    # fwd output re-adds lam0 / inv pre-subtracts it: only z moves
    # (vertoffset.cpp:49-76)
    op.fwd_k = lambda x, y, z, t: (x + l0, y, z + _voff(y, x))
    op.inv_k = lambda x, y, z, t: (x - l0, y, z - _voff(y, x - l0))


def _set(op):
    # conversions/set.cpp: pin selected channels to fixed values
    v = {i: float(op.params[f"v_{i}"]) for i in (1, 2, 3, 4)
         if f"v_{i}" in op.params}
    op.left, op.right = WHATEVER, WHATEVER

    def _pin(x, y, z, t, v=v):
        if 1 in v:
            x = np.full_like(x, v[1])
        if 2 in v:
            y = np.full_like(y, v[2])
        if 3 in v:
            z = np.full_like(z, v[3])
        return x, y, z

    op.fwd_k = _pin
    op.inv_k = _pin


def _molodensky(op):
    from .kernels import molodensky as k_molo

    C = op.consts = k_molo.setup(op.params, op.ell)
    op.left, op.right = RADIANS, RADIANS
    op.fwd_k = lambda x, y, z, t: k_molo.fwd(x, y, z, C)
    op.inv_k = lambda x, y, z, t: k_molo.inv(x, y, z, C)


def _geoc(op):
    from .kernels.molodensky import geoc_fwd, geoc_inv

    one_es = op.ell.one_es
    op.left, op.right = RADIANS, RADIANS
    op.fwd_k = lambda x, y, z, t: (x, geoc_fwd(y, one_es), z)
    op.inv_k = lambda x, y, z, t: (x, geoc_inv(y, one_es), z)


def _gridshift(op):
    # unified grid shift (transformations/gridshift.cpp): an
    # ordered +grids list of components, each carrying horizontal
    # (radians) and/or ellipsoidal-height (meters) corrections,
    # bilinear or biquadratic (+interpolation= overrides the
    # file-declared default, gridshift.cpp:344-382)
    from .kernels import gridshift as k_grid

    params = op.params
    name = params.get("grids")
    if not name:
        raise ValueError("gridshift: missing +grids")
    interp = params.get("interpolation")
    if interp is not None and interp not in ("bilinear",
                                             "biquadratic"):
        raise ValueError(
            f"gridshift: unsupported +interpolation={interp}")
    entries = []
    for nm in [n.strip() for n in str(name).split(",") if n.strip()]:
        optional = nm.startswith("@")
        key = nm[1:] if optional else nm
        if key == "null":
            entries.append(k_grid.UnifiedGrid(
                hgrid=k_grid.null_grid(), vgrid=None))
            continue
        g = GRID_REGISTRY.get(key)
        if g is None:
            if optional:
                continue
            raise FileNotFoundError(
                f"gridshift: grid '{key}' not in GRID_REGISTRY")
        if isinstance(g, k_grid.UnifiedGrid):
            entries.append(g)
        elif isinstance(g, tuple):
            entries.extend(g)
        elif isinstance(g, k_grid.GridSet):
            # one multi-subgrid file = ONE ordered-list component;
            # its finest-subgrid selection stays internal
            entries.append(k_grid.UnifiedGrid(hgrid=g, vgrid=None))
        elif g.values.ndim == 3:
            entries.append(k_grid.UnifiedGrid(hgrid=g, vgrid=None))
        else:
            entries.append(k_grid.UnifiedGrid(hgrid=None, vgrid=g))
    if not entries:
        raise FileNotFoundError(
            f"gridshift: no grid of '{name}' in GRID_REGISTRY")
    no_z = "no_z_transform" in params

    def _entry_projected(e):
        for g in (e.hgrid, e.vgrid):
            if isinstance(g, k_grid.Grid) and g.projected:
                return True
            if isinstance(g, k_grid.GridSet) and any(
                    getattr(m, "projected", False) for m in g.grids):
                return True
        return False

    if any(_entry_projected(e) for e in entries):
        # projected-CRS grids: coordinates pass through in metres
        # (no angular wrap/clip on the edges)
        op.left, op.right = WHATEVER, WHATEVER
    else:
        op.left, op.right = RADIANS, RADIANS
    op.fwd_k = lambda x, y, z, t: k_grid.unified_fwd(
        entries, x, y, z, no_z=no_z, interp=interp)
    op.inv_k = lambda x, y, z, t: k_grid.unified_inv(
        entries, x, y, z, no_z=no_z, interp=interp)


def _deformation(op):
    # kinematic velocity-grid shift (transformations/deformation.cpp):
    # cartesian in/out, ENU velocity grid in mm/yr
    from .kernels import gridshift as k_grid

    params = op.params
    name = params.get("grids")
    xy_name = params.get("xy_grids")
    z_name = params.get("z_grids")
    if not name and not (xy_name and z_name):
        raise ValueError("deformation: either +grids or (+xy_grids "
                         "and +z_grids) should be specified "
                         "(deformation.cpp:360-366)")
    grid = hgrid = vgrid = None
    if name:
        grid = GRID_REGISTRY.get(str(name))
        if isinstance(grid, tuple):
            grid = next((g for g in grid
                         if getattr(g, "values", None) is not None
                         and g.values.ndim == 3
                         and g.values.shape[-1] >= 3), None)
        if grid is None:
            raise FileNotFoundError(
                f"deformation: grid '{name}' not in GRID_REGISTRY")
    else:
        def _res(nm, what):
            g = GRID_REGISTRY.get(str(nm))
            if g is None:
                raise FileNotFoundError(
                    f"deformation: {what} '{nm}' not in GRID_REGISTRY")
            return g

        hgrid = _res(xy_name, "xy_grids")
        vgrid = _res(z_name, "z_grids")
    dt_param = params.get("dt")
    t_epoch = float(params.get("t_epoch", 0.0))
    if dt_param is None and "t_epoch" not in params:
        raise ValueError("deformation: +dt or +t_epoch is required")
    dt_fixed = float(dt_param) if dt_param is not None else None
    cartC = k_cart.setup({}, op.ell)
    op.left, op.right = CARTESIAN, CARTESIAN

    def _shift(X, Y, Z):
        la, ph, _ = k_cart.inv(X, Y, Z, cartC)
        if grid is not None:
            d = k_grid._bilinear(grid, la, ph)
            ok = k_grid.in_grid(grid, la, ph)
            ve = np.where(ok, d[..., 0], np.nan) / 1000.0
            vn = np.where(ok, d[..., 1], np.nan) / 1000.0
            vu = np.where(ok, d[..., 2], np.nan) / 1000.0
        else:
            # legacy +xy_grids/+z_grids: the horizontal velocities
            # come out of pj_hgrid_value as RADIAN shifts and the
            # union alias makes them mm/yr verbatim
            # (deformation.cpp:170-182) — a documented quirk kept
            # bit-faithfully
            dl, dp, okh = k_grid.hgrid_sample(hgrid, la, ph)
            u, okv = k_grid.vgrid_sample(vgrid, la, ph)
            ok = okh & okv
            ve = np.where(ok, dl, np.nan) / 1000.0
            vn = np.where(ok, dp, np.nan) / 1000.0
            vu = np.where(ok, u, np.nan) / 1000.0
        sp, cp = np.sin(ph), np.cos(ph)
        sl, cl = np.sin(la), np.cos(la)
        return (-sp * cl * vn - sl * ve + cp * cl * vu,
                -sp * sl * vn + cl * ve + cp * sl * vu,
                cp * vn + sp * vu)

    def _dt_of(t):
        if dt_fixed is not None:
            return dt_fixed
        t = np.asarray(t, dtype=np.float64)
        # no observation time with +t_epoch -> missing-time error
        # (deformation.cpp PROJ_ERR_COORD_TRANSFM_MISSING_TIME)
        return np.where(np.isfinite(t), t - t_epoch, np.nan)

    def _def_fwd(x, y, z, t):
        dt = _dt_of(t)
        dx, dy, dz = _shift(x, y, z)
        return x + dt * dx, y + dt * dy, z + dt * dz

    def _def_inv(x, y, z, t, max_iter=10, tol=1e-8):
        dt = _dt_of(t)
        dx, dy, dz = _shift(x, y, z)
        z0 = dz
        ox = x - dt * dx
        oy = y - dt * dy
        oz = z + dt * dz
        for _ in range(max_iter):
            dx, dy, dz = _shift(ox, oy, oz)
            fx = ox + dt * dx - x
            fy = oy + dt * dy - y
            fz = oz - dt * dz - z
            ox = ox - fx
            oy = oy - fy
            oz = oz - fz
            if np.all(np.isnan(fx) | (np.hypot(fx, fy) <= tol)):
                break
        oz = z - dt * z0
        return ox, oy, oz

    op.fwd_k = _def_fwd
    op.inv_k = _def_inv


def _defmodel(op):
    # JSON deformation-model operation
    # (transformations/defmodel.cpp:389-450): +model= names a JSON
    # master file (registered in DEFMODEL_REGISTRY or a filesystem
    # path); component grids come from GRID_REGISTRY as
    # kernels.defmodel.DefGridSet keyed by spatial_model.filename.
    from .kernels import defmodel as k_dm

    model_name = op.params.get("model")
    if not model_name:
        raise ValueError("defmodel: +model= should be specified")
    text = DEFMODEL_REGISTRY.get(str(model_name))
    if text is None:
        import os
        if os.path.isfile(str(model_name)):
            with open(str(model_name)) as f:
                text = f.read()
        else:
            raise FileNotFoundError(
                f"defmodel: cannot open {model_name}")
    mf = k_dm.MasterFile.parse(text)
    grids = {}
    for comp in mf.components:
        gset = GRID_REGISTRY.get(comp.filename)
        if not isinstance(gset, k_dm.DefGridSet):
            raise FileNotFoundError(
                f"defmodel: cannot open {comp.filename}")
        grids[comp.filename] = gset
    # the definition CRS decides the position frame: geographic
    # models run on the radian edges, projected models take metres
    # verbatim (defmodel_impl.hpp isGeographicCRS check)
    is_geo = True
    try:
        from .crs import projinfo as _projinfo

        is_geo = _projinfo(mf.definition_crs)["kind"] != "projected"
    except Exception:
        # unknown authority code: fall back to the extent
        # magnitude (bbox degrees vs metres)
        bb = mf.extent.bbox if hasattr(mf.extent, "bbox") else None
        if bb and max(abs(v) for v in bb) > 360.0:
            is_geo = False
    ev = k_dm.Evaluator(mf, grids, op.ell.a,
                        op.ell.a * float(np.sqrt(1.0 - op.ell.es)),
                        is_geographic=is_geo)
    op.consts = ev
    if is_geo:
        op.left, op.right = RADIANS, RADIANS
    else:
        op.left, op.right = WHATEVER, WHATEVER
    op.fwd_k = lambda x, y, z, t: ev.forward(x, y, z, t)
    op.inv_k = lambda x, y, z, t: ev.inverse(x, y, z, t)


def _tinshift(op):
    # triangulation-based shift (transformations/tinshift.cpp);
    # the TIN comes from GRID_REGISTRY as a kernels.gridshift.Tin
    from .kernels import gridshift as k_grid

    name = op.params.get("file", op.params.get("grids"))
    if not name:
        raise ValueError("tinshift: missing +file")
    tin = GRID_REGISTRY.get(str(name))
    if tin is None:
        raise FileNotFoundError(
            f"tinshift: TIN '{name}' not in GRID_REGISTRY")
    op.left, op.right = WHATEVER, WHATEVER
    op.fwd_k = lambda x, y, z, t: k_grid.tin_fwd(tin, x, y, z)
    op.inv_k = lambda x, y, z, t: k_grid.tin_inv(tin, x, y, z)


def _xyzgridshift(op):
    # 3D cartesian grid shift (transformations/xyzgridshift.cpp):
    # geocentric in/out; the (dx,dy,dz) grid is indexed by the
    # geodetic coordinates of the grid_ref CRS
    from .kernels import gridshift as k_grid

    params = op.params
    name = params.get("grids")
    if not name:
        raise ValueError("xyzgridshift: missing +grids")
    grid = GRID_REGISTRY.get(str(name))
    if grid is None:
        raise FileNotFoundError(
            f"xyzgridshift: grid '{name}' not in GRID_REGISTRY")
    if isinstance(grid, tuple):
        grid = next((g for g in grid
                     if getattr(g, "geocentric", None) is not None),
                    grid[0])
    if isinstance(grid, k_grid.UnifiedGrid):
        if grid.geocentric is None:
            raise ValueError(
                f"xyzgridshift: grid '{name}' has no geocentric "
                "translation component")
        grid = grid.geocentric
    mult = float(params.get("multiplier", 1.0))
    grid_ref_is_input = str(params.get("grid_ref",
                                       "input_crs")) == "input_crs"
    cartC = k_cart.setup({}, op.ell)
    op.left, op.right = CARTESIAN, CARTESIAN

    def _gvals(X, Y, Z):
        la, ph, _ = k_cart.inv(X, Y, Z, cartC)
        d = k_grid._bilinear(grid, la, ph)
        ok = k_grid.in_grid(grid, la, ph)
        return (np.where(ok, d[..., 0] * mult, np.nan),
                np.where(ok, d[..., 1] * mult, np.nan),
                np.where(ok, d[..., 2] * mult, np.nan))

    def _direct(X, Y, Z, factor):
        dx, dy, dz = _gvals(X, Y, Z)
        return X + factor * dx, Y + factor * dy, Z + factor * dz

    def _iterative(X, Y, Z, factor, max_iter=10):
        px, py, pz = X.copy(), Y.copy(), Z.copy()
        for _ in range(max_iter):
            dx, dy, dz = _gvals(px, py, pz)
            dx, dy, dz = factor * dx, factor * dy, factor * dz
            err = ((px - X - dx) ** 2 + (py - Y - dy) ** 2
                   + (pz - Z - dz) ** 2)
            px = X + dx
            py = Y + dy
            pz = Z + dz
            if np.all(np.isnan(err) | (err < 1e-10)):
                break
        return px, py, pz

    if grid_ref_is_input:
        op.fwd_k = lambda x, y, z, t: _direct(x, y, z, 1.0)
        op.inv_k = lambda x, y, z, t: _iterative(x, y, z, -1.0)
    else:
        op.fwd_k = lambda x, y, z, t: _iterative(x, y, z, 1.0)
        op.inv_k = lambda x, y, z, t: _direct(x, y, z, -1.0)


def _hv_gridshift(op):
    # grid-based datum shift; grids resolve through GRID_REGISTRY
    # (the Spark deployment broadcasts the arrays; the reference
    # lazily loads NTv2/GTX files — src/grids.cpp:200-310)
    from .kernels import gridshift as k_grid

    proj_id, params = op.proj_id, op.params
    vertical = proj_id == "vgridshift"
    name = params.get("grids")
    if not name:
        raise ValueError(f"{proj_id}: missing +grids")
    # comma-separated ordered list with optional '@' prefix, the
    # +nadgrids syntax (first listed grid containing the point
    # wins; '@'-prefixed grids may be absent without error)
    names = [n.strip() for n in str(name).split(",") if n.strip()]
    found = []
    for nm in names:
        optional = nm.startswith("@")
        key = nm[1:] if optional else nm
        if key == "null":
            # the reference's literal world-covering zero grid
            # (grids.cpp:1613-1621, :2659-2667)
            found.append(k_grid.null_grid(vertical=vertical))
            continue
        g = GRID_REGISTRY.get(key)
        if g is None:
            if optional:
                continue
            raise FileNotFoundError(
                f"{proj_id}: grid '{key}' not in GRID_REGISTRY")
        if isinstance(g, tuple):
            # multi-entry GeoTIFF: collect the matching components
            # in file order
            parts = [(e.vgrid if vertical else e.hgrid) for e in g]
            parts = [p for p in parts if p is not None]
            if not parts:
                raise ValueError(
                    f"{proj_id}: grid '{key}' has no matching "
                    "component")
            g = (parts[0] if len(parts) == 1
                 else k_grid.GridSet(grids=tuple(parts),
                                     policy="finest"))
        elif isinstance(g, k_grid.UnifiedGrid):
            # GeoTIFF-sourced component: take the matching part
            g = g.vgrid if vertical else g.hgrid
            if g is None:
                raise ValueError(
                    f"{proj_id}: grid '{key}' has no "
                    f"{'vertical' if vertical else 'horizontal'}"
                    " component")
        found.append(g)
    if not found:
        if all(n.strip().startswith("@") for n in names):
            # every grid optional and none present: zero shift
            # (the reference skips '@' grids it cannot open)
            found = [k_grid.null_grid(vertical=vertical)]
        else:
            raise FileNotFoundError(
                f"{proj_id}: no grid of '{name}' in GRID_REGISTRY")
    if len(found) == 1:
        grid = found[0]
    else:
        # ordered file list: first containing FILE wins; a
        # multi-subgrid member keeps its own finest-wins selection
        # (nested GridSet)
        grid = k_grid.GridSet(grids=tuple(found), policy="first")
    op.left, op.right = RADIANS, RADIANS
    if vertical:
        mult = float(params.get("multiplier", -1.0))
        op.fwd_k = lambda x, y, z, t: (
            x, y, k_grid.vgrid_apply(grid, x, y, z, True, mult))
        op.inv_k = lambda x, y, z, t: (
            x, y, k_grid.vgrid_apply(grid, x, y, z, False, mult))
    elif isinstance(grid, k_grid.GridSet):
        _planar(op, partial(k_grid.hgridset_fwd, grid),
                partial(k_grid.hgridset_inv, grid))
    else:
        _planar(op, partial(k_grid.hgrid_fwd, grid),
                partial(k_grid.hgrid_inv, grid))
    # +t_epoch/+t_final time bracket (vgridshift.cpp:107-130,
    # hgridshift twin): when both are set, the shift applies ONLY
    # to points with t < t_epoch (and t_final > t_epoch); others
    # pass through untouched.  t_final=now -> current decimal year.
    tf_raw = params.get("t_final")
    if str(tf_raw) == "now":
        import time as _time

        d = _time.localtime()
        t_final = 1900.0 + d.tm_year + d.tm_yday / 365.0
    else:
        t_final = float(tf_raw) if tf_raw is not None else 0.0
    t_epoch = float(params.get("t_epoch", 0.0))
    if t_final != 0.0 and t_epoch != 0.0:
        base_f, base_i = op.fwd_k, op.inv_k

        def _brk(fn):
            def wrapped(x, y, z, t, _fn=fn):
                xo, yo, zo = _fn(x, y, z, t)
                m = (t < t_epoch) & (t_final > t_epoch)
                return (np.where(m, xo, x), np.where(m, yo, y),
                        np.where(m, zo, z))
            return wrapped

        op.fwd_k = _brk(base_f)
        op.inv_k = _brk(base_i)


# --- long-tail projections (kernels/misc_proj.py; SURVEY.md §2.3) -------

def _eqc(op):
    from .kernels import misc_proj as M

    C = op.consts = M.eqc_setup(op.params, op.ell, op.k0, op.phi0)
    _planar(op, M.eqc_fwd, M.eqc_inv, C)


def _cea(op):
    from .kernels import misc_proj as M

    C = op.consts = M.cea_setup(op.params, op.ell, op.k0)
    _planar(op, M.cea_fwd, M.cea_inv, C)


def _aea(op):
    from .kernels import misc_proj as M

    params = op.params
    phi1 = float(params.get("lat_1", 29.5)) * DEG_TO_RAD
    phi2_ = float(params.get("lat_2", 45.5)) * DEG_TO_RAD
    if op.proj_id == "leac":
        # Lambert equal-area conic: lat_2 = +-90 (aea.cpp:165-175)
        phi2_ = -HALFPI if "south" in params else HALFPI
        phi1 = float(params.get("lat_1", 45.0)) * DEG_TO_RAD
    C = op.consts = M.aea_setup(params, op.ell, op.phi0, phi1, phi2_)
    _planar(op, M.aea_fwd, M.aea_inv, C)


def _laea(op):
    from .kernels import misc_proj as M

    C = op.consts = M.laea_setup(op.params, op.ell, op.phi0)
    _planar(op, M.laea_fwd, M.laea_inv, C)


def _stere(op):
    from .kernels import misc_proj as M

    if op.proj_id == "ups":
        op.x0 = float(op.params.get("x_0", 2000000.0))
        op.y0 = float(op.params.get("y_0", 2000000.0))
    C = op.consts = M.stere_setup(op.params, op.ell, op.k0, op.phi0,
                                  op.proj_id)
    op.phi0 = C.phi0
    # akm1 pre-folds k0 (stere.cpp); neutralize the generic k0 scaling
    _planar(op, M.stere_fwd, M.stere_inv, C)


def _sinu(op):
    from .kernels import misc_proj as M

    en = op.consts = M.sinu_setup(op.ell)
    _planar(op, M.sinu_fwd, M.sinu_inv, en, op.ell.es)


def _moll(op):
    from .kernels import misc_proj as M

    p = {"moll": HALFPI, "wag4": math.pi / 3.0}[op.proj_id]
    C = op.consts = M.moll_setup(p)
    _planar(op, M.moll_fwd, M.moll_inv, C)


def _aeqd(op):
    from .kernels import azimuthal as A

    C = op.consts = A.aeqd_setup(op.ell, op.phi0, op.lam0,
                                 guam="guam" in op.params)
    _planar(op, A.aeqd_fwd, A.aeqd_inv, C)


def _gnom(op):
    from .kernels import azimuthal as A

    C = op.consts = A.gnom_setup(op.ell, op.phi0)
    _planar(op, A.gnom_fwd, A.gnom_inv, C)


def _ortho(op):
    from .kernels import azimuthal as A

    alpha = math.radians(float(op.params.get("alpha", 0.0)))
    C = op.consts = A.ortho_setup(op.ell, op.phi0, k0=op.k0, alpha=alpha)
    _planar(op, A.ortho_fwd, A.ortho_inv, C)


def _eqearth(op):
    from .kernels import azimuthal as A

    C = op.consts = A.eqearth_setup(op.ell)
    _planar(op, A.eqearth_fwd, A.eqearth_inv, C)


def _sterea(op):
    from .kernels import natgrid as NG

    C = op.consts = NG.sterea_setup(op.ell, op.k0, op.phi0)
    _planar(op, NG.sterea_fwd, NG.sterea_inv, C)


def _krovak(op):
    from .kernels import natgrid as NG
    from .kernels.ellipsoid import Ellipsoid as _E

    params = op.params
    # Bessel is forced regardless of +ellps (krovak.cpp:287-289) — but
    # the framework's inverse 1/a was computed from the USER ellipsoid
    # before the override and is never refreshed (ell_set.cpp:618), so
    # classic inverse input keeps dividing by the user a
    op.ra_in = 1.0 / op.ell.a
    op.ell = _E.from_a_es(NG.KROVAK_A, NG.KROVAK_ES)
    if "lat_0" not in params:
        op.phi0 = 0.863937979737193  # 49d30'N (krovak.cpp:292-293)
    if "lon_0" not in params:
        # 42d30'E of Ferro relative to Greenwich (krovak.cpp:296-299)
        op.lam0 = 0.7417649320975901 - 0.308341501185665
    if "k" not in params and "k_0" not in params:
        op.k0 = 0.9999
    C = op.consts = NG.krovak_setup(params, op.phi0, op.k0, op.x0, op.y0,
                                    modified=op.proj_id == "mod_krovak")
    _planar(op, NG.krovak_fwd, NG.krovak_inv, C)


def _somerc(op):
    from .kernels import natgrid as NG

    C = op.consts = NG.somerc_setup(op.ell, op.k0, op.phi0)
    _planar(op, NG.somerc_fwd, NG.somerc_inv, C)


def _omerc(op):
    from .kernels import natgrid as NG

    C = op.consts = NG.omerc_setup(op.params, op.ell, op.k0, op.phi0)
    op.lam0 = C.lam0  # omerc derives its own lam0 (omerc.cpp:244,264)
    _planar(op, NG.omerc_fwd, NG.omerc_inv, C)


def _mod_ster(op):
    from .kernels import misc_proj as M
    from .kernels.ellipsoid import Ellipsoid as _E

    pid = op.proj_id
    if pid in ("mil_os", "lee_os"):
        zc, lam0, p0, a_fix, es_fix = M._MODSTER_TABLES[pid]
        op.ell = _E.from_a_es(op.ell.a, 0.0)
    else:
        variant = "" if pid == "gs48" else (
            "_e" if op.ell.es != 0.0 else "_s")
        zc, lam0, p0, a_fix, es_fix = M._MODSTER_TABLES[pid + variant]
        op.ell = _E.from_a_es(a_fix, es_fix)
    op.lam0 = lam0
    op.phi0 = p0
    C = op.consts = M.mod_ster_setup(zc, p0, op.ell.e, op.ell.es)
    _planar(op, M.mod_ster_fwd, M.mod_ster_inv, C)


def _lcca(op):
    from .kernels import misc_proj as M

    C = op.consts = M.lcca_setup(op.ell, op.k0, op.phi0)
    _planar(op, M.lcca_fwd, M.lcca_inv, C)


def _ccon(op):
    from .kernels import misc_proj as M

    _planar(op, M.ccon_fwd, M.ccon_inv, *M.ccon_setup(op.params))


def _rpoly(op):
    from .kernels import misc_proj as M

    op.fwd_k = _lift(M.rpoly_fwd, *M.rpoly_setup(op.params), op.phi0)


def _gstmerc(op):
    from .kernels import misc_proj as M

    C = op.consts = M.gstmerc_setup(op.ell, op.k0, op.phi0)
    _planar(op, M.gstmerc_fwd, M.gstmerc_inv, C)


def _geos(op):
    from .kernels import misc_sph as MS

    C = op.consts = MS.geos_setup(op.params, op.ell)
    _planar(op, MS.geos_fwd, MS.geos_inv, C)


def _goode(op):
    from .kernels import misc_proj as M
    from .kernels import misc_sph as MS

    _planar(op, MS.goode_fwd, MS.goode_inv, M.moll_setup(HALFPI))


def _ocea(op):
    from .kernels import misc_sph as MS

    C = op.consts = MS.ocea_setup(op.params, op.k0, op.phi0)
    op.lam0 = C.lam0  # pole-derived (ocea.cpp)
    _planar(op, MS.ocea_fwd, MS.ocea_inv, C)


def _tpeqd(op):
    from .kernels import misc_sph as MS

    C = op.consts = MS.tpeqd_setup(op.params)
    op.lam0 = C.lam0  # midpoint of the two control points (tpeqd.cpp)
    _planar(op, MS.tpeqd_fwd, MS.tpeqd_inv, C)


# Long-tail sphericals + simple conics (kernels/misc_sph.py).  All force
# es=0 like their reference setups; ops the reference leaves without an
# inverse fall through to the generic Newton.

def _tcea(op):
    from .kernels import misc_sph as MS

    _planar(op, MS.tcea_fwd, MS.tcea_inv, op.k0, op.phi0)


def _tobmerc(op):
    from .kernels import misc_sph as MS

    _planar(op, MS.tobmerc_fwd, MS.tobmerc_inv, op.k0)


def _lagrng(op):
    from .kernels import misc_sph as MS

    a1, rw, hrw, w = MS.lagrng_setup(op.params)
    op.fwd_k = _lift(MS.lagrng_fwd, a1, rw, hrw)
    op.inv_k = _lift(MS.lagrng_inv, a1, rw, hrw, w)


def _airy(op):
    from .kernels import misc_sph as MS

    C = op.consts = MS.airy_setup(op.params, op.phi0)
    op.fwd_k = _lift(MS.airy_fwd, C)


def _bertin1953(op):
    from .kernels import misc_sph as MS
    from .kernels.ellipsoid import Ellipsoid as _E

    op.ell = _E.from_a_es(op.ell.a, 0.0)
    op.lam0 = 0.0
    op.fwd_k = _lift(MS.bertin1953_fwd)


def _chamb(op):
    from .kernels import misc_sph as MS

    C = op.consts = MS.chamb_setup(op.params, op.lam0)
    op.fwd_k = _lift(MS.chamb_fwd, C)


def _spilhaus(op):
    from .kernels import misc_sph as MS

    C, op.lam0, op.phi0 = MS.spilhaus_setup(op.params, op.ell, op.k0,
                                            op.lam0, op.phi0)
    op.consts = C
    _planar(op, MS.spilhaus_fwd, MS.spilhaus_inv, C)


def _adams(op):
    """guyou / adams_hemi / adams_ws1 (adams.cpp): the inverse is the
    seeded generic Newton fallback."""
    from .kernels import misc_sph as MS

    op.fwd_k = _lift(MS.adams_fwd, op.proj_id,
                     str(op.params.get("shape", "diamond")),
                     float(op.params.get("scrollx", 0.0)),
                     float(op.params.get("scrolly", 0.0)))


def _adams_ws2(op):
    from .kernels import misc_sph as MS

    _adams(op)
    fwd = op.fwd_k

    def _ws2_inv(x, y, z, t):
        la, ph = MS.adams_ws2_inv(x, y)
        nan = ~(np.isfinite(la) & np.isfinite(ph)) \
            & np.isfinite(x) & np.isfinite(y)
        if np.any(nan):
            # pole/antimeridian edge: the analytic spherical
            # inverse loses the branch — derivative-free rescue
            from .kernels.generic_inverse import rescue_compass

            la[nan], ph[nan] = rescue_compass(
                lambda l, p: fwd(l, p, None, None)[:2], x[nan], y[nan])
        return la, ph, z

    op.inv_k = _ws2_inv


def _peirce_q(op):
    from .kernels import misc_sph as MS

    shape = str(op.params.get("shape", "diamond"))
    if shape not in ("square", "diamond", "nhemisphere", "shemisphere",
                     "horizontal", "vertical"):
        raise ValueError("peirce_q: invalid +shape")
    _adams(op)
    if shape in ("square", "diamond"):
        # analytic fold-candidate inverse (the reference's seeded
        # Newton, adams.cpp:319-385, diverges at seams/vertices)
        op.inv_k = _lift(MS.peirce_q_inv, shape)


def _oea(op):
    from .kernels import misc_sph as MS

    C = op.consts = MS.oea_setup(op.params, op.phi0)
    _planar(op, MS.oea_fwd, MS.oea_inv, C)


def _loxim(op):
    from .kernels import misc_sph as MS

    _planar(op, MS.loxim_fwd, MS.loxim_inv, *MS.loxim_setup(op.params))


def _cos_lat(op, key):
    return float(np.cos(np.radians(float(op.params.get(key, 0.0)))))


def _wink1(op):
    from .kernels import misc_sph as MS

    _planar(op, MS.wink1_fwd, MS.wink1_inv, _cos_lat(op, "lat_ts"))


def _wink2(op):
    from .kernels import misc_sph as MS

    op.fwd_k = _lift(MS.wink2_fwd, _cos_lat(op, "lat_1"))


def _urm5(op):
    from .kernels import misc_sph as MS

    op.fwd_k = _lift(MS.urm5_fwd, *MS.urm5_setup(op.params))


def _fouc_s(op):
    from .kernels import misc_sph as MS

    _planar(op, MS.fouc_s_fwd, MS.fouc_s_inv, *MS.fouc_s_setup(op.params))


def _sconics(op):
    from .kernels import misc_sph as MS

    C = op.consts = MS.sconics_setup(op.params, op.phi0, op.proj_id)
    _planar(op, MS.sconics_fwd, MS.sconics_inv, C)


def _nsper(op):
    from .kernels import azimuthal as A

    C = op.consts = A.nsper_setup(op.params, op.ell, op.phi0,
                                  tilt=op.proj_id == "tpers")
    _planar(op, A.nsper_fwd, A.nsper_inv, C)


def _healpix(op):
    from .kernels import healpix as k_hp
    from .kernels.ellipsoid import Ellipsoid as _E

    ell = op.ell
    C = op.consts = k_hp.setup(op.params, ell,
                               rhealpix=op.proj_id == "rhealpix")
    if not C.spherical:
        # P->a reset to the authalic radius (healpix.cpp:631,675)
        op.ell = _E.from_a_es(ell.a * k_hp.authalic_radius_factor(C), ell.es)
    _planar(op, k_hp.fwd, k_hp.inv, C)


def _s2(op):
    from .kernels import qsc as k_qsc

    C = op.consts = k_qsc.s2_setup(op.params, op.ell, op.lam0, op.phi0)
    # the s2 projection consumes ABSOLUTE longitude: the reference
    # sets from_greenwich = -lam0 to cancel the lam0 subtraction
    # (s2.cpp setup), and emits raw (s, t) without the semimajor scale
    # (PJ_IO_UNITS_PROJECTED)
    op.from_greenwich = -op.lam0
    op.right = PROJECTED
    _planar(op, k_qsc.s2_fwd, k_qsc.s2_inv, C)


def _qsc(op):
    from .kernels import qsc as k_qsc

    C = op.consts = k_qsc.setup(op.ell, op.lam0, op.phi0)
    _planar(op, k_qsc.fwd, k_qsc.inv, C)


def _orbit(op, lam0, alf, p22, rlm):
    """Space-oblique Mercator on a satellite orbit (som.cpp)."""
    from .kernels import som as k_som

    op.lam0 = lam0
    C = op.consts = k_som.setup(alf, p22, rlm, op.ell)
    _planar(op, k_som.fwd, k_som.inv, C)


def _som(op):
    params = op.params
    lam0 = op.lam0
    if not (-2 * math.pi <= lam0 <= 2 * math.pi):
        raise ValueError("som: asc_lon out of [-2pi, 2pi]")
    if "asc_lon" in params:
        lam0 = float(params["asc_lon"].rstrip("r")) \
            if str(params["asc_lon"]).endswith("r") \
            else math.radians(float(params["asc_lon"]))
    alf_raw = str(params.get("inc_angle", "0"))
    alf = float(alf_raw.rstrip("r")) if alf_raw.endswith("r") \
        else math.radians(float(alf_raw))
    if not (0 <= alf <= math.pi):
        raise ValueError("som: inc_angle out of [0, pi]")
    p22 = float(params.get("ps_rev", 0.0))
    if p22 < 0:
        raise ValueError("som: ps_rev should be positive")
    _orbit(op, lam0, alf, p22, 0.0)


def _misrsom(op):
    path = int(op.params.get("path", 0))
    if not (0 < path <= 233):
        raise ValueError("misrsom: path should be in [1, 233]")
    _orbit(op, math.radians(129.3056) - 2 * math.pi / 233.0 * path,
           math.radians(98.30382), 98.88 / 1440.0, 0.0)


def _lsat(op):
    land = int(op.params.get("lsat", 0))
    if not (0 < land <= 5):
        raise ValueError("lsat: lsat should be in [1, 5]")
    path = int(op.params.get("path", 0))
    max_path = 251 if land <= 3 else 233
    if not (0 < path <= max_path):
        raise ValueError(f"lsat: path should be in [1, {max_path}]")
    if land <= 3:
        lam0 = math.radians(128.87) - 2 * math.pi / 251.0 * path
        p22 = 103.2669323
        alf = math.radians(99.092)
    else:
        lam0 = math.radians(129.3) - 2 * math.pi / 233.0 * path
        p22 = 98.8841202
        alf = math.radians(98.2)
    _orbit(op, lam0, alf, p22 / 1440.0,
           math.pi * (1.0 / 248.0 + 0.5161290322580645))


def _interrupted(op):
    from .kernels import misc_proj as M
    from .kernels.ellipsoid import Ellipsoid as _E

    op.ell = _E.from_a_es(op.ell.a, 0.0)  # spherical forced
    C = op.consts = M.interrupted_setup(op.proj_id)
    _planar(op, M.interrupted_fwd, M.interrupted_inv, C)


def _isea(op):
    from .kernels import isea as k_isea
    from .kernels.ellipsoid import Ellipsoid as _E

    op.ell = _E.from_a_es(op.ell.a, 0.0)  # spherical (isea.cpp "Sph")
    C = op.consts = k_isea.setup(op.params)
    _planar(op, k_isea.fwd, k_isea.inv, C)


def _airocean(op):
    from .kernels import airocean as k_air

    C = op.consts = k_air.setup(op.params, op.ell)
    _planar(op, k_air.fwd, k_air.inv, C)


def _sch(op):
    from .kernels import misc_proj as M

    C = op.consts = M.sch_setup(op.params, op.ell)
    op.fwd_k = lambda x, y, z, t: M.sch_fwd(x, y, z, C)
    op.inv_k = lambda x, y, z, t: M.sch_inv(x, y, z, C)


def _rouss(op):
    from .kernels import misc_proj as M

    C = op.consts = M.rouss_setup(op.ell, op.k0, op.phi0)
    _planar(op, M.rouss_fwd, M.rouss_inv, C)


def _imw_p(op):
    from .kernels import misc_proj as M

    C = op.consts = M.imw_p_setup(op.params, op.ell)
    _planar(op, M.imw_p_fwd, M.imw_p_inv, C)


def _labrd(op):
    from .kernels import misc_proj as M

    C = op.consts = M.labrd_setup(op.params, op.ell, op.k0, op.phi0)
    _planar(op, M.labrd_fwd, M.labrd_inv, C)


def _bipc(op):
    from .kernels import misc_proj as M
    from .kernels.ellipsoid import Ellipsoid as _E

    op.ell = _E.from_a_es(op.ell.a, 0.0)
    _planar(op, M.bipc_fwd, M.bipc_inv, "ns" in op.params)


def _calcofi(op):
    from .kernels import misc_proj as M
    from .kernels.ellipsoid import Ellipsoid as _E

    # line/station output: a=1, no offsets, +over (calcofi.cpp setup)
    es = op.ell.es
    op.ell = _E.from_a_es(1.0, es)
    op.lam0 = 0.0
    op.x0 = op.y0 = 0.0
    op.over = True
    _planar(op, M.calcofi_fwd, M.calcofi_inv, es)


def _col_urban(op):
    from .kernels import misc_proj as M

    C = op.consts = M.col_urban_setup(op.params, op.ell, op.phi0)
    _planar(op, M.col_urban_fwd, M.col_urban_inv, C)


def _igh(op):
    from .kernels import misc_proj as M
    from .kernels.ellipsoid import Ellipsoid as _E

    op.ell = _E.from_a_es(op.ell.a, 0.0)  # spherical forced (igh.cpp:289)
    C = op.consts = M.igh_setup()
    _planar(op, M.igh_fwd, M.igh_inv, C)


def _cass(op):
    from .kernels import misc_proj as M

    C = op.consts = M.cass_setup(op.params, op.ell, op.phi0)
    _planar(op, M.cass_fwd, M.cass_inv, C)


def _poly(op):
    from .kernels import misc_proj as M

    C = op.consts = M.poly_setup(op.params, op.ell, op.phi0)
    _planar(op, M.poly_fwd, M.poly_inv, C)


def _bonne(op):
    from .kernels import misc_proj as M

    C = op.consts = M.bonne_setup(op.params, op.ell)
    _planar(op, M.bonne_fwd, M.bonne_inv, C)


def _eqdc(op):
    from .kernels import misc_proj as M

    C = op.consts = M.eqdc_setup(op.params, op.ell, op.phi0)
    _planar(op, M.eqdc_fwd, M.eqdc_inv, C)


def _nzmg(op):
    from .kernels import misc_proj as M
    from .kernels.ellipsoid import Ellipsoid as _E

    # International major axis + NZ offsets forced (nzmg.cpp:108-114)
    op.ell = _E.from_a_es(6378388.0, op.ell.es)
    op.lam0 = math.radians(173.0)
    op.phi0 = M.NZMG_PHI0
    op.x0 = 2510000.0
    op.y0 = 6023150.0
    _planar(op, M.nzmg_fwd, M.nzmg_inv)


def _hammer(op):
    from .kernels import azimuthal as A

    _planar(op, A.hammer_fwd, A.hammer_inv, *A.hammer_setup(op.params))


def _aitoff(op):
    from .kernels import azimuthal as A

    winkel = op.proj_id == "wintri"
    cosphi1 = A.wintri_setup(op.params) if winkel else 0.0
    # Newton inverse via the generic 2D fallback
    op.fwd_k = _lift(A.aitoff_fwd, winkel, cosphi1)


def _ob_tran(op):
    """Oblique wrapper (src/projections/ob_tran.cpp): rotate the
    sphere so a chosen pole (o_lat_p, o_lon_p) becomes the north pole
    (Snyder 5-7/5-8b), then apply the linked +o_proj projection.
    Registered o_proj kernels compose directly (one fused step)."""
    params = op.params
    o_proj = params.get("o_proj")
    if not o_proj or o_proj is True:
        raise ValueError("ob_tran: missing +o_proj")
    _TOL = 1e-10
    if "o_alpha" in params:
        # azimuth spec (ob_tran.cpp:223-238): pole derived from a
        # centre point (o_lon_c, o_lat_c) and an azimuth o_alpha
        lamc = float(params.get("o_lon_c", 0.0)) * DEG_TO_RAD
        phic = float(params.get("o_lat_c", 0.0)) * DEG_TO_RAD
        alpha = float(params["o_alpha"]) * DEG_TO_RAD
        if abs(abs(phic) - math.pi / 2) <= _TOL:
            raise ValueError("ob_tran: |o_lat_c| must be < 90")
        lamp = lamc + math.atan2(-math.cos(alpha),
                                 -math.sin(alpha) * math.sin(phic))
        phip = math.asin(min(1.0, max(-1.0,
                                      math.cos(phic) * math.sin(alpha))))
    elif "o_lat_p" in params or "o_lon_p" in params:
        lamp = float(params.get("o_lon_p", 0.0)) * DEG_TO_RAD
        phip = float(params.get("o_lat_p", 90.0)) * DEG_TO_RAD
    elif "o_lon_1" in params or "o_lat_1" in params:
        # two-point spec (ob_tran.cpp:241-268): pole of the great
        # circle through (lon_1, lat_1) and (lon_2, lat_2)
        lam1 = float(params.get("o_lon_1", 0.0)) * DEG_TO_RAD
        phi1 = float(params.get("o_lat_1", 0.0)) * DEG_TO_RAD
        lam2 = float(params.get("o_lon_2", 0.0)) * DEG_TO_RAD
        phi2 = float(params.get("o_lat_2", 0.0)) * DEG_TO_RAD
        if abs(phi1) > math.pi / 2 - _TOL:
            raise ValueError("ob_tran: |o_lat_1| must be < 90")
        if abs(phi2) > math.pi / 2 - _TOL:
            raise ValueError("ob_tran: |o_lat_2| must be < 90")
        if abs(phi1 - phi2) < _TOL:
            raise ValueError("ob_tran: o_lat_1 must differ from o_lat_2")
        if abs(phi1) < _TOL:
            raise ValueError("ob_tran: o_lat_1 must be nonzero")
        lamp = math.atan2(
            math.cos(phi1) * math.sin(phi2) * math.cos(lam1)
            - math.sin(phi1) * math.cos(phi2) * math.cos(lam2),
            math.sin(phi1) * math.cos(phi2) * math.sin(lam2)
            - math.cos(phi1) * math.sin(phi2) * math.sin(lam1))
        phip = math.atan(-math.cos(lamp - lam1) / math.tan(phi1))
    else:
        lamp, phip = 0.0, math.pi / 2
    ell_keys = ("ellps", "a", "b", "rf", "es", "f", "R")
    link_params = {"proj": str(o_proj),
                   **{k: params[k] for k in ell_keys if k in params}}
    link = compile_operation(link_params)
    oblique = abs(phip) > 1e-10
    sphip, cphip = math.sin(phip), math.cos(phip)

    def _rot_fwd(lam, phi):
        coslam = np.cos(lam)
        sinphi = np.sin(phi)
        cosphi = np.cos(phi)
        if oblique:  # o_forward (ob_tran.cpp:27-43)
            lam2 = adjlon(np.arctan2(
                cosphi * np.sin(lam),
                sphip * cosphi * coslam + cphip * sinphi) + lamp)
            phi2 = np.arcsin(np.clip(
                sphip * sinphi - cphip * cosphi * coslam, -1.0, 1.0))
        else:  # t_forward (ob_tran.cpp:45-56)
            lam2 = adjlon(np.arctan2(cosphi * np.sin(lam), sinphi) + lamp)
            phi2 = np.arcsin(np.clip(-cosphi * coslam, -1.0, 1.0))
        return lam2, phi2

    def _rot_inv(lam, phi):
        lam = lam - lamp
        coslam = np.cos(lam)
        sinphi = np.sin(phi)
        cosphi = np.cos(phi)
        if oblique:  # o_inverse (ob_tran.cpp:59-79)
            phi2 = np.arcsin(np.clip(
                sphip * sinphi + cphip * cosphi * coslam, -1.0, 1.0))
            lam2 = np.arctan2(cosphi * np.sin(lam),
                              sphip * cosphi * coslam - cphip * sinphi)
        else:  # t_inverse (ob_tran.cpp:81-95)
            lam2 = np.arctan2(cosphi * np.sin(lam), -sinphi)
            phi2 = np.arcsin(np.clip(cosphi * coslam, -1.0, 1.0))
        return lam2, phi2

    def _fwd(x, y, z, t):
        lam2, phi2 = _rot_fwd(x, y)
        return link.fwd_k(lam2, phi2, z, t)

    op.fwd_k = _fwd
    # ob_tran drives the wrapped op through its 2D interface
    # (ob_tran.cpp:284-287 `Q->link->inv ? o_inverse : nullptr`);
    # helmert exposes 2D fwd/inv only for the +theta planar setup
    # (helmert.cpp:566-571), so wrapping a 3D helmert has no inverse —
    # raise like PROJ's no_inverse_op rather than let the generic
    # Newton fallback synthesize one
    if str(o_proj) == "helmert" and "theta" not in params:
        def _no_inv(x, y, z, t):
            raise ValueError(
                "ob_tran: wrapped +o_proj=helmert has no 2D inverse "
                "(no_inverse_op)")

        op.inv_k = _no_inv
    elif link.inv_k is not None:
        def _inv(x, y, z, t):
            lam2, phi2, z2 = link.inv_k(x, y, z, t)
            lam3, phi3 = _rot_inv(lam2, phi2)
            return lam3, phi3, z2

        op.inv_k = _inv
    if str(o_proj) in _ANGULAR_IDS:
        # speculative rotated-latlong case: emit raw rotated radians,
        # no earth-radius scaling (ob_tran.cpp:290-300)
        op.right = PROJECTED


# pseudocylindricals (kernels/pcyl.py)

def _vandg(op):
    from .kernels import pcyl as PC

    op.fwd_k = _lift(PC.vandg_fwd, "over" in op.params)
    op.inv_k = _lift(PC.vandg_inv)


def _wag3(op):
    from .kernels import pcyl as PC

    ts = float(op.params.get("lat_ts", 0.0)) * DEG_TO_RAD
    _planar(op, PC.wag3_fwd, PC.wag3_inv, ts)


def _eck3(op):
    from .kernels import pcyl as PC

    _planar(op, PC.eck3_fwd, PC.eck3_inv, PC.ECK3_PARAMS[op.proj_id])


def _sts(op):
    from .kernels import pcyl as PC

    _planar(op, PC.sts_fwd, PC.sts_inv, *PC.STS_PARAMS[op.proj_id])


def _urmfps(op):
    from .kernels import pcyl as PC

    n = (PC.WAG1_N if op.proj_id == "wag1"
         else float(op.params.get("n", 0.0)))
    if not 0.0 < n <= 1.0:
        raise ValueError("urmfps: n in ]0,1] required")
    _planar(op, PC.urmfps_fwd, PC.urmfps_inv, n)


def _gn_sinu(op):
    from .kernels import pcyl as PC

    if op.proj_id == "gn_sinu":
        m, n = float(op.params["m"]), float(op.params["n"])
    else:
        m, n = PC.GN_SINU_PARAMS[op.proj_id]
    _planar(op, PC.gn_sinu_fwd, PC.gn_sinu_inv, m, n)


# The operation table: every id of PROJ's pj_list.h except the
# pipeline combinator (compile_projstring splits pipelines into steps).
OPERATIONS: dict[str, Callable[[Operation], None]] = {
    # conversions, transformations and combinators
    "latlong": _latlong, "longlat": _latlong,
    "latlon": _latlong, "lonlat": _latlong,
    "noop": _noop, "axisswap": _axisswap, "unitconvert": _unitconvert,
    "affine": _affine, "push": _push_pop, "pop": _push_pop, "set": _set,
    "cart": _cart, "geocent": _cart, "geoc": _geoc,
    "helmert": _helmert, "molobadekas": _molobadekas,
    "molodensky": _molodensky, "horner": _horner,
    "topocentric": _topocentric, "geogoffset": _geogoffset,
    "vertoffset": _vertoffset,
    "hgridshift": _hv_gridshift, "vgridshift": _hv_gridshift,
    "gridshift": _gridshift, "xyzgridshift": _xyzgridshift,
    "deformation": _deformation, "defmodel": _defmodel,
    "tinshift": _tinshift,
    # cylindricals and transverse Mercator
    "merc": _merc, "webmerc": _merc,
    "tmerc": _tmerc, "etmerc": _tmerc, "utm": _utm,
    "eqc": _eqc, "cea": _cea, "gstmerc": _gstmerc,
    "tcea": _tcea, "tobmerc": _tobmerc, "cc": _pair("misc_sph", "cc"),
    "tcc": _pair("misc_sph", "tcc", inverse=False),
    "gall": _pair("misc_proj", "gall"), "mill": _pair("misc_proj", "mill"),
    "comill": _pair("misc_sph", "comill"),
    "patterson": _pair("misc_sph", "patterson"),
    "times": _pair("misc_sph", "times"), "loxim": _loxim,
    "ocea": _ocea, "omerc": _omerc, "somerc": _somerc, "cass": _cass,
    "som": _som, "misrsom": _misrsom, "lsat": _lsat,
    # conics
    "lcc": _lcc, "lcca": _lcca, "aea": _aea, "leac": _aea, "eqdc": _eqdc,
    "ccon": _ccon, "imw_p": _imw_p, "bonne": _bonne, "poly": _poly,
    "rpoly": _rpoly, "bipc": _bipc, "col_urban": _col_urban,
    "euler": _sconics, "murd1": _sconics, "murd2": _sconics,
    "murd3": _sconics, "pconic": _sconics, "tissot": _sconics,
    "vitk1": _sconics,
    # azimuthals and perspectives
    "aeqd": _aeqd, "gnom": _gnom, "ortho": _ortho, "laea": _laea,
    "stere": _stere, "ups": _stere, "sterea": _sterea,
    "nsper": _nsper, "tpers": _nsper, "geos": _geos, "airy": _airy,
    "tpeqd": _tpeqd, "chamb": _chamb, "rouss": _rouss, "labrd": _labrd,
    "mil_os": _mod_ster, "lee_os": _mod_ster, "gs48": _mod_ster,
    "alsk": _mod_ster, "gs50": _mod_ster,
    "krovak": _krovak, "mod_krovak": _krovak, "nzmg": _nzmg,
    "sch": _sch, "calcofi": _calcofi, "oea": _oea, "lagrng": _lagrng,
    "hammer": _hammer, "aitoff": _aitoff, "wintri": _aitoff,
    "wink1": _wink1, "wink2": _wink2,
    # pseudocylindricals and world maps
    "sinu": _sinu, "moll": _moll, "wag4": _moll,
    "eck1": _pair("pcyl", "eck1"), "eck2": _pair("pcyl", "eck2"),
    "eck4": _pair("misc_proj", "eck4"), "eck5": _pair("pcyl", "eck5"),
    "eck3": _eck3, "kav7": _eck3, "wag6": _eck3, "putp1": _eck3,
    "kav5": _sts, "qua_aut": _sts, "fouc": _sts, "mbt_s": _sts,
    "gn_sinu": _gn_sinu, "eck6": _gn_sinu, "mbtfps": _gn_sinu,
    "urmfps": _urmfps, "wag1": _urmfps, "fouc_s": _fouc_s,
    "wag2": _pair("pcyl", "wag2"), "wag3": _wag3,
    "wag5": _pair("pcyl", "wag5", inverse=False),
    "wag7": _pair("misc_sph", "wag7", inverse=False),
    "vandg": _vandg,
    "vandg2": _pair("misc_sph", "vandg2", False, inverse=False),
    "vandg3": _pair("misc_sph", "vandg2", True, inverse=False),
    "vandg4": _pair("misc_sph", "vandg4", inverse=False),
    "robin": _pair("misc_proj", "robin"), "eqearth": _eqearth,
    "natearth": _pair("azimuthal", "natearth"),
    "natearth2": _pair("misc_sph", "natearth2"),
    "putp2": _pair("misc_sph", "putp2"),
    "putp3": _pair("misc_sph", "putp3", 4.0 * 0.1013211836),
    "putp3p": _pair("misc_sph", "putp3", 2.0 * 0.1013211836),
    "putp4p": _pair("misc_sph", "putp4p", 0.874038744, 3.883251825),
    "weren": _pair("misc_sph", "putp4p", 1.0, 4.442882938),
    "putp5": _pair("misc_sph", "putp5", 2.0, 1.0),
    "putp5p": _pair("misc_sph", "putp5", 1.5, 0.5),
    "putp6": _pair("misc_sph", "putp6",
                   1.01346, 0.91910, 4.0, 2.1471437182129378784, 2.0),
    "putp6p": _pair("misc_sph", "putp6", 0.44329, 0.80404, 6.0, 5.61125,
                    3.0),
    "mbt_fps": _pair("misc_sph", "mbt_fps"),
    "mbtfpp": _pair("misc_sph", "mbtfpp"),
    "mbtfpq": _pair("misc_sph", "mbtfpq"),
    "collg": _pair("misc_sph", "collg"), "crast": _pair("misc_sph", "crast"),
    "fahey": _pair("misc_sph", "fahey"),
    "denoy": _pair("misc_sph", "denoy", inverse=False),
    "nell": _pair("misc_sph", "nell"), "nell_h": _pair("misc_sph", "nell_h"),
    "hatano": _pair("misc_sph", "hatano"),
    "boggs": _pair("misc_sph", "boggs", inverse=False),
    "lask": _pair("misc_sph", "lask", inverse=False),
    "gins8": _pair("misc_sph", "gins8", inverse=False),
    "august": _pair("misc_sph", "august", inverse=False),
    "nicol": _pair("misc_sph", "nicol", inverse=False),
    "larr": _pair("misc_sph", "larr", inverse=False),
    "urm5": _urm5,
    "bacon": _pair("misc_sph", "bacon", True, False, inverse=False),
    "apian": _pair("misc_sph", "bacon", False, False, inverse=False),
    "ortel": _pair("misc_sph", "bacon", False, True, inverse=False),
    "bertin1953": _bertin1953, "goode": _goode,
    "igh": _igh, "igh_o": _interrupted, "imoll": _interrupted,
    "imoll_o": _interrupted,
    "guyou": _adams, "adams_hemi": _adams, "adams_ws1": _adams,
    "adams_ws2": _adams_ws2, "peirce_q": _peirce_q,
    "spilhaus": _spilhaus,
    # discrete global grids and polyhedra
    "healpix": _healpix, "rhealpix": _healpix, "s2": _s2, "qsc": _qsc,
    "isea": _isea, "airocean": _airocean,
    "ob_tran": _ob_tran,
}


# ------------------------- pipeline -------------------------------------


def _is_identity_step(op: Operation) -> bool:
    """Pipeline-simplification rules mirrored from PROJStringFormatter
    (/root/reference/src/iso19111/io.cpp:8654-9000): drop noop,
    identity unitconvert, all-zero helmert, identity axisswap."""
    if op.proj_id == "noop":
        return True
    if (op.proj_id == "unitconvert" and op.consts == (1.0, 1.0)
            and op.t_fwd is None):
        return True
    if op.proj_id == "helmert":
        C = op.consts
        return (
            C.no_rotation
            and C.scale0 == 0 and C.dscale == 0
            and all(v == 0 for v in C.xyz0) and all(v == 0 for v in C.dxyz)
            and not C.fourparam
        )
    if op.proj_id == "axisswap":
        if "axis" in op.params and "order" not in op.params:
            return str(op.params["axis"]) == "enu"
        o = str(op.params.get("order", "")).replace(" ", "")
        return o in ("1,2", "1,2,3", "1,2,3,4", "")
    return False


def cancel_inverse_pairs(ops: list) -> list:
    """Drop adjacent fwd/inv pairs of identical definitions
    (io.cpp:8800-8840).  Cancelling with a stack gives the same result
    as repeatedly removing the first such pair: the rule is free-group
    reduction.  A fully cancelled list is the identity, not an empty op
    list (input_units()/output_units() index ops[0])."""
    def defn(op):
        return {k: v for k, v in op.params.items() if k != "inv"}

    out: list = []
    for op in ops:
        top = out[-1] if out else None
        if (top is not None and top.proj_id == op.proj_id
                and op.proj_id not in ("push", "pop")
                and top.inverse != op.inverse and defn(top) == defn(op)):
            out.pop()
        else:
            out.append(op)
    return out or [compile_operation({"proj": "noop"})]


@dataclass
class Transform:
    """A fused pipeline of compiled operations, applied to NumPy batches
    in sequence inside a single UDF invocation (operator fusion — the
    Spark analogue of src/pipeline.cpp:163-193)."""

    ops: list
    definition: str = ""

    def transform(self, x, y, z=None, t=None, direction: str = "fwd"):
        x = np.asarray(x, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        z = np.zeros_like(x) if z is None else np.asarray(z, dtype=np.float64)
        t = np.full_like(x, np.inf) if t is None else np.asarray(t, dtype=np.float64)
        stack: dict[int, list] = {1: [], 2: [], 3: [], 4: []}
        fwd = direction == "fwd"
        seq = self.ops if fwd else list(reversed(self.ops))
        for op in seq:
            # effective direction: pipeline direction XOR the step's +inv
            # (src/pipeline.cpp:163-193 — reverse iterates backwards
            # swapping fwd/inv)
            step_fwd = fwd != op.inverse
            if fwd and op.omit_fwd:
                continue
            if not fwd and op.omit_inv:
                continue
            if op.proj_id in ("push", "pop"):
                eff = op.proj_id if fwd else ("pop" if op.proj_id == "push" else "push")
                chans = {1: x, 2: y, 3: z, 4: t}
                if eff == "push":
                    for i in op.consts:
                        stack[i].append(chans[i].copy())
                else:
                    for i in op.consts:
                        if stack[i]:
                            v = stack[i].pop()
                            if i == 1:
                                x = v
                            elif i == 2:
                                y = v
                            elif i == 3:
                                z = v
                            else:
                                t = v
                continue
            x, y, z, t = op.apply(x, y, z, t, forward=step_fwd)
        return x, y, z, t

    def input_units(self, direction: str = "fwd") -> str:
        """Units consumed at the pipeline edge, skipping unit-agnostic
        steps (push/pop/axisswap/...) the way the pipeline constructor
        wires step units (src/pipeline.cpp:382-400)."""
        seq = self.ops if direction == "fwd" else list(reversed(self.ops))
        for op in seq:
            eff_fwd = (direction == "fwd") != op.inverse
            u = op.left if eff_fwd else op.right
            if u != WHATEVER:
                return u
        return WHATEVER

    def output_units(self, direction: str = "fwd") -> str:
        seq = list(reversed(self.ops)) if direction == "fwd" else self.ops
        for op in seq:
            eff_fwd = (direction == "fwd") != op.inverse
            u = op.right if eff_fwd else op.left
            if u != WHATEVER:
                return u
        return WHATEVER

    def _edge_units(self) -> tuple[str, str]:
        """(left, right) unit tags of the whole pipeline, PROJ-style:
        WHATEVER steps inherit from a decided neighbour (right-to-left
        then left-to-right passes), then left = first step's left and
        right = last step's right (src/pipeline.cpp:570-640) — unlike
        input_units/output_units this does NOT skip undecided edges,
        matching proj_angular_input/output (src/coordinates.cpp:53-72).
        """
        units = []
        for op in self.ops:
            l, r = (op.right, op.left) if op.inverse else (op.left, op.right)
            units.append([l, r])
        n = len(units)
        for i in range(n - 2, -1, -1):
            if units[i][0] == WHATEVER and units[i][1] == WHATEVER:
                rl, rr = units[i + 1]
                if rl != rr or rl != WHATEVER:
                    units[i][0] = units[i][1] = rl
        for i in range(1, n):
            if units[i][0] == WHATEVER and units[i][1] == WHATEVER:
                ll, lr = units[i - 1]
                if ll != lr or lr != WHATEVER:
                    units[i][0] = units[i][1] = lr
        return units[0][0], units[-1][1]

    def angular_input(self, direction: str = "fwd") -> bool:
        left, right = self._edge_units()
        return (left if direction == "fwd" else right) == RADIANS

    def angular_output(self, direction: str = "fwd") -> bool:
        left, right = self._edge_units()
        return (right if direction == "fwd" else left) == RADIANS

    # gie-style convenience: degrees at the angular edges
    def transform_deg(self, x, y, z=None, t=None, direction: str = "fwd"):
        in_ang = self.input_units(direction) == RADIANS
        out_ang = self.output_units(direction) == RADIANS
        x = np.asarray(x, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        if in_ang:
            x = x * DEG_TO_RAD
            y = y * DEG_TO_RAD
        xo, yo, zo, to = self.transform(x, y, z, t, direction)
        if out_ang:
            xo = xo / DEG_TO_RAD
            yo = yo / DEG_TO_RAD
        return xo, yo, zo, to


_ANGULAR_IDS = ("latlong", "longlat", "latlon", "lonlat")
_ELL_KEYS = ("ellps", "a", "b", "rf", "es", "f", "R", "datum")


def towgs84_step_dicts(step: dict) -> list[dict]:
    """cs2cs-emulation expansion of one +towgs84-carrying CRS step into
    plain step dicts whose combined FORWARD maps WGS84 -> the CRS
    (src/fwd.cpp:92-100 fwd_prepare order; gie 4D-API_cs2cs-style.gie
    pins both the angular and the projected case).  A step-level +inv
    reverses and inverts the list."""
    vals = [float(v) for v in str(step["towgs84"]).split(",")]
    vals += [0.0] * (7 - len(vals))
    src_ell = {k: step[k] for k in _ELL_KEYS if k in step}
    helm = {"proj": "helmert",
            "x": vals[0], "y": vals[1], "z": vals[2],
            "rx": vals[3], "ry": vals[4], "rz": vals[5], "s": vals[6],
            "convention": "position_vector"}
    steps = [{"proj": "cart", "ellps": "WGS84"},
             {**helm, "inv": True},
             {"proj": "cart", "inv": True, **src_ell}]
    if step.get("proj") not in _ANGULAR_IDS:
        steps.append({k: v for k, v in step.items()
                      if k not in ("towgs84", "inv")})
    elif "pm" in step:
        # an angular CRS on a non-Greenwich meridian: the cart chain
        # yields Greenwich-referenced radians, the CRS's own longitudes
        # are pm-relative — keep the latlong step so its from_greenwich
        # re-references them (fwd.cpp:108 / inv.cpp:113)
        steps.append({k: v for k, v in step.items()
                      if k not in ("towgs84", "inv")})
    if "inv" in step:
        steps = [invert_step_dict(d) for d in reversed(steps)]
    return steps


def _expand_step(st: dict) -> list[dict]:
    """Step-dict rewrites applied before compilation: a +axis=
    orientation on any operation becomes an axisswap on the projected
    side (the reference attaches an internal axisswap PJ applied after
    forward / before inverse, src/create.cpp:76-86 + fwd.cpp:172-173);
    then the +towgs84 cs2cs expansion as before."""
    if "axis" in st and str(st["axis"]) != "enu" \
            and st.get("proj") not in ("axisswap",):
        spec = str(st["axis"])
        core = {k: v for k, v in st.items() if k != "axis"}
        sw = {"proj": "axisswap", "axis": spec}
        if "inv" in st:
            steps = [invert_step_dict(sw), core]
        else:
            steps = [core, sw]
        out = []
        for d in steps:
            out.extend(_expand_step(d))
        return out
    if "geoidgrids" in st and st.get("proj") != "vgridshift":
        # classic vertical datum emulation (fwd.cpp:104-106: the
        # attached vgridshift runs FORWARD in fwd_prepare, before the
        # core operation)
        spec = str(st["geoidgrids"])
        core = {k: v for k, v in st.items() if k != "geoidgrids"}
        vg = {"proj": "vgridshift", "grids": spec}
        if "inv" in st:
            steps = [core, invert_step_dict(vg)]
        else:
            steps = [vg, core]
        out = []
        for d in steps:
            out.extend(_expand_step(d))
        return out
    if "nadgrids" in st and st.get("proj") not in ("hgridshift",
                                                   "gridshift"):
        return nadgrids_step_dicts(st)
    if "towgs84" in st and st.get("proj") != "helmert":
        return towgs84_step_dicts(st)
    return [st]


def nadgrids_step_dicts(step: dict) -> list[dict]:
    """cs2cs-emulation expansion of one +nadgrids-carrying CRS step
    (the classic datum-file syntax, e.g. ``+proj=latlong +ellps=clrk66
    +nadgrids=ntv1_can.dat,conus``).  The grid's forward maps the CRS
    datum -> the NAD83/WGS84 hub, so the combined FORWARD here (hub ->
    CRS, same orientation contract as towgs84_step_dicts) applies it
    inverted, then the projection."""
    steps = [{"proj": "hgridshift", "grids": step["nadgrids"],
              "inv": True}]
    if step.get("proj") not in _ANGULAR_IDS:
        steps.append({k: v for k, v in step.items()
                      if k not in ("nadgrids", "towgs84", "inv")})
    if "inv" in step:
        steps = [invert_step_dict(d) for d in reversed(steps)]
    return steps


def invert_step_dict(d: dict) -> dict:
    out = {k: v for k, v in d.items() if k != "inv"}
    if "inv" not in d:
        out["inv"] = True
    return out


def compile_projstring(s: str) -> Transform:
    """proj-string -> Transform (single op or pipeline, rewrites applied).

    Also accepts ``urn:ogc:def:coordinateOperation:NKG::*`` names,
    resolved through the curated registry table (sources/nkg_ops.py)
    the way the reference resolves them through proj.db."""
    if s.lstrip().startswith("urn:ogc:def:coordinateOperation:NKG"):
        from .sources.nkg_ops import resolve_nkg_urn

        s = resolve_nkg_urn(s.strip())
    parsed = parse_projstring(s)
    top = parsed[0]
    if top.get("proj") == "pipeline":
        ops = []
        for st in top["_steps"]:
            ops.extend(compile_operation(d) for d in _expand_step(st))
        ops = cancel_inverse_pairs(
            [op for op in ops if not _is_identity_step(op)])
        return Transform(ops=ops, definition=s)
    steps = _expand_step(top)
    if len(steps) > 1:
        # cs2cs-emulation +towgs84 expansion (src/proj_internal.h:
        # 591-596 + fwd_prepare/fwd_finalize) and/or +axis orientation
        ops = [compile_operation(d) for d in steps]
        return Transform(ops=ops, definition=s)
    op = compile_operation(steps[0])
    return Transform(ops=[op], definition=s)
