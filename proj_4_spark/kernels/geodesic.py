"""Karney geodesics (direct + inverse), vectorized over NumPy batches.

Re-derivation of the GeographicLib C port shipped with the reference
(/root/reference/src/geodesic.c — Karney, "Algorithms for geodesics",
J. Geodesy 2013): 6th-order series, canonical-form reduction, Newton
iteration with bracketing fallback (:694-1086), astroid starting guess
for near-antipodal pairs (:1174-1277, :1404+).  The per-point scalar
control flow of the C code becomes masked NumPy array operations; the
Newton loop iterates on the active subset only.

All angles at the API edge are DEGREES (like geod_inverse/geod_direct,
/root/reference/src/geodesic.c:1080, :686).
"""

from __future__ import annotations

from dataclasses import dataclass

import math

import numpy as np

_EPS = np.finfo(np.float64).eps
_TINY = np.sqrt(np.finfo(np.float64).tiny)
_TOL0 = _EPS
_TOL1 = 200 * _TOL0
_TOL2 = np.sqrt(_TOL0)
_TOLB = _TOL0
_XTHRESH = 1000 * _TOL2
_MAXIT1 = 20
_MAXIT2 = _MAXIT1 + np.finfo(np.float64).nmant + 1 + 10
_DEGREE = np.pi / 180.0

nA3 = nC3 = nC1 = nC1p = nC2 = 6


# ----------------------------- angle helpers ----------------------------

def _remainder(x, d):
    """IEEE remainder: x - d*round(x/d), ties-to-even (np.round is)."""
    return x - d * np.round(x / d)


def _ang_normalize(x):
    y = _remainder(x, 360.0)
    return np.where(np.abs(y) == 180.0, np.copysign(180.0, x), y)


def _ang_round(x):
    z = 1.0 / 16.0
    y = np.abs(x)
    w = z - y
    y = np.where(w > 0, z - w, y)
    return np.copysign(y, x)


def _sumx(u, v):
    """Error-free two-sum (geodesic.c:101-112)."""
    s = u + v
    up = s - v
    vpp = s - up
    up = up - u
    vpp = vpp - v
    t = np.where(s != 0, 0.0 - (up + vpp), s)
    return s, t


def _ang_diff(x, y):
    """y - x in [-180,180] + error term (geodesic.c:149-163)."""
    d, t = _sumx(_remainder(-x, 360.0), _remainder(y, 360.0))
    d, t = _sumx(_remainder(d, 360.0), t)
    fix = (d == 0) | (np.abs(d) == 180.0)
    sign_src = np.where(t == 0, y - x, -t)
    d = np.where(fix, np.copysign(d, sign_src), d)
    return d, t


def _sincosd(x):
    """sin/cos of degrees with exact quadrant reduction (geodesic.c:177+)."""
    q = np.round(x / 90.0)
    r = (x - 90.0 * q) * _DEGREE
    s, c = np.sin(r), np.cos(r)
    qm = np.where(np.isfinite(q), np.nan_to_num(q).astype(np.int64) % 4, 0)
    sinx = np.choose(qm, [s, c, -s, -c])
    cosx = np.choose(qm, [c, -s, -c, s])
    sinx = np.where(sinx == 0, np.copysign(sinx, x), sinx)
    return sinx, cosx + 0.0


def _sincosde(x, t):
    q = np.round(x / 90.0)
    r = _ang_round((x - 90.0 * q) + t) * _DEGREE
    s, c = np.sin(r), np.cos(r)
    qm = np.where(np.isfinite(q), np.nan_to_num(q).astype(np.int64) % 4, 0)
    sinx = np.choose(qm, [s, c, -s, -c])
    cosx = np.choose(qm, [c, -s, -c, s])
    sinx = np.where(sinx == 0, np.copysign(sinx, x), sinx)
    return sinx, cosx + 0.0


def _atan2d(y, x):
    """atan2 in degrees with quadrant symmetry (geodesic.c:217-238)."""
    swap = np.abs(y) > np.abs(x)
    xx = np.where(swap, y, x)
    yy = np.where(swap, x, y)
    q = np.where(swap, 2.0, 0.0)
    neg = xx < 0
    xx = np.where(neg, -xx, xx)
    q = q + np.where(neg, 1.0, 0.0)
    ang0 = np.arctan2(yy, xx) / _DEGREE
    # q==1: ang = (y >= 0 ? 180 : -180) - ang
    # q==2: ang =  90 - ang ; q==3: ang = -90 + ang
    ang = ang0
    ang = np.where(q == 1, np.where(yy >= 0, 180.0, -180.0) - ang0, ang)
    ang = np.where(q == 2, 90.0 - ang0, ang)
    ang = np.where(q == 3, -90.0 + ang0, ang)
    return ang


def _norm2(s, c):
    r = np.hypot(s, c)
    return s / r, c / r


def _polyval_arr(coeffs, x):
    """Horner over a python coefficient list; x is an array or scalar."""
    y = np.zeros_like(np.asarray(x, dtype=np.float64)) + coeffs[0]
    for a in coeffs[1:]:
        y = y * x + a
    return y


# ----------------------------- series -----------------------------------

def _A1m1f(eps):
    coeff = (1.0, 4.0, 64.0, 0.0)
    t = _polyval_arr(coeff, eps * eps) / 256.0
    return (t + eps) / (1 - eps)


_C1_COEFF = (
    ((-1.0, 6.0, -16.0), 32.0),
    ((-9.0, 64.0, -128.0), 2048.0),
    ((9.0, -16.0), 768.0),
    ((3.0, -5.0), 512.0),
    ((-7.0,), 1280.0),
    ((-7.0,), 2048.0),
)


def _C1f(eps):
    eps2 = eps * eps
    d = eps
    c = [None]
    for poly, denom in _C1_COEFF:
        c.append(d * _polyval_arr(poly, eps2) / denom)
        d = d * eps
    return c  # c[1]..c[6]


_C1P_COEFF = (
    ((205.0, -432.0, 768.0), 1536.0),
    ((4005.0, -4736.0, 3840.0), 12288.0),
    ((-225.0, 116.0), 384.0),
    ((-7173.0, 2695.0), 7680.0),
    ((3467.0,), 7680.0),
    ((38081.0,), 61440.0),
)


def _C1pf(eps):
    eps2 = eps * eps
    d = eps
    c = [None]
    for poly, denom in _C1P_COEFF:
        c.append(d * _polyval_arr(poly, eps2) / denom)
        d = d * eps
    return c


def _A2m1f(eps):
    coeff = (-11.0, -28.0, -192.0, 0.0)
    t = _polyval_arr(coeff, eps * eps) / 256.0
    return (t - eps) / (1 + eps)


_C2_COEFF = (
    ((1.0, 2.0, 16.0), 32.0),
    ((35.0, 64.0, 384.0), 2048.0),
    ((15.0, 80.0), 768.0),
    ((7.0, 35.0), 512.0),
    ((63.0,), 1280.0),
    ((77.0,), 2048.0),
)


def _C2f(eps):
    eps2 = eps * eps
    d = eps
    c = [None]
    for poly, denom in _C2_COEFF:
        c.append(d * _polyval_arr(poly, eps2) / denom)
        d = d * eps
    return c


def _sincos_series(sinp: bool, sinx, cosx, c):
    """Clenshaw sum (geodesic.c:1087-1108). c is list; c[0] unused for sinp."""
    if sinp:
        coeffs = c[1:]
    else:
        coeffs = c
    n = len(coeffs)
    ar = 2 * (cosx - sinx) * (cosx + sinx)
    k = n
    if n & 1:
        k -= 1
        y0 = coeffs[k] + np.zeros_like(sinx)
    else:
        y0 = np.zeros_like(sinx)
    y1 = np.zeros_like(sinx)
    while k > 0:
        k -= 1
        y1 = ar * y0 - y1 + coeffs[k]
        k -= 1
        y0 = ar * y1 - y0 + coeffs[k]
    return 2 * sinx * cosx * y0 if sinp else cosx * (y0 - y1)


# ----------------------------- geodesic object --------------------------

@dataclass(frozen=True)
class Geodesic:
    a: float
    f: float
    f1: float
    e2: float
    ep2: float
    n: float
    b: float
    etol2: float
    A3x: tuple
    C3x: tuple

    @staticmethod
    def init(a: float, f: float) -> "Geodesic":
        """geod_init (geodesic.c:298-327) + A3coeff/C3coeff."""
        f1 = 1 - f
        e2 = f * (2 - f)
        ep2 = e2 / (f1 * f1)
        n = f / (2 - f)
        b = a * f1
        etol2 = 0.1 * _TOL2 / np.sqrt(max(0.001, abs(f)) * min(1.0, 1 - f / 2) / 2)
        # A3coeff (geodesic.c:1626-1646)
        coeff = ((-3.0,), 128.0), ((-2.0, -3.0), 64.0), ((-1.0, -3.0, -1.0), 16.0), \
                ((3.0, -1.0, -2.0), 8.0), ((1.0, -1.0), 2.0), ((1.0,), 1.0)
        A3x = tuple(float(_polyval_arr(p, n)) / d for p, d in coeff)
        # C3coeff (geodesic.c:1648-1686)
        c3 = (
            ((3.0,), 128.0), ((2.0, 5.0), 128.0), ((-1.0, 3.0, 3.0), 64.0),
            ((-1.0, 0.0, 1.0), 8.0), ((-1.0, 1.0), 4.0),
            ((5.0,), 256.0), ((1.0, 3.0), 128.0), ((-3.0, -2.0, 3.0), 64.0),
            ((1.0, -3.0, 2.0), 32.0),
            ((7.0,), 512.0), ((-10.0, 9.0), 384.0), ((5.0, -9.0, 5.0), 192.0),
            ((7.0,), 512.0), ((-14.0, 7.0), 512.0),
            ((21.0,), 2560.0),
        )
        C3x = tuple(float(_polyval_arr(p, n)) / d for p, d in c3)
        return Geodesic(a=a, f=f, f1=f1, e2=e2, ep2=ep2, n=n, b=b,
                        etol2=float(etol2), A3x=A3x, C3x=C3x)


def _A3f(g: Geodesic, eps):
    return _polyval_arr(g.A3x, eps)


def _C3f(g: Geodesic, eps):
    """c[1]..c[5]; geodesic.c:1492-1503."""
    mult = np.ones_like(eps)
    c = [None]
    o = 0
    for ell in range(1, nC3):
        m = nC3 - ell - 1
        mult = mult * eps
        c.append(mult * _polyval_arr(g.C3x[o : o + m + 1], eps))
        o += m + 1
    return c


def _lengths(g: Geodesic, eps, sig12, ssig1, csig1, dn1, ssig2, csig2, dn2,
             cbet1, cbet2, want_s12b: bool, want_m12b: bool, want_m0: bool,
             want_M: bool = False):
    """geodesic.c:1111-1233 (s12b / m12b / m0 / M12,M21 subset)."""
    A1 = _A1m1f(eps)
    Ca = _C1f(eps)
    A2 = _A2m1f(eps)
    Cb = _C2f(eps)
    m0 = A1 - A2
    A2p = 1 + A2
    A1p = 1 + A1
    s12b = m12b = None
    if want_s12b:
        B1 = _sincos_series(True, ssig2, csig2, Ca) - _sincos_series(True, ssig1, csig1, Ca)
        s12b = A1p * (sig12 + B1)
        B2 = _sincos_series(True, ssig2, csig2, Cb) - _sincos_series(True, ssig1, csig1, Cb)
        J12 = m0 * sig12 + (A1p * B1 - A2p * B2)
    else:
        Cbm = [None] + [A1p * Ca[l] - A2p * Cb[l] for l in range(1, nC2 + 1)]
        J12 = m0 * sig12 + (
            _sincos_series(True, ssig2, csig2, Cbm) - _sincos_series(True, ssig1, csig1, Cbm)
        )
    if want_m12b:
        m12b = dn2 * (csig1 * ssig2) - dn1 * (ssig1 * csig2) - csig1 * csig2 * J12
    if want_M:
        # geodesic scale M12/M21 (geodesic.c Lengths :1196-1204)
        csig12 = csig1 * csig2 + ssig1 * ssig2
        t = g.ep2 * (cbet1 - cbet2) * (cbet1 + cbet2) / (dn1 + dn2)
        M12 = csig12 + (t * ssig2 - csig2 * J12) * ssig1 / dn1
        M21 = csig12 - (t * ssig1 - csig1 * J12) * ssig2 / dn2
        return s12b, m12b, (m0 if want_m0 else None), M12, M21
    return s12b, m12b, (m0 if want_m0 else None)


def _astroid(x, y):
    """Positive root of k^4+2k^3-(x^2+y^2-1)k^2-2y^2k-y^2=0
    (geodesic.c:1174-1232), vectorized."""
    p = x * x
    q = y * y
    r = (p + q - 1) / 6
    k = np.zeros_like(x)
    general = ~((q == 0) & (r <= 0))
    S = p * q / 4
    r2 = r * r
    r3 = r * r2
    disc = S * (S + 2 * r3)
    u = r.copy()
    pos = disc >= 0
    with np.errstate(invalid="ignore", divide="ignore"):
        T3 = S + r3
        T3 = T3 + np.where(T3 < 0, -np.sqrt(np.abs(disc)), np.sqrt(np.abs(disc)))
        T = np.cbrt(T3)
        u_pos = r + T + np.where(T != 0, r2 / np.where(T != 0, T, 1.0), 0.0)
        ang = np.arctan2(np.sqrt(np.abs(-disc)), -(S + r3))
        u_neg = r + 2 * r * np.cos(ang / 3)
        u = np.where(pos, u_pos, u_neg)
        v = np.sqrt(u * u + q)
        uv = np.where(u < 0, q / (v - u), u + v)
        w = (uv - q) / (2 * v)
        k_gen = uv / (np.sqrt(uv + w * w) + w)
    k = np.where(general, k_gen, 0.0)
    return k


def _lambda12(g: Geodesic, sbet1, cbet1, dn1, sbet2, cbet2, dn2,
              salp1, calp1, slam120, clam120, diffp: bool):
    """geodesic.c:1279-1486, vectorized. Returns a dict of outputs."""
    calp1 = np.where((sbet1 == 0) & (calp1 == 0), -_TINY, calp1)

    salp0 = salp1 * cbet1
    calp0 = np.hypot(calp1, salp1 * sbet1)

    ssig1 = sbet1
    somg1 = salp0 * sbet1
    csig1 = comg1 = calp1 * cbet1
    ssig1, csig1 = _norm2(ssig1, csig1)

    with np.errstate(invalid="ignore", divide="ignore"):
        salp2 = np.where(cbet2 != cbet1, salp0 / cbet2, salp1)
        inner = np.where(
            cbet1 < -sbet1,
            (cbet2 - cbet1) * (cbet1 + cbet2),
            (sbet1 - sbet2) * (sbet1 + sbet2),
        )
        calp2 = np.where(
            (cbet2 != cbet1) | (np.abs(sbet2) != -sbet1),
            np.sqrt((calp1 * cbet1) ** 2 + inner) / cbet2,
            np.abs(calp1),
        )
    ssig2 = sbet2
    somg2 = salp0 * sbet2
    csig2 = comg2 = calp2 * cbet2
    ssig2, csig2 = _norm2(ssig2, csig2)

    sig12 = np.arctan2(np.maximum(0.0, csig1 * ssig2 - ssig1 * csig2) + 0.0,
                       csig1 * csig2 + ssig1 * ssig2)
    somg12 = np.maximum(0.0, comg1 * somg2 - somg1 * comg2) + 0.0
    comg12 = comg1 * comg2 + somg1 * somg2
    eta = np.arctan2(somg12 * clam120 - comg12 * slam120,
                     comg12 * clam120 + somg12 * slam120)
    k2 = calp0 * calp0 * g.ep2
    eps = k2 / (2 * (1 + np.sqrt(1 + k2)) + k2)
    Ca = _C3f(g, eps)
    B312 = _sincos_series(True, ssig2, csig2, Ca) - _sincos_series(True, ssig1, csig1, Ca)
    domg12 = -g.f * _A3f(g, eps) * salp0 * (sig12 + B312)
    lam12 = eta + domg12

    dlam12 = None
    if diffp:
        _, m12b, _ = _lengths(g, eps, sig12, ssig1, csig1, dn1, ssig2, csig2,
                              dn2, cbet1, cbet2, False, True, False)
        with np.errstate(invalid="ignore", divide="ignore"):
            dlam12 = np.where(
                calp2 == 0,
                -2 * g.f1 * dn1 / sbet1,
                m12b * g.f1 / (calp2 * cbet2),
            )
    return dict(v=lam12, salp2=salp2, calp2=calp2, sig12=sig12,
                ssig1=ssig1, csig1=csig1, ssig2=ssig2, csig2=csig2,
                eps=eps, domg12=domg12, dlam12=dlam12)


def inverse(g: Geodesic, lat1, lon1, lat2, lon2, want_area: bool = False):
    """Vectorized geod_inverse: returns (s12, azi1, azi2, a12) — degrees.

    Mirrors geod_geninverse_int (geodesic.c:694-1049) with masked
    branches: meridian / equatorial / short-line / Newton+bracket.

    With ``want_area=True`` a fifth output S12 (the area in m^2 between
    the geodesic segment and the equator, geodesic.c GEOD_AREA path
    :956-1017) is appended.  S12 is computed in the solver's canonical
    frame (before the swap/sign unwind) exactly as the C does — the
    final ``S12 *= swapp * lonsign * latsign`` makes lon=±180 ties come
    out on the correct branch, which a post-hoc user-frame evaluation
    cannot reproduce.
    """
    lat1 = np.asarray(lat1, dtype=np.float64)
    lon1 = np.asarray(lon1, dtype=np.float64)
    lat2 = np.asarray(lat2, dtype=np.float64)
    lon2 = np.asarray(lon2, dtype=np.float64)
    n = lat1.shape[0]

    lon12, lon12s = _ang_diff(lon1, lon2)
    lonsign = np.where(np.signbit(lon12), -1.0, 1.0)
    lon12 = lon12 * lonsign
    lon12s = lon12s * lonsign
    lam12 = lon12 * _DEGREE
    slam12, clam12 = _sincosde(lon12, lon12s)
    lon12s = (180.0 - lon12) - lon12s

    lat1c = _ang_round(np.where(np.abs(lat1) > 90, np.nan, lat1))
    lat2c = _ang_round(np.where(np.abs(lat2) > 90, np.nan, lat2))
    swapp = np.where((np.abs(lat1c) < np.abs(lat2c)) | np.isnan(lat2c), -1.0, 1.0)
    lonsign = np.where(swapp < 0, -lonsign, lonsign)
    la1 = np.where(swapp < 0, lat2c, lat1c)
    la2 = np.where(swapp < 0, lat1c, lat2c)
    latsign = np.where(np.signbit(la1), 1.0, -1.0)
    la1 = la1 * latsign
    la2 = la2 * latsign

    sbet1, cbet1 = _sincosd(la1)
    sbet1 = sbet1 * g.f1
    sbet1, cbet1 = _norm2(sbet1, cbet1)
    cbet1 = np.maximum(_TINY, cbet1)
    sbet2, cbet2 = _sincosd(la2)
    sbet2 = sbet2 * g.f1
    sbet2, cbet2 = _norm2(sbet2, cbet2)
    cbet2 = np.maximum(_TINY, cbet2)

    # symmetry enforcement (geodesic.c:773-781)
    m1 = cbet1 < -sbet1
    sbet2 = np.where(m1 & (cbet2 == cbet1), np.copysign(sbet1, sbet2), sbet2)
    cbet2 = np.where(~m1 & (np.abs(sbet2) == -sbet1), cbet1, cbet2)

    dn1 = np.sqrt(1 + g.ep2 * sbet1 * sbet1)
    dn2 = np.sqrt(1 + g.ep2 * sbet2 * sbet2)

    s12 = np.full(n, np.nan)
    sig12 = np.full(n, -1.0)
    a12 = np.full(n, np.nan)
    salp1 = np.zeros(n)
    calp1 = np.zeros(n)
    salp2 = np.zeros(n)
    calp2 = np.zeros(n)
    # lon difference on the auxiliary sphere, for the area's
    # tan(Gamma/2) branch (geodesic.c:711 "somg12 == 2" sentinel —
    # here resolved eagerly per-branch)
    somg12 = np.zeros(n)
    comg12 = np.full(n, -1.0)

    meridian = (la1 == -90.0) | (slam12 == 0)

    # --- meridian branch (geodesic.c:789-830) ---
    if meridian.any():
        i = np.flatnonzero(meridian)
        ca1, sa1 = clam12[i], slam12[i]
        ca2 = np.ones_like(ca1)
        sa2 = np.zeros_like(ca1)
        ssig1, csig1 = sbet1[i], ca1 * cbet1[i]
        ssig2, csig2 = sbet2[i], ca2 * cbet2[i]
        sg12 = np.arctan2(np.maximum(0.0, csig1 * ssig2 - ssig1 * csig2) + 0.0,
                          csig1 * csig2 + ssig1 * ssig2)
        s12x, m12x, _ = _lengths(g, np.full_like(sg12, g.n), sg12, ssig1, csig1,
                                 dn1[i], ssig2, csig2, dn2[i], cbet1[i], cbet2[i],
                                 True, True, False)
        ok = (sg12 < 1) | (m12x >= 0)
        degen = (sg12 < 3 * _TINY) | ((sg12 < _TOL0) & ((s12x < 0) | (m12x < 0)))
        sg12 = np.where(degen, 0.0, sg12)
        s12x = np.where(degen, 0.0, s12x)
        sel = i[ok]
        salp1[sel], calp1[sel] = sa1[ok], ca1[ok]
        salp2[sel], calp2[sel] = sa2[ok], ca2[ok]
        sig12[sel] = sg12[ok]
        s12[sel] = (s12x * g.b)[ok]
        a12[sel] = (sg12 / _DEGREE)[ok]
        meridian = meridian.copy()
        meridian[i[~ok]] = False  # prolate near-antipodal fallthrough

    done = ~np.isnan(s12) & meridian

    # --- equatorial branch (geodesic.c:832-846) ---
    equatorial = (~meridian) & (sbet1 == 0) & ((g.f <= 0) | (lon12s >= g.f * 180.0))
    if equatorial.any():
        i = np.flatnonzero(equatorial)
        salp1[i] = 1.0
        calp1[i] = 0.0
        salp2[i] = 1.0
        calp2[i] = 0.0
        s12[i] = g.a * lam12[i]
        sig12[i] = lam12[i] / g.f1
        a12[i] = lon12[i] / g.f1
        somg12[i] = np.sin(sig12[i])
        comg12[i] = np.cos(sig12[i])
        done |= equatorial

    # --- general branch ---
    gen = ~done
    if gen.any():
        i = np.flatnonzero(gen)
        (sg, sa1, ca1, sa2, ca2, s12g, a12g, somg, comg) = _inverse_general(
            g, sbet1[i], cbet1[i], dn1[i], sbet2[i], cbet2[i], dn2[i],
            lam12[i], slam12[i], clam12[i])
        salp1[i], calp1[i] = sa1, ca1
        salp2[i], calp2[i] = sa2, ca2
        s12[i] = s12g
        a12[i] = a12g
        somg12[i] = somg
        comg12[i] = comg

    if want_area:
        S12 = _area_S12(g, meridian, sbet1, cbet1, sbet2, cbet2,
                        salp1, calp1, salp2, calp2, somg12, comg12)
        S12 = S12 * swapp * lonsign * latsign + 0.0

    # swap/sign unwind (geodesic.c:1019-1029)
    sw = swapp < 0
    t = salp1[sw].copy()
    salp1[sw] = salp2[sw]
    salp2[sw] = t
    t = calp1[sw].copy()
    calp1[sw] = calp2[sw]
    calp2[sw] = t
    salp1 = salp1 * swapp * lonsign
    calp1 = calp1 * swapp * latsign
    salp2 = salp2 * swapp * lonsign
    calp2 = calp2 * swapp * latsign

    azi1 = _atan2d(salp1, calp1)
    azi2 = _atan2d(salp2, calp2)
    if want_area:
        return s12 + 0.0, azi1, azi2, a12, S12
    return s12 + 0.0, azi1, azi2, a12


def _inverse_start(g: Geodesic, sbet1, cbet1, dn1, sbet2, cbet2, dn2,
                   lam12, slam12, clam12):
    """geodesic.c:1234-1277 vectorized: starting guess for Newton."""
    sig12 = np.full_like(sbet1, -1.0)
    sbet12 = sbet2 * cbet1 - cbet2 * sbet1
    cbet12 = cbet2 * cbet1 + sbet2 * sbet1
    sbet12a = sbet2 * cbet1 + cbet2 * sbet1
    shortline = (cbet12 >= 0) & (sbet12 < 0.5) & (cbet2 * lam12 < 0.5)

    sbetm2 = (sbet1 + sbet2) ** 2
    sbetm2 = sbetm2 / (sbetm2 + (cbet1 + cbet2) ** 2)
    dnm = np.sqrt(1 + g.ep2 * sbetm2)
    omg12 = lam12 / (g.f1 * dnm)
    somg12 = np.where(shortline, np.sin(omg12), slam12)
    comg12 = np.where(shortline, np.cos(omg12), clam12)

    salp1 = cbet2 * somg12
    with np.errstate(invalid="ignore", divide="ignore"):
        calp1 = np.where(
            comg12 >= 0,
            sbet12 + cbet2 * sbet1 * somg12 * somg12 / (1 + comg12),
            sbet12a - cbet2 * sbet1 * somg12 * somg12 / (1 - comg12),
        )
    ssig12 = np.hypot(salp1, calp1)
    csig12 = sbet1 * sbet2 + cbet1 * cbet2 * comg12

    really_short = shortline & (ssig12 < g.etol2)
    salp2 = np.zeros_like(salp1)
    calp2 = np.zeros_like(salp1)
    if really_short.any():
        with np.errstate(invalid="ignore", divide="ignore"):
            sa2 = cbet1 * somg12
            ca2 = sbet12 - cbet1 * sbet2 * np.where(
                comg12 >= 0, somg12 * somg12 / (1 + comg12), 1 - comg12
            )
            sa2, ca2 = _norm2(sa2, ca2)
        salp2 = np.where(really_short, sa2, salp2)
        calp2 = np.where(really_short, ca2, calp2)
        sig12 = np.where(really_short, np.arctan2(ssig12, csig12), sig12)

    skip_astroid = really_short | (np.abs(g.n) > 0.1) | (csig12 >= 0) | (
        ssig12 >= 6 * abs(g.n) * np.pi * cbet1 * cbet1
    )
    astro = ~skip_astroid
    if astro.any():
        # f >= 0 branch only (our ellipsoids are oblate);
        # geodesic.c:1404-1476
        lam12x = np.arctan2(-slam12, -clam12)
        k2 = sbet1 * sbet1 * g.ep2
        eps = k2 / (2 * (1 + np.sqrt(1 + k2)) + k2)
        lamscale = g.f * cbet1 * _A3f(g, eps) * np.pi
        betscale = lamscale * cbet1
        with np.errstate(invalid="ignore", divide="ignore"):
            x = lam12x / lamscale
            y = sbet12a / betscale
        strip = (y > -_TOL1) & (x > -1 - _XTHRESH)
        sa_strip = np.minimum(1.0, -x)
        with np.errstate(invalid="ignore"):
            ca_strip = -np.sqrt(np.maximum(0.0, 1 - sa_strip * sa_strip))
        k = _astroid(x, y)
        omg12a = lamscale * (-x * k / (1 + k))
        somg12_a = np.sin(omg12a)
        comg12_a = -np.cos(omg12a)
        with np.errstate(invalid="ignore", divide="ignore"):
            sa_ast = cbet2 * somg12_a
            ca_ast = sbet12a - cbet2 * sbet1 * somg12_a * somg12_a / (1 - comg12_a)
        sa = np.where(strip, sa_strip, sa_ast)
        ca = np.where(strip, ca_strip, ca_ast)
        salp1 = np.where(astro, sa, salp1)
        calp1 = np.where(astro, ca, calp1)

    # sanity (geodesic.c:1469-1474)
    bad = ~(salp1 > 0)  # includes nan
    sn, cn = _norm2(np.where(bad, 1.0, salp1), np.where(bad, 0.0, calp1))
    salp1 = np.where(bad, 1.0, sn)
    calp1 = np.where(bad, 0.0, cn)
    return sig12, salp1, calp1, salp2, calp2, dnm


def _inverse_general(g: Geodesic, sbet1, cbet1, dn1, sbet2, cbet2, dn2,
                     lam12, slam12, clam12):
    """Short-line + Newton/bracket solve (geodesic.c:848-950)."""
    n = sbet1.shape[0]
    sig12, salp1, calp1, salp2, calp2, dnm = _inverse_start(
        g, sbet1, cbet1, dn1, sbet2, cbet2, dn2, lam12, slam12, clam12)

    s12 = np.full(n, np.nan)
    a12 = np.full(n, np.nan)
    somg12 = np.zeros(n)
    comg12 = np.full(n, -1.0)

    short = sig12 >= 0
    if short.any():
        s12 = np.where(short, sig12 * g.b * dnm, s12)
        a12 = np.where(short, sig12 / _DEGREE, a12)
        with np.errstate(invalid="ignore", divide="ignore"):
            omg = lam12 / (g.f1 * dnm)  # geodesic.c:862
        somg12 = np.where(short, np.sin(omg), somg12)
        comg12 = np.where(short, np.cos(omg), comg12)

    newton = ~short
    if newton.any():
        i = np.flatnonzero(newton)
        m = i.shape[0]
        sa1 = salp1[i].copy()
        ca1 = calp1[i].copy()
        salp1a = np.full(m, _TINY)
        calp1a = np.ones(m)
        salp1b = np.full(m, _TINY)
        calp1b = -np.ones(m)
        tripn = np.zeros(m, dtype=bool)
        tripb = np.zeros(m, dtype=bool)
        active = np.ones(m, dtype=bool)
        # per-point final state
        F = {k: np.zeros(m) for k in
             ("salp2", "calp2", "sig12", "ssig1", "csig1", "ssig2", "csig2", "eps", "domg12")}
        for numit in range(_MAXIT2):
            if not active.any():
                break
            j = np.flatnonzero(active)
            out = _lambda12(g, sbet1[i][j], cbet1[i][j], dn1[i][j],
                            sbet2[i][j], cbet2[i][j], dn2[i][j],
                            sa1[j], ca1[j], slam12[i][j], clam12[i][j],
                            diffp=numit < _MAXIT1)
            # Lambda12 returns the residual directly (eta is measured
            # against lam120 = the target angle)
            v = out["v"]
            for k in ("salp2", "calp2", "sig12", "ssig1", "csig1", "ssig2", "csig2", "eps", "domg12"):
                F[k][j] = out[k]
            # convergence test (reversed to allow NaN escape)
            conv = tripb[j] | ~(np.abs(v) >= np.where(tripn[j], 8, 1) * _TOL0) | (numit == _MAXIT2 - 1)
            # update brackets
            with np.errstate(invalid="ignore", divide="ignore"):
                upd_b = (v > 0) & ((numit > _MAXIT1) | (ca1[j] / sa1[j] > calp1b[j] / salp1b[j]))
                upd_a = (v < 0) & ((numit > _MAXIT1) | (ca1[j] / sa1[j] < calp1a[j] / salp1a[j]))
            jb = j[upd_b & ~conv]
            salp1b[jb] = sa1[jb]
            calp1b[jb] = ca1[jb]
            ja = j[upd_a & ~conv]
            salp1a[ja] = sa1[ja]
            calp1a[ja] = ca1[ja]

            newton_ok = np.zeros_like(v, dtype=bool)
            if numit < _MAXIT1:
                dv = out["dlam12"]
                with np.errstate(invalid="ignore", divide="ignore"):
                    dalp1 = -v / dv
                    good = (dv > 0) & (np.abs(dalp1) < np.pi)
                    sdalp1 = np.sin(np.where(good, dalp1, 0.0))
                    cdalp1 = np.cos(np.where(good, dalp1, 0.0))
                    nsalp1 = sa1[j] * cdalp1 + ca1[j] * sdalp1
                    good &= nsalp1 > 0
                newton_ok = good
                jg = j[good & ~conv]
                if jg.size:
                    gsel = good & ~conv
                    nca = ca1[j][gsel] * cdalp1[gsel] - sa1[j][gsel] * sdalp1[gsel]
                    nsa = nsalp1[gsel]
                    nsa, nca = _norm2(nsa, nca)
                    sa1[jg] = nsa
                    ca1[jg] = nca
                    tripn[jg] = np.abs(v[gsel]) <= 16 * _TOL0
            # bisection for the rest
            bis = ~newton_ok & ~conv
            jb2 = j[bis]
            if jb2.size:
                nsa = (salp1a[jb2] + salp1b[jb2]) / 2
                nca = (calp1a[jb2] + calp1b[jb2]) / 2
                nsa, nca = _norm2(nsa, nca)
                sa1[jb2] = nsa
                ca1[jb2] = nca
                tripn[jb2] = False
                tripb[jb2] = (
                    np.abs(salp1a[jb2] - nsa) + (calp1a[jb2] - nca) < _TOLB
                ) | (np.abs(nsa - salp1b[jb2]) + (nca - calp1b[jb2]) < _TOLB)
            active[j[conv]] = False

        s12b, _, _ = _lengths(g, F["eps"], F["sig12"], F["ssig1"], F["csig1"],
                              dn1[i], F["ssig2"], F["csig2"], dn2[i],
                              cbet1[i], cbet2[i], True, False, False)
        s12[i] = s12b * g.b
        a12[i] = F["sig12"] / _DEGREE
        salp1[i] = sa1
        calp1[i] = ca1
        salp2[i] = F["salp2"]
        calp2[i] = F["calp2"]
        # omg12 = lam12 - domg12 (geodesic.c:943-947)
        sdomg12 = np.sin(F["domg12"])
        cdomg12 = np.cos(F["domg12"])
        somg12[i] = slam12[i] * cdomg12 - clam12[i] * sdomg12
        comg12[i] = clam12[i] * cdomg12 + slam12[i] * sdomg12
    return sig12, salp1, calp1, salp2, calp2, s12, a12, somg12, comg12


def direct(g: Geodesic, lat1, lon1, azi1, s12, want_scale: bool = False):
    """Vectorized geod_direct (geodesic.c:686 -> geod_genposition :441-560):
    returns (lat2, lon2, azi2); with ``want_scale`` appends the reduced
    length m12 and geodesic scales M12, M21 (geod_genposition
    GEOD_REDUCEDLENGTH|GEOD_GEODESICSCALE outmask, :566-631)."""
    lat1 = np.asarray(lat1, dtype=np.float64)
    lon1 = np.asarray(lon1, dtype=np.float64)
    azi1 = np.asarray(azi1, dtype=np.float64)
    s12 = np.asarray(s12, dtype=np.float64)

    azi1n = _ang_normalize(azi1)
    salp1, calp1 = _sincosd(_ang_round(azi1n))

    lat1f = np.where(np.abs(lat1) > 90, np.nan, lat1)
    sbet1, cbet1 = _sincosd(_ang_round(lat1f))
    sbet1 = sbet1 * g.f1
    sbet1, cbet1 = _norm2(sbet1, cbet1)
    cbet1 = np.maximum(_TINY, cbet1)
    dn1 = np.sqrt(1 + g.ep2 * sbet1 * sbet1)

    salp0 = salp1 * cbet1
    calp0 = np.hypot(calp1, salp1 * sbet1)
    ssig1 = sbet1
    somg1 = salp0 * sbet1
    csig1 = comg1 = np.where((sbet1 != 0) | (calp1 != 0), cbet1 * calp1, 1.0)
    ssig1, csig1 = _norm2(ssig1, csig1)

    k2 = calp0 * calp0 * g.ep2
    eps = k2 / (2 * (1 + np.sqrt(1 + k2)) + k2)

    A1m1 = _A1m1f(eps)
    C1a = _C1f(eps)
    B11 = _sincos_series(True, ssig1, csig1, C1a)
    s = np.sin(B11)
    c = np.cos(B11)
    stau1 = ssig1 * c + csig1 * s
    ctau1 = csig1 * c - ssig1 * s
    C1pa = _C1pf(eps)
    C3a = _C3f(g, eps)
    A3c = -g.f * salp0 * _A3f(g, eps)
    B31 = _sincos_series(True, ssig1, csig1, C3a)

    # distance -> sig12
    tau12 = s12 / (g.b * (1 + A1m1))
    st = np.sin(tau12)
    ct = np.cos(tau12)
    B12 = -_sincos_series(True, stau1 * ct + ctau1 * st, ctau1 * ct - stau1 * st, C1pa)
    sig12 = tau12 - (B12 - B11)
    ssig12 = np.sin(sig12)
    csig12 = np.cos(sig12)
    # (|f| <= 0.01 for all our ellipsoids: skip the extra Newton step,
    # geodesic.c:487-507)

    ssig2 = ssig1 * csig12 + csig1 * ssig12
    csig2 = csig1 * csig12 - ssig1 * ssig12
    sbet2 = calp0 * ssig2
    cbet2 = np.hypot(salp0, calp0 * csig2)
    fix = cbet2 == 0
    cbet2 = np.where(fix, _TINY, cbet2)
    csig2 = np.where(fix, _TINY, csig2)
    salp2 = salp0
    calp2 = calp0 * csig2

    somg2 = salp0 * ssig2
    comg2 = csig2
    omg12 = np.arctan2(somg2 * comg1 - comg2 * somg1, comg2 * comg1 + somg2 * somg1)
    lam12 = omg12 + A3c * (sig12 + (_sincos_series(True, ssig2, csig2, C3a) - B31))
    lon12 = lam12 / _DEGREE
    lon2 = _ang_normalize(_ang_normalize(lon1) + _ang_normalize(lon12))
    lat2 = _atan2d(sbet2, g.f1 * cbet2)
    azi2 = _atan2d(salp2, calp2)
    if want_scale:
        dn2 = np.sqrt(1 + g.ep2 * sbet2 * sbet2)
        _, m12b, _, M12, M21 = _lengths(
            g, eps, sig12, ssig1, csig1, dn1, ssig2, csig2, dn2,
            cbet1, cbet2, False, True, False, want_M=True)
        return lat2, lon2, azi2, m12b * g.b, M12, M21
    return lat2, lon2, azi2


# convenience wrappers -----------------------------------------------------

def vincenty_inverse(lat1, lon1, lat2, lon2, a=6378137.0, f=1 / 298.257223563,
                     max_iter=200, tol=1e-12):
    """Independent Vincenty (1975) inverse as a cross-check oracle for
    Karney (per SURVEY.md §5 / FIXTURES.md §2).  May fail to converge
    near-antipodally: those points return NaN."""
    lat1 = np.asarray(lat1, dtype=np.float64) * _DEGREE
    lat2 = np.asarray(lat2, dtype=np.float64) * _DEGREE
    L = (np.asarray(lon2, dtype=np.float64) - np.asarray(lon1, dtype=np.float64)) * _DEGREE
    b = a * (1 - f)
    U1 = np.arctan((1 - f) * np.tan(lat1))
    U2 = np.arctan((1 - f) * np.tan(lat2))
    sU1, cU1 = np.sin(U1), np.cos(U1)
    sU2, cU2 = np.sin(U2), np.cos(U2)
    lam = L.copy()
    active = np.ones_like(lam, dtype=bool)
    sig = np.zeros_like(lam)
    ssig = np.zeros_like(lam)
    csig = np.zeros_like(lam)
    cos2sigm = np.zeros_like(lam)
    cossqalpha = np.ones_like(lam)
    for _ in range(max_iter):
        if not active.any():
            break
        sl, cl = np.sin(lam), np.cos(lam)
        ss = np.sqrt((cU2 * sl) ** 2 + (cU1 * sU2 - sU1 * cU2 * cl) ** 2)
        cs = sU1 * sU2 + cU1 * cU2 * cl
        sg = np.arctan2(ss, cs)
        with np.errstate(invalid="ignore", divide="ignore"):
            sinalpha = np.where(ss != 0, cU1 * cU2 * sl / ss, 0.0)
            c2a = 1 - sinalpha**2
            c2sm = np.where(c2a != 0, cs - 2 * sU1 * sU2 / np.where(c2a != 0, c2a, 1), 0.0)
        C = f / 16 * c2a * (4 + f * (4 - 3 * c2a))
        lam_new = L + (1 - C) * f * sinalpha * (
            sg + C * ss * (c2sm + C * cs * (-1 + 2 * c2sm**2))
        )
        delta = np.abs(lam_new - lam)
        lam = np.where(active, lam_new, lam)
        ssig = np.where(active, ss, ssig)
        csig = np.where(active, cs, csig)
        sig = np.where(active, sg, sig)
        cos2sigm = np.where(active, c2sm, cos2sigm)
        cossqalpha = np.where(active, c2a, cossqalpha)
        active = active & (delta > tol)
    u2 = cossqalpha * (a * a - b * b) / (b * b)
    A = 1 + u2 / 16384 * (4096 + u2 * (-768 + u2 * (320 - 175 * u2)))
    B = u2 / 1024 * (256 + u2 * (-128 + u2 * (74 - 47 * u2)))
    dsig = B * ssig * (
        cos2sigm + B / 4 * (csig * (-1 + 2 * cos2sigm**2)
                            - B / 6 * cos2sigm * (-3 + 4 * ssig**2) * (-3 + 4 * cos2sigm**2))
    )
    s = b * A * (sig - dsig)
    s = np.where(active, np.nan, s)  # non-converged (near-antipodal)
    return s


def vincenty_inverse_fixed(lat1, lon1, lat2, lon2, a=6378137.0,
                           f=1 / 298.257223563, n_iter=16):
    """Vincenty (1975) inverse with a FIXED iteration count and an
    operation ordering mirrored term-for-term by the DuckDB oracle
    (plans/oracles.py::vincenty_sql) — the driver-checkable face of the
    geodesic inverse (geodesic.c:1080; inverse.cpp uses the same
    problem).  Fixed iterations (no data-dependent early exit) keep the
    NumPy and SQL recurrences bit-comparable; callers must exclude the
    near-antipodal band where Vincenty's lambda iteration stalls
    (converged to <1e-9 m everywhere at s < 19,800 km, verified against
    both the converged Vincenty and the Karney kernel in
    tests/test_geodesic.py).

    Returns (s_m, azi1_deg)."""
    lat1 = np.asarray(lat1, dtype=np.float64)
    lon1 = np.asarray(lon1, dtype=np.float64)
    b = a * (1.0 - f)
    ll = np.radians(lon2 - lon1)
    u1 = np.arctan((1.0 - f) * np.tan(np.radians(lat1)))
    u2r = np.arctan((1.0 - f) * np.tan(np.radians(lat2)))
    su1, cu1 = np.sin(u1), np.cos(u1)
    su2, cu2 = np.sin(u2r), np.cos(u2r)
    lam = ll.copy() if hasattr(ll, "copy") else np.full_like(u1, ll)
    if lam.shape != u1.shape:
        lam = np.broadcast_to(lam, u1.shape).copy()
    for _ in range(n_iter):
        sl, cl = np.sin(lam), np.cos(lam)
        ss = np.sqrt((cu2 * sl) * (cu2 * sl)
                     + (cu1 * su2 - su1 * cu2 * cl)
                     * (cu1 * su2 - su1 * cu2 * cl))
        cs = su1 * su2 + cu1 * cu2 * cl
        sg = np.arctan2(ss, cs)
        sa = np.where(ss != 0.0, cu1 * cu2 * sl / np.where(ss != 0.0, ss, 1.0),
                      0.0)
        c2a = 1.0 - sa * sa
        c2sm = np.where(c2a != 0.0,
                        cs - 2.0 * su1 * su2 / np.where(c2a != 0.0, c2a, 1.0),
                        0.0)
        cc = f / 16.0 * c2a * (4.0 + f * (4.0 - 3.0 * c2a))
        lam = ll + (1.0 - cc) * f * sa * (
            sg + cc * ss * (c2sm + cc * cs * (-1.0 + 2.0 * c2sm * c2sm)))
    sl, cl = np.sin(lam), np.cos(lam)
    ss = np.sqrt((cu2 * sl) * (cu2 * sl)
                 + (cu1 * su2 - su1 * cu2 * cl)
                 * (cu1 * su2 - su1 * cu2 * cl))
    cs = su1 * su2 + cu1 * cu2 * cl
    sg = np.arctan2(ss, cs)
    sa = np.where(ss != 0.0, cu1 * cu2 * sl / np.where(ss != 0.0, ss, 1.0),
                  0.0)
    c2a = 1.0 - sa * sa
    c2sm = np.where(c2a != 0.0,
                    cs - 2.0 * su1 * su2 / np.where(c2a != 0.0, c2a, 1.0),
                    0.0)
    usq = c2a * (a * a - b * b) / (b * b)
    aa = 1.0 + usq / 16384.0 * (4096.0 + usq * (-768.0 + usq * (320.0 - 175.0 * usq)))
    bb = usq / 1024.0 * (256.0 + usq * (-128.0 + usq * (74.0 - 47.0 * usq)))
    dsig = bb * ss * (c2sm + bb / 4.0 * (
        cs * (-1.0 + 2.0 * c2sm * c2sm)
        - bb / 6.0 * c2sm * (-3.0 + 4.0 * ss * ss)
        * (-3.0 + 4.0 * c2sm * c2sm)))
    s = b * aa * (sg - dsig)
    azi1 = np.degrees(np.arctan2(cu2 * sl, cu1 * su2 - su1 * cu2 * cl))
    return s, azi1


# --------------------------- polygon area (Planimeter) -----------------

nC4 = 6

# C4coeff constant table (geodesic.c:1688-1742) — the published
# Karney 2013 area series coefficients, polynomials in n (descending
# powers), each group followed by its denominator
_C4_COEFF = (
    (97,), 15015, (1088, 156), 45045, (-224, -4784, 1573), 45045,
    (-10656, 14144, -4576, -858), 45045,
    (64, 624, -4576, 6864, -3003), 15015,
    (100, 208, 572, 3432, -12012, 30030), 45045,
    (1,), 9009, (-2944, 468), 135135, (5792, 1040, -1287), 135135,
    (5952, -11648, 9152, -2574), 135135,
    (-64, -624, 4576, -6864, 3003), 135135,
    (8,), 10725, (1856, -936), 225225, (-8448, 4992, -1144), 225225,
    (-1440, 4160, -4576, 1716), 225225,
    (-136,), 63063, (1024, -208), 105105, (3584, -3328, 1144), 315315,
    (-128,), 135135, (-2560, 832), 405405,
    (128,), 99099,
)


def _c4x(n: float) -> tuple:
    """Evaluate the C4 coefficient polynomials at the third
    flattening (geodesic.c C4coeff loop ordering)."""
    out = []
    it = iter(range(0, len(_C4_COEFF), 2))
    for k in it:
        poly = _C4_COEFF[k]
        denom = _C4_COEFF[k + 1]
        out.append(float(_polyval_arr(tuple(float(c) for c in poly), n))
                   / denom)
    return tuple(out)


def _C4f(g: "Geodesic", c4x: tuple, eps):
    """C4 Fourier coefficients at eps (geodesic.c C4f)."""
    c = []
    mult = np.ones_like(eps)
    o = 0
    for ell in range(nC4):
        m = nC4 - ell - 1
        c.append(mult * _polyval_arr(c4x[o:o + m + 1], eps))
        o += m + 1
        mult = mult * eps
    return c


def authalic_c2(g: Geodesic) -> float:
    """Authalic radius squared (geod_init, geodesic.c:309-313)."""
    if g.e2 == 0:
        q = 1.0
    elif g.e2 > 0:
        q = math.atanh(math.sqrt(g.e2)) / math.sqrt(g.e2)
    else:
        q = math.atan(math.sqrt(-g.e2)) / math.sqrt(-g.e2)
    return (g.a * g.a + g.b * g.b * q) / 2.0


def _area_S12(g: Geodesic, meridian, sbet1, cbet1, sbet2, cbet2,
              salp1, calp1, salp2, calp2, somg12, comg12):
    """Area between a geodesic segment and the equator, evaluated in
    the solver's canonical frame (geod_geninverse_int GEOD_AREA path,
    geodesic.c:956-1017).  The caller applies the
    ``swapp * lonsign * latsign`` unwind."""
    c4x = _c4x(g.n)
    salp0 = salp1 * cbet1
    calp0 = np.hypot(calp1, salp1 * sbet1)
    c2 = authalic_c2(g)

    S12 = np.zeros_like(salp0)
    nz = (calp0 != 0) & (salp0 != 0)
    if nz.any():
        i = np.flatnonzero(nz)
        ssig1, csig1 = _norm2(sbet1[i], calp1[i] * cbet1[i])
        ssig2, csig2 = _norm2(sbet2[i], calp2[i] * cbet2[i])
        k2 = calp0[i] ** 2 * g.ep2
        eps = k2 / (2 * (1 + np.sqrt(1 + k2)) + k2)
        A4 = g.a * g.a * calp0[i] * salp0[i] * g.e2
        c4 = _C4f(g, c4x, eps)
        B41 = _sincos_series(False, ssig1, csig1, c4)
        B42 = _sincos_series(False, ssig2, csig2, c4)
        S12[i] = A4 * (B42 - B41)

    # spherical excess alp12: tan(Gamma/2) refinement when the points
    # are close (geodesic.c:985-996), else alp2 - alp1 with the
    # signed-zero tie fix (geodesic.c:997-1012)
    dbet1 = 1 + cbet1
    dbet2 = 1 + cbet2
    domg12 = 1 + comg12
    alp12_tan = 2 * np.arctan2(somg12 * (sbet1 * dbet2 + sbet2 * dbet1),
                               domg12 * (sbet1 * sbet2 + dbet1 * dbet2))
    salp12 = salp2 * calp1 - calp2 * salp1
    calp12 = calp2 * calp1 + salp2 * salp1
    fix = (salp12 == 0) & (calp12 < 0)
    salp12 = np.where(fix, _TINY * calp1, salp12)
    calp12 = np.where(fix, -1.0, calp12)
    alp12_fb = np.arctan2(salp12, calp12)
    use_tan = (~meridian) & (comg12 > -0.7071) & (sbet2 - sbet1 < 1.75)
    alp12 = np.where(use_tan, alp12_tan, alp12_fb)
    return S12 + c2 * alp12


def _transit(lon1, lon2):
    """Prime-meridian crossing direction (geodesic.c transit)."""
    lon12, _ = _ang_diff(lon1, lon2)
    l1 = _ang_normalize(lon1)
    l2 = _ang_normalize(lon2)
    pos = (lon12 > 0) & (((l1 < 0) & (l2 >= 0)) | ((l1 > 0) & (l2 == 0)))
    neg = (lon12 < 0) & (l1 >= 0) & (l2 < 0)
    return np.where(pos, 1, np.where(neg, -1, 0))


def polygon_area_perimeter(g: Geodesic, lats, lons,
                           polyline: bool = False):
    """geod_polygonarea (geodesic.c planimeter path): perimeter and
    signed area (m^2, counter-clockwise positive) of the polygon with
    the given vertices.  Vectorized over edges; the closing edge is
    added automatically."""
    lats = np.asarray(lats, dtype=np.float64)
    lons = np.asarray(lons, dtype=np.float64)
    la1, lo1 = lats, lons
    la2 = np.roll(lats, -1)
    lo2 = np.roll(lons, -1)
    if polyline:
        la1, lo1 = lats[:-1], lons[:-1]
        la2, lo2 = lats[1:], lons[1:]
    if polyline:
        s12, _, _, _ = inverse(g, la1, lo1, la2, lo2)
        return float(np.sum(s12)), None
    s12, azi1, azi2, _, S12 = inverse(g, la1, lo1, la2, lo2, want_area=True)
    perimeter = float(np.sum(s12))
    crossings = int(np.sum(_transit(lo1, lo2)))
    area0 = 4 * math.pi * authalic_c2(g)
    area = math.remainder(-float(np.sum(S12)), area0)
    if crossings % 2:
        area += (area0 / 2) if area < 0 else (-area0 / 2)
    # sign convention: put area in (-area0/2, area0/2]
    if area > area0 / 2:
        area -= area0
    elif area <= -area0 / 2:
        area += area0
    return perimeter, area
