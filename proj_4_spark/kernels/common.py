"""Shared numeric helper kernels, vectorized over the point axis.

These are NumPy re-derivations of PROJ's scalar helpers — the loops over
series *coefficients* stay as short Python loops (6 terms), while the
point axis is a NumPy array, preserving the reference's operation order
per point for 1e-9 parity:

- adjlon                  -> /root/reference/src/adjlon.cpp:7-28
- pj_tsfn                 -> /root/reference/src/tsfn.cpp:6-29
- pj_msfn                 -> /root/reference/src/msfn.cpp:5-7
- pj_sinhpsi2tanphi       -> /root/reference/src/phi2.cpp:10-109
- pj_enfn/mlfn/inv_mlfn   -> /root/reference/src/mlfn.cpp:33-79
- gatg / clenS / clens    -> /root/reference/src/projections/tmerc.cpp:263-325
"""

from __future__ import annotations

import numpy as np

TWOPI = 2.0 * np.pi
HALFPI = 0.5 * np.pi
FORTPI = 0.25 * np.pi
DEG_TO_RAD = np.pi / 180.0
RAD_TO_DEG = 180.0 / np.pi
ARCSEC_TO_RAD = np.pi / (180.0 * 3600.0)


def adjlon(lon: np.ndarray) -> np.ndarray:
    """Wrap longitude to [-pi, pi] with 1e-12 overshoot grace."""
    lon = np.asarray(lon, dtype=np.float64)
    out = lon.copy()
    m = np.abs(lon) >= np.pi + 1e-12
    if m.any():
        v = lon[m] + np.pi
        v = v - TWOPI * np.floor(v / TWOPI)
        out[m] = v - np.pi
    return out


_ONE_TOL = 1.00000000000001  # aasincos.cpp ONE_TOL


def aasin(v) -> np.ndarray:
    """arcsin that clamps |v| in [1, 1+1e-14] to ±pi/2 and errors
    (NaN) beyond (src/aasincos.cpp:11-21 aasin)."""
    v = np.asarray(v, dtype=np.float64)
    av = np.abs(v)
    out = np.arcsin(np.clip(v, -1.0, 1.0))
    out = np.where(av >= 1.0, np.where(v < 0, -HALFPI, HALFPI), out)
    return np.where(av > _ONE_TOL, np.nan, out)


def tsfn(phi: np.ndarray, sinphi: np.ndarray, e: float) -> np.ndarray:
    """Snyder (7-10): ts = exp(-psi), psi the isometric latitude."""
    cosphi = np.cos(phi)
    # exp(-asinh(tan phi)): cos/(1+sin) for phi>0, (1-sin)/cos for phi<=0
    pos = sinphi > 0
    base = np.where(pos, cosphi / (1.0 + sinphi), (1.0 - sinphi) / cosphi)
    return np.exp(e * np.arctanh(e * sinphi)) * base


def msfn(sinphi: np.ndarray, cosphi: np.ndarray, es: float) -> np.ndarray:
    return cosphi / np.sqrt(1.0 - es * sinphi * sinphi)


_ROOTEPS = np.sqrt(np.finfo(np.float64).eps)
_TOL = _ROOTEPS / 10.0
_TMAX = 2.0 / _ROOTEPS


def sinhpsi2tanphi(taup: np.ndarray, e: float) -> np.ndarray:
    """Convert tau' = tan(chi) to tau = tan(phi), Karney (2011) Eq. 7.

    Newton iteration with per-point convergence masking (max 5 iters,
    typical <=2), mirroring /root/reference/src/phi2.cpp:81-108.
    """
    taup = np.asarray(taup, dtype=np.float64)
    e2m = 1.0 - e * e
    stol = _TOL * np.maximum(1.0, np.abs(taup))
    tau = np.where(np.abs(taup) > 70.0, taup * np.exp(e * np.arctanh(e)), taup / e2m)
    # points with |tau| >= tmax (inf/nan) are returned as-is
    active = np.abs(tau) < _TMAX
    with np.errstate(invalid="ignore", over="ignore", divide="ignore"):
        for _ in range(5):
            if not active.any():
                break
            t = tau[active]
            tp = taup[active]
            tau1 = np.sqrt(1.0 + t * t)
            sig = np.sinh(e * np.arctanh(e * t / tau1))
            taupa = np.sqrt(1.0 + sig * sig) * t - sig * tau1
            dtau = (tp - taupa) * (1.0 + e2m * (t * t)) / (
                e2m * tau1 * np.sqrt(1.0 + taupa * taupa)
            )
            t = t + dtau
            tau[active] = t
            conv = ~(np.abs(dtau) >= stol[active])  # backwards test: nan converges
            idx = np.flatnonzero(active)
            active[idx[conv]] = False
    return tau


def phi2(ts0: np.ndarray, e: float) -> np.ndarray:
    """Latitude from ts = exp(-psi); /root/reference/src/phi2.cpp:112-135."""
    return np.arctan(sinhpsi2tanphi((1.0 / ts0 - ts0) / 2.0, e))


# ---------------------------------------------------------------------------
# Meridional arc: 6th-order series in third flattening n
# (/root/reference/src/mlfn.cpp — Eqs. A5/A6 of arXiv:2212.05818)
# ---------------------------------------------------------------------------

_LMAX = 6
_COEFF_RAD = (1.0, 1.0 / 4, 1.0 / 64, 1.0 / 256)
_COEFF_MU_PHI = (
    -3.0 / 2, 9.0 / 16, -3.0 / 32, 15.0 / 16,
    -15.0 / 32, 135.0 / 2048, -35.0 / 48, 105.0 / 256,
    315.0 / 512, -189.0 / 512, -693.0 / 1280, 1001.0 / 2048,
)
_COEFF_PHI_MU = (
    3.0 / 2, -27.0 / 32, 269.0 / 512, 21.0 / 16,
    -55.0 / 32, 6759.0 / 4096, 151.0 / 96, -417.0 / 128,
    1097.0 / 512, -15543.0 / 2560, 8011.0 / 2560, 293393.0 / 61440,
)


def _polyval(x: float, p, n: int) -> float:
    y = p[n] if n >= 0 else 0.0
    while n > 0:
        n -= 1
        y = y * x + p[n]
    return y


def enfn(n: float) -> np.ndarray:
    """Series coefficients for the meridional arc (13 doubles)."""
    n2 = n * n
    en = np.zeros(2 * _LMAX + 1)
    en[0] = _polyval(n2, _COEFF_RAD, _LMAX // 2) / (1.0 + n)
    d = n
    o = 0
    for ell in range(_LMAX):
        m = (_LMAX - ell - 1) // 2
        en[ell + 1] = d * _polyval(n2, _COEFF_MU_PHI[o:], m)
        en[ell + 1 + _LMAX] = d * _polyval(n2, _COEFF_PHI_MU[o:], m)
        d *= n
        o += m + 1
    return en


def _clenshaw_sin2k(szeta: np.ndarray, czeta: np.ndarray, c) -> np.ndarray:
    """sum(c[k] * sin((2k+2) zeta)) via Clenshaw; mlfn.cpp:21-31."""
    u0 = np.zeros_like(szeta)
    u1 = np.zeros_like(szeta)
    X = 2.0 * (czeta - szeta) * (czeta + szeta)  # 2 cos(2 zeta)
    for k in range(len(c) - 1, -1, -1):
        t = X * u0 - u1 + c[k]
        u1 = u0
        u0 = t
    return 2.0 * szeta * czeta * u0


def mlfn(phi: np.ndarray, sphi: np.ndarray, cphi: np.ndarray, en: np.ndarray) -> np.ndarray:
    return en[0] * (phi + _clenshaw_sin2k(sphi, cphi, en[1 : 1 + _LMAX]))


def inv_mlfn(mu: np.ndarray, en: np.ndarray) -> np.ndarray:
    mu = mu / en[0]
    return mu + _clenshaw_sin2k(np.sin(mu), np.cos(mu), en[1 + _LMAX : 1 + 2 * _LMAX])


# ---------------------------------------------------------------------------
# Poder/Engsager Clenshaw helpers (tmerc.cpp:263-325)
# ---------------------------------------------------------------------------

def gatg(p, B: np.ndarray, cos_2B: np.ndarray, sin_2B: np.ndarray) -> np.ndarray:
    """Gauss<->geodetic latitude trig series; tmerc.cpp:263-276."""
    h2 = np.zeros_like(B)
    two_cos_2B = 2.0 * cos_2B
    h1 = np.full_like(B, p[-1])
    h = np.zeros_like(B)
    for k in range(len(p) - 2, -1, -1):
        h = -h2 + two_cos_2B * h1 + p[k]
        h2 = h1
        h1 = h
    return B + h * sin_2B


def clenS(a, sin_arg_r, cos_arg_r, sinh_arg_i, cosh_arg_i):
    """Complex Clenshaw summation; tmerc.cpp:279-306. Returns (R, I)."""
    r = 2.0 * cos_arg_r * cosh_arg_i
    i = -2.0 * sin_arg_r * sinh_arg_i
    hi1 = np.zeros_like(r)
    hr1 = np.zeros_like(r)
    hi = np.zeros_like(r)
    hr = np.full_like(r, a[-1])
    for k in range(len(a) - 2, -1, -1):
        hr2 = hr1
        hi2 = hi1
        hr1 = hr
        hi1 = hi
        hr = -hr2 + r * hr1 - i * hi1 + a[k]
        hi = -hi2 + i * hr1 + r * hi1
    r2 = sin_arg_r * cosh_arg_i
    i2 = cos_arg_r * sinh_arg_i
    R = r2 * hr - i2 * hi
    I = r2 * hi + i2 * hr  # noqa: E741
    return R, I


def clens(a, arg_r):
    """Real Clenshaw summation; tmerc.cpp:309-325."""
    arg_r = np.asarray(arg_r, dtype=np.float64)
    cos_arg_r = np.cos(arg_r)
    r = 2.0 * cos_arg_r
    hr1 = np.zeros_like(arg_r)
    hr = np.full_like(arg_r, a[-1])
    for k in range(len(a) - 2, -1, -1):
        hr2 = hr1
        hr1 = hr
        hr = -hr2 + r * hr1 + a[k]
    return np.sin(arg_r) * hr
