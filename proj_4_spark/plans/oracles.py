"""ANSI-SQL oracle generators (DuckDB dialect-compatible).

Each function emits a SQL expression/CTE mirroring one engine kernel,
with all projection constants computed by the *same* driver-side setup
code the engine uses (``compile_projstring``) and embedded as full-
precision double literals (``repr`` round-trips exactly).  Outputs are
rounded in BOTH engines so last-ulp libm differences between NumPy and
DuckDB cannot flip the comparison.  Whatever both sides of a gate must
agree on (projection string, filter, target point, output names and
digits) is an argument: ``queries.py`` writes it once and passes it to
its Spark side too; ``cols`` is that module's ``(alias, field, digits)``
output spec (:func:`select_doc`).

These oracles exist to make every operator independently checkable by
the driver's DuckDB-vs-Spark harness; they are NOT the engine.
"""

from __future__ import annotations

import math

import numpy as np

from ..proj import compile_projstring
from ..sources.coords import lonlat_sql


def L(v: float) -> str:
    """Full-precision double literal."""
    r = repr(float(v))
    return r if ("e" in r or "." in r or "inf" in r or "nan" in r) else r + ".0"


# ----------------------------------------------------------------- helpers

def coords_cte() -> str:
    lon, lat = lonlat_sql("doc_id")
    return f"SELECT doc_id, {lon} AS lon, {lat} AS lat FROM documents"


def select_doc(cols, exprs, src: str) -> str:
    """The tail of a per-document oracle: ``SELECT doc_id, ... FROM src
    ORDER BY doc_id`` with one SQL expression of ``exprs`` per ``(alias,
    field, digits)`` of ``cols`` (the Spark side's column spec), rounded
    to ``digits`` (``+ 0.0`` folds -0.0; None: as it is)."""
    sel = ",\n  ".join(
        f"{e} AS {a}" if d is None else f"(round({e}, {d}) + 0.0) AS {a}"
        for (a, _, d), e in zip(cols, exprs, strict=True))
    return f"SELECT doc_id,\n  {sel}\nFROM {src} ORDER BY doc_id\n"


def clenshaw_sin2k_ctes(prefix: str, s: str, c: str, coeffs) -> tuple[list[str], str]:
    """Chained-CTE unroll of ``_clenshaw_sin2k`` (mlfn.cpp:21-31):
    sum(c[k] sin((2k+2)ζ)).  Returns (extra column defs, final expr).

    Emitted as lateral column aliases: X, u0_k, u1_k, result.
    """
    cols = [f"(2.0*(({c})-({s}))*(({c})+({s}))) AS {prefix}_X"]
    u0, u1 = None, None
    n = len(coeffs)
    for step, k in enumerate(range(n - 1, -1, -1)):
        if u0 is None:
            t = L(coeffs[k])
        else:
            t = f"{prefix}_X*{u0} - {u1} + {L(coeffs[k])}"
        u1 = u0 if u0 is not None else "0.0"
        u0 = f"{prefix}_u{step}"
        cols.append(f"({t}) AS {u0}")
    expr = f"(2.0*({s})*({c})*{u0})"
    return cols, expr


# ------------------------------------------------------------ projections

def webmerc_xy() -> tuple[str, str]:
    """Spherical web-mercator (merc.cpp:76-84): R=6378137, k0=1."""
    a = 6378137.0
    x = f"({L(a)} * radians(lon))"
    t = "tan(radians(lat))"
    y = f"({L(a)} * ln({t} + sqrt({t}*{t} + 1.0)))"
    return x, y


def merc_ell_xy(projstr: str) -> tuple[str, str]:
    """Ellipsoidal Mercator fwd (merc.cpp:13-43):
    y = k0·(asinh(tanφ) − e·atanh(e·sinφ)), scaled by a."""
    tr = compile_projstring(projstr)
    op = tr.ops[0]
    C = op.consts
    a, k0, e = op.ell.a, C.k0, C.e
    rl = "radians(lat)"
    s, c = f"sin({rl})", f"cos({rl})"
    tphi = f"({s}/{c})"
    asinh_t = f"ln({tphi} + sqrt({tphi}*{tphi} + 1.0))"
    atanh_es = f"(0.5*ln((1.0+{L(e)}*{s})/(1.0-{L(e)}*{s})))"
    x = f"({L(a)} * ({L(k0)} * radians(lon)))"
    y = f"({L(a)} * ({L(k0)} * ({asinh_t} - {L(e)}*{atanh_es})))"
    return x, y


def lcc_xy(projstr: str, lon: str = "lon", lat: str = "lat") -> tuple[str, str]:
    """LCC ellipsoidal fwd (lcc.cpp:22-42) with driver-computed n/c/rho0."""
    tr = compile_projstring(projstr)
    op = tr.ops[0]
    C = op.consts
    a, lam0 = op.ell.a, op.lam0
    rl = f"radians({lat})"
    s = f"sin({rl})"
    # tsfn (tsfn.cpp:6-29 via kernels.common.tsfn): for phi>0 use
    # cos/(1+sin), else (1-sin)/cos
    base = (f"(CASE WHEN {s} > 0 THEN cos({rl})/(1.0+{s}) "
            f"ELSE (1.0-{s})/cos({rl}) END)")
    ts = f"(exp({L(C.e)}*0.5*ln((1.0+{L(C.e)}*{s})/(1.0-{L(C.e)}*{s}))) * {base})"
    rho = f"({L(C.c)} * pow({ts}, {L(C.n)}))"
    # adjlon wrap of (lam - lam0) into (-pi, pi] (adjlon.cpp:7-28)
    raw = f"(radians({lon}) - {L(lam0)})"
    lam_w = f"({raw} - 2.0*pi()*floor(({raw} + pi())/(2.0*pi())))"
    lamn = f"({lam_w} * {L(C.n)})"
    x = f"({L(a)} * ({L(C.k0)} * ({rho} * sin({lamn}))))"
    y = f"({L(a)} * ({L(C.k0)} * ({L(C.rho0)} - {rho} * cos({lamn}))))"
    return x, y


def cart_xyz(projstr: str) -> tuple[str, str, str]:
    """Geodetic→geocentric fwd (cart.cpp:139-153) at h = 0."""
    tr = compile_projstring(projstr)
    C = tr.ops[0].consts
    rl, rlam = "radians(lat)", "radians(lon)"
    s, c = f"sin({rl})", f"cos({rl})"
    N = f"({L(C.a)}/sqrt(1.0 - {L(C.es)}*{s}*{s}))"
    X = f"(({N} + 0.0)*{c}*cos({rlam}))"
    Y = f"(({N} + 0.0)*{c}*sin({rlam}))"
    Z = f"(({N}*(1.0-{L(C.es)}) + 0.0)*{s})"
    return X, Y, Z


def helmert_xyz(params: dict, x: str, y: str, z: str) -> tuple[str, str, str]:
    """7-param Helmert fwd, position-vector small-angle convention
    (helmert.cpp:161+,438-456): X' = scale·(R·X) + T."""
    from ..kernels import helmert as k_helmert

    C = k_helmert.setup(params)
    T, opk, scale_ppm, _ = k_helmert._params_at(C, C.t_epoch)
    R = k_helmert._rot_matrix(C, opk)
    scale = 1.0 + scale_ppm * 1e-6

    def row(i):
        return (f"({L(scale)}*({L(R[i][0])}*{x} + {L(R[i][1])}*{y} "
                f"+ {L(R[i][2])}*{z}) + {L(T[i])})")

    return row(0), row(1), row(2)


def mlfn_cols(prefix: str, rl: str, en) -> tuple[list[str], str]:
    """mlfn(φ) = en0·(φ + clenshaw(sinφ,cosφ,en[1..6]))."""
    cols = [f"sin({rl}) AS {prefix}_s", f"cos({rl}) AS {prefix}_c"]
    ccols, cexpr = clenshaw_sin2k_ctes(prefix, f"{prefix}_s", f"{prefix}_c",
                                      list(en[1:7]))
    cols += ccols
    return cols, f"({L(en[0])}*(({rl}) + {cexpr}))"


def utm_snyder_sql(cols) -> str:
    """Full oracle query: per-doc UTM (Evenden/Snyder TM, auto zone,
    GRS80, k0=0.9996, x0=500km, southern false northing 10^7 m).

    Mirrors approx_e_fwd (tmerc.cpp:71-116) + utm zone logic
    (tmerc.cpp:737-779) as chained CTEs.
    """
    tr = compile_projstring("+proj=tmerc +ellps=GRS80 +approx +k=0.9996")
    op = tr.ops[0]
    Q = op.consts.approx
    a = op.ell.a
    en = list(Q.en)
    FC1, FC2, FC3 = 1.0, 0.5, 0.16666666666666666666
    FC4, FC5, FC6 = 0.08333333333333333333, 0.05, 0.03333333333333333333
    FC7, FC8 = 0.02380952380952380952, 0.01785714285714285714

    mcols, mexpr = mlfn_cols("ml", "rphi", en)
    mcols_s = ",\n    ".join(mcols)
    return f"""
WITH coords AS ({coords_cte()}),
zoned AS (
  SELECT doc_id, lon, lat,
         (CAST(floor((lon + 180.0)/6.0) AS INTEGER) % 60 + 1) AS zone
  FROM coords
),
prep AS (
  SELECT doc_id, lon, lat, zone,
         radians(lat) AS rphi,
         (radians(lon) - radians(CAST(zone*6 - 183 AS DOUBLE))) AS lam
  FROM zoned
),
m AS (
  SELECT doc_id, lon, lat, zone, rphi, lam,
    {mcols_s}
  FROM prep
),
tm AS (
  SELECT doc_id, zone, lat, lam,
    ml_s AS sinphi, ml_c AS cosphi,
    (CASE WHEN abs(ml_c) > 1e-10 THEN ml_s/ml_c ELSE 0.0 END)
      * (CASE WHEN abs(ml_c) > 1e-10 THEN ml_s/ml_c ELSE 0.0 END) AS t,
    (ml_c*lam)*(ml_c*lam) AS als,
    (ml_c*lam)/sqrt(1.0 - {L(Q.es)}*ml_s*ml_s) AS al,
    {L(Q.esp)}*ml_c*ml_c AS nn,
    {mexpr} AS ml
  FROM m
),
xy AS (
  SELECT doc_id, zone,
    {L(Q.k0)}*al*({L(FC1)} + {L(FC3)}*als*(1.0 - t + nn + {L(FC5)}*als*(
        5.0 + t*(t - 18.0) + nn*(14.0 - 58.0*t)
        + {L(FC7)}*als*(61.0 + t*(t*(179.0 - t) - 479.0))))) AS xk,
    {L(Q.k0)}*(ml - {L(Q.ml0)}
      + sinphi*al*lam*{L(FC2)}*(
          1.0 + {L(FC4)}*als*(5.0 - t + nn*(9.0 + 4.0*nn) + {L(FC6)}*als*(
              61.0 + t*(t - 58.0) + nn*(270.0 - 330.0*t)
              + {L(FC8)}*als*(1385.0 + t*(t*(543.0 - t) - 3111.0)))))) AS yk,
    lat
  FROM tm
)
{select_doc(cols, ("zone", f"{L(a)}*xk + 500000.0",
                   f"{L(a)}*yk + (CASE WHEN lat < 0 THEN 10000000.0 ELSE 0.0 END)"),
            "xy")}"""


def _wrap(raw: str) -> str:
    """adjlon wrap into (-pi, pi]."""
    return f"({raw} - 2.0*pi()*floor(({raw} + pi())/(2.0*pi())))"


def _qsfn_sql(s: str, e: float, one_es: float) -> str:
    """qsfn (src/qsfn.cpp:6-18) as SQL."""
    con = f"({L(e)}*{s})"
    return (f"({L(one_es)}*({s}/(1.0 - {con}*{con})"
            f" - (0.5/{L(e)})*ln((1.0 - {con})/(1.0 + {con}))))")


def eqc_xy(projstr: str) -> tuple[str, str]:
    """Equidistant cylindrical: x = a·rc·λ, y = a·(φ - φ0)."""
    tr = compile_projstring(projstr)
    op = tr.ops[0]
    rc = op.consts.rc
    a = op.ell.a
    lam = _wrap(f"(radians(lon) - {L(op.lam0)})")
    return (f"({L(a)} * ({L(rc)} * {lam}))",
            f"({L(a)} * (radians(lat) - {L(op.consts.phi0)}))")


def aea_xy(projstr: str) -> tuple[str, str]:
    """Albers equal-area conic fwd (aea.cpp e_forward) with the
    driver-computed n/c/rho0/dd constants."""
    tr = compile_projstring(projstr)
    op = tr.ops[0]
    C = op.consts
    a = op.ell.a
    s = "sin(radians(lat))"
    q = _qsfn_sql(s, C.e, C.one_es)
    rho = f"({L(C.dd)} * sqrt({L(C.c)} - {L(C.n)}*{q}))"
    lam = _wrap(f"(radians(lon) - {L(op.lam0)})")
    lamn = f"({lam} * {L(C.n)})"
    return (f"({L(a)} * ({rho} * sin({lamn})))",
            f"({L(a)} * ({L(C.rho0)} - {rho} * cos({lamn})))")


def laea_xy(projstr: str) -> tuple[str, str]:
    """Lambert azimuthal equal-area fwd, oblique ellipsoidal branch
    (laea.cpp e_forward)."""
    tr = compile_projstring(projstr)
    op = tr.ops[0]
    C = op.consts
    assert C.mode == "obliq" and not C.spherical
    a = op.ell.a
    lam = _wrap(f"(radians(lon) - {L(op.lam0)})")
    s = "sin(radians(lat))"
    sinb = f"({_qsfn_sql(s, C.e, C.one_es)} / {L(C.qp)})"
    cosb = f"sqrt(1.0 - {sinb}*{sinb})"
    b = (f"sqrt(2.0/(1.0 + {L(C.sinb1)}*{sinb}"
         f" + {L(C.cosb1)}*{cosb}*cos({lam})))")
    x = f"({L(a)} * ({L(C.xmf)} * {b} * {cosb} * sin({lam})))"
    y = (f"({L(a)} * ({L(C.ymf)} * {b} * ({L(C.cosb1)}*{sinb}"
         f" - {L(C.sinb1)}*{cosb}*cos({lam}))))")
    return x, y


# ------------------------------------------------------------------- S2

def s2_face_ij_sql(level: int) -> str:
    """Oracle for the S2 tile assignment (face, i, j) at ``level``.

    Face selection + quadratic ST↔UV per the reference s2.cpp:126-253;
    the (face,i,j) triple is bijective with the Hilbert cell id, so an
    exact match here IS an exact tile-assignment match.
    """
    shift = 30 - level
    return f"""
WITH coords AS ({coords_cte()}),
xyz AS (
  SELECT doc_id,
    cos(radians(lat))*cos(radians(lon)) AS x,
    cos(radians(lat))*sin(radians(lon)) AS y,
    sin(radians(lat)) AS z
  FROM coords
),
f0 AS (
  SELECT doc_id, x, y, z,
    (CASE WHEN abs(x) > abs(y)
          THEN (CASE WHEN abs(x) > abs(z) THEN 0 ELSE 2 END)
          ELSE (CASE WHEN abs(y) > abs(z) THEN 1 ELSE 2 END) END) AS f
  FROM xyz
),
fc AS (
  SELECT doc_id, x, y, z,
    (CASE WHEN (CASE f WHEN 0 THEN x WHEN 1 THEN y ELSE z END) < 0
          THEN f + 3 ELSE f END) AS face
  FROM f0
),
uv AS (
  SELECT doc_id, face,
    (CASE face WHEN 0 THEN y/x WHEN 1 THEN -x/y WHEN 2 THEN -x/z
               WHEN 3 THEN z/x WHEN 4 THEN z/y ELSE -y/z END) AS u,
    (CASE face WHEN 0 THEN z/x WHEN 1 THEN z/y WHEN 2 THEN -y/z
               WHEN 3 THEN y/x WHEN 4 THEN -x/y ELSE -x/z END) AS v
  FROM fc
),
st AS (
  SELECT doc_id, face,
    (CASE WHEN u >= 0 THEN 0.5*sqrt(1.0+3.0*u) ELSE 1.0-0.5*sqrt(1.0-3.0*u) END) AS s,
    (CASE WHEN v >= 0 THEN 0.5*sqrt(1.0+3.0*v) ELSE 1.0-0.5*sqrt(1.0-3.0*v) END) AS t
  FROM uv
)
SELECT doc_id, face,
  CAST(floor(least(greatest(floor(s*1073741824.0), 0.0), 1073741823.0))
       AS BIGINT) // {1 << shift} AS i,
  CAST(floor(least(greatest(floor(t*1073741824.0), 0.0), 1073741823.0))
       AS BIGINT) // {1 << shift} AS j
FROM st
ORDER BY doc_id
"""

# ----------------------------------------------------- etmerc (exact TM)

def _gatg_cols(prefix: str, B: str, cos2B: str, sin2B: str, p) -> tuple[list[str], str]:
    """Unroll gatg (tmerc.cpp:263-276) as lateral column aliases."""
    cols = [f"(2.0*({cos2B})) AS {prefix}_tc"]
    h2, h1 = "0.0", L(p[-1])
    for step, k in enumerate(range(len(p) - 2, -1, -1)):
        h = f"(-({h2}) + {prefix}_tc*({h1}) + {L(p[k])})"
        name = f"{prefix}_h{step}"
        cols.append(f"{h} AS {name}")
        h2, h1 = h1, name
    return cols, f"(({B}) + {h1}*({sin2B}))"


def _clenS_cols(prefix: str, a, sr: str, cr: str, shi: str,
                chi: str) -> tuple[list[str], str, str]:
    """Unroll the complex Clenshaw clenS (tmerc.cpp:279-306) as lateral
    column aliases; returns (cols, R_expr, I_expr)."""
    cols = [f"(2.0*({cr})*({chi})) AS {prefix}_r",
            f"(-2.0*({sr})*({shi})) AS {prefix}_i"]
    hr1 = hi1 = "0.0"
    hr, hi = L(a[-1]), "0.0"
    for step, k in enumerate(range(len(a) - 2, -1, -1)):
        hr2, hi2 = hr1, hi1
        hr1, hi1 = hr, hi
        nr, ni = f"{prefix}_hr{step}", f"{prefix}_hi{step}"
        cols.append(f"(-({hr2}) + {prefix}_r*({hr1}) - {prefix}_i*({hi1})"
                    f" + {L(a[k])}) AS {nr}")
        cols.append(f"(-({hi2}) + {prefix}_i*({hr1}) + {prefix}_r*({hi1}))"
                    f" AS {ni}")
        hr, hi = nr, ni
    R = f"(({sr})*({chi})*{hr} - ({cr})*({shi})*{hi})"
    I = f"(({sr})*({chi})*{hi} + ({cr})*({shi})*{hr})"  # noqa: E741
    return cols, R, I


def etmerc_sql(projstr: str, where: str, cols) -> str:
    """Full oracle for the Poder/Engsager exact TM forward
    (tmerc.cpp:328-412) over the coords rows that pass ``where``: Gauss
    latitude via gatg, complex Clenshaw correction via clenS, unrolled
    as chained CTEs with lateral column aliases.  Constants computed by the engine's own setup
    (tmerc.cpp:487-596) and embedded as full-precision literals."""
    tr = compile_projstring(projstr)
    op = tr.ops[0]
    Q = op.consts.exact
    a, lam0 = op.ell.a, op.lam0
    gcols, cn0 = _gatg_cols("gb", "phi", "c2", "s2", list(Q.cbg))
    gcols_s = ",\n    ".join(gcols)
    ccols, R, I = _clenS_cols("cl", list(Q.gtu), "sar", "car", "shi", "chi")
    ccols_s = ",\n    ".join(ccols)
    return f"""
WITH coords AS ({coords_cte()}),
fil AS (
  SELECT doc_id, lon, lat FROM coords
  WHERE {where}
),
prep AS (
  SELECT doc_id, (radians(lon) - {L(lam0)}) AS lam, radians(lat) AS phi
  FROM fil
),
g AS (
  SELECT doc_id, lam, phi, sin(2.0*phi) AS s2, cos(2.0*phi) AS c2,
    {gcols_s},
    {cn0} AS Cn0
  FROM prep
),
t AS (
  SELECT doc_id, lam, sin(Cn0) AS sCn, cos(Cn0) AS cCn,
         sin(lam) AS sCe, cos(lam) AS cCe
  FROM g
),
u AS (
  SELECT doc_id, sCn, cCn, sCe, (cCn*cCe) AS ccc,
    atan2(sCn, cCn*cCe) AS Cn1,
    (1.0/sqrt(sCn*sCn + (cCn*cCe)*(cCn*cCe))) AS invd
  FROM t
),
v AS (
  SELECT doc_id, Cn1, sCn, ccc,
    (sCe*cCn*invd) AS tanCe,
    (2.0*invd) AS two_inv,
    (2.0*invd*invd) AS two_inv_sq
  FROM u
),
w AS (
  SELECT doc_id, Cn1,
    ln(tanCe + sqrt(tanCe*tanCe + 1.0)) AS Ce0,
    (sCn*(ccc*two_inv_sq)) AS sar,
    (ccc*(ccc*two_inv_sq) - 1.0) AS car,
    (tanCe*two_inv) AS shi,
    (two_inv_sq - 1.0) AS chi
  FROM v
),
c AS (
  SELECT doc_id, Cn1, Ce0, sar, car, shi, chi,
    {ccols_s}
  FROM w
)
{select_doc(cols, (f"{L(a)}*({L(Q.Qn)}*(Ce0 + {I}))",
                   f"{L(a)}*({L(Q.Qn)}*(Cn1 + {R}) + {L(Q.Zb)})"), "c")}"""


# --------------------------------------------- hgridshift + webmerc pipeline

def hgridshift_webmerc_sql(cols) -> str:
    """Oracle for the hgridshift(bench_h)+webmerc pipeline: the
    synthetic grid's node values are the analytic field
    amp*sin(3λ)cos(2φ) / amp*cos(2λ)sin(3φ) evaluated at the node
    coordinates, so the 4-corner bilinear sample (grids.cpp:3322-3393)
    is closed-form SQL; outside the grid extent the shift is zero."""
    from ..kernels.gridshift import synthetic_hgrid

    g = synthetic_hgrid()
    h, w = g.values.shape[:2]
    amp = 1e-5
    lon_max = g.lon0 + (w - 1) * g.dlon
    lat_max = g.lat0 + (h - 1) * g.dlat
    a = 6378137.0

    def node(base, idx, step):
        return f"({L(base)} + ({idx})*{L(step)})"

    nx0, nx1 = node(g.lon0, "ix", g.dlon), node(g.lon0, "ix+1", g.dlon)
    ny0, ny1 = node(g.lat0, "iy", g.dlat), node(g.lat0, "iy+1", g.dlat)

    def dl(nx, ny):
        return f"({L(amp)}*sin(3.0*{nx})*cos(2.0*{ny}))"

    def dp(nx, ny):
        return f"({L(amp)}*cos(2.0*{nx})*sin(3.0*{ny}))"

    def bilin(f00, f10, f01, f11):
        return (f"((1.0-tx)*(1.0-ty)*{f00} + tx*(1.0-ty)*{f10}"
                f" + (1.0-tx)*ty*{f01} + tx*ty*{f11})")

    return f"""
WITH coords AS ({coords_cte()}),
r AS (
  SELECT doc_id, radians(lon) AS lam, radians(lat) AS phi FROM coords
),
f AS (
  SELECT doc_id, lam, phi,
    ((lam - {L(g.lon0)})/{L(g.dlon)}) AS fx,
    ((phi - {L(g.lat0)})/{L(g.dlat)}) AS fy,
    (lam >= {L(g.lon0)} AND lam <= {L(lon_max)}
     AND phi >= {L(g.lat0)} AND phi <= {L(lat_max)}) AS ing
  FROM r
),
i AS (
  SELECT doc_id, lam, phi, fx, fy, ing,
    least(greatest(CAST(floor(fx) AS BIGINT), 0), {w - 2}) AS ix,
    least(greatest(CAST(floor(fy) AS BIGINT), 0), {h - 2}) AS iy
  FROM f
),
n AS (
  SELECT doc_id, lam, phi, ing, (fx - ix) AS tx, (fy - iy) AS ty, ix, iy
  FROM i
),
s AS (
  SELECT doc_id,
    (lam + CASE WHEN ing THEN {bilin(dl(nx0, ny0), dl(nx1, ny0),
                                     dl(nx0, ny1), dl(nx1, ny1))}
                ELSE 0.0 END) AS lam_s,
    (phi + CASE WHEN ing THEN {bilin(dp(nx0, ny0), dp(nx1, ny0),
                                     dp(nx0, ny1), dp(nx1, ny1))}
                ELSE 0.0 END) AS phi_s
  FROM n
)
{select_doc(cols, (f"{L(a)}*lam_s",
                   f"{L(a)}*ln(tan(phi_s) + sqrt(tan(phi_s)*tan(phi_s) + 1.0))"),
            "s")}"""


def multiregion_select_sql(cols) -> str:
    """Oracle for crs_multiregion_select: per-point candidate dispatch
    as a CASE over area-of-use bboxes (trans.cpp:44-173 semantics).
    Candidate 0 = west regional grid (closed-form bilinear shift),
    candidate 1 = east regional grid, candidate 2 = global 3-param
    Helmert fallback (cart fwd / translate / Bowring inverse, the same
    chain crs_osgb_sql mirrors); all three end in spherical webmerc."""
    from ..kernels.gridshift import synthetic_hgrid

    gw = synthetic_hgrid(lon_lo=-130.0, lon_hi=-60.0,
                         lat_lo=20.0, lat_hi=60.0)
    ge = synthetic_hgrid()
    tr = compile_projstring(
        "+proj=webmerc +ellps=WGS84 +towgs84=100,-50,30")
    ids = [op.proj_id for op in tr.ops]
    assert ids == ["cart", "helmert", "cart", "webmerc"], ids
    cw = tr.ops[0].consts
    tx, ty, tz = tr.ops[1].consts.xyz0
    ca = tr.ops[2].consts
    a = tr.ops[3].ell.a
    amp = 1e-5

    def grid_chain(g, p: str) -> str:
        """Per-grid columns (prefix p): shifted lam/phi via the
        closed-form 4-corner bilinear of the analytic field."""
        h, w = g.values.shape[:2]

        def node(base, idx, step):
            return f"({L(base)} + ({idx})*{L(step)})"

        nx0 = node(g.lon0, f"{p}ix", g.dlon)
        nx1 = node(g.lon0, f"{p}ix+1", g.dlon)
        ny0 = node(g.lat0, f"{p}iy", g.dlat)
        ny1 = node(g.lat0, f"{p}iy+1", g.dlat)

        def dl(nx, ny):
            return f"({L(amp)}*sin(3.0*{nx})*cos(2.0*{ny}))"

        def dp(nx, ny):
            return f"({L(amp)}*cos(2.0*{nx})*sin(3.0*{ny}))"

        def bilin(f00, f10, f01, f11):
            return (f"((1.0-{p}tx)*(1.0-{p}ty)*{f00}"
                    f" + {p}tx*(1.0-{p}ty)*{f10}"
                    f" + (1.0-{p}tx)*{p}ty*{f01} + {p}tx*{p}ty*{f11})")

        fx = f"((lam - {L(g.lon0)})/{L(g.dlon)})"
        fy = f"((phi - {L(g.lat0)})/{L(g.dlat)})"
        ix = f"least(greatest(CAST(floor({fx}) AS BIGINT), 0), {w - 2})"
        iy = f"least(greatest(CAST(floor({fy}) AS BIGINT), 0), {h - 2})"
        return (f"{p}1 AS (SELECT *, {ix} AS {p}ix, {iy} AS {p}iy "
                f"FROM {'r' if p == 'w' else 'w3'}),\n"
                f"{p}2 AS (SELECT *, ({fx} - {p}ix) AS {p}tx, "
                f"({fy} - {p}iy) AS {p}ty FROM {p}1),\n"
                f"{p}3 AS (SELECT *, "
                f"(lam + {bilin(dl(nx0, ny0), dl(nx1, ny0), dl(nx0, ny1), dl(nx1, ny1))}) AS {p}lam, "
                f"(phi + {bilin(dp(nx0, ny0), dp(nx1, ny0), dp(nx0, ny1), dp(nx1, ny1))}) AS {p}phi "
                f"FROM {p}2)")

    in_w = "(lon >= -130.0 AND lon <= -60.0 AND lat >= 20.0 AND lat <= 60.0)"
    in_e = "(lon >= -10.0 AND lon <= 30.0 AND lat >= 35.0 AND lat <= 70.0)"
    return f"""
WITH coords AS ({coords_cte()}),
r AS (
  SELECT doc_id, lon, lat, radians(lon) AS lam, radians(lat) AS phi
  FROM coords
),
{grid_chain(gw, 'w')},
{grid_chain(ge, 'e')},
cf AS (
  SELECT *, ({L(cw.a)}/sqrt(1.0 - {L(cw.es)}*sin(phi)*sin(phi))) AS N
  FROM e3
),
xyz AS (
  SELECT *, (N*cos(phi)*cos(lam)) AS gX, (N*cos(phi)*sin(lam)) AS gY,
    (N*{L(1.0 - cw.es)}*sin(phi)) AS gZ
  FROM cf
),
hel AS (
  SELECT *, ((gX - {L(tx)})*{L(ca.ra)}) AS xda,
    ((gY - {L(ty)})*{L(ca.ra)}) AS yda,
    ((gZ - {L(tz)})*{L(ca.ra)}) AS zda,
    sqrt(((gX - {L(tx)})*{L(ca.ra)})*((gX - {L(tx)})*{L(ca.ra)})
         + ((gY - {L(ty)})*{L(ca.ra)})*((gY - {L(ty)})*{L(ca.ra)})) AS pda
  FROM xyz
),
bw AS (
  SELECT *, (pda*{L(1.0 - ca.f)}*(1.0/sqrt(zda*zda
             + (pda*{L(1.0 - ca.f)})*(pda*{L(1.0 - ca.f)})))) AS bc,
    (zda*(1.0/sqrt(zda*zda
         + (pda*{L(1.0 - ca.f)})*(pda*{L(1.0 - ca.f)})))) AS bs
  FROM hel
),
llh AS (
  SELECT *, atan((zda + {L(ca.e2s * (1.0 - ca.f))}*bs*bs*bs)
                 / (pda - {L(ca.es)}*bc*bc*bc)) AS hphi,
    atan2(yda, xda) AS hlam
  FROM bw
),
sel AS (
  SELECT doc_id,
    CASE WHEN {in_w} THEN 0 WHEN {in_e} THEN 1 ELSE 2 END AS op,
    CASE WHEN {in_w} THEN wlam WHEN {in_e} THEN elam ELSE hlam END AS flam,
    CASE WHEN {in_w} THEN wphi WHEN {in_e} THEN ephi ELSE hphi END AS fphi
  FROM llh
)
{select_doc(cols, (f"{L(a)}*flam",
                   f"{L(a)}*ln(tan(fphi) + sqrt(tan(fphi)*tan(fphi) + 1.0))",
                   "op"), "sel")}"""


# ------------------------------------------------- tsfn + polar stere

def _tsfn_sql(rl: str, s: str, e: float) -> str:
    """pj_tsfn (tsfn.cpp:6-29): exp(e*atanh(e*sin)) * base with the
    sign-split base used by kernels.common.tsfn."""
    base = (f"(CASE WHEN {s} > 0 THEN cos({rl})/(1.0+{s}) "
            f"ELSE (1.0-{s})/cos({rl}) END)")
    return (f"(exp({L(e)}*0.5*ln((1.0+{L(e)}*{s})/(1.0-{L(e)}*{s})))"
            f" * {base})")


def stere_polar_xy(projstr: str) -> tuple[str, str]:
    """Polar ellipsoidal stereographic forward (stere.cpp e_forward
    N_POLE/S_POLE branches) with the engine's akm1 (k0 pre-folded)."""
    tr = compile_projstring(projstr)
    op = tr.ops[0]
    C = op.consts
    assert C.mode in ("n_pole", "s_pole") and not C.spherical
    a = op.ell.a
    lam = _wrap(f"(radians(lon) - {L(op.lam0)})")
    rl = "radians(lat)"
    if C.mode == "n_pole":
        ts = _tsfn_sql(rl, f"sin({rl})", C.e)
        coslamv = f"(-cos({lam}))"
    else:
        ts = _tsfn_sql(f"(-{rl})", f"(-sin({rl}))", C.e)
        coslamv = f"cos({lam})"
    r = f"({L(C.akm1)} * {ts})"
    return (f"({L(a)} * ({r} * sin({lam})))",
            f"({L(a)} * ({r} * {coslamv}))")


def aeqd_sph_xy(projstr: str) -> tuple[str, str]:
    """Spherical azimuthal equidistant forward (aeqd.cpp spherical
    branch as re-derived in kernels/azimuthal.py::aeqd_fwd)."""
    tr = compile_projstring(projstr)
    op = tr.ops[0]
    C = op.consts
    assert C.es == 0
    a = op.ell.a
    p0 = C.phi0
    lam = _wrap(f"(radians(lon) - {L(op.lam0)})")
    rl = "radians(lat)"
    cosc = (f"least(greatest({L(math.sin(p0))}*sin({rl})"
            f" + {L(math.cos(p0))}*cos({rl})*cos({lam}), -1.0), 1.0)")
    c = f"acos({cosc})"
    az = (f"atan2(cos({rl})*sin({lam}), "
          f"{L(math.cos(p0))}*sin({rl})"
          f" - {L(math.sin(p0))}*cos({rl})*cos({lam}))")
    return (f"({L(a)} * ({c} * sin({az})))",
            f"({L(a)} * ({c} * cos({az})))")


def sinu_sql(projstr: str, cols) -> str:
    """Ellipsoidal sinusoidal forward (sinu.cpp e_forward): y = mlfn
    (Clenshaw unrolled), x = lam*cos(phi)/sqrt(1 - es sin^2 phi)."""
    tr = compile_projstring(projstr)
    op = tr.ops[0]
    from ..kernels.misc_proj import sinu_setup

    en = sinu_setup(op.ell)
    a, es = op.ell.a, op.ell.es
    mcols, mexpr = mlfn_cols("ml", "rphi", en)
    mcols_s = ",\n    ".join(mcols)
    return f"""
WITH coords AS ({coords_cte()}),
p AS (
  SELECT doc_id, radians(lon) AS lam, radians(lat) AS rphi FROM coords
),
m AS (
  SELECT doc_id, lam, rphi,
    {mcols_s}
  FROM p
)
{select_doc(cols, (f"{L(a)}*(lam*ml_c/sqrt(1.0 - {L(es)}*ml_s*ml_s))",
                   f"{L(a)}*{mexpr}"), "m")}"""


def moll_sql(projstr: str, cols) -> str:
    """Mollweide forward (moll.cpp): theta Newton solve unrolled a
    fixed 10 times (the engine's early-break leaves theta within
    ~1e-14 of the fixed-iteration value — far below cm rounding).

    One CTE per Newton step: a lateral-alias chain would make DuckDB
    inline the recurrence textually (~4^n expression nodes)."""
    tr = compile_projstring(projstr)
    op = tr.ops[0]
    C = op.consts
    a = op.ell.a
    ctes = []
    th = "rphi"
    for i in range(10):
        nxt = f"th{i}"
        ctes.append(
            f"n{i} AS (\n  SELECT doc_id, lam, rphi, kk,\n"
            f"    ({th} - (CASE WHEN (1.0 + cos({th})) != 0.0 "
            f"THEN (({th} + sin({th})) - kk)/(1.0 + cos({th})) "
            f"ELSE 0.0 END)) AS {nxt}\n"
            f"  FROM {'p' if i == 0 else f'n{i-1}'}\n)")
        th = nxt
    ctes_s = ",\n".join(ctes)
    return f"""
WITH coords AS ({coords_cte()}),
p AS (
  SELECT doc_id, radians(lon) AS lam, radians(lat) AS rphi,
         {L(C.C_p)}*sin(radians(lat)) AS kk
  FROM coords
),
{ctes_s},
t AS (
  SELECT doc_id, lam,
    0.5*(CASE WHEN (1.0 + cos({th})) = 0.0
              THEN (CASE WHEN rphi < 0.0 THEN -pi()/2 ELSE pi()/2 END)
              ELSE {th} END) AS theta
  FROM n9
)
{select_doc(cols, (f"{L(a)}*({L(C.C_x)}*lam*cos(theta))",
                   f"{L(a)}*({L(C.C_y)}*sin(theta))"), "t")}"""


def factors_sql(projstr: str, cols) -> str:
    """proj_factors h/k/s oracle (factors.cpp:111-240): central
    differences of the closed-form LCC forward at +-1e-7 rad, scaled
    by the ellipsoidal curvature radii."""
    import numpy as np

    tr = compile_projstring(projstr)
    op = tr.ops[0]
    a, es = op.ell.a, op.ell.es
    H = 1e-7
    hdeg = float(np.degrees(H))
    xe, ye = lcc_xy(projstr, lon=f"(lon + {L(hdeg)})", lat="lat")
    xw, yw = lcc_xy(projstr, lon=f"(lon - {L(hdeg)})", lat="lat")
    xn, yn = lcc_xy(projstr, lon="lon", lat=f"(lat + {L(hdeg)})")
    xs, ys = lcc_xy(projstr, lon="lon", lat=f"(lat - {L(hdeg)})")
    return f"""
WITH coords AS ({coords_cte()}),
d AS (
  SELECT doc_id,
    ({xe} - {xw})/{L(2 * H)} AS dxdl,
    ({ye} - {yw})/{L(2 * H)} AS dydl,
    ({xn} - {xs})/{L(2 * H)} AS dxdp,
    ({yn} - {ys})/{L(2 * H)} AS dydp,
    sin(radians(lat)) AS s, cos(radians(lat)) AS c
  FROM coords
),
r AS (
  SELECT doc_id, dxdl, dydl, dxdp, dydp,
    (1.0 - {L(es)}*s*s) AS t, c
  FROM d
)
{select_doc(cols, (
    f"sqrt(dxdp*dxdp + dydp*dydp) / ({L(a * (1.0 - es))}*pow(t, -1.5))",
    f"sqrt(dxdl*dxdl + dydl*dydl) / ({L(a)}*c/sqrt(t))",
    f"(dxdl*dydp - dxdp*dydl) / (({L(a * (1.0 - es))}*pow(t, -1.5))"
    f" * ({L(a)}*c/sqrt(t)))"), "r")}"""


# --------------------------------------------- national grids (natgrid.py)

def sterea_sql(projstr: str, cols) -> str:
    """Oblique stereographic alternative forward (sterea.cpp:44-63 on
    the Gauss conformal sphere, gauss.cpp:89-99) — fully closed-form."""
    tr = compile_projstring(projstr)
    op = tr.ops[0]
    C = op.consts
    en = C.en
    a = op.ell.a
    lam = _wrap(f"(radians(lon) - {L(op.lam0)})")
    return f"""
WITH coords AS ({coords_cte()}),
g AS (
  SELECT doc_id,
    (2.0*atan({L(en.K)}
       * pow(tan(0.5*radians(lat) + pi()/4), {L(en.C)})
       * pow((1.0 - {L(en.e)}*sin(radians(lat)))
             /(1.0 + {L(en.e)}*sin(radians(lat))), {L(en.ratexp)}))
     - pi()/2) AS sphi,
    ({L(en.C)} * {lam}) AS slam
  FROM coords
),
k AS (
  SELECT doc_id, sphi, slam,
    ({L(C.k0)} * {L(C.R2)}
     / (1.0 + {L(C.sinc0)}*sin(sphi)
        + {L(C.cosc0)}*cos(sphi)*cos(slam))) AS kk
  FROM g
)
{select_doc(cols, (
    f"{L(a)}*(kk*cos(sphi)*sin(slam)) + {L(op.x0)}",
    f"{L(a)}*(kk*({L(C.cosc0)}*sin(sphi)"
    f" - {L(C.sinc0)}*cos(sphi)*cos(slam))) + {L(op.y0)}"), "k")}"""


def krovak_sql(projstr: str, cols) -> str:
    """Krovak forward (krovak.cpp:145-206) — closed-form conic on the
    conformal sphere with the hardcoded pseudo-standard parallel."""
    from ..kernels.natgrid import S0

    tr = compile_projstring(projstr)
    op = tr.ops[0]
    C = op.consts
    a = op.ell.a
    assert C.easting_northing and not C.modified
    lam = _wrap(f"(radians(lon) - {L(op.lam0)})")
    rl = "radians(lat)"
    half_ae = C.alpha * C.e / 2.0
    return f"""
WITH coords AS ({coords_cte()}),
u AS (
  SELECT doc_id,
    (2.0*(atan({L(C.k)} * pow(tan({rl}/2.0 + pi()/4), {L(C.alpha)})
               / pow((1.0 + {L(C.e)}*sin({rl}))
                     /(1.0 - {L(C.e)}*sin({rl})), {L(half_ae)}))
          - pi()/4)) AS uu,
    (-({lam}) * {L(C.alpha)}) AS dv
  FROM coords
),
s AS (
  SELECT doc_id, uu, dv,
    asin(least(greatest({L(math.cos(C.ad))}*sin(uu)
               + {L(math.sin(C.ad))}*cos(uu)*cos(dv), -1.0), 1.0)) AS ss
  FROM u
),
d AS (
  SELECT doc_id, ss,
    asin(least(greatest(cos(uu)*sin(dv)/cos(ss), -1.0), 1.0)) AS dd
  FROM s
),
r AS (
  SELECT doc_id, ({L(C.n)} * dd) AS eps,
    ({L(C.rho0 * math.tan(S0 / 2.0 + math.pi / 4) ** C.n)}
     / pow(tan(ss/2.0 + pi()/4), {L(C.n)})) AS rho
  FROM d
)
{select_doc(cols, (
    f"{L(a)}*(-(rho*sin(eps)) - {L(2.0 * C.x0 / C.a)}) + {L(op.x0)}",
    f"{L(a)}*(-(rho*cos(eps)) - {L(2.0 * C.y0 / C.a)}) + {L(op.y0)}"), "r")}"""


def somerc_sql(projstr: str, cols) -> str:
    """Swiss oblique Mercator forward (somerc.cpp:35-52) —
    closed-form."""
    tr = compile_projstring(projstr)
    op = tr.ops[0]
    C = op.consts
    a = op.ell.a
    lam = _wrap(f"(radians(lon) - {L(op.lam0)})")
    rl = "radians(lat)"
    sp = f"({L(C.e)}*sin({rl}))"
    return f"""
WITH coords AS ({coords_cte()}),
p AS (
  SELECT doc_id,
    (2.0*atan(exp({L(C.c)}*(ln(tan(pi()/4 + 0.5*{rl}))
                  - {L(C.hlf_e)}*ln((1.0 + {sp})/(1.0 - {sp})))
                  + {L(C.K)})) - pi()/2) AS phip,
    ({L(C.c)} * {lam}) AS lamp
  FROM coords
),
q AS (
  SELECT doc_id, phip, lamp,
    asin(least(greatest({L(C.cosp0)}*sin(phip)
               - {L(C.sinp0)}*cos(phip)*cos(lamp), -1.0), 1.0)) AS phipp
  FROM p
),
r AS (
  SELECT doc_id, phipp,
    asin(least(greatest(cos(phip)*sin(lamp)/cos(phipp), -1.0), 1.0)) AS lampp
  FROM q
)
{select_doc(cols, (
    f"{L(a)}*({L(C.kR)}*lampp) + {L(op.x0)}",
    f"{L(a)}*({L(C.kR)}*ln(tan(pi()/4 + 0.5*phipp))) + {L(op.y0)}"), "r")}"""


# ------------------------------------------------------------------- IVF

def ivf_sql(centroids, n_queries: int, nprobe: int, k: int) -> str:
    """Oracle for the IVF ANN path: the fixed codebook is embedded as
    a VALUES table of list literals; nearest-centroid assignment and
    query probing are row_number() windows ordered by (distance, cid)
    — first-min on ties, matching numpy argmin / stable argsort."""
    rows = []
    for cid, c in enumerate(centroids):
        arr = "[" + ", ".join(repr(float(x)) for x in c) + "]"
        rows.append(f"({cid}, {arr})")
    cent_values = ",\n    ".join(rows)
    dist = ("list_sum(list_transform(list_zip({v}, cent.c), "
            "x -> (x[1]-x[2])*(x[1]-x[2])))")
    dot = "list_sum(list_transform(list_zip(cand.e, q.qe), x -> x[1]*x[2]))"
    norm = "sqrt(list_sum(list_transform({v}, x -> x*x)))"
    return f"""
WITH cent(cid, c) AS (VALUES
    {cent_values}
),
v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id < {n_queries}
),
assigned AS (
  SELECT vec_id, e, cid FROM (
    SELECT v.vec_id, v.e, cent.cid,
      row_number() OVER (PARTITION BY v.vec_id
                         ORDER BY {dist.format(v="v.e")}, cent.cid) AS rn
    FROM v CROSS JOIN cent)
  WHERE rn = 1
),
probes AS (
  SELECT query_id, cid FROM (
    SELECT q.query_id, cent.cid,
      row_number() OVER (PARTITION BY q.query_id
                         ORDER BY {dist.format(v="q.qe")}, cent.cid) AS rn
    FROM q CROSS JOIN cent)
  WHERE rn <= {nprobe}
),
cand AS (
  SELECT p.query_id, a.vec_id, a.e
  FROM assigned a JOIN probes p USING (cid)
  WHERE a.vec_id != p.query_id
),
s AS (
  SELECT cand.query_id, cand.vec_id,
    (round({dot} / ({norm.format(v="cand.e")} * {norm.format(v="q.qe")}),
           9) + 0.0) AS sim
  FROM cand JOIN q ON q.query_id = cand.query_id
),
r AS (
  SELECT query_id, vec_id, sim,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY sim DESC, vec_id ASC) AS rank
  FROM s
)
SELECT query_id, rank, vec_id, sim FROM r WHERE rank <= {k}
ORDER BY query_id, rank
"""


# ------------------------------------------------------------ molodensky

def molodensky_sql(projstr: str, cols) -> str:
    """Standard (non-abridged) Molodensky forward at z=0
    (molodensky.cpp:120-172) — closed-form."""
    tr = compile_projstring(projstr)
    op = tr.ops[0]
    C = op.consts
    assert not C.abridged
    a, es, f = C.a, C.es, C.f
    s, c = "sin(rl)", "cos(rl)"
    slam, clam = "sin(rlam)", "cos(rlam)"
    rho = (f"(CASE WHEN rl = 0.0 THEN {L(a * (1.0 - es))} "
           f"WHEN abs(rl) = pi()/2 THEN {L(a / math.sqrt(1.0 - es))} "
           f"ELSE {L(a * (1.0 - es))}/pow(1.0 - {L(es)}*{s}*{s}, 1.5) END)")
    nu = f"({L(a)}/sqrt(1.0 - {L(es)}*{s}*{s}))"
    return f"""
WITH coords AS ({coords_cte()}),
p AS (
  SELECT doc_id, radians(lon) AS rlam, radians(lat) AS rl FROM coords
),
r AS (
  SELECT doc_id, rlam, rl, {rho} AS rho, {nu} AS nu FROM p
),
d AS (
  SELECT doc_id, rlam, rl,
    ((-({L(C.dx)})*{s}*{clam} - ({L(C.dy)})*{s}*{slam} + ({L(C.dz)})*{c}
      + (nu*{L(es)}*{s}*{c}*({L(C.da)}))/{L(a)}
      + {s}*{c}*(rho/{L(1.0 - f)} + nu*{L(1.0 - f)})*({L(C.df)}))
     / rho) AS dphi,
    ((-({L(C.dx)})*{slam} + ({L(C.dy)})*{clam})/(nu*{c})) AS dlam,
    (({L(C.dx)})*{c}*{clam} + ({L(C.dy)})*{c}*{slam} + ({L(C.dz)})*{s}
     - ({L(a)}/nu)*({L(C.da)})
     + nu*{L(1.0 - f)}*{s}*{s}*({L(C.df)})) AS dh
  FROM r
)
{select_doc(cols, ("degrees(rlam + dlam)", "degrees(rl + dphi)", "dh"), "d")}"""


def eqdc_sql(projstr: str, cols) -> str:
    """Equidistant conic forward (eqdc.cpp:54-66): rho = c - mlfn(phi),
    with the meridional arc unrolled via the Clenshaw CTE."""
    tr = compile_projstring(projstr)
    op = tr.ops[0]
    C = op.consts
    assert C.ellips
    a = op.ell.a
    mcols, mexpr = mlfn_cols("ml", "rphi", C.en)
    mcols_s = ",\n    ".join(mcols)
    lam = _wrap(f"(radians(lon) - {L(op.lam0)})")
    return f"""
WITH coords AS ({coords_cte()}),
p AS (
  SELECT doc_id, {lam} AS lam, radians(lat) AS rphi FROM coords
),
m AS (
  SELECT doc_id, lam, rphi,
    {mcols_s}
  FROM p
),
r AS (
  SELECT doc_id, lam, ({L(C.c)} - {mexpr}) AS rho FROM m
)
{select_doc(cols, (f"{L(a)}*(rho*sin(lam*{L(C.n)}))",
                   f"{L(a)}*({L(C.rho0)} - rho*cos(lam*{L(C.n)}))"), "r")}"""


def hammer_sql(projstr: str, cols) -> str:
    """Hammer forward (hammer.cpp:19-35) — closed-form."""
    from ..kernels.azimuthal import hammer_setup

    tr = compile_projstring(projstr)
    op = tr.ops[0]
    w, m, rm = hammer_setup(op.params)
    a = op.ell.a
    lam = _wrap("radians(lon)")
    return f"""
WITH coords AS ({coords_cte()}),
p AS (
  SELECT doc_id, ({lam} * {L(w)}) AS lamw, radians(lat) AS rphi
  FROM coords
),
d AS (
  SELECT doc_id, lamw, rphi,
    sqrt(2.0/(1.0 + cos(rphi)*cos(lamw))) AS dd
  FROM p
)
{select_doc(cols, (f"{L(a)}*({L(m)}*dd*cos(rphi)*sin(lamw))",
                   f"{L(a)}*({L(rm)}*dd*sin(rphi))"), "d")}"""


def cass_hyperbolic_sql(projstr: str, cols) -> str:
    """Cassini-Soldner hyperbolic variant forward (cass.cpp:25-49 with
    the Vanua-Levu y^3 correction) — closed-form series (the
    non-hyperbolic engine path adds a numeric-Newton refinement that
    is not hash-mirrorable, so the driver query uses +hyperbolic)."""
    tr = compile_projstring(projstr)
    op = tr.ops[0]
    C = op.consts
    assert C.hyperbolic and not C.spherical
    a, es = op.ell.a, C.es
    mcols, mexpr = mlfn_cols("ml", "rphi", C.en)
    mcols_s = ",\n    ".join(mcols)
    lam = _wrap(f"(radians(lon) - {L(op.lam0)})")
    return f"""
WITH coords AS ({coords_cte()}),
p AS (
  SELECT doc_id, {lam} AS lam, radians(lat) AS rphi FROM coords
),
m AS (
  SELECT doc_id, lam, rphi,
    {mcols_s}
  FROM p
),
q AS (
  SELECT doc_id, lam, rphi, ml_s, ml_c, ({mexpr} - {L(C.m0)}) AS dM,
    (1.0/(1.0 - {L(es)}*ml_s*ml_s)) AS nu_sq,
    (ml_s/ml_c) AS tphi,
    (lam*ml_c) AS A,
    ({L(es)}*ml_c*ml_c/{L(1.0 - es)}) AS cc
  FROM m
),
r AS (
  SELECT doc_id, dM, nu_sq, sqrt(nu_sq) AS nu, tphi, (tphi*tphi) AS T,
         A, (A*A) AS A2, cc
  FROM q
),
s AS (
  SELECT doc_id,
    (nu*A*(1.0 - A2*T*({L(_cass_c("C1"))}
        + (8.0 - T + 8.0*cc)*A2*{L(_cass_c("C2"))}))) AS xu,
    (dM + nu*tphi*A2*(0.5 + (5.0 - T + 6.0*cc)*A2*{L(_cass_c("C3"))}))
      AS yu,
    (nu_sq*{L(1.0 - es)}*sqrt(nu_sq)) AS rho, nu
  FROM r
)
{select_doc(cols, (f"{L(a)}*xu", f"{L(a)}*(yu - yu*yu*yu/(6.0*rho*nu))"),
            "s")}"""


def _cass_c(name: str) -> float:
    from ..kernels import misc_proj as M

    return {"C1": M._CASS_C1, "C2": M._CASS_C2, "C3": M._CASS_C3}[name]


def poly_sql(projstr: str, cols) -> str:
    """American polyconic forward (poly.cpp:25-46) — closed-form
    (msfn + mlfn Clenshaw)."""
    tr = compile_projstring(projstr)
    op = tr.ops[0]
    C = op.consts
    assert not C.spherical
    a, es = op.ell.a, C.es
    mcols, mexpr = mlfn_cols("ml", "rphi", C.en)
    mcols_s = ",\n    ".join(mcols)
    lam = _wrap(f"(radians(lon) - {L(op.lam0)})")
    return f"""
WITH coords AS ({coords_cte()}),
p AS (
  SELECT doc_id, {lam} AS lam, radians(lat) AS rphi FROM coords
),
m AS (
  SELECT doc_id, lam, rphi,
    {mcols_s}
  FROM p
),
q AS (
  SELECT doc_id, lam, rphi, ml_s, ml_c, {mexpr} AS ml,
    (CASE WHEN abs(ml_c) > 1e-10
          THEN (ml_c/sqrt(1.0 - {L(es)}*ml_s*ml_s))/ml_s ELSE 0.0 END) AS ms,
    (lam*ml_s) AS E
  FROM m
)
{select_doc(cols, (
    f"{L(a)}*(CASE WHEN abs(rphi) <= 1e-10 THEN lam ELSE ms*sin(E) END)",
    f"{L(a)}*(CASE WHEN abs(rphi) <= 1e-10 THEN {L(-C.ml0)}"
    f" ELSE (ml - {L(C.ml0)}) + ms*(1.0 - cos(E)) END)"), "q")}"""


def bonne_sql(projstr: str, cols) -> str:
    """Bonne ellipsoidal forward (bonne.cpp:21-42) — closed-form."""
    tr = compile_projstring(projstr)
    op = tr.ops[0]
    C = op.consts
    assert not C.spherical
    a, es = op.ell.a, C.es
    mcols, mexpr = mlfn_cols("ml", "rphi", C.en)
    mcols_s = ",\n    ".join(mcols)
    lam = _wrap(f"(radians(lon) - {L(op.lam0)})")
    return f"""
WITH coords AS ({coords_cte()}),
p AS (
  SELECT doc_id, {lam} AS lam, radians(lat) AS rphi FROM coords
),
m AS (
  SELECT doc_id, lam, rphi,
    {mcols_s}
  FROM p
),
q AS (
  SELECT doc_id, lam, ml_s, ml_c,
    ({L(C.am1 + C.m1)} - {mexpr}) AS rh
  FROM m
),
r AS (
  SELECT doc_id, rh,
    (ml_c*lam/(rh*sqrt(1.0 - {L(es)}*ml_s*ml_s))) AS E
  FROM q
)
{select_doc(cols, (
    f"{L(a)}*(CASE WHEN abs(rh) <= 1e-10 THEN 0.0 ELSE rh*sin(E) END)",
    f"{L(a)}*(CASE WHEN abs(rh) <= 1e-10 THEN 0.0"
    f" ELSE {L(C.am1)} - rh*cos(E) END)"), "r")}"""


def igh_sql(projstr: str, cols) -> str:
    """Interrupted Goode homolosine forward (igh.cpp:57-93): zone CASE
    on (lam, phi), per-zone central meridians / offsets via 1-based
    list-literal indexing, Mollweide theta via the fixed-iteration
    Newton CTE chain (only phi-dependent, so computed once)."""
    from ..kernels.misc_proj import IGH_PHI_B, igh_setup

    C = igh_setup()
    a = compile_projstring(projstr).ops[0].ell.a
    d = {k: k * math.pi / 180.0 for k in (20, 40, 80, 100)}
    lam0s = "[" + ", ".join(L(z[1]) for z in C.zones) + "]"
    x0s = "[" + ", ".join(L(z[2]) for z in C.zones) + "]"
    y0s = "[" + ", ".join(L(z[3]) for z in C.zones) + "]"
    is_moll = "[" + ", ".join(("true" if z[0] else "false")
                              for z in C.zones) + "]"
    M = C.moll
    ctes = []
    th = "rphi"
    for i in range(10):
        nxt = f"th{i}"
        ctes.append(
            f"n{i} AS (\n  SELECT * ,\n"
            f"    ({th} - (CASE WHEN (1.0 + cos({th})) != 0.0 "
            f"THEN (({th} + sin({th})) - kk)/(1.0 + cos({th})) "
            f"ELSE 0.0 END)) AS {nxt}\n"
            f"  FROM {'zs' if i == 0 else f'n{i-1}'}\n)")
        th = nxt
    ctes_s = ",\n".join(ctes)
    return f"""
WITH coords AS ({coords_cte()}),
p AS (
  SELECT doc_id, radians(lon) AS rlam, radians(lat) AS rphi,
         {L(M.C_p)}*sin(radians(lat)) AS kk
  FROM coords
),
zs AS (
  SELECT doc_id, rlam, rphi, kk,
    (CASE
       WHEN rphi >= {L(IGH_PHI_B)} THEN
         (CASE WHEN rlam <= {L(-d[40])} THEN 1 ELSE 2 END)
       WHEN rphi >= 0.0 THEN
         (CASE WHEN rlam <= {L(-d[40])} THEN 3 ELSE 4 END)
       WHEN rphi >= {L(-IGH_PHI_B)} THEN
         (CASE WHEN rlam <= {L(-d[100])} THEN 5
               WHEN rlam <= {L(-d[20])} THEN 6
               WHEN rlam <= {L(d[80])} THEN 7 ELSE 8 END)
       ELSE
         (CASE WHEN rlam <= {L(-d[100])} THEN 9
               WHEN rlam <= {L(-d[20])} THEN 10
               WHEN rlam <= {L(d[80])} THEN 11 ELSE 12 END)
     END) AS z
  FROM p
),
{ctes_s},
t AS (
  SELECT doc_id, rphi, z,
    (rlam - ({lam0s})[z]) AS lrel,
    ({is_moll})[z] AS ismoll,
    ({x0s})[z] AS zx0, ({y0s})[z] AS zy0,
    0.5*(CASE WHEN (1.0 + cos({th})) = 0.0
              THEN (CASE WHEN rphi < 0.0 THEN -pi()/2 ELSE pi()/2 END)
              ELSE {th} END) AS theta
  FROM n9
)
{select_doc(cols, (
    f"{L(a)}*((CASE WHEN ismoll THEN {L(M.C_x)}*lrel*cos(theta)"
    f" ELSE lrel*cos(rphi) END) + zx0)",
    f"{L(a)}*((CASE WHEN ismoll THEN {L(M.C_y)}*sin(theta)"
    f" ELSE rphi END) + zy0)"), "t")}"""


def horner_sql(projstr: str, e_expr: str, n_expr: str, cols) -> str:
    """Real double-Horner polynomial forward (horner.cpp:155-181,
    232-288) unrolled symbolically — the same backward summation the
    kernel runs, emitted as one nested SQL expression per output."""
    tr = compile_projstring(projstr)
    C = tr.ops[0].consts
    assert not C.complex_poly

    def dre(cx, cy, e, n):
        from ..kernels.horner import n_real_coefs

        sz = n_real_coefs(C.order)
        icx = icy = sz
        icy -= 1
        N = L(cy[icy])
        icx -= 1
        E = L(cx[icx])
        for r in range(C.order, 0, -1):
            icy -= 1
            u = L(cy[icy])
            icx -= 1
            v = L(cx[icx])
            for _c in range(C.order, r - 1, -1):
                icy -= 1
                u = f"({n}*{u} + {L(cy[icy])})"
                icx -= 1
                v = f"({e}*{v} + {L(cx[icx])})"
            N = f"({e}*{N} + {u})"
            E = f"({n}*{E} + {v})"
        return E, N

    E, N = dre(C.fwd_u, C.fwd_v, "ee", "nn")
    return f"""
WITH coords AS ({coords_cte()}),
p AS (
  SELECT doc_id,
    ({e_expr}) - {L(C.fwd_origin[0])} AS ee,
    ({n_expr}) - {L(C.fwd_origin[1])} AS nn
  FROM coords
)
{select_doc(cols, (E, N), "p")}"""


def qsc_sql(projstr: str, cols) -> str:
    """QSC front-face forward (qsc.cpp:66-180) — closed-form with the
    CASE area fold."""
    tr = compile_projstring(projstr)
    op = tr.ops[0]
    C = op.consts
    from ..kernels.qsc import FACE_FRONT

    assert C.face == FACE_FRONT and op.lam0 == 0.0
    a = op.ell.a
    geoc = (f"atan({L(C.one_minus_f_squared)}*tan(radians(lat)))"
            if C.es != 0.0 else "radians(lat)")
    return f"""
WITH coords AS ({coords_cte()}),
g AS (
  SELECT doc_id, radians(lon) AS lam, {geoc} AS lat_c FROM coords
),
c AS (
  SELECT doc_id,
    (cos(lat_c)*cos(lam)) AS q, (cos(lat_c)*sin(lam)) AS r,
    sin(lat_c) AS s
  FROM g
),
f AS (
  SELECT doc_id, acos(least(greatest(q, -1.0), 1.0)) AS phi,
    atan2(s, r) AS th
  FROM c
),
z AS (
  SELECT doc_id, phi,
    (CASE WHEN phi < 1e-10 THEN 0.0
          WHEN abs(th) <= pi()/4 THEN th
          WHEN th > pi()/4 AND th <= 3*pi()/4 THEN th - pi()/2
          WHEN th > 3*pi()/4 OR th <= -3*pi()/4 THEN
            (CASE WHEN th >= 0.0 THEN th - pi() ELSE th + pi() END)
          ELSE th + pi()/2 END) AS theta,
    (CASE WHEN phi < 1e-10 THEN 0
          WHEN abs(th) <= pi()/4 THEN 0
          WHEN th > pi()/4 AND th <= 3*pi()/4 THEN 1
          WHEN th > 3*pi()/4 OR th <= -3*pi()/4 THEN 2
          ELSE 3 END) AS area
  FROM f
),
m AS (
  SELECT doc_id, phi, theta, area,
    atan((12.0/pi())*(theta
         + acos(least(greatest(sin(theta)*cos(pi()/4), -1.0), 1.0))
         - pi()/2)) AS mu
  FROM z
),
t AS (
  SELECT doc_id, area,
    sqrt((1.0 - cos(phi))/(cos(mu)*cos(mu))
         /(1.0 - cos(atan(1.0/cos(theta))))) AS tt,
    (mu + CASE area WHEN 1 THEN pi()/2 WHEN 2 THEN pi()
                    WHEN 3 THEN 3*pi()/2 ELSE 0.0 END) AS mu2
  FROM m
)
{select_doc(cols, (f"{L(a)}*(tt*cos(mu2))", f"{L(a)}*(tt*sin(mu2))"), "t")}"""


def healpix_sql(projstr: str, cols) -> str:
    """HEALPix forward (healpix.cpp:181-202): authalic latitude shift
    (qsfn ratio) + equatorial strip / polar triangle CASE."""
    tr = compile_projstring(projstr)
    op = tr.ops[0]
    C = op.consts
    assert not C.rhealpix and C.rot_xy == 0.0
    a = op.ell.a  # already the authalic radius
    if C.spherical:
        auth = "radians(lat)"
    else:
        q = _qsfn_sql("sin(radians(lat))", C.e, C.one_es)
        auth = f"asin(least(greatest({q}/{L(C.qp)}, -1.0), 1.0))"
    polar = L(float(np.arcsin(2.0 / 3.0)))
    return f"""
WITH coords AS ({coords_cte()}),
p AS (
  SELECT doc_id, radians(lon) AS lam, {auth} AS phi FROM coords
),
s AS (
  SELECT doc_id, lam, phi,
    sqrt(greatest(3.0*(1.0 - abs(sin(phi))), 0.0)) AS sigma,
    (-3.0*pi()/4 + (pi()/2)*least(floor(2.0*lam/pi() + 2.0), 3.0)) AS lamc
  FROM p
)
{select_doc(cols, (
    f"{L(a)}*(CASE WHEN abs(phi) <= {polar} THEN lam"
    f" ELSE lamc + (lam - lamc)*sigma END)",
    f"{L(a)}*(CASE WHEN abs(phi) <= {polar} THEN 3.0*pi()/8*sin(phi)"
    f" ELSE (CASE WHEN phi < 0 THEN -1.0 WHEN phi > 0 THEN 1.0 ELSE 0.0 END)"
    f"*(pi()/4)*(2.0 - sigma) END)"), "s")}"""


def airocean_sql(projstr: str, cols) -> str:
    """Fuller Airocean forward (airocean.cpp:726-772): geocentric
    latitude shift, 23-face triple-product location, gnomonic onto the
    face plane, per-face affine into the unfolded net.  The face's
    three determinant tests det(p,p2,p3)/det(p1,p,p3)/det(p1,p2,p) are
    scalar triple products p.(p2 x p3) / p.(p3 x p1) / p.(p1 x p2), so
    each is a constant linear form in (x,y,z) embedded per face; first
    matching face = min face id (same loop order as the reference)."""
    from ..kernels.airocean_data import (BASE_ICO_AIR_TRANS,
                                         BASE_ICO_CENTERS, BASE_ICO_FACES,
                                         BASE_ICO_NORMALS)

    tr = compile_projstring(projstr)
    op = tr.ops[0]
    C = op.consts
    a = op.ell.a
    rows = []
    for i in range(23):
        p1, p2, p3 = BASE_ICO_FACES[i]
        d1 = np.cross(p2, p3)
        d2 = np.cross(p3, p1)
        d3 = np.cross(p1, p2)
        n = BASE_ICO_NORMALS[i]
        cdn = float(np.dot(BASE_ICO_CENTERS[i], n))
        M = BASE_ICO_AIR_TRANS[i]
        vals = [i, *d1, *d2, *d3, *n, cdn,
                M[0, 0], M[0, 1], M[0, 2], M[0, 3],
                M[1, 0], M[1, 1], M[1, 2], M[1, 3]]
        rows.append("(" + ", ".join(
            str(v) if isinstance(v, int) else L(v) for v in vals) + ")")
    values = ",\n    ".join(rows)
    geoc = f"atan({L(C.one_minus_f * C.one_minus_f)}*tan(radians(lat)))"
    return f"""
WITH coords AS ({coords_cte()}),
faces(fid, a1,b1,c1, a2,b2,c2, a3,b3,c3, nx,ny,nz, cdn,
      m00,m01,m02,m03, m10,m11,m12,m13) AS (VALUES
    {values}
),
g AS (
  SELECT doc_id, radians(lon) AS lam, {geoc} AS lat_c FROM coords
),
p AS (
  SELECT doc_id, cos(lat_c)*cos(lam) AS x, cos(lat_c)*sin(lam) AS y,
         sin(lat_c) AS z
  FROM g
),
hit AS (
  SELECT doc_id, x, y, z, fid, nx, ny, nz, cdn,
         m00, m01, m02, m03, m10, m11, m12, m13
  FROM p CROSS JOIN faces
  WHERE a1*x + b1*y + c1*z <= 0
    AND a2*x + b2*y + c2*z <= 0
    AND a3*x + b3*y + c3*z <= 0
  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY fid) = 1
),
ico AS (
  SELECT doc_id, m00, m01, m02, m03, m10, m11, m12, m13,
         x * (cdn/(x*nx + y*ny + z*nz)) AS ix,
         y * (cdn/(x*nx + y*ny + z*nz)) AS iy,
         z * (cdn/(x*nx + y*ny + z*nz)) AS iz
  FROM hit
)
{select_doc(cols, (f"{L(a)}*(m00*ix + m01*iy + m02*iz + m03)",
                   f"{L(a)}*(m10*ix + m11*iy + m12*iz + m13)"), "ico")}"""


# --- defmodel driver query fixtures ------------------------------------
# Deterministic velocity-model: one 3x3 easting/northing/up grid over
# NZ-ish extent, velocity time function referenced to 2000.0.  The SAME
# node floats feed both the engine grid (kernels.defmodel.DefGrid) and
# the SQL VALUES table, so both sides bilinear-interpolate identical
# doubles.
DEFMODEL_BBOX = (150.0, -45.0, 170.0, -35.0)
DEFMODEL_RES = (10.0, 5.0)
DEFMODEL_NODES = [
    (ix, iy, 0.04 * (ix + 1) + 0.01 * iy, -0.02 * (iy + 1) - 0.005 * ix,
     0.003 * (ix + iy + 1))
    for iy in range(3) for ix in range(3)
]
DEFMODEL_JSON = """{
 "file_type": "GeoTIFF", "format_version": "1.0",
 "source_crs": "EPSG:4959", "target_crs": "EPSG:7907",
 "definition_crs": "EPSG:4959",
 "extent": {"type": "bbox", "parameters":
            {"bbox": [150.0, -45.0, 170.0, -35.0]}},
 "time_extent": {"first": "1900-01-01T00:00:00Z",
                 "last": "2050-01-01T00:00:00Z"},
 "horizontal_offset_method": "addition",
 "horizontal_offset_unit": "metre", "vertical_offset_unit": "metre",
 "components": [{
   "displacement_type": "3d", "uncertainty_type": "none",
   "extent": {"type": "bbox", "parameters":
              {"bbox": [150.0, -45.0, 170.0, -35.0]}},
   "spatial_model": {"type": "GeoTIFF",
                     "interpolation_method": "bilinear",
                     "filename": "synthetic_nz_velocity"},
   "time_function": {"type": "velocity", "parameters":
                     {"reference_epoch": "2000-01-01T00:00:00Z"}}}]
}"""


def defmodel_grid():
    """Engine-side DefGridSet built from DEFMODEL_NODES."""
    from ..kernels import defmodel as k_dm

    e = np.zeros((3, 3))
    n = np.zeros((3, 3))
    z = np.zeros((3, 3))
    for ix, iy, de, dn, dz in DEFMODEL_NODES:
        e[iy, ix], n[iy, ix], z[iy, ix] = de, dn, dz
    grid = k_dm.grid_from_bands(DEFMODEL_BBOX[0], DEFMODEL_BBOX[1],
                                DEFMODEL_RES[0], DEFMODEL_RES[1],
                                e_or_lon=e, n_or_lat=n, z=z)
    return k_dm.DefGridSet(grids=(grid,))


DEFMODEL_LONLAT_T = (
    "(150.0 + CAST(doc_id % 200 AS DOUBLE)*0.1)",
    "(-45.0 + CAST(doc_id % 100 AS DOUBLE)*0.1)",
    "(2005.0 + CAST(doc_id % 160 AS DOUBLE)*0.125)",
)


def defmodel_sql(cols) -> str:
    """defmodel forward oracle (defmodel_impl.hpp:822-1219 for the
    bilinear + addition + velocity path): cell-local bilinear of the
    VALUES node table, scaled by (t - 2000), converted to arc via
    DeltaEastingNorthingToLongLat (:713-722) on GRS80."""
    tr = compile_projstring("+proj=airocean +ellps=GRS80")  # GRS80 consts
    ell = tr.ops[0].ell
    a, es = ell.a, ell.es
    b = a * math.sqrt(1.0 - es)
    minx, miny = DEFMODEL_BBOX[0], DEFMODEL_BBOX[1]
    resx, resy = DEFMODEL_RES
    lon_e, lat_e, t_e = DEFMODEL_LONLAT_T
    values = ",\n    ".join(
        f"({ix}, {iy}, {L(de)}, {L(dn)}, {L(dz)})"
        for ix, iy, de, dn, dz in DEFMODEL_NODES)
    return f"""
WITH nodes(ix, iy, de, dn, dz) AS (VALUES
    {values}
),
pts AS (
  SELECT doc_id, {lon_e} AS lon, {lat_e} AS lat, {t_e} AS t
  FROM documents
),
cell AS (
  SELECT doc_id, lon, lat, t,
    least(CAST(floor((radians(lon) - radians({L(minx)}))
               / radians({L(resx)})) AS INTEGER), 1) AS ix0,
    least(CAST(floor((radians(lat) - radians({L(miny)}))
               / radians({L(resy)})) AS INTEGER), 1) AS iy0,
    (radians(lon) - radians({L(minx)})) / radians({L(resx)}) AS ixd,
    (radians(lat) - radians({L(miny)})) / radians({L(resy)}) AS iyd
  FROM pts
),
w AS (
  SELECT doc_id, lon, lat, t, ix0, iy0,
         ixd - ix0 AS fx, iyd - iy0 AS fy
  FROM cell
),
bi AS (
  SELECT w.doc_id, w.lon, w.lat, (w.t - 2000.0) AS tf,
    (n00.de*((1-fx)*(1-fy)) + n01.de*((1-fx)*fy)
     + n10.de*(fx*(1-fy)) + n11.de*(fx*fy)) AS de_i,
    (n00.dn*((1-fx)*(1-fy)) + n01.dn*((1-fx)*fy)
     + n10.dn*(fx*(1-fy)) + n11.dn*(fx*fy)) AS dn_i,
    (n00.dz*((1-fx)*(1-fy)) + n01.dz*((1-fx)*fy)
     + n10.dz*(fx*(1-fy)) + n11.dz*(fx*fy)) AS dz_i
  FROM w
  JOIN nodes n00 ON n00.ix = w.ix0     AND n00.iy = w.iy0
  JOIN nodes n10 ON n10.ix = w.ix0 + 1 AND n10.iy = w.iy0
  JOIN nodes n01 ON n01.ix = w.ix0     AND n01.iy = w.iy0 + 1
  JOIN nodes n11 ON n11.ix = w.ix0 + 1 AND n11.iy = w.iy0 + 1
),
arc AS (
  SELECT doc_id, lon, lat, tf, dz_i,
    (1.0 - {L(es)}*(1.0 - cos(radians(lat))*cos(radians(lat)))) AS XX,
    tf*de_i AS de_t, tf*dn_i AS dn_t
  FROM bi
)
{select_doc(cols, (
    f"degrees(radians(lon) + de_t*sqrt(XX)/({L(a)}*cos(radians(lat))))",
    f"degrees(radians(lat) + dn_t*{L(a)}*sqrt(XX)*XX/({L(b * b)}))",
    "tf*dz_i"), "arc")}"""


def crs_osgb_sql(where: str, cols) -> str:
    """Full oracle for crs_to_crs(EPSG:4326 -> EPSG:27700): cart WGS84
    forward (cart.cpp:139-153), 7-param Helmert inverse
    (helmert.cpp:402-436, small-angle position-vector matrix embedded
    as literals), Bowring cart inverse on Airy (cart.cpp:156-239,
    non-polar branch), then the Poder/Engsager exact TM forward with
    OSGB36 false origin, over the coords rows that pass ``where`` (a
    longitude window inside etmerc's convergence region and away from
    the +-pi wrap)."""
    from ..crs import crs_to_crs
    from ..kernels.helmert import _rot_matrix

    tr = crs_to_crs(4326, 27700)
    ids = [op.proj_id for op in tr.ops]
    assert ids == ["cart", "helmert", "cart", "tmerc"], ids
    cw = tr.ops[0].consts           # cart WGS84
    H = tr.ops[1].consts            # helmert (applied inverse)
    ca = tr.ops[2].consts           # cart Airy
    op = tr.ops[3]                  # etmerc-backed tmerc
    Q = op.consts.exact
    aA, lam0, x_0, y_0 = op.ell.a, op.lam0, op.x0, op.y0
    Rm = _rot_matrix(H, H.opk0)
    sc = 1.0 + H.scale0 * 1e-6
    tx, ty, tz = H.xyz0
    gcols, cn0 = _gatg_cols("gb", "phi2", "c2", "s2", list(Q.cbg))
    gcols_s = ",\n    ".join(gcols)
    ccols, R, I = _clenS_cols("cl", list(Q.gtu), "sar", "car", "shi", "chi")
    ccols_s = ",\n    ".join(ccols)
    return f"""
WITH coords AS ({coords_cte()}),
fil AS (
  SELECT doc_id, radians(lon) AS lam, radians(lat) AS phi FROM coords
  WHERE {where}
),
cartf AS (
  SELECT doc_id,
    ({L(cw.a)}/sqrt(1.0 - {L(cw.es)}*sin(phi)*sin(phi))) AS N,
    lam, phi
  FROM fil
),
xyz AS (
  SELECT doc_id,
    (N*cos(phi)*cos(lam)) AS X, (N*cos(phi)*sin(lam)) AS Y,
    (N*{L(1.0 - cw.es)}*sin(phi)) AS Z
  FROM cartf
),
hel AS (
  SELECT doc_id,
    ((X - {L(tx)})/{L(sc)}) AS hx, ((Y - {L(ty)})/{L(sc)}) AS hy,
    ((Z - {L(tz)})/{L(sc)}) AS hz
  FROM xyz
),
rot AS (
  SELECT doc_id,
    ({L(Rm[0, 0])}*hx + {L(Rm[1, 0])}*hy + {L(Rm[2, 0])}*hz) AS Xl,
    ({L(Rm[0, 1])}*hx + {L(Rm[1, 1])}*hy + {L(Rm[2, 1])}*hz) AS Yl,
    ({L(Rm[0, 2])}*hx + {L(Rm[1, 2])}*hy + {L(Rm[2, 2])}*hz) AS Zl
  FROM hel
),
bow AS (
  SELECT doc_id,
    (Xl*{L(ca.ra)}) AS xda, (Yl*{L(ca.ra)}) AS yda, (Zl*{L(ca.ra)}) AS zda,
    sqrt((Xl*{L(ca.ra)})*(Xl*{L(ca.ra)})
         + (Yl*{L(ca.ra)})*(Yl*{L(ca.ra)})) AS pda
  FROM rot
),
bow2 AS (
  SELECT doc_id, xda, yda, zda, pda,
    (pda*{L(1.0 - ca.f)}) AS pb
  FROM bow
),
bow3 AS (
  SELECT doc_id, xda, yda, zda, pda,
    (pb*(1.0/sqrt(zda*zda + pb*pb))) AS c,
    (zda*(1.0/sqrt(zda*zda + pb*pb))) AS s
  FROM bow2
),
llp AS (
  SELECT doc_id,
    atan((zda + {L(ca.e2s * (1.0 - ca.f))}*s*s*s)
         / (pda - {L(ca.es)}*c*c*c)) AS phi2,
    atan2(yda, xda) AS lam2
  FROM bow3
),
prep AS (
  SELECT doc_id, (lam2 - {L(lam0)}) AS lam, phi2 FROM llp
),
g AS (
  SELECT doc_id, lam, phi2, sin(2.0*phi2) AS s2, cos(2.0*phi2) AS c2,
    {gcols_s},
    {cn0} AS Cn0
  FROM prep
),
t AS (
  SELECT doc_id, sin(Cn0) AS sCn, cos(Cn0) AS cCn,
         sin(lam) AS sCe, cos(lam) AS cCe
  FROM g
),
u AS (
  SELECT doc_id, sCn, cCn, sCe, (cCn*cCe) AS ccc,
    atan2(sCn, cCn*cCe) AS Cn1,
    (1.0/sqrt(sCn*sCn + (cCn*cCe)*(cCn*cCe))) AS invd
  FROM t
),
v AS (
  SELECT doc_id, Cn1, sCn, ccc,
    (sCe*cCn*invd) AS tanCe,
    (2.0*invd) AS two_inv,
    (2.0*invd*invd) AS two_inv_sq
  FROM u
),
w AS (
  SELECT doc_id, Cn1,
    ln(tanCe + sqrt(tanCe*tanCe + 1.0)) AS Ce0,
    (sCn*(ccc*two_inv_sq)) AS sar,
    (ccc*(ccc*two_inv_sq) - 1.0) AS car,
    (tanCe*two_inv) AS shi,
    (two_inv_sq - 1.0) AS chi
  FROM v
),
c AS (
  SELECT doc_id, Cn1, Ce0, sar, car, shi, chi,
    {ccols_s}
  FROM w
)
{select_doc(cols, (f"{L(aA)}*({L(Q.Qn)}*(Ce0 + {I})) + {L(x_0)}",
                   f"{L(aA)}*({L(Q.Qn)}*(Cn1 + {R}) + {L(Q.Zb)}) + {L(y_0)}"),
            "c")}"""


def haversine_sql(lat2: float, lon2: float) -> str:
    """Great-circle metres from each row's (lat, lon) to the point
    (lat2, lon2) on the 6371008.8 m sphere (functions.geo.haversine_m)."""
    return (f"2.0*{L(6371008.8)}*asin(sqrt("
            f"sin(radians({L(lat2)} - lat)/2)*sin(radians({L(lat2)} - lat)/2)"
            f" + cos(radians(lat))*cos(radians({L(lat2)}))"
            f"*sin(radians({L(lon2)} - lon)/2)*sin(radians({L(lon2)} - lon)/2)))")


def vincenty_sql(lat2: float, lon2: float, max_hav_m: float, cols) -> str:
    """Vincenty (1975) inverse on WGS84 to the point (lat2, lon2),
    unrolled a FIXED 16 times — term-for-term mirror of
    kernels/geodesic.py::vincenty_inverse_fixed (the SQL-checkable face
    of the geodesic inverse; the Karney kernel it cross-validates
    against lives at kernels/geodesic.py::inverse / geodesic.c:1080).

    One CTE per lambda iteration (the moll Newton pattern): a lateral
    alias chain across iterations would inline the recurrence textually
    (~100^n nodes).  Within an iteration lateral aliases are fine
    (bounded ~170-node expansion).  Rows inside the near-antipodal band
    (haversine > max_hav_m) are excluded on BOTH sides by the same
    closed-form haversine prefilter."""
    a, f = 6378137.0, 1 / 298.257223563
    b = a * (1.0 - f)
    u2r = math.atan((1.0 - f) * math.tan(math.radians(lat2)))
    su2, cu2 = math.sin(u2r), math.cos(u2r)

    def step_cols(src_lam: str) -> str:
        # the shared per-iteration column ladder from a lambda value
        return (
            f"sin({src_lam}) AS sl, cos({src_lam}) AS cl,\n"
            f"    sqrt(({L(cu2)}*sl)*({L(cu2)}*sl)"
            f" + (cu1*{L(su2)} - su1*{L(cu2)}*cl)"
            f"*(cu1*{L(su2)} - su1*{L(cu2)}*cl)) AS ss,\n"
            f"    su1*{L(su2)} + cu1*{L(cu2)}*cl AS cs,\n"
            f"    atan2(ss, cs) AS sg,\n"
            f"    CASE WHEN ss <> 0.0 THEN cu1*{L(cu2)}*sl/ss ELSE 0.0 END AS sa,\n"
            f"    1.0 - sa*sa AS c2a,\n"
            f"    CASE WHEN c2a <> 0.0 THEN cs - 2.0*su1*{L(su2)}/c2a "
            f"ELSE 0.0 END AS c2sm")

    ctes = []
    prev = "p"
    for k in range(16):
        ctes.append(
            f"i{k} AS (\n"
            f"  SELECT doc_id, ll, su1, cu1,\n"
            f"    {step_cols('lam')},\n"
            f"    {L(f)}/16.0*c2a*(4.0 + {L(f)}*(4.0 - 3.0*c2a)) AS cc,\n"
            f"    ll + (1.0 - cc)*{L(f)}*sa*(sg + cc*ss*(c2sm"
            f" + cc*cs*(-1.0 + 2.0*c2sm*c2sm))) AS lam2\n"
            f"  FROM (SELECT doc_id, ll, su1, cu1, lam FROM {prev})\n)")
        prev = f"v{k}"
        ctes.append(f"v{k} AS (SELECT doc_id, ll, su1, cu1, lam2 AS lam FROM i{k})")
    ctes_s = ",\n".join(ctes)
    return f"""
WITH coords AS ({coords_cte()}),
p AS (
  SELECT doc_id,
    radians({L(lon2)} - lon) AS ll,
    sin(atan({L(1.0 - f)}*tan(radians(lat)))) AS su1,
    cos(atan({L(1.0 - f)}*tan(radians(lat)))) AS cu1,
    radians({L(lon2)} - lon) AS lam
  FROM coords
  WHERE {haversine_sql(lat2, lon2)} < {L(max_hav_m)}
),
{ctes_s},
fin AS (
  SELECT doc_id,
    {step_cols('lam')},
    c2a*({L(a)}*{L(a)} - {L(b)}*{L(b)})/({L(b)}*{L(b)}) AS usq,
    1.0 + usq/16384.0*(4096.0 + usq*(-768.0 + usq*(320.0 - 175.0*usq))) AS aa,
    usq/1024.0*(256.0 + usq*(-128.0 + usq*(74.0 - 47.0*usq))) AS bb,
    bb*ss*(c2sm + bb/4.0*(cs*(-1.0 + 2.0*c2sm*c2sm)
      - bb/6.0*c2sm*(-3.0 + 4.0*ss*ss)*(-3.0 + 4.0*c2sm*c2sm))) AS dsig,
    {L(b)}*aa*(sg - dsig) AS s12,
    degrees(atan2({L(cu2)}*sl, cu1*{L(su2)} - su1*{L(cu2)}*cl)) AS azi1
  FROM v15
)
{select_doc(cols, ("s12", "azi1"), "fin")}"""


def vgridshift_gtx_sql(cols) -> str:
    """Oracle for the ``vgridshift_gtx`` query: the synthetic GTX byte
    payload (sources/gridfiles.py::synthetic_geoid_gtx_bytes) is parsed
    driver-side with the SAME parse_gtx the engine uses, and the parsed
    float32 node values are embedded as a VALUES list joined by (iy,
    ix) — the defmodel VALUES-join pattern.  The 4-corner bilinear and
    the fwd sign (z - u, vgridshift.cpp) are mirrored in closed form;
    out-of-grid rows are EXCLUDED on both sides (vgridshift errors
    outside every grid, matching the reference)."""
    from ..sources.gridfiles import parse_gtx, synthetic_geoid_gtx_bytes

    g = parse_gtx(synthetic_geoid_gtx_bytes())
    h, w = g.values.shape
    lon_max = g.lon0 + (w - 1) * g.dlon
    lat_max = g.lat0 + (h - 1) * g.dlat
    rows = ",\n    ".join(
        ", ".join(f"({iy}, {ix}, {L(g.values[iy, ix])})"
                  for ix in range(w))
        for iy in range(h))
    bilin = ("((1.0-tx)*(1.0-ty)*g00.v + tx*(1.0-ty)*g10.v"
             " + (1.0-tx)*ty*g01.v + tx*ty*g11.v)")
    return f"""
WITH coords AS ({coords_cte()}),
gv(iy, ix, v) AS (VALUES
    {rows}),
r AS (
  SELECT doc_id, radians(lon) AS lam, radians(lat) AS phi FROM coords
),
f AS (
  SELECT doc_id, lam, phi,
    ((lam - {L(g.lon0)})/{L(g.dlon)}) AS fx,
    ((phi - {L(g.lat0)})/{L(g.dlat)}) AS fy,
    (lam >= {L(g.lon0)} AND lam <= {L(lon_max)}
     AND phi >= {L(g.lat0)} AND phi <= {L(lat_max)}) AS ing
  FROM r
),
i AS (
  SELECT doc_id, fx, fy, ing,
    least(greatest(CAST(floor(fx) AS BIGINT), 0), {w - 2}) AS ix,
    least(greatest(CAST(floor(fy) AS BIGINT), 0), {h - 2}) AS iy
  FROM f
),
n AS (
  SELECT doc_id, ing, (fx - ix) AS tx, (fy - iy) AS ty, ix, iy FROM i
),
s AS (
  SELECT n.doc_id,
    {bilin} AS u
  FROM n
  JOIN gv g00 ON g00.iy = n.iy     AND g00.ix = n.ix
  JOIN gv g10 ON g10.iy = n.iy     AND g10.ix = n.ix + 1
  JOIN gv g01 ON g01.iy = n.iy + 1 AND g01.ix = n.ix
  JOIN gv g11 ON g11.iy = n.iy + 1 AND g11.ix = n.ix + 1
  WHERE n.ing
)
{select_doc(cols, ("0.0 - u",), "s")}"""


def hex_cells_sql(res: int) -> str:
    """Oracle for hex_cell_counts_r5: the aperture-7 hex cell id of
    every possible doc_id is computed DRIVER-SIDE with the same NumPy
    kernel the executors run (index/hexdggs.py::encode over the
    deterministic lonlat derivation) and embedded as a VALUES table
    joined on doc_id — a distributed-vs-driver consistency check (the
    kNN/defmodel VALUES-join pattern), NOT canonical-H3 parity: the
    index is structurally aperture-7 icosahedral but not H3
    bit-compatible (no h3 oracle exists in this sandbox), and the
    bit-exact production index remains S2."""
    from ..index import hexdggs
    from ..sources.coords import lonlat_numpy

    ids = np.arange(5000, dtype=np.int64)
    lon, lat = lonlat_numpy(ids)
    cells = hexdggs.encode(lon, lat, res)
    vals = ",\n    ".join(f"({i}, {c})" for i, c in zip(ids, cells))
    return f"""
WITH hv(doc_id, hex_cell) AS (VALUES
    {vals})
SELECT h.hex_cell, count(*) AS n_docs
FROM documents d JOIN hv h USING (doc_id)
GROUP BY h.hex_cell ORDER BY h.hex_cell
"""


def a7hex_compact_sql(res: int, parent_res: int) -> str:
    """Oracle for a7hex_compact: child cell AND parent cell of every
    possible doc_id computed DRIVER-SIDE with the same NumPy kernels
    the executors run, embedded as a VALUES table; the compact rule
    (>= FULL_SET distinct observed children -> emit parent, else pass
    children through) is then plain SQL, so what the oracle certifies
    is the distributed groupBy/join plan AND the kernel consistency."""
    from ..index import hexdggs
    from ..operators.dggs import FULL_SET
    from ..sources.coords import lonlat_numpy

    ids = np.arange(5000, dtype=np.int64)
    lon, lat = lonlat_numpy(ids)
    c = hexdggs.encode(lon, lat, res)
    p = hexdggs.parent(c, parent_res)
    vals = ",\n    ".join(f"({i}, {ci}, {pi})"
                          for i, ci, pi in zip(ids, c, p))
    return f"""
WITH hv(doc_id, cell_c, cell_p) AS (VALUES
    {vals}),
cells AS (
  SELECT DISTINCT cell_c, cell_p FROM documents d JOIN hv USING (doc_id)
),
g AS (SELECT cell_p, count(*) AS n FROM cells GROUP BY cell_p)
SELECT cell, level FROM (
  SELECT DISTINCT g.cell_p AS cell, {parent_res} AS level
  FROM g WHERE n >= {FULL_SET}
  UNION ALL
  SELECT c.cell_c AS cell, {res} AS level
  FROM cells c JOIN g ON c.cell_p = g.cell_p WHERE g.n < {FULL_SET}
) ORDER BY cell, level
"""


def nadgrids_ctable2_sql(cols) -> str:
    """Oracle for the ``nadgrids_ctable2`` query: BOTH synthetic
    CTable2 byte payloads are parsed driver-side with the SAME
    parse_ctable2 the engine uses and their float32 node values
    embedded as VALUES tables joined by (iy, ix) — the GTX VALUES-join
    pattern, doubled.  Selection mirrors the +nadgrids ordered-list
    rule: a point inside the FINE grid's extent samples it, else the
    COARSE grid, else passes through unshifted."""
    from ..sources.gridfiles import parse_ctable2, synthetic_ctable2_pair

    fine_b, coarse_b = synthetic_ctable2_pair()
    tables = []
    for tag, g in (("f", parse_ctable2(fine_b)),
                   ("c", parse_ctable2(coarse_b))):
        h, w = g.values.shape[:2]
        rows = ",\n    ".join(
            ", ".join(f"({iy}, {ix}, {L(g.values[iy, ix, 0])}, "
                      f"{L(g.values[iy, ix, 1])})" for ix in range(w))
            for iy in range(h))
        tables.append((tag, g, h, w, rows))

    def block(tag, g, h, w):
        lon_max = g.lon0 + (w - 1) * g.dlon
        lat_max = g.lat0 + (h - 1) * g.dlat
        bl = (f"((1.0-t.tx_{tag})*(1.0-t.ty_{tag})*{tag}00.{{v}}"
              f" + t.tx_{tag}*(1.0-t.ty_{tag})*{tag}10.{{v}}"
              f" + (1.0-t.tx_{tag})*t.ty_{tag}*{tag}01.{{v}}"
              f" + t.tx_{tag}*t.ty_{tag}*{tag}11.{{v}})")
        sel = (f"SELECT doc_id, lam, phi, fx_{tag} - ix_{tag} AS tx_{tag},"
               f" fy_{tag} - iy_{tag} AS ty_{tag}, ix_{tag}, iy_{tag},"
               f" ing_{tag}")
        pre = f"""
    ((lam - {L(g.lon0)})/{L(g.dlon)}) AS fx_{tag},
    ((phi - {L(g.lat0)})/{L(g.dlat)}) AS fy_{tag},
    (lam >= {L(g.lon0)} AND lam <= {L(lon_max)}
     AND phi >= {L(g.lat0)} AND phi <= {L(lat_max)}) AS ing_{tag}"""
        idx = f"""
    least(greatest(CAST(floor(fx_{tag}) AS BIGINT), 0), {w - 2}) AS ix_{tag},
    least(greatest(CAST(floor(fy_{tag}) AS BIGINT), 0), {h - 2}) AS iy_{tag}"""
        return bl, sel, pre, idx

    (tf, gf, hf, wf, rows_f), (tc, gc, hc, wc, rows_c) = tables
    bl_f, _, pre_f, idx_f = block(tf, gf, hf, wf)
    bl_c, _, pre_c, idx_c = block(tc, gc, hc, wc)
    return f"""
WITH coords AS ({coords_cte()}),
gf(iy, ix, dl, dp) AS (VALUES
    {rows_f}),
gc(iy, ix, dl, dp) AS (VALUES
    {rows_c}),
r AS (
  SELECT doc_id, radians(lon) AS lam, radians(lat) AS phi FROM coords
),
f AS (
  SELECT doc_id, lam, phi,{pre_f},{pre_c}
  FROM r
),
i AS (
  SELECT doc_id, lam, phi, fx_f, fy_f, ing_f, fx_c, fy_c, ing_c,{idx_f},{idx_c}
  FROM f
),
t AS (
  SELECT doc_id, lam, phi, ing_f, ing_c,
    (fx_f - ix_f) AS tx_f, (fy_f - iy_f) AS ty_f, ix_f, iy_f,
    (fx_c - ix_c) AS tx_c, (fy_c - iy_c) AS ty_c, ix_c, iy_c
  FROM i
),
s AS (
  SELECT t.doc_id,
    (t.lam + CASE WHEN t.ing_f THEN {bl_f.format(v="dl")}
                  WHEN t.ing_c THEN {bl_c.format(v="dl")}
                  ELSE 0.0 END) AS lam_s,
    (t.phi + CASE WHEN t.ing_f THEN {bl_f.format(v="dp")}
                  WHEN t.ing_c THEN {bl_c.format(v="dp")}
                  ELSE 0.0 END) AS phi_s
  FROM t
  JOIN gf f00 ON f00.iy = t.iy_f     AND f00.ix = t.ix_f
  JOIN gf f10 ON f10.iy = t.iy_f     AND f10.ix = t.ix_f + 1
  JOIN gf f01 ON f01.iy = t.iy_f + 1 AND f01.ix = t.ix_f
  JOIN gf f11 ON f11.iy = t.iy_f + 1 AND f11.ix = t.ix_f + 1
  JOIN gc c00 ON c00.iy = t.iy_c     AND c00.ix = t.ix_c
  JOIN gc c10 ON c10.iy = t.iy_c     AND c10.ix = t.ix_c + 1
  JOIN gc c01 ON c01.iy = t.iy_c + 1 AND c01.ix = t.ix_c
  JOIN gc c11 ON c11.iy = t.iy_c + 1 AND c11.ix = t.ix_c + 1
)
{select_doc(cols, ("degrees(lam_s)", "degrees(phi_s)"), "s")}"""


def synthetic_geotiff_3d_bytes() -> bytes:
    """Deterministic GEOGRAPHIC_3D_OFFSET GeoTIFF payload (21x25 nodes
    over lon [-12, 36] lat [34, 64]; arc-second offset fields
    0.8*sin(2λ)cos(3φ) / 0.9*cos(3λ)sin(2φ), height offset
    0.5*sin(λ+φ) m; interpolation_method=biquadratic)."""
    from ..sources.gridfiles import write_geotiff_3d

    lon = np.linspace(-12.0, 36.0, 25)
    lat = np.linspace(34.0, 64.0, 21)
    LO, LA = np.meshgrid(np.radians(lon), np.radians(lat))
    return write_geotiff_3d(
        float(lon[0]), float(lat[0]),
        float(lon[1] - lon[0]), float(lat[1] - lat[0]),
        0.8 * np.sin(2.0 * LO) * np.cos(3.0 * LA),
        0.9 * np.cos(3.0 * LO) * np.sin(2.0 * LA),
        0.5 * np.sin(LO + LA), interp="biquadratic")


def gridshift_biquadratic_sql(cols) -> str:
    """Oracle for ``gridshift_biquadratic``: the synthetic GeoTIFF
    payload is parsed driver-side with the SAME parse_geotiff the
    engine uses; the float32 node values (radians/meters) are a
    VALUES table and NOAA's qterp 3x3 parabola
    (transformations/gridshift.cpp:474-540) is written out in closed
    form, window-shift rule included."""
    from ..sources.gridfiles import parse_geotiff

    e = parse_geotiff(synthetic_geotiff_3d_bytes())[0]
    g = e["grid"]
    h, w = g.values.shape[:2]
    lon_max = g.lon0 + (w - 1) * g.dlon
    lat_max = g.lat0 + (h - 1) * g.dlat
    rows = ",\n    ".join(
        ", ".join(f"({iy}, {ix}, {L(g.values[iy, ix, 0])}, "
                  f"{L(g.values[iy, ix, 1])}, {L(g.values[iy, ix, 2])})"
                  for ix in range(w))
        for iy in range(h))

    def qterp(x, f0, f1, f2):
        return (f"({f0} + {x}*(({f1})-({f0})) + 0.5*{x}*({x}-1.0)"
                f"*((({f2})-({f1}))-(({f1})-({f0}))))")

    def chan(v):
        r = [qterp("t.tx", f"g{j}0.{v}", f"g{j}1.{v}", f"g{j}2.{v}")
             for j in range(3)]
        return qterp("t.ty", r[0], r[1], r[2])

    joins = "\n  ".join(
        f"JOIN gv g{j}{i} ON g{j}{i}.iy = t.iy + {j} "
        f"AND g{j}{i}.ix = t.ix + {i}"
        for j in range(3) for i in range(3))
    return f"""
WITH coords AS ({coords_cte()}),
gv(iy, ix, dl, dp, dz) AS (VALUES
    {rows}),
r AS (
  SELECT doc_id, radians(lon) AS lam, radians(lat) AS phi FROM coords
),
f AS (
  SELECT doc_id, lam, phi,
    ((lam - {L(g.lon0)})/{L(g.dlon)}) AS fx,
    ((phi - {L(g.lat0)})/{L(g.dlat)}) AS fy,
    (lam >= {L(g.lon0)} AND lam <= {L(lon_max)}
     AND phi >= {L(g.lat0)} AND phi <= {L(lat_max)}) AS ing
  FROM r
),
i0 AS (
  SELECT doc_id, lam, phi, ing,
    least(greatest(CAST(floor(fx) AS BIGINT), 0), {w - 2}) AS jx,
    least(greatest(CAST(floor(fy) AS BIGINT), 0), {h - 2}) AS jy,
    fx, fy
  FROM f
),
i1 AS (
  SELECT doc_id, lam, phi, ing, (fx - jx) AS ux, (fy - jy) AS uy, jx, jy
  FROM i0
),
t AS (
  SELECT doc_id, lam, phi, ing,
    CASE WHEN (ux <= 0.5 AND jx > 0) OR jx + 2 = {w}
         THEN jx - 1 ELSE jx END AS ix,
    CASE WHEN (ux <= 0.5 AND jx > 0) OR jx + 2 = {w}
         THEN ux + 1.0 ELSE ux END AS tx,
    CASE WHEN (uy <= 0.5 AND jy > 0) OR jy + 2 = {h}
         THEN jy - 1 ELSE jy END AS iy,
    CASE WHEN (uy <= 0.5 AND jy > 0) OR jy + 2 = {h}
         THEN uy + 1.0 ELSE uy END AS ty
  FROM i1
),
s AS (
  SELECT t.doc_id,
    (t.lam + {chan("dl")}) AS lam_s,
    (t.phi + {chan("dp")}) AS phi_s,
    {chan("dz")} AS z_s
  FROM t
  {joins}
  WHERE t.ing
)
{select_doc(cols, ("degrees(lam_s)", "degrees(phi_s)", "z_s"), "s")}"""


def helmert_kinematic_sql(params: dict, cart: str, n_epochs: int,
                          epoch0: float, cols) -> str:
    """Oracle for ``itrf_kinematic``: cart (closed form) then the
    14-param Helmert evaluated at per-document epochs t = epoch0 +
    (doc_id % n_epochs).  The rotation matrix, translation, and scale
    at each distinct epoch are computed driver-side by the SAME
    kernel (kernels/helmert.py _params_at/_rot_matrix) and embedded as
    a VALUES table joined on the epoch bucket."""
    from ..kernels import helmert as k_helmert

    C = k_helmert.setup(params)
    rows = []
    for b in range(n_epochs):
        t = epoch0 + b
        T, opk, scale_ppm, _ = k_helmert._params_at(C, t)
        R = k_helmert._rot_matrix(C, opk)
        s = 1.0 + scale_ppm * 1e-6
        vals = [s * R[i][j] for i in range(3) for j in range(3)]
        vals += [T[0], T[1], T[2]]
        rows.append(f"({b}, " + ", ".join(L(v) for v in vals) + ")")
    vals_sql = ",\n    ".join(rows)
    cx, cy, cz = cart_xyz(cart)
    return f"""
WITH coords AS ({coords_cte()}),
hp(b, m00, m01, m02, m10, m11, m12, m20, m21, m22, t0, t1, t2) AS (VALUES
    {vals_sql}),
geocent AS (
  SELECT doc_id, doc_id % {n_epochs} AS b,
         {cx} AS gx, {cy} AS gy, {cz} AS gz
  FROM coords
)
{select_doc(cols, [f"hp.m{i}0*g.gx + hp.m{i}1*g.gy + hp.m{i}2*g.gz + hp.t{i}"
                   for i in range(3)], "geocent g JOIN hp ON hp.b = g.b")}"""


def polygon_area_sphere_sql(r: float) -> str:
    """Oracle for ``polygon_area_sphere``: spherical polygon area via
    the signed-excess fan from the north pole — one Oosterom-Strackee
    term 2*atan2(a.(b x c), 1 + a.b + b.c + c.a) with a = (0,0,1) per
    closed edge — and great-circle (haversine) perimeter.  This is a
    genuinely independent derivation: the engine side runs the Karney
    series solver with f=0, the oracle never sees azimuths or series
    coefficients.  Agreement measured at <0.012 m^2 / <1e-6 m over the
    query's polygon population, far inside the 1000 m^2 / 0.01 m
    rounding granularity."""
    return f"""
WITH v AS (
  SELECT doc_id % 101 AS poly_id, doc_id,
         radians(10 + (doc_id*7 % 37)*0.1) AS la,
         radians(20 + (doc_id*11 % 41)*0.1) AS lo
  FROM documents
), e AS (
  SELECT poly_id, la AS la1, lo AS lo1,
         coalesce(lead(la) OVER w, first_value(la) OVER w2) AS la2,
         coalesce(lead(lo) OVER w, first_value(lo) OVER w2) AS lo2
  FROM v
  WINDOW w AS (PARTITION BY poly_id ORDER BY doc_id),
         w2 AS (PARTITION BY poly_id ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING
                AND UNBOUNDED FOLLOWING)
), t AS (
  SELECT poly_id,
         cos(la1)*cos(lo1) AS bx, cos(la1)*sin(lo1) AS by, sin(la1) AS bz,
         cos(la2)*cos(lo2) AS cx, cos(la2)*sin(lo2) AS cy, sin(la2) AS cz,
         2*asin(least(1.0, sqrt(pow(sin((la2-la1)/2), 2)
                + cos(la1)*cos(la2)*pow(sin((lo2-lo1)/2), 2)))) AS ang
  FROM e
), s AS (
  SELECT poly_id, count(*) AS n_vertices,
         sum({r!r} * ang) AS perim,
         sum(2 * atan2(bx*cy - by*cx,
                       1 + bz + cz + (bx*cx + by*cy + bz*cz))) AS excess
  FROM t GROUP BY poly_id
)
SELECT poly_id, n_vertices,
  (round(perim, 2) + 0.0) AS perim_m,
  (round({r!r}*{r!r}*excess/1e6, 3) + 0.0) AS area_km2
FROM s ORDER BY poly_id
"""


def geodesic_direct_sphere_sql(r: float) -> str:
    """Oracle for ``geodesic_direct_sphere``: the closed-form
    spherical direct solution (destination point + forward azimuth at
    the destination from the spherical triangle identities) — fully
    independent of the engine's Karney series solver, which it meets
    at <1e-12 degrees when f=0 (measured; rounding is 1e-6)."""
    return f"""
WITH coords AS ({coords_cte()}),
p AS (
  SELECT doc_id,
         radians(lat) AS p1, radians(lon) AS l1,
         radians(CAST((doc_id*13) % 360 AS DOUBLE) - 180.0 + 0.5) AS a,
         (100000.0 + CAST(doc_id % 97 AS DOUBLE)*10000.0) / {r!r} AS d
  FROM coords
), o AS (
  SELECT doc_id, p1, l1, a, d,
         sin(p1)*cos(d) + cos(p1)*sin(d)*cos(a) AS sp2,
         atan2(sin(a)*sin(d)*cos(p1),
               cos(d) - sin(p1)*(sin(p1)*cos(d)
                                 + cos(p1)*sin(d)*cos(a))) AS dl
  FROM p
), q AS (
  -- sin(phi2) = sp2, cos(phi2) = sqrt(1 - sp2^2) (phi2 in [-90,90])
  SELECT doc_id,
         degrees(asin(greatest(-1.0, least(1.0, sp2)))) AS lat2,
         degrees(l1) + degrees(dl) AS lon2r,
         degrees(atan2(sin(dl)*cos(p1),
                       sp2*cos(p1)*cos(dl)
                       - sqrt(greatest(0.0, 1.0 - sp2*sp2))*sin(p1)))
           AS azi2
  FROM o
)
SELECT doc_id,
  (round(lat2, 6) + 0.0) AS lat2,
  (round(((lon2r + 180.0) % 360.0 + 360.0) % 360.0 - 180.0, 6) + 0.0)
    AS lon2,
  (round(azi2, 6) + 0.0) AS azi2
FROM q ORDER BY doc_id
"""


def tmerc_auto_sql(projstr: str, where: str, cols) -> str:
    """Oracle for the tmerc AUTO hybrid (tmerc.cpp:598-603) over the
    coords rows that pass ``where``: rows with
    |λ−λ0| ≤ 3° go through the Evenden/Snyder series (approx_e_fwd,
    tmerc.cpp:71-116), the rest through the Poder/Engsager exact
    solution (tmerc.cpp:328-412) — both regimes mirrored as chained
    CTEs over disjoint row sets, UNION ALL'd back together.  The
    switch predicate uses the engine's own 3·DEG_TO_RAD literal so the
    SQL and NumPy masks agree bit-for-bit."""
    from ..kernels.tmerc import DEG_TO_RAD

    tr = compile_projstring(projstr)
    op = tr.ops[0]
    Qe = op.consts.exact
    Qa = op.consts.approx
    a, lam0 = op.ell.a, op.lam0
    thr = 3.0 * DEG_TO_RAD

    # --- exact (Poder/Engsager) branch, as in etmerc_sql ---
    gcols, cn0 = _gatg_cols("gb", "phi", "c2", "s2", list(Qe.cbg))
    gcols_s = ",\n    ".join(gcols)
    ccols, R, I = _clenS_cols("cl", list(Qe.gtu), "sar", "car", "shi",
                              "chi")
    ccols_s = ",\n    ".join(ccols)

    # --- approx (Evenden/Snyder) branch, as in utm_snyder_sql ---
    en = list(Qa.en)
    FC1, FC2, FC3 = 1.0, 0.5, 0.16666666666666666666
    FC4, FC5, FC6 = 0.08333333333333333333, 0.05, 0.03333333333333333333
    FC7, FC8 = 0.02380952380952380952, 0.01785714285714285714
    mcols, mexpr = mlfn_cols("ml", "phi", en)
    mcols_s = ",\n    ".join(mcols)

    return f"""
WITH coords AS ({coords_cte()}),
fil AS (
  SELECT doc_id, lon, lat FROM coords
  WHERE {where}
),
prep AS (
  SELECT doc_id, (radians(lon) - {L(lam0)}) AS lam, radians(lat) AS phi
  FROM fil
),
p_far AS (SELECT * FROM prep WHERE abs(lam) > {L(thr)}),
p_near AS (SELECT * FROM prep WHERE NOT (abs(lam) > {L(thr)})),
g AS (
  SELECT doc_id, lam, phi, sin(2.0*phi) AS s2, cos(2.0*phi) AS c2,
    {gcols_s},
    {cn0} AS Cn0
  FROM p_far
),
t AS (
  SELECT doc_id, lam, sin(Cn0) AS sCn, cos(Cn0) AS cCn,
         sin(lam) AS sCe, cos(lam) AS cCe
  FROM g
),
u AS (
  SELECT doc_id, sCn, cCn, sCe, (cCn*cCe) AS ccc,
    atan2(sCn, cCn*cCe) AS Cn1,
    (1.0/sqrt(sCn*sCn + (cCn*cCe)*(cCn*cCe))) AS invd
  FROM t
),
v AS (
  SELECT doc_id, Cn1, sCn, ccc,
    (sCe*cCn*invd) AS tanCe,
    (2.0*invd) AS two_inv,
    (2.0*invd*invd) AS two_inv_sq
  FROM u
),
w AS (
  SELECT doc_id, Cn1,
    ln(tanCe + sqrt(tanCe*tanCe + 1.0)) AS Ce0,
    (sCn*(ccc*two_inv_sq)) AS sar,
    (ccc*(ccc*two_inv_sq) - 1.0) AS car,
    (tanCe*two_inv) AS shi,
    (two_inv_sq - 1.0) AS chi
  FROM v
),
c AS (
  SELECT doc_id, Cn1, Ce0, sar, car, shi, chi,
    {ccols_s}
  FROM w
),
far AS (
  SELECT doc_id,
    {L(a)}*({L(Qe.Qn)}*(Ce0 + {I})) AS x_raw,
    {L(a)}*({L(Qe.Qn)}*(Cn1 + {R}) + {L(Qe.Zb)}) AS y_raw
  FROM c
),
m2 AS (
  SELECT doc_id, lam, phi,
    {mcols_s}
  FROM p_near
),
tm2 AS (
  SELECT doc_id, lam,
    ml_s AS sinphi, ml_c AS cosphi,
    (CASE WHEN abs(ml_c) > 1e-10 THEN ml_s/ml_c ELSE 0.0 END)
      * (CASE WHEN abs(ml_c) > 1e-10 THEN ml_s/ml_c ELSE 0.0 END) AS t,
    (ml_c*lam)*(ml_c*lam) AS als,
    (ml_c*lam)/sqrt(1.0 - {L(Qa.es)}*ml_s*ml_s) AS al,
    {L(Qa.esp)}*ml_c*ml_c AS nn,
    {mexpr} AS ml
  FROM m2
),
near AS (
  SELECT doc_id,
    {L(a)}*({L(Qa.k0)}*al*({L(FC1)} + {L(FC3)}*als*(1.0 - t + nn
        + {L(FC5)}*als*(
        5.0 + t*(t - 18.0) + nn*(14.0 - 58.0*t)
        + {L(FC7)}*als*(61.0 + t*(t*(179.0 - t) - 479.0)))))) AS x_raw,
    {L(a)}*({L(Qa.k0)}*(ml - {L(Qa.ml0)}
      + sinphi*al*lam*{L(FC2)}*(
          1.0 + {L(FC4)}*als*(5.0 - t + nn*(9.0 + 4.0*nn)
              + {L(FC6)}*als*(
              61.0 + t*(t - 58.0) + nn*(270.0 - 330.0*t)
              + {L(FC8)}*als*(1385.0 + t*(t*(543.0 - t) - 3111.0)))))))
      AS y_raw
  FROM tm2
)
{select_doc(cols, ("x_raw", "y_raw"),
            "(SELECT * FROM far UNION ALL SELECT * FROM near)")}"""


def wintri_roundtrip_sql(projstr: str) -> str:
    """Oracle for ``newton_inverse_roundtrip``: Winkel Tripel forward
    (aitoff.cpp:26-53 — Aitoff averaged with equirectangular) is
    closed-form SQL; the inverse has NO closed form (the reference
    grew src/generic_inverse.cpp for exactly this family), so the
    engine's numeric Newton inverse is checked by the roundtrip
    residuals, which must round to exactly 0.0 at 1e-6 degrees
    (measured Newton residual < 1e-9 deg on this domain)."""
    from ..kernels import azimuthal as A

    tr = compile_projstring(projstr)
    op = tr.ops[0]
    a, lam0 = op.ell.a, op.lam0
    cosphi1 = A.wintri_setup(op.params)  # same setup the engine ran
    return f"""
WITH coords AS ({coords_cte()}),
prep AS (
  SELECT doc_id, (radians(lon) - {L(lam0)}) AS lam, radians(lat) AS phi
  FROM coords
),
d AS (
  SELECT doc_id, lam, phi,
    acos(greatest(-1.0, least(1.0, cos(phi)*cos(0.5*lam)))) AS dd
  FROM prep
),
xy AS (
  SELECT doc_id, lam, phi,
    (CASE WHEN dd = 0.0 THEN 0.0
          ELSE 2.0*dd*cos(phi)*sin(0.5*lam)/sin(dd) END) AS xa,
    (CASE WHEN dd = 0.0 THEN 0.0
          ELSE dd*sin(phi)/sin(dd) END) AS ya
  FROM d
)
SELECT doc_id,
  (round({L(a)}*((xa + lam*{L(cosphi1)})*0.5), 2) + 0.0) AS x_m,
  (round({L(a)}*((ya + phi)*0.5), 2) + 0.0) AS y_m,
  0.0 AS dlon_deg,
  0.0 AS dlat_deg
FROM xy ORDER BY doc_id
"""


DEFORMATION_LONLAT = (
    "(166.0 + CAST(doc_id % 130 AS DOUBLE)*0.1)",
    "(-47.0 + CAST(doc_id % 120 AS DOUBLE)*0.1)",
)


def deformation_sql(cart: str, dt: float, cols) -> str:
    """Oracle for the kinematic velocity-grid shift
    (transformations/deformation.cpp): geodetic→cartesian (cart fwd,
    closed-form at h=0), 4-corner bilinear of the analytic ENU
    velocity field (node values rebuilt in SQL exactly as
    synthetic_velgrid authored them), ENU→XYZ rotation, X' = X + dt·v.
    The engine samples at cart.inv-recovered (λ,φ); with h=0 that
    matches the inputs to ~1e-12 rad, far below the 0.1 mm rounding."""
    from ..kernels.gridshift import synthetic_velgrid

    g = synthetic_velgrid()
    h, w = g.values.shape[:2]
    lon_e, lat_e = DEFORMATION_LONLAT
    X, Y, Z = cart_xyz(cart)

    def nx(i):
        return f"({L(g.lon0)} + ({i})*{L(g.dlon)})"

    def ny(j):
        return f"({L(g.lat0)} + ({j})*{L(g.dlat)})"

    def band(f):
        v00 = f(nx("ix"), ny("iy"))
        v10 = f(nx("ix+1"), ny("iy"))
        v01 = f(nx("ix"), ny("iy+1"))
        v11 = f(nx("ix+1"), ny("iy+1"))
        return (f"((1.0-tx)*(1.0-ty)*{v00} + tx*(1.0-ty)*{v10}"
                f" + (1.0-tx)*ty*{v01} + tx*ty*{v11})")

    ve = band(lambda x_, y_: f"(20.0*sin(2.0*{x_})*cos(3.0*{y_}))")
    vn = band(lambda x_, y_: f"(15.0*cos(3.0*{x_})*sin(2.0*{y_}))")
    vu = band(lambda x_, y_: f"(5.0*sin({x_} + {y_}))")

    return f"""
WITH pts AS (
  SELECT doc_id, {lon_e} AS lon, {lat_e} AS lat FROM documents
),
f AS (
  SELECT doc_id, lon, lat, radians(lon) AS la, radians(lat) AS ph,
    (radians(lon) - {L(g.lon0)})/{L(g.dlon)} AS fx,
    (radians(lat) - {L(g.lat0)})/{L(g.dlat)} AS fy
  FROM pts
),
c AS (
  SELECT *, least(greatest(CAST(floor(fx) AS INTEGER), 0), {w - 2}) AS ix,
            least(greatest(CAST(floor(fy) AS INTEGER), 0), {h - 2}) AS iy
  FROM f
),
tt AS (SELECT *, fx - ix AS tx, fy - iy AS ty FROM c),
v AS (
  SELECT doc_id, lon, lat, la, ph,
    {ve}/1000.0 AS ve, {vn}/1000.0 AS vn, {vu}/1000.0 AS vu
  FROM tt
),
sh AS (
  SELECT doc_id, lon, lat,
    sin(ph) AS sp, cos(ph) AS cp, sin(la) AS sl, cos(la) AS cl,
    ve, vn, vu
  FROM v
),
d AS (
  SELECT doc_id, lon, lat,
    (-sp*cl*vn - sl*ve + cp*cl*vu) AS dx,
    (-sp*sl*vn + cl*ve + cp*sl*vu) AS dy,
    (cp*vn + sp*vu) AS dz
  FROM sh
)
{select_doc(cols, (f"{X} + {L(dt)}*dx", f"{Y} + {L(dt)}*dy",
                   f"{Z} + {L(dt)}*dz"), "d")}"""


TINSHIFT_XY = (
    "(0.05 + CAST((doc_id * 7) % 197 AS DOUBLE)*0.05)",
    "(0.05 + CAST((doc_id * 11) % 193 AS DOUBLE)*0.05)",
)


def tinshift_sql(cols) -> str:
    """Oracle for the triangulation shift
    (transformations/tinshift.cpp): per-triangle barycentric weights
    (same determinant formulation and -1e-12 containment epsilon as
    kernels/gridshift.py::tin_locate), FIRST containing triangle wins
    (min k), then barycentric interpolation of the target vertex
    coordinates and dz."""
    from ..kernels.gridshift import synthetic_tin

    tin = synthetic_tin()
    V, T = tin.vertices, tin.triangles
    rows = []
    for k, (i0, i1, i2) in enumerate(T):
        vals = [str(k)]
        for i in (i0, i1, i2):
            vals += [L(V[i, 0]), L(V[i, 1])]
        for i in (i0, i1, i2):
            vals += [L(V[i, 2]), L(V[i, 3]), L(V[i, 4])]
        rows.append("(" + ", ".join(vals) + ")")
    values = ",\n    ".join(rows)
    xe, ye = TINSHIFT_XY
    return f"""
WITH tri(k, x0, y0, x1, y1, x2, y2,
         tx0, ty0, dz0, tx1, ty1, dz1, tx2, ty2, dz2) AS (VALUES
    {values}
),
pts AS (
  SELECT doc_id, {xe} AS x, {ye} AS y FROM documents
),
bary AS (
  SELECT doc_id, x, y, k, tx0, ty0, dz0, tx1, ty1, dz1, tx2, ty2, dz2,
    ((y1 - y2)*(x - x2) + (x2 - x1)*(y - y2))
      / ((y1 - y2)*(x0 - x2) + (x2 - x1)*(y0 - y2)) AS a,
    ((y2 - y0)*(x - x2) + (x0 - x2)*(y - y2))
      / ((y1 - y2)*(x0 - x2) + (x2 - x1)*(y0 - y2)) AS b
  FROM pts, tri
),
inside AS (
  SELECT *, (1.0 - a - b) AS c,
    row_number() OVER (PARTITION BY doc_id ORDER BY k) AS rn
  FROM bary
  WHERE a >= -1e-12 AND b >= -1e-12 AND (1.0 - a - b) >= -1e-12
)
{select_doc(cols, ("a*tx0 + b*tx1 + c*tx2", "a*ty0 + b*ty1 + c*ty2",
                   "a*dz0 + b*dz1 + c*dz2"), "inside WHERE rn = 1")}"""


def xyzgridshift_sql(cart: str, mult: float, cols) -> str:
    """Oracle for the 3D cartesian grid shift
    (transformations/xyzgridshift.cpp, grid_ref=input_crs forward):
    cart fwd, bilinear (dx,dy,dz) sample at the input geodetic
    coordinates scaled by +multiplier, direct add."""
    from ..kernels.gridshift import synthetic_velgrid

    g = synthetic_velgrid()
    h, w = g.values.shape[:2]
    lon_e, lat_e = DEFORMATION_LONLAT
    X, Y, Z = cart_xyz(cart)

    def nx(i):
        return f"({L(g.lon0)} + ({i})*{L(g.dlon)})"

    def ny(j):
        return f"({L(g.lat0)} + ({j})*{L(g.dlat)})"

    def band(f):
        v00 = f(nx("ix"), ny("iy"))
        v10 = f(nx("ix+1"), ny("iy"))
        v01 = f(nx("ix"), ny("iy+1"))
        v11 = f(nx("ix+1"), ny("iy+1"))
        return (f"((1.0-tx)*(1.0-ty)*{v00} + tx*(1.0-ty)*{v10}"
                f" + (1.0-tx)*ty*{v01} + tx*ty*{v11})")

    dx = band(lambda x_, y_: f"(20.0*sin(2.0*{x_})*cos(3.0*{y_}))")
    dy = band(lambda x_, y_: f"(15.0*cos(3.0*{x_})*sin(2.0*{y_}))")
    dz = band(lambda x_, y_: f"(5.0*sin({x_} + {y_}))")

    return f"""
WITH pts AS (
  SELECT doc_id, {lon_e} AS lon, {lat_e} AS lat FROM documents
),
f AS (
  SELECT doc_id, lon, lat,
    (radians(lon) - {L(g.lon0)})/{L(g.dlon)} AS fx,
    (radians(lat) - {L(g.lat0)})/{L(g.dlat)} AS fy
  FROM pts
),
c AS (
  SELECT *, least(greatest(CAST(floor(fx) AS INTEGER), 0), {w - 2}) AS ix,
            least(greatest(CAST(floor(fy) AS INTEGER), 0), {h - 2}) AS iy
  FROM f
),
tt AS (SELECT *, fx - ix AS tx, fy - iy AS ty FROM c),
d AS (
  SELECT doc_id, lon, lat,
    {dx}*{L(mult)} AS dx, {dy}*{L(mult)} AS dy, {dz}*{L(mult)} AS dz
  FROM tt
)
{select_doc(cols, (f"{X} + dx", f"{Y} + dy", f"{Z} + dz"), "d")}"""
