"""Geo column functions: projection, geodesic, S2-cell Arrow UDFs.

The compiled :class:`~proj_4_spark.proj.Transform` is built once on the
driver (PROJ's parse/analyze/setup, src/create.cpp:206-303) and closed
over by an Arrow UDF — the Spark restatement of
``proj_trans_generic`` (/root/reference/src/trans.cpp:418-566): strided
double arrays in, strided double arrays out, per-point in-band errors
(NaN instead of HUGE_VAL).

Every NumPy-kernel UDF is built by :func:`kernel_udf`, the one Arrow
boundary: ``pa.Array`` arguments in as NumPy arrays, the kernel in
CHUNK-row blocks, ``pa.Array`` outputs built from the kernel's arrays
(a list output from per-row lengths and flat values).  Integer outputs
(cells, faces, zones) are null for a non-finite or null float input.
A batch never passes through pandas, and no Python runs per row.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import ArrayType, DataType, StructType

from ..index import s2 as s2idx
from ..kernels import geodesic as k_geod
from ..proj import compile_projstring


CHUNK = 65536
"""Rows per kernel invocation inside a UDF.  Arrow batches stay large
(amortize JVM<->Python IPC) but the NumPy kernels run on cache-sized
blocks: large temporaries cause mmap/page-fault churn that costs ~6x
(measured: 4M-row S2 encode 4.4 s unchunked vs 0.7 s in 64k chunks)."""


def run_chunked(kernel, *arrays):
    """kernel(*arrays) -> one result array or a tuple/list of them,
    evaluated in CHUNK-row blocks.  Each result is the concatenation of
    its blocks, so it need not have one value per row (a list output's
    flat values)."""
    n = len(arrays[0])
    parts = [kernel(*(a[i:i + CHUNK] for a in arrays))
             for i in range(0, max(n, 1), CHUNK)]
    if len(parts) == 1:
        return parts[0]
    if not isinstance(parts[0], (tuple, list)):
        return np.concatenate(parts)
    return [np.concatenate(p) for p in zip(*parts)]


_INT_WIDTH = {"integer": np.int32, "long": np.int64}


def _numpy_arg(col, dtype):
    """One UDF argument (``pa.Array``, or a pandas Series when ``.func``
    is called directly) -> (NumPy ``dtype`` array, null mask or None).
    A float null reads as NaN, the in-band error; an integer null has no
    in-band value, so it reads as 0 plus its mask."""
    if isinstance(col, pd.Series):
        col = pa.Array.from_pandas(col)
    null = None
    if col.null_count and np.dtype(dtype).kind != "f":
        null = col.is_null().to_numpy(zero_copy_only=False)
        col = col.fill_null(0)
    return np.asarray(col.to_numpy(zero_copy_only=False), dtype=dtype), null


def _any(masks):
    """Row-wise OR of boolean masks (None entries skipped), or None if
    no row is set."""
    out = None
    for m in masks:
        if m is not None:
            out = m if out is None else out | m
    return out if out is not None and out.any() else None


def kernel_udf(return_type: str, kernel, dtypes=(np.float64, np.float64)):
    """Arrow UDF over ``kernel``: argument k arrives as a NumPy
    ``dtypes[k]`` array, and the kernel runs through :func:`run_chunked`.

    ``kernel`` returns one array for a scalar ``return_type`` or one per
    struct field, in field order; an ``array<...>`` output takes two,
    the per-row lengths and the flat values.  An integer or list output
    is cast to its declared type and is null on every row where a float
    argument is NaN, infinite or null.  A float output is null where it
    is NaN (the in-band error, as Spark has always received it).  Every
    output is null on a row where an integer argument is null.

    ``.func`` also takes pandas Series; it always returns a ``pa.Array``.
    """
    rt = DataType.fromDDL(return_type)
    fields = list(rt.fields) if isinstance(rt, StructType) else None
    types = [f.dataType for f in fields] if fields else [rt]
    # per output: (arrow type, int width, list element arrow type)
    plan = [(to_arrow_type(t), _INT_WIDTH.get(t.typeName()),
             to_arrow_type(t.elementType) if isinstance(t, ArrayType)
             else None) for t in types]
    has_int = any(w is not None or e is not None for _, w, e in plan)
    struct = to_arrow_type(rt) if fields else None

    def _udf(*cols):
        args, nulls = zip(*(_numpy_arg(c, dt)
                            for c, dt in zip(cols, dtypes, strict=True)))
        void = _any(nulls)  # a null integer argument: no value at all
        bad = void
        if has_int:
            bad = _any([void] + [~np.isfinite(a) for a in args
                                 if a.dtype.kind == "f"])
        outs = run_chunked(kernel, *args)
        outs = iter(outs if isinstance(outs, (tuple, list)) else (outs,))
        res = []
        for t, w, elem in plan:
            if elem is not None:
                lengths, values = next(outs), next(outs)
                offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
                np.cumsum(lengths, out=offsets[1:])
                res.append(pa.ListArray.from_arrays(
                    offsets, pa.array(values, elem), type=t,
                    mask=None if bad is None else pa.array(bad)))
            elif w is not None:
                res.append(pa.array(np.asarray(next(outs), dtype=w),
                                    mask=bad))
            else:
                res.append(pa.array(next(outs), t, mask=void,
                                    from_pandas=True))
        if fields is None:
            return res[0]
        return pa.StructArray.from_arrays(res, fields=list(struct))

    return arrow_udf(_udf, rt)


def project_udf(projstr_or_transform, direction: str = "fwd"):
    """Arrow UDF (lon,lat[,z,t] degrees) -> struct<x,y,z double>.

    Angular edges are degrees (gie convention); projected edges meters.
    """
    tr = compile_projstring(projstr_or_transform)

    def k(lon, lat):
        return tr.transform_deg(lon, lat, direction=direction)[:3]

    return kernel_udf("struct<x: double, y: double, z: double>", k)


def project_select_udf(selector):
    """Arrow UDF (lon, lat degrees) -> struct<x, y, z double, op int>:
    per-point candidate-operation selection (plans/candidates.py,
    trans.cpp:44-173 semantics).  ``op`` is the chosen candidate index
    (-1 = no candidate / all failed -> NaN; null for a non-finite or
    null lon/lat)."""
    return kernel_udf("struct<x: double, y: double, z: double, op: int>",
                      selector.transform_deg)


def s2_cell_udf(level: int):
    """Arrow UDF (lon_deg, lat_deg) -> int64 S2 cell id at ``level``;
    a NaN, infinite or null coordinate gives a null cell."""
    return kernel_udf("long", lambda lon, lat: s2idx.cell_id(lon, lat, level))


def s2_parent(cell: Column, level: int) -> Column:
    """Ancestor at ``level`` of an S2 cell column at ``level`` or finer,
    as an exact Catalyst bit expression (index/s2.py::parent); null
    stays null."""
    lsb = 1 << 2 * (s2idx.MAX_LEVEL - level)
    return (cell.bitwiseAND(F.lit(-lsb).cast("long"))
            .bitwiseOR(F.lit(lsb).cast("long")))


def s2_face_ij_udf(level: int):
    """Arrow UDF (lon, lat) -> struct<face int, i long, j long> at
    ``level`` (i/j are the leaf coordinates truncated to the level grid).
    This integer triple is the SQL-checkable core of the tile
    assignment: it is bijective with the Hilbert cell id."""
    shift = s2idx.MAX_LEVEL - level

    def k(lon, lat):
        face, i, j = s2idx.to_face_ij(s2idx.cell_id(lon, lat, level))
        return face, i >> shift, j >> shift

    return kernel_udf("struct<face: int, i: long, j: long>", k)


def s2_cell_to_face_ij_udf(level: int):
    """Arrow UDF cell_id -> struct<face int, i long, j long> with i/j
    truncated to the ``level`` grid (inverse of :func:`s2_face_ij_udf`
    composed with :func:`s2_cell_udf`)."""
    shift = s2idx.MAX_LEVEL - level

    def k(cid):
        face, i, j = s2idx.to_face_ij(cid)
        return face, i >> shift, j >> shift

    return kernel_udf("struct<face: int, i: long, j: long>", k, (np.int64,))


def a7hex_cell_udf(res: int):
    """Arrow UDF (lon, lat) -> int64 aperture-7 icosahedral hex cell
    (index/hexdggs.py).  NOT canonical-H3-bit-compatible — the surface
    is named a7hex to make that explicit; see index/hexdggs.py."""
    from ..index import hexdggs as hx

    return kernel_udf("long", lambda lon, lat: hx.encode(lon, lat, res))


def a7hex_parent_udf(parent_res: int):
    """Arrow UDF int64 a7hex cell -> ancestor cell at parent_res
    (center re-encode, aperture-7 approximate containment)."""
    from ..index import hexdggs as hx

    return kernel_udf("long", lambda c: hx.parent(c, parent_res),
                      (np.int64,))


def vincenty_fixed_udf(lat2: float, lon2: float):
    """Arrow UDF (lat1, lon1 degrees) -> struct<s12 double, azi1
    double>: fixed-iteration Vincenty inverse to a constant point
    (kernels/geodesic.py::vincenty_inverse_fixed), the SQL-mirrorable
    geodesic used by the driver gate (oracle:
    plans/oracles.py::vincenty_sql)."""
    return kernel_udf(
        "struct<s12: double, azi1: double>",
        lambda lat1, lon1: k_geod.vincenty_inverse_fixed(
            lat1, lon1, lat2, lon2))


def geodesic_inverse_udf(a: float | None = None, f: float | None = None):
    """Arrow UDF (lat1,lon1,lat2,lon2 degrees) ->
    struct<s12 double, azi1 double, azi2 double>  (Karney inverse,
    /root/reference/src/geodesic.c:1080)."""
    ga = 6378137.0 if a is None else a
    gf = 1 / 298.257223563 if f is None else f
    g = k_geod.Geodesic.init(ga, gf)
    return kernel_udf(
        "struct<s12: double, azi1: double, azi2: double>",
        lambda *p: k_geod.inverse(g, *p)[:3], (np.float64,) * 4)


def geodesic_direct_udf(a: float | None = None, f: float | None = None):
    """Arrow UDF (lat1,lon1,azi1 degrees, s12 m) ->
    struct<lat2 double, lon2 double, azi2 double>  (Karney direct,
    /root/reference/src/geodesic.c:686)."""
    ga = 6378137.0 if a is None else a
    gf = 1 / 298.257223563 if f is None else f
    g = k_geod.Geodesic.init(ga, gf)
    return kernel_udf(
        "struct<lat2: double, lon2: double, azi2: double>",
        lambda *p: k_geod.direct(g, *p), (np.float64,) * 4)


# ----------------- pure-Catalyst (JVM codegen) expressions ---------------

_R_MEAN = 6371008.8  # IUGG mean earth radius


def haversine_m(lat1: Column, lon1: Column, lat2: Column,
                lon2: Column) -> Column:
    """Great-circle distance in meters as a pure Catalyst expression
    (stays inside WholeStageCodegen — no Python)."""
    rl1, rl2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2.0
    dlon = F.radians(lon2 - lon1) / 2.0
    h = F.sin(dlat) ** 2 + F.cos(rl1) * F.cos(rl2) * F.sin(dlon) ** 2
    return F.lit(2.0 * _R_MEAN) * F.asin(F.sqrt(h))


def utm_all_zones_udf(approx: bool = True):
    """Arrow UDF (lon,lat) -> struct<zone int, easting double,
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

    def k(lon, lat):
        zone = (np.floor((lon + 180.0) / 6.0).astype(np.int64) % 60 + 1)
        lam0 = np.radians((zone * 6 - 183).astype(np.float64))
        lam = np.radians(lon) - lam0
        phi = np.radians(lat)
        xk, yk = k_tmerc.fwd(lam, phi, C)
        e = a * xk + 500000.0
        n = a * yk + np.where(lat < 0, 1.0e7, 0.0)
        return zone, e, n

    return kernel_udf(
        "struct<zone: int, easting: double, northing: double>", k)


def utm_zone(lon: Column) -> Column:
    """UTM zone number from longitude — integer Catalyst expression
    (zone logic of /root/reference/src/projections/tmerc.cpp:737-779)."""
    return (F.floor((lon + F.lit(180.0)) / F.lit(6.0)).cast("int") % 60 + 1)


def factors_udf(projstr_or_transform):
    """Arrow UDF (lon, lat degrees) -> struct<h, k, s double>:
    meridional/parallel/areal scale via proj_factors semantics
    (src/factors.cpp:111-240 central differences)."""
    from ..kernels.factors import factors as k_factors

    tr = compile_projstring(projstr_or_transform)

    def k(lon, lat):
        f = k_factors(tr, lon, lat)
        return f["h"], f["k"], f["s"]

    return kernel_udf("struct<h: double, k: double, s: double>", k)


def unitconvert_time_udf(t_in: str, t_out: str):
    """Arrow UDF over the time channel of +proj=unitconvert
    (src/conversions/unitconvert.cpp time units: mjd, decimalyear,
    gps_week, yyyymmdd)."""
    tr = compile_projstring(f"+proj=unitconvert +t_in={t_in} +t_out={t_out}")
    return kernel_udf("double", tr.ops[0].t_fwd, (np.float64,))


def transform4d_udf(projstr_or_transform):
    """Arrow UDF (lon_deg, lat_deg, t) -> struct<lon_out, lat_out,
    z_out double> for 4D (kinematic) pipelines such as +proj=defmodel;
    z starts at 0."""
    tr = compile_projstring(projstr_or_transform)

    def k(lon, lat, t):
        return tr.transform_deg(lon, lat, z=np.zeros_like(lon), t=t)[:3]

    return kernel_udf(
        "struct<lon_out: double, lat_out: double, z_out: double>", k,
        (np.float64,) * 3)


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
    """Arrow UDF (lon,lat degrees) -> struct<x,y,lon2,lat2 double>:
    forward projection plus the inverse of the result, one Arrow hop
    (the fwd/inv pair shares a batch, so Newton-fallback inverses —
    src/generic_inverse.cpp — are exercised without a second
    exchange)."""
    tr = compile_projstring(projstr_or_transform)

    def k(lon, lat):
        x, y, _, _ = tr.transform_deg(lon, lat)
        lo, la, _, _ = tr.transform_deg(x, y, direction="inv")
        return x, y, lo, la

    return kernel_udf(
        "struct<x: double, y: double, lon2: double, lat2: double>", k)
