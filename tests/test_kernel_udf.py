"""functions.geo.kernel_udf, the one Arrow boundary of every NumPy-kernel
UDF: each factory's ``.func`` takes an empty batch, gives the same
answer for any CHUNK block size, and nulls its integer outputs for a
NaN, infinite or null float input; a NaN float output reaches Spark as
null, and a null integer argument nulls the row."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from proj_4_spark.functions import geo as G
from proj_4_spark.index import hexdggs as hx
from proj_4_spark.index import s2

_LCC = "+proj=lcc +ellps=GRS80 +lat_1=33 +lat_2=45 +lat_0=39 +lon_0=-96"
_KINEMATIC = ("+proj=pipeline +ellps=GRS80 +step +proj=cart +step "
              "+proj=helmert +x=0.5 +dx=0.01 +t_epoch=2010 "
              "+convention=position_vector +step +inv +proj=cart")


def _selector():
    from proj_4_spark.plans.candidates import CandidateSelector, candidate

    return CandidateSelector([
        candidate("+proj=merc +ellps=GRS80", bbox=(-10.0, 35.0, 30.0, 70.0),
                  accuracy=1.0),
        candidate("+proj=webmerc", bbox=(-130.0, 20.0, -60.0, 60.0),
                  accuracy=2.0),
    ])


def _factories():
    """name -> (build the UDF, one argument kind per input column)."""
    from proj_4_spark.jobs.cct_job import transform_udf
    from proj_4_spark.operators.geopolygon import edge_terms_udf
    from proj_4_spark.operators.raster import analytic_grid, bilinear_udf
    from proj_4_spark.operators.spatial_join import pip_udf, ray_cast_udf
    from proj_4_spark.sources.polygons import polygon_rows

    return {
        "project_udf": (lambda: G.project_udf("+proj=utm +zone=32"), "xy"),
        "project_select_udf": (lambda: G.project_select_udf(_selector()),
                               "xy"),
        "s2_cell_udf": (lambda: G.s2_cell_udf(12), "xy"),
        "s2_face_ij_udf": (lambda: G.s2_face_ij_udf(8), "xy"),
        "s2_cell_to_face_ij_udf": (lambda: G.s2_cell_to_face_ij_udf(8), "c"),
        "a7hex_cell_udf": (lambda: G.a7hex_cell_udf(5), "xy"),
        "a7hex_parent_udf": (lambda: G.a7hex_parent_udf(3), "h"),
        "vincenty_fixed_udf": (
            lambda: G.vincenty_fixed_udf(35.6895, 139.6917), "yx"),
        "geodesic_inverse_udf": (lambda: G.geodesic_inverse_udf(), "yxyx"),
        "geodesic_direct_udf": (lambda: G.geodesic_direct_udf(), "yxas"),
        "utm_all_zones_udf": (lambda: G.utm_all_zones_udf(), "xy"),
        "factors_udf": (lambda: G.factors_udf(_LCC), "xy"),
        "unitconvert_time_udf": (
            lambda: G.unitconvert_time_udf("mjd", "decimalyear"), "m"),
        "transform4d_udf": (lambda: G.transform4d_udf(_KINEMATIC), "xyt"),
        "roundtrip_udf": (lambda: G.roundtrip_udf("+proj=wintri"), "xy"),
        "cct_job.transform_udf": (
            lambda: transform_udf("+proj=utm +zone=32"), "xyzt"),
        "edge_terms_udf": (
            lambda: edge_terms_udf(6378137.0, 1 / 298.257223563), "yxyx"),
        "bilinear_udf": (lambda: bilinear_udf(analytic_grid()), "xy"),
        "ray_cast_udf": (lambda: ray_cast_udf(polygon_rows()), "xyp"),
        "pip_udf": (lambda: pip_udf(polygon_rows(), 8), "xy"),
    }


_INT_KINDS = "chp"


def _column(kind: str, n: int, rng) -> pd.Series:
    """One input column of ``n`` finite rows, half of the lon/lat near
    the fixture's cities so ray casts and grids see hits."""
    from proj_4_spark.sources.coords import CITIES

    city = np.array([(lo, la) for _, lo, la in CITIES])[
        rng.integers(0, len(CITIES), n)]
    near = rng.random(n) < 0.5
    lon = np.where(near, city[:, 0] + rng.uniform(-1, 1, n),
                   rng.uniform(-179.5, 179.5, n))
    lat = np.where(near, city[:, 1] + rng.uniform(-1, 1, n),
                   rng.uniform(-80.0, 80.0, n))
    values = {
        "x": lambda: lon,
        "y": lambda: lat,
        "z": lambda: rng.uniform(-100.0, 3000.0, n),
        "t": lambda: rng.uniform(2000.0, 2030.0, n),
        "m": lambda: rng.uniform(40000.0, 70000.0, n),
        "a": lambda: rng.uniform(-180.0, 180.0, n),
        "s": lambda: rng.uniform(0.0, 1.5e7, n),
        "c": lambda: s2.cell_id(lon, lat, 12),
        "h": lambda: hx.encode(lon, lat, 5),
        "p": lambda: rng.integers(0, 25, n),
    }[kind]()
    return pd.Series(values, dtype=np.int64 if kind in _INT_KINDS
                     else np.float64)


_ARROW_OF = {"double": pa.float64(), "integer": pa.int32(),
             "long": pa.int64(), "boolean": pa.bool_()}


def _arrow_of(t):
    """Declared Spark type -> the Arrow type of its values (a list as
    ("list", element type))."""
    if t.typeName() == "array":
        return ("list", _arrow_of(t.elementType))
    return _ARROW_OF[t.typeName()]


def _type_of(at):
    if pa.types.is_list(at):
        return ("list", _type_of(at.value_type))
    return at


@pytest.mark.parametrize("name", sorted(_factories()))
def test_empty_batch_gives_declared_columns_and_dtypes(spark, name):
    from pyspark.sql.pandas.types import to_arrow_type

    build, kinds = _factories()[name]
    u = build()
    out = u.func(*[pd.Series([], dtype=np.int64 if k in _INT_KINDS
                             else np.float64) for k in kinds])
    rt = u.returnType
    assert isinstance(out, pa.Array) and out.type == to_arrow_type(rt)
    if rt.typeName() == "struct":
        assert [f.name for f in out.type] == rt.fieldNames()
        got = [_type_of(f.type) for f in out.type]
        want = [_arrow_of(f.dataType) for f in rt.fields]
    else:
        got, want = [_type_of(out.type)], [_arrow_of(rt)]
    assert len(out) == 0
    assert got == want


@pytest.mark.parametrize("name", sorted(_factories()))
def test_chunk_size_does_not_change_output(spark, monkeypatch, name):
    build, kinds = _factories()[name]
    u = build()
    rng = np.random.default_rng(17)
    cols = [_column(k, 20, rng) for k in kinds]
    whole = u.func(*cols)
    monkeypatch.setattr(G, "CHUNK", 7)
    blocks = u.func(*cols)
    assert blocks.type == whole.type
    assert blocks.to_pylist() == whole.to_pylist()


def test_kernel_runs_in_chunk_blocks(spark, monkeypatch):
    seen = []

    def spy(a, b):
        seen.append(len(a))
        return a + b

    monkeypatch.setattr(G, "CHUNK", 7)
    a = pd.Series(np.arange(20.0))
    out = G.kernel_udf("double", spy).func(a, a)
    assert seen == [7, 7, 6]
    assert out.to_pylist() == (2 * a).tolist()


@pytest.mark.parametrize("name", sorted(
    n for n in _factories() if n not in
    {"s2_cell_udf", "s2_face_ij_udf", "s2_cell_to_face_ij_udf",
     "a7hex_cell_udf", "a7hex_parent_udf", "ray_cast_udf", "pip_udf"}))
def test_nan_float_output_arrives_as_null(spark, name):
    """Every factory with a double output: through Spark, an all-NaN
    input row gives null (never NaN) in its NaN double outputs, an
    all-null row gives the same outputs as the all-NaN row, and no row
    carries a NaN."""
    from pyspark.sql import functions as F

    build, kinds = _factories()[name]
    u = build()
    rng = np.random.default_rng(5)
    finite = [_column(k, 3, rng) for k in kinds]
    names = [f"c{i}" for i in range(len(kinds))]
    null = np.array([False, True] + [False] * 3)
    data = pa.table({c: pa.array(np.concatenate([[np.nan, 0.0], col]),
                                 mask=null)
                     for c, col in zip(names, finite)})
    df = spark.createDataFrame(data).withColumn(
        "k", F.monotonically_increasing_id())
    got = df.select("k", u(*names).alias("o")).orderBy("k").collect()
    rt = u.returnType
    doubles = ([f.name for f in rt.fields
                if f.dataType.typeName() == "double"]
               if rt.typeName() == "struct" else None)
    assert doubles != []

    def values(o):
        return [o] if doubles is None else [o[f] for f in doubles]

    assert None in values(got[0].o), got[0]
    assert got[1].o == got[0].o, got[:2]
    for r in got:
        assert not any(v != v for v in values(r.o) if v is not None), r


def test_null_long_argument_nulls_the_row(spark):
    """A null in a long argument gives null outputs, not the kernel's
    answer for 0; the kernel sees the other ids of its batch exactly."""
    ids = [1153886944535511040, None, 5180951437578483365]
    # one partition, so the null shares an Arrow batch with the ids
    df = spark.createDataFrame([(c,) for c in ids], "cell long").coalesce(1)
    got = [r.o for r in df.select(
        G.s2_cell_to_face_ij_udf(12)("cell").alias("o")).collect()]
    assert got[1] is None or list(got[1]) == [None, None, None], got
    for c, o in zip(ids, got):
        if c is not None:
            face, i, j = s2.to_face_ij(np.array([c], dtype=np.int64))
            assert tuple(o) == (face[0], i[0] >> 18, j[0] >> 18), c

    seen = []

    def spy(c):
        seen.append(c.copy())
        return c

    u = G.kernel_udf("long", spy, (np.int64,))
    out = u.func(pa.array(ids, pa.int64()))
    assert out.to_pylist() == ids
    assert seen[0][2] == 5180951437578483365
    # the same identity kernel through Spark's Arrow batches
    assert [r.o for r in df.select(u("cell").alias("o")).collect()] == ids


def _utm_reference(lon, lat):
    from proj_4_spark.proj import compile_projstring

    zone = np.floor((lon + 180.0) / 6.0).astype(np.int64) + 1
    e, n = [], []
    for lo, la, z in zip(lon, lat, zone):
        south = " +south" if la < 0 else ""
        tr = compile_projstring(f"+proj=utm +zone={z}{south} +ellps=GRS80 "
                                "+approx")
        x, y, _, _ = tr.transform_deg(np.array([lo]), np.array([la]))
        e.append(x[0])
        n.append(y[0])
    return {"zone": zone, "easting": np.array(e), "northing": np.array(n)}


def _face_ij_reference(lon, lat):
    face, i, j = s2.to_face_ij(s2.cell_id(lon, lat, 8))
    return {"face": face, "i": i >> 22, "j": j >> 22}


def _select_reference(lon, lat):
    x, y, z, op = _selector().transform_deg(lon, lat)
    return {"x": x, "y": y, "z": z, "op": op}


# factory, its DDL return type's integer fields, and the NumPy kernel
# called directly on finite points
_INTEGER_OUTPUT = {
    "s2_cell_udf": (lambda: G.s2_cell_udf(12), ["value"],
                    lambda lo, la: {"value": s2.cell_id(lo, la, 12)}),
    "s2_face_ij_udf": (lambda: G.s2_face_ij_udf(8), ["face", "i", "j"],
                       _face_ij_reference),
    "a7hex_cell_udf": (lambda: G.a7hex_cell_udf(5), ["value"],
                       lambda lo, la: {"value": hx.encode(lo, la, 5)}),
    "utm_all_zones_udf": (lambda: G.utm_all_zones_udf(), ["zone"],
                          _utm_reference),
    "project_select_udf": (lambda: G.project_select_udf(_selector()),
                           ["op"], _select_reference),
}


@pytest.mark.parametrize("name", sorted(_INTEGER_OUTPUT))
def test_integer_outputs_null_for_non_finite_input(spark, name):
    """NaN, infinite or null lon/lat -> every integer output null; a
    finite row equals the kernel (project_select keeps -1 for a finite
    point no candidate covers)."""
    from pyspark.sql import functions as F

    build, int_fields, reference = _INTEGER_OUTPUT[name]
    nan, inf = float("nan"), float("inf")
    finite = [(10.5, 56.0), (150.0, -30.0)]
    rows = [(nan, nan), (None, None), (inf, 10.0), (20.0, nan)] + finite
    df = spark.createDataFrame([(k, lo, la) for k, (lo, la)
                                in enumerate(rows)],
                               "k int, lon double, lat double")
    got = {r.k: r.o for r in df.select(
        "k", build()(F.col("lon"), F.col("lat")).alias("o")).collect()}

    def fields(o):
        return o.asDict() if hasattr(o, "asDict") else {"value": o}

    for k in range(4):
        out = fields(got[k])
        assert [out[f] for f in int_fields] == [None] * len(int_fields), k
    lon, lat = (np.array(c) for c in zip(*finite))
    want = reference(lon, lat)
    for k in range(len(finite)):
        out = fields(got[4 + k])
        for f, v in want.items():
            if f in int_fields:
                assert out[f] == int(v[k]), (f, k)
            else:
                # a NaN float output arrives through Arrow as null
                x = np.nan if out[f] is None else out[f]
                np.testing.assert_allclose(x, v[k], rtol=0, atol=1e-6)
    if name == "project_select_udf":
        assert [fields(got[4 + k])["op"] for k in range(2)] == [0, -1]
