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


def test_s2_parent_expression_matches_index(spark):
    """The Catalyst parent is bit-exact with index/s2.py::parent on
    level-12 cells of all six faces (faces 4-5 have negative ids)."""
    from pyspark.sql import functions as F

    from proj_4_spark.functions.geo import s2_parent

    rng = np.random.RandomState(8)
    n = 6000
    face = np.repeat(np.arange(6), n // 6)
    i = rng.randint(0, 1 << 30, n)
    j = rng.randint(0, 1 << 30, n)
    cells = s2.parent(s2.from_face_ij(face, i, j), 12)
    assert (cells < 0).any()
    df = spark.createDataFrame([(int(c),) for c in cells], "cell long")
    got = df.select("cell", *[s2_parent(F.col("cell"), lvl).alias(f"p{lvl}")
                              for lvl in range(12)]).toPandas()
    src = got["cell"].to_numpy(np.int64)
    assert sorted(src.tolist()) == sorted(cells.tolist())
    for lvl in range(12):
        assert (got[f"p{lvl}"].to_numpy(np.int64)
                == s2.parent(src, lvl)).all(), lvl


def test_s2_cell_udf_non_finite_gives_null(spark):
    """NaN, infinite or null lon/lat -> null cell; the null survives
    s2_parent and never matches in pip_join on either key path."""
    from pyspark.sql import functions as F

    from proj_4_spark.functions.geo import s2_cell_udf, s2_parent
    from proj_4_spark.operators.spatial_join import pip_join
    from proj_4_spark.sources.polygons import polygon_rows

    polys = polygon_rows()
    inside_lon = float(np.mean(polys[0]["ring_lon"]))
    inside_lat = float(np.mean(polys[0]["ring_lat"]))
    nan, inf = float("nan"), float("inf")
    rows = [(0, inside_lon, inside_lat), (1, nan, nan), (2, None, None),
            (3, inside_lon, nan), (4, inf, inside_lat), (5, None, 1.0)]
    pts = spark.createDataFrame(rows, "doc_id long, lon double, lat double")
    enc = pts.withColumn("cell", s2_cell_udf(12)(F.col("lon"), F.col("lat")))
    got = {r.doc_id: (r.cell, r.p8) for r in enc.select(
        "doc_id", "cell", s2_parent(F.col("cell"), 8).alias("p8")).collect()}
    assert got[0] == (int(s2.cell_id(inside_lon, inside_lat, 12)),
                      int(s2.cell_id(inside_lon, inside_lat, 8)))
    for k in range(1, 6):
        assert got[k] == (None, None), k
    for kw in ({}, {"cell": "cell"}):
        ids = {r.doc_id for r in pip_join(enc, polys, level=8, **kw)
               .select("doc_id").collect()}
        assert ids == {0}, kw


def test_pip_join_cell_column_matches_lonlat(spark, sf_dir):
    """Keying on the parent of an existing level-12 cell column gives
    the same rows as encoding lon/lat at the join level."""
    from pyspark.sql import functions as F

    from proj_4_spark.functions.geo import s2_cell_udf
    from proj_4_spark.operators.spatial_join import pip_join
    from proj_4_spark.sources.coords import coords_df
    from proj_4_spark.sources.polygons import polygon_rows

    polys = polygon_rows()
    pts = coords_df(spark, sf_dir).withColumn(
        "cell", s2_cell_udf(12)(F.col("lon"), F.col("lat")))

    def rows(df):
        return sorted(tuple(r) for r in
                      df.select("doc_id", "polygon_id", "cell").collect())

    by_lonlat = rows(pip_join(pts, polys, level=8))
    by_cell = rows(pip_join(pts, polys, level=8, cell="cell"))
    assert by_lonlat and by_cell == by_lonlat
