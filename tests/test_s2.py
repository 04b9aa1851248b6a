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


def _bbox_points(rng, lo0, la0, lo1, la1, n=30):
    """Corners, edge midpoints and `n` random interior points."""
    lon = np.concatenate([[lo0, lo1, lo0, lo1, (lo0 + lo1) / 2, lo0,
                           (lo0 + lo1) / 2, lo1], rng.uniform(lo0, lo1, n)])
    lat = np.concatenate([[la0, la0, la1, la1, la0, (la0 + la1) / 2, la1,
                           (la0 + la1) / 2], rng.uniform(la0, la1, n)])
    return lon, lat


def _check_covers(rng, lo0, la0, lo1, la1, level, n=30):
    """Cover the bboxes at `level` and check each against its points;
    returns the bboxes' covers and how many of them span several faces."""
    idx, cells = s2.cover_bboxes(lo0, la0, lo1, la1, level)
    assert (s2.level_of(cells) == level).all()
    assert len(set(zip(idx.tolist(), cells.tolist()))) == len(idx)
    covers, n_multi = [], 0
    for b in range(len(lo0)):
        cover = set(cells[idx == b].tolist())
        lon, lat = _bbox_points(rng, lo0[b], la0[b], lo1[b], la1[b], n)
        assert set(s2.cell_id(lon, lat, level).tolist()) <= cover, (
            level, lo0[b], la0[b], lo1[b], la1[b])
        x, y, z = s2.lonlat_to_xyz(np.deg2rad(lon), np.deg2rad(lat))
        n_multi += len(set(s2.xyz_to_face_uv(x, y, z)[0].tolist())) > 1
        covers.append(cover)
    return covers, n_multi


def test_cover_bboxes_property():
    """Every corner and random interior point of a bbox lies in a cell
    of that bbox's cover, anywhere on the globe: across face edges, the
    sector meridians, the ±35° bands and the ±35.26° polar-face limit,
    up to ±180°, at the poles and over the whole globe.  No (bbox,
    cell) pair repeats; an inverted or NaN bbox covers nothing."""
    rng = np.random.default_rng(11)
    for level, max_deg in ((6, 5.0), (8, 2.0), (10, 0.5), (12, 0.1)):
        k = 12
        clon = np.concatenate([
            rng.uniform(-180, 180, 3 * k),
            rng.choice([-135.0, -45.0, 45.0, 135.0], k),
            rng.uniform(-180, 180, 2 * k)])
        clat = np.concatenate([
            np.rad2deg(np.arcsin(rng.uniform(-1, 1, 3 * k))),
            rng.uniform(-35, 35, k),
            rng.choice([-89.9, -35.26, 35.26, 89.9], 2 * k)])
        half = rng.uniform(0.001, max_deg, (2, len(clon))) / 2
        lo0 = np.clip(clon - half[0], -180, 180)
        lo1 = np.clip(clon + half[0], -180, 180)
        la0 = np.clip(clat - half[1], -90, 90)
        la1 = np.clip(clat + half[1], -90, 90)
        # boxes whose lower parallel peaks at lon 0 or 90 just past a
        # level grid line that all four corners stay inside: faces 0
        # and 1 (v = tan(lat)/cos(lon - axis)), polar face 2
        # (u = -cos(lon)/tan(lat))
        line = -s2.st_to_uv(np.round(rng.uniform(0.2, 0.4, 3) * 2**level)
                            / 2**level)
        mid = np.array([0.0, 90.0, 0.0])
        edge = np.rad2deg(np.arctan([line[0] - 1e-7, line[1] - 1e-7,
                                     1.0 / (line[2] + 1e-7)]))
        lo0, lo1 = np.append(lo0, mid - 1.0), np.append(lo1, mid + 1.0)
        la0, la1 = np.append(la0, edge), np.append(la1, edge + 0.05)
        # Paris and New York; boxes across the band edges and the
        # polar-face limit, across each sector meridian (equator and
        # both polar faces), at ±180° and around the globe at the equator
        w = max_deg / 2
        fixed = [(2.0, 48.5, 2.6, 49.0), (-74.5, 40.4, -73.6, 41.0)]
        fixed += [(10 - w, e - w, 10 + w, e + w)
                  for e in (-35.26, -35.0, 35.0, 35.26)]
        fixed += [(e - w, c - w, e + w, c + w)
                  for e in (-135.0, -45.0, 45.0, 135.0)
                  for c in (-50.0, 0.0, 50.0)]
        fixed += [(180 - w, 10.0, 180.0, 10 + w),
                  (-180.0, -10 - w, -180 + w, -10.0),
                  (-180.0, 0.0, 180.0, 0.1)]
        f0, f1, f2, f3 = np.array(fixed).T
        lo0, la0 = np.append(lo0, f0), np.append(la0, f1)
        lo1, la1 = np.append(lo1, f2), np.append(la1, f3)
        _, n_multi = _check_covers(rng, lo0, la0, lo1, la1, level)
        assert n_multi, level

    # the whole globe and polar caps
    for level in (2, 3, 4):
        lo0, la0, lo1, la1 = np.array([
            (-180.0, -90.0, 180.0, 90.0), (-180.0, 80.0, 180.0, 90.0),
            (-180.0, -90.0, 180.0, -60.0), (-30.0, 50.0, 150.0, 90.0)]).T
        covers, _ = _check_covers(rng, lo0, la0, lo1, la1, level, n=2000)
        assert len(covers[0]) == 6 * 4**level

    # inverted bboxes and NaN bounds cover nothing, without a
    # floating-point error, beside a normal bbox
    nan = np.nan
    with np.errstate(all="raise"):
        idx, cells = s2.cover_bboxes([5.0, nan, 0.0, 0.0, 0.0, 2.0],
                                     [0.0, 0.0, nan, 10.0, 0.0, 48.5],
                                     [4.0, 1.0, 1.0, 1.0, nan, 2.6],
                                     [1.0, 1.0, 1.0, 5.0, 1.0, 49.0], 12)
    assert len(cells) and set(idx.tolist()) == {5}


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
    s2_parent, and such a point never matches in pip_join.  NumPy's
    cell_id gives it 0 at every level, with no floating-point error."""
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
    bad = np.array([r[1:] for r in rows[1:]], dtype=np.float64)
    with np.errstate(all="raise"):
        for lvl in (30, 12, 8):
            assert (s2.cell_id(bad[:, 0], bad[:, 1], lvl) == 0).all(), lvl
    pts = spark.createDataFrame(rows, "doc_id long, lon double, lat double")
    enc = pts.withColumn("cell", s2_cell_udf(12)(F.col("lon"), F.col("lat")))
    got = {r.doc_id: (r.cell, r.p8) for r in enc.select(
        "doc_id", "cell", s2_parent(F.col("cell"), 8).alias("p8")).collect()}
    assert got[0] == (int(s2.cell_id(inside_lon, inside_lat, 12)),
                      int(s2.cell_id(inside_lon, inside_lat, 8)))
    for k in range(1, 6):
        assert got[k] == (None, None), k
    ids = {r.doc_id for r in pip_join(enc, polys, level=8)
           .select("doc_id").collect()}
    assert ids == {0}


def _ray_cast_reference(rows, px, py, pid):
    """Per-polygon even-odd loop: one pass per polygon, one per edge."""
    out = np.zeros(len(px), dtype=bool)
    for r in rows:
        m = pid == r["polygon_id"]
        rx, ry = np.asarray(r["ring_lon"]), np.asarray(r["ring_lat"])
        x, y = px[m], py[m]
        inside = np.zeros(len(x), dtype=bool)
        for i in range(len(rx)):
            j = (i + 1) % len(rx)
            x1, y1, x2, y2 = rx[i], ry[i], rx[j], ry[j]
            crosses = (y1 > y) != (y2 > y)
            with np.errstate(invalid="ignore", divide="ignore"):
                xint = (x2 - x1) * (y - y1) / (y2 - y1) + x1
            inside ^= crosses & (x < xint)
        out[m] = inside
    return out


def test_ray_cast_udf_bit_identical_to_per_polygon_loop(spark):
    """The edge-slot kernel gives the per-polygon loop's answer
    bit for bit: 3-32-vertex star rings with non-contiguous ids, points
    exactly on vertices, on edge midpoints and on vertex rows, more rows
    than one run_chunked block, a 0-row batch, and no polygons."""
    import pandas as pd

    from proj_4_spark.functions.geo import CHUNK
    from proj_4_spark.operators.spatial_join import ray_cast_udf

    rng = np.random.default_rng(12)
    rows = [dict(polygon_id=-5, ring_lon=[0.0, 1.0, 1.0, 0.0],
                 ring_lat=[0.0, 0.0, 1.0, 1.0])]
    for q, pid in enumerate(rng.choice(10**6, 40, replace=False)):
        nv = 3 + q % 30
        ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
        rad = rng.uniform(0.2, 1.0, nv)
        c = rng.uniform(-50, 50, 2)
        rows.append(dict(polygon_id=int(pid),
                         ring_lon=(c[0] + rad * np.cos(ang)).tolist(),
                         ring_lat=(c[1] + rad * np.sin(ang)).tolist()))
    lon, lat, pid = [], [], []
    for r in rows:
        rx, ry = np.asarray(r["ring_lon"]), np.asarray(r["ring_lat"])
        mx, my = (rx + np.roll(rx, -1)) / 2, (ry + np.roll(ry, -1)) / 2
        m = CHUNK // len(rows) + 64
        rnd_x = rng.uniform(rx.min() - 0.1, rx.max() + 0.1, m)
        rows_y = rng.choice(ry, m)
        xs = np.concatenate([rx, mx, rnd_x, rnd_x])
        ys = np.concatenate([ry, my, rng.uniform(ry.min() - 0.1,
                                                 ry.max() + 0.1, m), rows_y])
        lon.append(xs)
        lat.append(ys)
        pid.append(np.full(len(xs), r["polygon_id"]))
    lon, lat, pid = (np.concatenate(a) for a in (lon, lat, pid))
    perm = rng.permutation(len(lon))
    lon, lat, pid = lon[perm], lat[perm], pid[perm]
    assert len(lon) > CHUNK

    inside = ray_cast_udf(rows).func
    got = inside(pd.Series(lon), pd.Series(lat), pd.Series(pid)).to_numpy(
        zero_copy_only=False)
    want = _ray_cast_reference(rows, lon, lat, pid)
    assert got.dtype == bool and want.any()
    assert np.array_equal(got, want)
    empty = pd.Series([], dtype=np.float64)
    assert len(inside(empty, empty, pd.Series([], dtype=np.int64))) == 0
    unknown = inside(pd.Series([0.5]), pd.Series([0.5]), pd.Series([-6]))
    assert not any(unknown.to_pylist())
    # no polygons at all: every id is unknown, also on a 0-row batch
    none = ray_cast_udf([]).func
    assert none(pd.Series(lon[:5]), pd.Series(lat[:5]),
                pd.Series(pid[:5])).to_pylist() == [False] * 5
    assert len(none(empty, empty, pd.Series([], dtype=np.int64))) == 0


def _n_python_evals(df):
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("ArrowEvalPython"), plan


def test_pip_join_plan_one_python_eval_no_join(spark, sf_dir):
    """The whole PIP join is one Python evaluation (encode, cover
    lookup, bbox test and ray cast in one Arrow UDF) under a Generate:
    no join, no exchange."""
    from proj_4_spark.operators.spatial_join import pip_join
    from proj_4_spark.sources.coords import coords_df
    from proj_4_spark.sources.polygons import polygon_rows

    n, plan = _n_python_evals(pip_join(coords_df(spark, sf_dir),
                                       polygon_rows(), level=8))
    assert n == 1, plan
    assert "Generate explode" in plan, plan
    for op in ("Join", "Exchange"):
        assert op not in plan, plan


def test_pip_join_no_polygons(spark, sf_dir):
    """No polygons: an empty frame that still has the polygon_id column."""
    from proj_4_spark.operators.spatial_join import pip_join
    from proj_4_spark.sources.coords import coords_df

    pts = coords_df(spark, sf_dir)
    out = pip_join(pts, [], level=8)
    assert out.columns == pts.columns + ["polygon_id"]
    assert out.count() == 0


def _pip_polygons(rng):
    """Star rings (3-24 vertices, not all convex) with non-contiguous
    ids: overlapping rings around shared centres, and bboxes across the
    S2 face edges at lon 45/-135 and at lat 35.26."""
    centres = [(2.35, 48.85), (2.35, 48.85), (2.5, 48.9), (45.0, 0.0),
               (-135.0, 10.0), (100.0, 35.26), (-70.0, -35.26),
               (10.0, 60.0), (-45.0, 20.0)]
    rows = []
    for q, (cx, cy) in enumerate(centres):
        nv = 3 + (7 * q) % 22
        ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
        rad = rng.uniform(0.3, 1.5, nv) * (1 + q % 3)
        rows.append(dict(polygon_id=int(1000 - 97 * q),
                         ring_lon=(cx + rad * np.cos(ang)).tolist(),
                         ring_lat=(cy + rad * np.sin(ang)).tolist()))
    return rows


def _pip_points(rng, polys, m):
    """Per polygon: its vertices, points on its bbox edges and ``m``
    points in and around its bbox; then global points."""
    lon, lat = [], []
    for r in polys:
        rx, ry = np.asarray(r["ring_lon"]), np.asarray(r["ring_lat"])
        x0, x1, y0, y1 = rx.min(), rx.max(), ry.min(), ry.max()
        u, v = rng.uniform(x0, x1, m), rng.uniform(y0, y1, m)
        lon += [rx, np.full(m, x0), np.full(m, x1), u, u,
                rng.uniform(x0 - 0.5, x1 + 0.5, m)]
        lat += [ry, v, v, np.full(m, y0), np.full(m, y1),
                rng.uniform(y0 - 0.5, y1 + 0.5, m)]
    lon.append(rng.uniform(-180, 180, m))
    lat.append(rng.uniform(-90, 90, m))
    return np.concatenate(lon), np.concatenate(lat)


def _pip_reference(polys, lon, lat, level):
    """Sorted (point index, polygon_id) pairs from the definition: the
    point's cell is in the polygon's bbox cover, the point is in the
    closed bbox, and the per-polygon even-odd loop puts it inside."""
    with np.errstate(invalid="ignore"):
        cell = s2.cell_id(lon, lat, level)
    pairs = []
    for r in polys:
        rx, ry = np.asarray(r["ring_lon"]), np.asarray(r["ring_lat"])
        x0, x1, y0, y1 = rx.min(), rx.max(), ry.min(), ry.max()
        _, cover = s2.cover_bboxes(x0, y0, x1, y1, level)
        k = np.nonzero(np.isin(cell, cover) & (x0 <= lon) & (lon <= x1)
                       & (y0 <= lat) & (lat <= y1))[0]
        ins = _ray_cast_reference([r], lon[k], lat[k],
                                  np.full(len(k), r["polygon_id"]))
        pairs += [(int(i), r["polygon_id"]) for i in k[ins]]
    return sorted(pairs)


def test_pip_join_matches_reference(spark):
    """pip_join gives exactly the reference's (point, polygon) multiset:
    NaN, null and +-inf coordinates, points on vertices and bbox edges,
    overlapping rings, bboxes across face edges; a 0-row frame gives 0
    rows."""
    import pyarrow as pa

    from proj_4_spark.operators.spatial_join import pip_join

    rng = np.random.default_rng(91)
    polys = _pip_polygons(rng)
    lon, lat = _pip_points(rng, polys, 60)
    nan, inf = np.nan, np.inf
    lon = np.concatenate([lon, [nan, 2.35, inf, -inf, 2.35, 0.0, 0.0]])
    lat = np.concatenate([lat, [48.85, nan, 48.85, 48.85, inf, 0.0, 0.0]])
    null = np.zeros(len(lon), dtype=bool)
    null[-2:] = [True, False]
    lon_null = null.copy()
    lon_null[-1] = True  # null lon with a finite lat
    pts = spark.createDataFrame(pa.table({
        "doc_id": np.arange(len(lon)),
        "lon": pa.array(lon, mask=lon_null),
        "lat": pa.array(lat, mask=null)}))
    for level in (8, 5):
        got = sorted(tuple(r) for r in pip_join(pts, polys, level=level)
                     .select("doc_id", "polygon_id").collect())
        lo = np.where(lon_null, nan, lon)
        la = np.where(null, nan, lat)
        want = _pip_reference(polys, lo, la, level)
        assert len(want) > 500 and got == want, level
        assert len({p for _, p in want}) == len(polys)
    empty = pip_join(pts.limit(0), polys, level=8)
    assert empty.columns == pts.columns + ["polygon_id"]
    assert empty.count() == 0


def test_pip_udf_more_than_one_chunk(spark):
    """The PIP UDF's function over more than one CHUNK of points gives
    the reference's pairs in point order, and null lists exactly for
    the NaN or infinite points."""
    import pandas as pd

    from proj_4_spark.functions.geo import CHUNK
    from proj_4_spark.operators.spatial_join import pip_udf

    rng = np.random.default_rng(92)
    polys = _pip_polygons(rng)
    lon, lat = _pip_points(rng, polys, CHUNK // 40)
    lon[::1000], lat[1::1000] = np.nan, np.inf
    assert len(lon) > CHUNK
    got = pip_udf(polys, 8).func(pd.Series(lon), pd.Series(lat))
    lists = got.to_pylist()
    bad = ~(np.isfinite(lon) & np.isfinite(lat))
    assert [x is None for x in lists] == bad.tolist()
    pairs = sorted((i, p) for i, x in enumerate(lists) for p in x or [])
    want = _pip_reference(polys, lon, lat, 8)
    assert len(want) > 1000 and pairs == want
