"""Oracles for every timed output, computed once per seed.

The oracles never call the engine's kernels: coordinates come from the
SQL text of ``sources.coords.lonlat_sql`` and the ``printf('%.6f')``
form of ``queries.q_mined_coords``, polygon membership from convex
cross-product containment (the test of
``sources.polygons.convex_inside_sql``), S2 cells from the closed-form
``plans.oracles.s2_face_ij_sql``.

Oracle tables are written next to the inputs (``<input>/oracle/``) and
reused by every later run with the same seed.  Engine outputs are
compared as multisets; any difference is a failed operation.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

S2_MAX_LEVEL = 30
FP_MOD = 1_000_003  # membership fingerprint modulus


def _duck(threads: int = 4):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    return con


def s2_fij_sql(points_sql: str, level: int) -> str:
    """plans.oracles.s2_face_ij_sql with its coordinate source swapped
    for ``points_sql`` (a SELECT producing doc_id, lon, lat)."""
    from proj_4_spark.plans import oracles as O

    sql = O.s2_face_ij_sql(level)
    src = O.coords_cte()
    if src not in sql:
        raise RuntimeError("s2_face_ij_sql no longer embeds coords_cte()")
    return sql.replace(src, points_sql)


def _edges_df(polys: list[dict]) -> pd.DataFrame:
    pid, x1, y1, x2, y2 = [], [], [], [], []
    for r in polys:
        lo, la = r["ring_lon"], r["ring_lat"]
        n = len(lo)
        for i in range(n):
            j = (i + 1) % n
            pid.append(r["polygon_id"])
            x1.append(lo[i]), y1.append(la[i]), x2.append(lo[j]), y2.append(la[j])
    return pd.DataFrame({"polygon_id": np.array(pid, dtype=np.int64),
                         "x1": x1, "y1": y1, "x2": x2, "y2": y2})


def _bbox_df(polys: list[dict]) -> pd.DataFrame:
    return pd.DataFrame({k: [r[k] for r in polys] for k in
                         ("polygon_id", "lon_min", "lon_max", "lat_min",
                          "lat_max")})


def register_convex(con, polys: list[dict]) -> None:
    """Tables `bbox` and `edges` for the generic convex containment
    SQL: a point is inside when every edge cross product is > 0."""
    con.register("bbox_df", _bbox_df(polys))
    con.register("edges_df", _edges_df(polys))
    con.execute("CREATE TABLE bbox AS SELECT * FROM bbox_df")
    con.execute("CREATE TABLE edges AS SELECT * FROM edges_df")


CONVEX_SQL = """
WITH cand AS (
  SELECT p.doc_id, p.lon, p.lat, b.polygon_id FROM {pts} p JOIN bbox b
    ON p.lon > b.lon_min AND p.lon < b.lon_max
   AND p.lat > b.lat_min AND p.lat < b.lat_max
)
SELECT c.doc_id, c.polygon_id FROM cand c JOIN edges e USING (polygon_id)
GROUP BY c.doc_id, c.polygon_id
HAVING bool_and((e.x2 - e.x1)*(c.lat - e.y1) - (e.y2 - e.y1)*(c.lon - e.x1) > 0)
"""


def diff_count(con, a_sql: str, b_sql: str) -> int:
    """Rows in the symmetric multiset difference of two queries."""
    return con.execute(
        f"SELECT count(*) FROM (({a_sql}) EXCEPT ALL ({b_sql})) UNION ALL "
        f"SELECT count(*) FROM (({b_sql}) EXCEPT ALL ({a_sql}))"
    ).fetchnumpy()["count_star()"].sum()


def decode_cells(cells: np.ndarray, level: int) -> tuple:
    """cell ids -> (face, i, j) on the ``level`` grid."""
    from proj_4_spark.index import s2 as s2idx

    face, i, j = s2idx.to_face_ij(np.asarray(cells, dtype=np.int64))
    shift = S2_MAX_LEVEL - level
    return face.astype(np.int64), i >> shift, j >> shift


def _write(con, sql: str, path: str) -> None:
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")


# ------------------------------------------------------------ pages_tiling

def build_pages(d: str) -> dict:
    """Mined coordinates, tile assignments, per-polygon and level-8 cell
    counts for the tiling job on ``d``'s documents."""
    from proj_4_spark.sources.coords import lonlat_sql
    from proj_4_spark.sources.polygons import (convex_inside_sql,
                                               polygon_rows,
                                               polygons_values_sql)

    od = os.path.join(d, "oracle")
    os.makedirs(od, exist_ok=True)
    lon, lat = lonlat_sql("doc_id")
    con = _duck()
    try:
        con.execute(f"""
CREATE TABLE mined AS
SELECT d.doc_id, n.n_extra AS mention_idx,
       CAST(printf('%.6f', {lat}) AS DOUBLE) AS lat,
       CAST(printf('%.6f', {lon}) AS DOUBLE) AS lon
FROM read_parquet('{d}/docs/documents.parquet') d
JOIN read_parquet('{d}/n_extra.parquet') n USING (doc_id)
UNION ALL
SELECT doc_id, mention_idx, CAST(lat_s AS DOUBLE), CAST(lon_s AS DOUBLE)
FROM read_parquet('{d}/extra_mentions.parquet')""")
        con.execute(f"""
CREATE TABLE tiles AS
SELECT c.doc_id, c.mention_idx, polys.polygon_id
FROM mined c CROSS JOIN {polygons_values_sql()}
WHERE {convex_inside_sql("c.lon", "c.lat")}""")
        con.execute(f"""
CREATE TABLE cell8 AS
WITH fij AS ({s2_fij_sql("SELECT doc_id, lon, lat FROM mined", 8)})
SELECT face, i, j, count(*) AS n FROM fij GROUP BY face, i, j""")
        for t in ("mined", "tiles", "cell8"):
            _write(con, f"SELECT * FROM {t}", os.path.join(od, f"{t}.parquet"))
        _write(con, "SELECT polygon_id, count(*) AS n FROM tiles GROUP BY 1",
               os.path.join(od, "poly_counts.parquet"))
        n_mined, n_tiles = con.execute(
            "SELECT (SELECT count(*) FROM mined), (SELECT count(*) FROM tiles)"
        ).fetchone()
        top = con.execute("SELECT max(n) FROM cell8").fetchone()[0]
        con.register("fixture_bbox", _bbox_df(polygon_rows()))
        bbox_pairs = con.execute("""
SELECT count(*) FROM mined c JOIN fixture_bbox b
  ON c.lon > b.lon_min AND c.lon < b.lon_max
 AND c.lat > b.lat_min AND c.lat < b.lat_max""").fetchone()[0]
    finally:
        con.close()
    return {"mentions_mined": int(n_mined), "matches": int(n_tiles),
            "matches_per_point": round(n_tiles / n_mined, 4),
            "bbox_candidates_per_point": round(bbox_pairs / n_mined, 4),
            "top_level8_cell_share": round(top / n_mined, 4)}


def check_pages(d: str, out: str) -> list[str]:
    """Compare one tiling-job output directory with the oracle."""
    od = os.path.join(d, "oracle")
    con = _duck(2)
    bad = []
    try:
        pairs = {
            "mined": (f"SELECT doc_id, mention_idx, lat, lon FROM "
                      f"read_parquet('{out}/mined/*.parquet')",
                      f"SELECT doc_id, mention_idx, lat, lon FROM "
                      f"read_parquet('{od}/mined.parquet')"),
            "tile_assignments": (
                f"SELECT doc_id, mention_idx, polygon_id FROM "
                f"read_parquet('{out}/tile_assignments/*.parquet')",
                f"SELECT doc_id, mention_idx, polygon_id FROM "
                f"read_parquet('{od}/tiles.parquet')"),
            "polygon_counts": (
                f"SELECT polygon_id, n_docs FROM "
                f"read_parquet('{out}/polygon_counts/*.parquet')",
                f"SELECT polygon_id, n FROM "
                f"read_parquet('{od}/poly_counts.parquet')"),
        }
        for name, (a, b) in pairs.items():
            n = diff_count(con, a, b)
            if n:
                bad.append(f"{name}: {n} rows differ from the oracle")
        cells = con.execute(
            f"SELECT cell8, n_mentions FROM "
            f"read_parquet('{out}/cell_counts/*.parquet')").fetchdf()
        face, i, j = decode_cells(cells["cell8"].to_numpy(), 8)
        con.register("got_cells", pd.DataFrame(
            {"face": face, "i": i, "j": j,
             "n": cells["n_mentions"].to_numpy(np.int64)}))
        n = diff_count(con, "SELECT face, i, j, n FROM got_cells",
                       f"SELECT CAST(face AS BIGINT), i, j, n FROM "
                       f"read_parquet('{od}/cell8.parquet')")
        if n:
            bad.append(f"cell_counts: {n} rows differ from the oracle")
    finally:
        con.close()
    return bad


# ------------------------------------------------------------- coords_join

def build_coords(d: str, polys: list[dict], level: int) -> dict:
    """Level-``level`` cell counts and per-polygon membership
    fingerprints (count, sum of doc_id, sum of squared doc_id residues)."""
    od = os.path.join(d, "oracle")
    os.makedirs(od, exist_ok=True)
    pts = f"read_parquet('{d}/coords/*.parquet')"
    con = _duck()
    try:
        register_convex(con, polys)
        con.execute(f"CREATE TABLE member AS {CONVEX_SQL.format(pts=pts)}")
        _write(con, f"""
WITH fij AS ({s2_fij_sql(f"SELECT doc_id, lon, lat FROM {pts}", level)})
SELECT face, i, j, count(*) AS n FROM fij GROUP BY face, i, j""",
               os.path.join(od, "cells.parquet"))
        _write(con, f"""
SELECT polygon_id, count(*) AS n, sum(doc_id) AS s1,
       sum((doc_id % {FP_MOD}) * (doc_id % {FP_MOD})) AS s2
FROM member GROUP BY polygon_id""", os.path.join(od, "poly.parquet"))
        n_pts = con.execute(f"SELECT count(*) FROM {pts}").fetchone()[0]
        n_match = con.execute("SELECT count(*) FROM member").fetchone()[0]
        n_bbox = con.execute(f"""
SELECT count(*) FROM {pts} p JOIN bbox b
  ON p.lon > b.lon_min AND p.lon < b.lon_max
 AND p.lat > b.lat_min AND p.lat < b.lat_max""").fetchone()[0]
        top = con.execute(f"""
WITH fij AS ({s2_fij_sql(f"SELECT doc_id, lon, lat FROM {pts}", 8)})
SELECT max(n) FROM (SELECT count(*) AS n FROM fij GROUP BY face, i, j)"""
                          ).fetchone()[0]
    finally:
        con.close()
    return {"matches": int(n_match),
            "matches_per_point": round(n_match / n_pts, 4),
            "bbox_candidates_per_point": round(n_bbox / n_pts, 4),
            "top_level8_cell_share": round(top / n_pts, 4)}


def check_coords(d: str, cells: pd.DataFrame, poly: pd.DataFrame,
                 level: int) -> list[str]:
    od = os.path.join(d, "oracle")
    con = _duck(2)
    bad = []
    try:
        face, i, j = decode_cells(cells["cell"].to_numpy(), level)
        con.register("got_cells", pd.DataFrame(
            {"face": face, "i": i, "j": j,
             "n": cells["n"].to_numpy(np.int64)}))
        n = diff_count(con, "SELECT face, i, j, n FROM got_cells",
                       f"SELECT CAST(face AS BIGINT), i, j, n FROM "
                       f"read_parquet('{od}/cells.parquet')")
        if n:
            bad.append(f"cell counts: {n} rows differ from the oracle")
        con.register("got_poly", poly.astype(
            {"polygon_id": "int64", "n": "int64", "s1": "int64",
             "s2": "int64"}))
        n = diff_count(con, "SELECT polygon_id, n, s1, s2 FROM got_poly",
                       f"SELECT polygon_id, n, CAST(s1 AS BIGINT), "
                       f"CAST(s2 AS BIGINT) FROM "
                       f"read_parquet('{od}/poly.parquet')")
        if n:
            bad.append(f"polygon membership: {n} polygons differ from the oracle")
    finally:
        con.close()
    return bad
