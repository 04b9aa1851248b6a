"""Deterministic coordinate assignment for the web-page table.

The engine's real miner (:mod:`proj_4_spark.sources.pages`) extracts
``lat, lon`` mentions from page text with a vectorized regex.  The
driver's synthetic ``documents`` table carries no coordinate mentions,
so the correctness suite instead derives a deterministic (lon, lat)
per ``doc_id`` using *pure integer arithmetic + IEEE double ops* that
evaluate bit-identically in Spark SQL and DuckDB.  This reproduces the
skew model of FIXTURES.md §1: a Zipf-weighted mixture of ~25 "city"
centers (top city ≈20%% of points — a hot cell, which the tiling job
counts without salting, README "Skew") plus a uniform global background.

Everything here is emitted as a *SQL expression string* consumed by
BOTH engines (``F.expr`` on the Spark side, verbatim in the DuckDB
oracle), so there is exactly one definition of the data.
"""

from __future__ import annotations

# 25 metro centers (lon, lat) — public, coarse CBD coordinates.
CITIES: list[tuple[str, float, float]] = [
    ("tokyo", 139.6917, 35.6895),
    ("delhi", 77.1025, 28.7041),
    ("shanghai", 121.4737, 31.2304),
    ("sao_paulo", -46.6333, -23.5505),
    ("mexico_city", -99.1332, 19.4326),
    ("cairo", 31.2357, 30.0444),
    ("mumbai", 72.8777, 19.0760),
    ("beijing", 116.4074, 39.9042),
    ("dhaka", 90.4125, 23.8103),
    ("osaka", 135.5023, 34.6937),
    ("new_york", -74.0060, 40.7128),
    ("karachi", 67.0011, 24.8607),
    ("buenos_aires", -58.3816, -34.6037),
    ("istanbul", 28.9784, 41.0082),
    ("kolkata", 88.3639, 22.5726),
    ("lagos", 3.3792, 6.5244),
    ("london", -0.1278, 51.5074),
    ("los_angeles", -118.2437, 34.0522),
    ("paris", 2.3522, 48.8566),
    ("moscow", 37.6173, 55.7558),
    ("jakarta", 106.8456, -6.2088),
    ("seoul", 126.9780, 37.5665),
    ("sydney", 151.2093, -33.8688),
    ("nairobi", 36.8219, -1.2921),
    ("johannesburg", 28.0473, -26.2041),
]

ZIPF_ALPHA = 1.1
BACKGROUND_FRAC = 0.10  # uniform global background share
SPREAD_DEG = 0.5  # jitter half-width around a city center, degrees
SLOTS = 100_000  # a doc_id hashes to one of SLOTS mixture slots

# Knuth multiplicative-hash constants (fit in int64 for doc_id < ~7e9)
H_CITY = 2654435761
H_JLON = 48271
H_JLAT = 69621


def zipf_thresholds() -> list[int]:
    """Cumulative integer thresholds over [0, SLOTS) for the mixture.

    The first ``round(SLOTS * BACKGROUND_FRAC)`` slots are the uniform
    background; the rest split Zipf(ZIPF_ALPHA) across the cities.
    """
    bg = round(SLOTS * BACKGROUND_FRAC)
    w = [1.0 / (i + 1) ** ZIPF_ALPHA for i in range(len(CITIES))]
    tot = sum(w)
    cum, acc = [], bg
    for wi in w:
        acc += (SLOTS - bg) * wi / tot
        cum.append(min(SLOTS, round(acc)))
    cum[-1] = SLOTS
    return cum


def _jitter_expr(id_col: str, mult: int, spread: float) -> str:
    # ((id*mult) % 20001 - 10000) / 10000.0 * spread  in [-spread, spread]
    return (f"(CAST(({id_col} * {mult}) % 20001 - 10000 AS DOUBLE)"
            f" / 10000.0 * {spread!r})")


def lonlat_sql(id_col: str = "doc_id") -> tuple[str, str]:
    """(lon_expr, lat_expr) — identical text for Spark SQL and DuckDB.

    Uses only integer ``*``/``%`` (exact), CASE, and double ``+ * /``
    (same IEEE ops in both engines ⇒ bit-identical results).
    """
    thresholds = zipf_thresholds()
    bg = round(SLOTS * BACKGROUND_FRAC)
    sel = f"(({id_col} * {H_CITY}) % {SLOTS})"
    jlon = _jitter_expr(id_col, H_JLON, SPREAD_DEG)
    jlat = _jitter_expr(id_col, H_JLAT, SPREAD_DEG * 0.5)
    # uniform background: lon in [-180,180), lat in (-66,66) (clear of poles)
    bg_lon = (f"(CAST(({id_col} * 179424673) % 360000 AS DOUBLE)"
              f" / 1000.0 - 180.0)")
    bg_lat = (f"(CAST(({id_col} * 15485863) % 132000 AS DOUBLE)"
              f" / 1000.0 - 66.0)")

    def ladder(coord: int, jit: str, bg_expr: str) -> str:
        parts = [f"CASE WHEN {sel} < {bg} THEN {bg_expr}"]
        lo = bg
        for (name, clon, clat), hi in zip(CITIES, thresholds):
            c = clon if coord == 0 else clat
            parts.append(f"WHEN {sel} < {hi} THEN ({c!r} + {jit})")
            lo = hi
        parts.append("END")
        return " ".join(parts)

    return ladder(0, jlon, bg_lon), ladder(1, jlat, bg_lat)


def coords_df(spark, sf_dir: str):
    """Spark DataFrame (doc_id, lon, lat) from the documents table,
    built from the *same* SQL expressions as the DuckDB oracle."""
    from pyspark.sql import functions as F

    lon, lat = lonlat_sql("doc_id")
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return df.select("doc_id", F.expr(lon).alias("lon"),
                     F.expr(lat).alias("lat"))


def lonlat_numpy(doc_id):
    """NumPy reference of the same derivation (for pytest oracles)."""
    import numpy as np

    doc_id = np.asarray(doc_id, dtype=np.int64)
    thresholds = zipf_thresholds()
    bg = round(SLOTS * BACKGROUND_FRAC)
    sel = (doc_id * H_CITY) % SLOTS
    jlon = ((doc_id * H_JLON) % 20001 - 10000).astype(np.float64) / 10000.0 * SPREAD_DEG
    jlat = ((doc_id * H_JLAT) % 20001 - 10000).astype(np.float64) / 10000.0 * (SPREAD_DEG * 0.5)
    bg_lon = ((doc_id * 179424673) % 360000).astype(np.float64) / 1000.0 - 180.0
    bg_lat = ((doc_id * 15485863) % 132000).astype(np.float64) / 1000.0 - 66.0
    lon = bg_lon.copy()
    lat = bg_lat.copy()
    lo = bg
    prev = np.full(doc_id.shape, False)
    in_bg = sel < bg
    assigned = in_bg.copy()
    for (name, clon, clat), hi in zip(CITIES, thresholds):
        m = (~assigned) & (sel < hi)
        lon[m] = clon + jlon[m]
        lat[m] = clat + jlat[m]
        assigned |= m
    return lon, lat
