"""Seeded input generation for the benchmark workloads.

Every input is a pure function of ``(workload, size, seed)``: the same
seed always writes byte-identical files.  Inputs land in
``<work>/inputs/<workload>-<size>-<seed>/`` and are reused when they
already exist (generation is benchmark cost, never engine cost).  Each
input directory also holds ``props.json``: the traffic properties of
the input (docs, text bytes, mentions per doc, polygon count and
vertices, ...) so a later change can say which share of a workload has
a given property.

The engine only ever sees the generated files; the seed itself never
reaches it.
"""

from __future__ import annotations

import json
import math
import os
import shutil

import numpy as np

# Traffic shape.  The repository holds no measured text-length or
# polygon-size distribution, so these are chosen, not measured:
# - page texts: lognormal lengths, median TEXT_MEDIAN chars (the 300-char
#   fixture texts understate what the miner scans), sigma TEXT_SIGMA,
#   clipped to [60, 12 x median];
# - polygons: FIXTURES.md specifies radii of 5-300 km for ~200 polygons;
#   thousands of those, covered at level 12 (~2.4 km cells), would not
#   fit a 1 GB driver, so radii are 1.5-6 km with 12-32 vertices.
TEXT_SIGMA = 0.6
POLY_RADIUS_KM = (1.5, 6.0)
POLY_VERTICES = (12, 32)

# workload sizes: "full" is the measured size, "tiny" the smoke size
SIZES = {
    "pages_tiling": {"full": {"docs": 10_000, "text_median": 700},
                     "tiny": {"docs": 400, "text_median": 300}},
    "coords_join": {"full": {"points": 150_000, "polygons": 2000},
                    "tiny": {"points": 4_000, "polygons": 50}},
}

WORKLOAD_IDS = {"pages_tiling": 1, "coords_join": 2}

# a doc_id range starting below 1e9 keeps lonlat_sql's integer hashing
# inside int64 (see sources/coords.py)
MAX_BASE_DOC_ID = 900_000_000

_VOCAB = ("the of and to in for on with at by from about into over after "
          "market square vendor maps charts region notes margin street "
          "harbour station river bridge museum library garden tower hotel "
          "review photo travel route morning evening local guide history "
          "festival weather coffee bakery school office field archive "
          "spark table scan merge window hash join group query filter").split()


def rng_for(workload: str, seed: int, stream: int = 0) -> np.random.Generator:
    return np.random.default_rng(
        np.random.SeedSequence([int(seed), WORKLOAD_IDS[workload], stream]))


def input_dir(work: str, workload: str, size: str, seed: int) -> str:
    return os.path.join(work, "inputs", f"{workload}-{size}-{seed}")


def _city_weights() -> tuple[np.ndarray, float]:
    """(per-city weights, background share) of the sources.coords mix."""
    from proj_4_spark.sources.coords import (BACKGROUND_FRAC, CITIES,
                                             ZIPF_ALPHA)

    w = np.array([1.0 / (i + 1) ** ZIPF_ALPHA for i in range(len(CITIES))])
    return w / w.sum(), BACKGROUND_FRAC


def _fmt(v: float) -> str:
    # the same fixed form sources.pages writes (never scientific)
    return "%.6f" % v


# ------------------------------------------------------------- polygons

def convex_polygons(rng: np.random.Generator, n: int, r_km: tuple,
                    n_vertices: tuple, first_id: int = 0) -> list[dict]:
    """``n`` convex CCW polygons, dense around the Zipf cities.

    Vertices sit on a rotated ellipse at sorted random angles, so every
    ring is convex by construction; centers follow the city mixture of
    sources.coords (10% uniform background)."""
    from proj_4_spark.sources.coords import CITIES

    w, bg = _city_weights()
    out = []
    for k in range(n):
        if rng.random() < bg:
            clon = rng.uniform(-179.0, 179.0)
            clat = rng.uniform(-60.0, 60.0)
        else:
            c = CITIES[int(rng.choice(len(CITIES), p=w))]
            clon = c[1] + rng.uniform(-0.5, 0.5)
            clat = c[2] + rng.uniform(-0.25, 0.25)
        nv = int(rng.integers(n_vertices[0], n_vertices[1] + 1))
        r = rng.uniform(*r_km) / 111.32
        ratio = rng.uniform(0.5, 1.0)
        rot = rng.uniform(0.0, math.pi)
        ang = np.sort(rng.uniform(0.0, 2.0 * math.pi, nv))
        ex, ey = r * np.cos(ang), r * ratio * np.sin(ang)
        dx = ex * math.cos(rot) - ey * math.sin(rot)
        dy = ex * math.sin(rot) + ey * math.cos(rot)
        coslat = math.cos(math.radians(clat))
        ring_lon = [float(v) for v in clon + dx / coslat]
        ring_lat = [float(v) for v in clat + dy]
        out.append(dict(polygon_id=first_id + k, name=f"gen_{first_id + k}",
                        ring_lon=ring_lon, ring_lat=ring_lat,
                        lon_min=min(ring_lon), lon_max=max(ring_lon),
                        lat_min=min(ring_lat), lat_max=max(ring_lat)))
    return out


def save_polygons(path: str, rows: list[dict]) -> None:
    with open(path, "w") as f:
        json.dump(rows, f)


def load_polygons(path: str) -> list[dict]:
    with open(path) as f:
        return json.load(f)


def polygon_props(rows: list[dict]) -> dict:
    nv = np.array([len(r["ring_lon"]) for r in rows])
    return {"polygons": len(rows), "vertices_total": int(nv.sum()),
            "vertices_min": int(nv.min()), "vertices_max": int(nv.max()),
            "vertices_mean": round(float(nv.mean()), 2)}


# ------------------------------------------------------------ documents

def _texts(rng: np.random.Generator, n: int, median: int):
    """Word texts with lognormal lengths plus 0-2 embedded 'lat, lon'
    mentions each.  Returns (texts, mention rows)."""
    lens = np.clip(rng.lognormal(math.log(median), TEXT_SIGMA, n), 60,
                   12 * median)
    lens = lens.astype(np.int64)
    vocab = np.array(_VOCAB)
    words = vocab[rng.integers(0, len(vocab), int(lens.max()) // 2 + 4096)]
    base = " ".join(words.tolist())
    offs = rng.integers(0, len(base) - int(lens.max()) - 1, n)
    n_extra = rng.choice(3, size=n, p=[0.6, 0.3, 0.1])
    w, bg = _city_weights()
    from proj_4_spark.sources.coords import CITIES

    texts, mentions = [], []
    for d in range(n):
        t = base[offs[d]:offs[d] + lens[d]]
        k = int(n_extra[d])
        if k:
            cuts = np.sort(rng.integers(0, len(t) + 1, k))
            parts, prev = [], 0
            for m, cut in enumerate(cuts):
                ci = int(rng.choice(len(CITIES), p=w))
                lat = _fmt(CITIES[ci][2] + rng.uniform(-0.25, 0.25))
                lon = _fmt(CITIES[ci][1] + rng.uniform(-0.5, 0.5))
                parts.append(t[prev:cut])
                parts.append(f" near {lat}, {lon} ")
                mentions.append((d, m, lat, lon))
                prev = cut
            parts.append(t[prev:])
            t = "".join(parts)
        texts.append(t)
    return texts, n_extra, mentions


def gen_pages(d: str, rng: np.random.Generator, cfg: dict) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = cfg["docs"]
    base = int(rng.integers(0, MAX_BASE_DOC_ID))
    ids = np.arange(base, base + n, dtype=np.int64)
    texts, n_extra, mentions = _texts(rng, n, cfg["text_median"])
    langs = np.array(["en", "de", "fr", "es", "ja", "zh", "pt", "ru"])
    lang = langs[rng.integers(0, len(langs), n)]
    n_chars = np.fromiter((len(t) for t in texts), dtype=np.int64, count=n)
    os.makedirs(os.path.join(d, "docs"), exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": ids, "text": texts, "lang": lang,
        "source": np.char.add("gen", (ids % 7).astype(str)),
        "n_chars": n_chars}), os.path.join(d, "docs", "documents.parquet"))
    pq.write_table(pa.table({
        "doc_id": np.array([ids[m[0]] for m in mentions], dtype=np.int64),
        "mention_idx": np.array([m[1] for m in mentions], dtype=np.int32),
        "lat_s": [m[2] for m in mentions], "lon_s": [m[3] for m in mentions],
    }), os.path.join(d, "extra_mentions.parquet"))
    pq.write_table(pa.table({"doc_id": ids, "n_extra": n_extra.astype(np.int32)}),
                   os.path.join(d, "n_extra.parquet"))
    text_bytes = int(sum(len(t.encode()) for t in texts))
    return {"docs": n, "doc_id_base": base, "text_bytes": text_bytes,
            "text_chars_median": int(np.median(n_chars)),
            "text_chars_p99": int(np.percentile(n_chars, 99)),
            "mentions": int(n + n_extra.sum()),
            "mentions_per_doc": round(float(1 + n_extra.mean()), 4),
            "input_bytes": os.path.getsize(
                os.path.join(d, "docs", "documents.parquet"))}


# --------------------------------------------------------------- coords

def write_coords(path: str, base: int, n: int) -> None:
    """(doc_id, lon, lat) for doc_id in [base, base+n), using the exact
    SQL derivation of sources.coords.lonlat_sql."""
    import duckdb

    from proj_4_spark.sources.coords import lonlat_sql

    lon, lat = lonlat_sql("doc_id")
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(
            f"COPY (SELECT doc_id, {lon} AS lon, {lat} AS lat FROM "
            f"(SELECT CAST(range AS BIGINT) AS doc_id FROM range({base}, "
            f"{base + n})) ORDER BY doc_id) TO '{path}' (FORMAT PARQUET)")
    finally:
        con.close()


def gen_coords(d: str, rng: np.random.Generator, cfg: dict) -> dict:
    n = cfg["points"]
    base = int(rng.integers(0, MAX_BASE_DOC_ID))
    os.makedirs(os.path.join(d, "coords"), exist_ok=True)
    write_coords(os.path.join(d, "coords", "part-0.parquet"), base, n)
    polys = convex_polygons(rng, cfg["polygons"], POLY_RADIUS_KM,
                            POLY_VERTICES)
    save_polygons(os.path.join(d, "polygons.json"), polys)
    props = {"points": n, "doc_id_base": base,
             "input_bytes": os.path.getsize(
                 os.path.join(d, "coords", "part-0.parquet"))}
    props.update(polygon_props(polys))
    return props


GENERATORS = {"pages_tiling": gen_pages, "coords_join": gen_coords}


def make_inputs(work: str, workload: str, size: str, seed: int) -> str:
    """Generate (or reuse) the seeded inputs; returns their directory."""
    d = input_dir(work, workload, size, seed)
    if os.path.exists(os.path.join(d, "props.json")):
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    props = GENERATORS[workload](tmp, rng_for(workload, seed),
                                 SIZES[workload][size])
    props.update(workload=workload, size=size, seed=seed)
    with open(os.path.join(tmp, "props.json"), "w") as f:
        json.dump(props, f, indent=1)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d


def load_props(d: str) -> dict:
    with open(os.path.join(d, "props.json")) as f:
        return json.load(f)
