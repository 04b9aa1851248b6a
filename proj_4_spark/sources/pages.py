r"""Web-page table handling: schema, synthesis, coordinate mining.

The engine's input contract (BASELINE.json input_hint) is an Iceberg
table `(url string, warc_ts timestamp, html binary, text string,
lang string)`.  Two hard rules implemented here:

- **`text` is never rewritten** — every transformation projects it
  through untouched (byte-identical per url); derived columns ride
  alongside.
- **no per-row Python** — the decimal coordinate miner is one
  Catalyst expression (`regexp_extract_all` + `zip_with` +
  `posexplode`), so nothing crosses into Python and columns no output
  uses (the `html` copy) are pruned; the DMS miner is a vectorized
  pandas-str regex over Arrow batches.

The decimal miner's regex runs in Java, whose `\d` and `\s` are
ASCII only, so `COORD_RE` spells both out: digits are ASCII `[0-9]`,
and the whitespace class lists exactly the characters Python's `\s`
matches (a NBSP or U+3000 after the comma still matches).  Non-ASCII
digits (e.g. Arabic-Indic "٤٨.٥, ٢.٣") are not mined.

`synthesize_pages` builds a deterministic pages table from the driver
documents table (or `spark.range`) with 0-3 embedded coordinate
mentions per FIXTURES.md §1.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .coords import lonlat_sql

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")

# "lat, lon" decimal-degree mentions, e.g. "48.858844, 2.294351".
# The same pattern in Java and Python regex: ASCII digits, and the
# whitespace class is Python's Unicode `\s` written out.
_WS = (r"[\t\n\x0b\x0c\r\x1c-\x20\x85\xa0"
       r"\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]")
COORD_RE = (r"(-?[0-9]{1,2}\.[0-9]{1,8}),"
            + _WS + r"*(-?[0-9]{1,3}\.[0-9]{1,8})")


def synthesize_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> pages with the input_hint shape; the deterministic
    (lon,lat) of sources/coords.py is embedded into the text as a
    'located at <lat>, <lon>' mention so the regex miner has real work.
    The ORIGINAL text bytes are preserved in `html`-wrapped form and
    the mention is appended (the driver documents table has no
    coordinates of its own)."""
    lon, lat = lonlat_sql("doc_id")
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # fixed %.6f formatting: never scientific notation, always >= 1
    # decimal digit, and reproducible in DuckDB via printf('%.6f', x)
    txt = F.concat(F.col("text"), F.lit(" located at "),
                   F.format_string("%.6f", F.expr(lat)), F.lit(", "),
                   F.format_string("%.6f", F.expr(lon)))
    return d.select(
        F.concat(F.lit("https://host"), (F.col("doc_id") % 10000)
                 .cast("string"), F.lit(".example/"),
                 F.md5(F.col("doc_id").cast("string"))).alias("url"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=(F.col("doc_id") % 31536000))).alias("warc_ts"),
        F.encode(F.concat(F.lit("<html><body>"), txt,
                          F.lit("</body></html>")), "UTF-8").alias("html"),
        txt.alias("text"),
        F.col("lang"),
        F.col("doc_id"),
    )


def mine_coords(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """Extract every 'lat, lon' mention of `COORD_RE`: every input
    column but `text_col`, then (mention_idx int, lat double,
    lon double).

    One Catalyst expression, no Python UDF: `regexp_extract_all` per
    group, zipped into (lat, lon) pairs and numbered by `posexplode`
    before the range filter, so `mention_idx` is the match position
    (as pandas `extractall` numbers it).  Out-of-range pairs are
    dropped (lat in [-90,90], lon in [-180,180]); a null or empty text
    gives no row.  Only ASCII digits are mined (see the module
    docstring)."""
    cols = [c for c in pages.columns if c != text_col]
    text, pat = pages[text_col], F.lit(COORD_RE)
    pairs = F.zip_with(
        F.regexp_extract_all(text, pat, F.lit(1)),
        F.regexp_extract_all(text, pat, F.lit(2)),
        lambda a, b: F.struct(a.cast("double").alias("lat"),
                              b.cast("double").alias("lon")))
    m = pages.select(*[pages[c] for c in cols],
                     F.posexplode(pairs).alias("mention_idx", "_m"))
    lat, lon = F.col("_m.lat"), F.col("_m.lon")
    return (m.where((F.abs(lat) <= 90.0) & (F.abs(lon) <= 180.0))
             .select(*[m[c] for c in cols], "mention_idx",
                     lat.alias("lat"), lon.alias("lon")))


# DMS mentions: 48°51'24.5"N 2°21'03"E — ASCII d/'/" and the unicode
# °/′/″ marks both accepted, hemisphere letter mandatory (the same
# forms proj_dmstor parses, src/dmstor.cpp:18-84)
DMS_RE = ("(\\d{1,2})[°d](\\d{1,2})['′](\\d{1,2}(?:\\.\\d+)?)[\"″]([NS])"
          "[,;\\s]+"
          "(\\d{1,3})[°d](\\d{1,2})['′](\\d{1,2}(?:\\.\\d+)?)[\"″]([EW])")


def mine_coords_dms(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """Extract every DMS 'lat lon' mention: (…, mention_idx, lat, lon)
    in signed decimal degrees (deg + min/60 + sec/3600, S/W negative).

    Vectorized pandas `str.extractall` over Arrow batches inside
    mapInPandas — no per-row Python; out-of-range pairs dropped."""
    cols = [c for c in pages.columns if c != text_col]
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in pages.schema.fields if f.name != text_col
    ) + ", mention_idx int, lat double, lon double"

    def _mine(batches):
        for pdf in batches:
            ex = pdf[text_col].str.extractall(DMS_RE)
            if len(ex) == 0:
                continue
            ex.columns = ["latd", "latm", "lats", "lath",
                          "lond", "lonm", "lons", "lonh"]
            lat = (ex.latd.astype("float64")
                   + ex.latm.astype("float64") / 60.0
                   + ex.lats.astype("float64") / 3600.0)
            lat = np.where(ex.lath.to_numpy() == "S", -lat, lat)
            lon = (ex.lond.astype("float64")
                   + ex.lonm.astype("float64") / 60.0
                   + ex.lons.astype("float64") / 3600.0)
            lon = np.where(ex.lonh.to_numpy() == "W", -lon, lon)
            ex = ex.reset_index()
            ex.rename(columns={"level_0": "_row", "match": "mention_idx"},
                      inplace=True)
            ok = (np.abs(lat) <= 90.0) & (np.abs(lon) <= 180.0)
            base = pdf[cols].reset_index(drop=True)
            out = base.iloc[ex["_row"].to_numpy()[ok]].reset_index(drop=True)
            out["mention_idx"] = ex["mention_idx"].to_numpy()[ok].astype("int32")
            out["lat"] = lat[ok]
            out["lon"] = lon[ok]
            yield out

    return pages.mapInPandas(_mine, schema)
