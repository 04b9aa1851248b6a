r"""Web-page table handling: schema, synthesis, coordinate mining.

The engine's input contract (BASELINE.json input_hint) is an Iceberg
table `(url string, warc_ts timestamp, html binary, text string,
lang string)`.  Two hard rules implemented here:

- **`text` is never rewritten** — every transformation projects it
  through untouched (byte-identical per url); derived columns ride
  alongside.
- **no per-row Python** — both coordinate miners (decimal and DMS)
  are one Catalyst expression each (`regexp_extract_all` +
  `posexplode`), so nothing crosses into Python and columns no output
  uses (the `html` copy) are pruned.

The miners' regexes run in Java, whose `\d` and `\s` are ASCII only,
so `COORD_RE` and `DMS_RE` spell both out: digits are ASCII `[0-9]`,
and the whitespace class `_WS` lists exactly the characters Python's
`\s` matches (a NBSP or U+3000 separator still matches).  Non-ASCII
digits (e.g. Arabic-Indic "٤٨.٥, ٢.٣") are not mined.

`synthesize_pages` builds a deterministic pages table from the driver
documents table (or `spark.range`) with 0-3 embedded coordinate
mentions per FIXTURES.md §1.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
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


def _explode_mentions(pages: DataFrame, text_col: str,
                      mentions: Column) -> DataFrame:
    """Every input column but `text_col`, then (mention_idx int, lat
    double, lon double) for each in-range element of `mentions` (an
    array of struct(lat, lon) per row).  `posexplode` numbers the
    mentions before the range filter, so `mention_idx` is the match
    position (as pandas `extractall` numbers it); lat must lie in
    [-90, 90] and lon in [-180, 180]."""
    cols = [c for c in pages.columns if c != text_col]
    m = pages.select(*[pages[c] for c in cols],
                     F.posexplode(mentions).alias("mention_idx", "_m"))
    lat, lon = F.col("_m.lat"), F.col("_m.lon")
    return (m.where((F.abs(lat) <= 90.0) & (F.abs(lon) <= 180.0))
             .select(*[m[c] for c in cols], "mention_idx",
                     lat.alias("lat"), lon.alias("lon")))


def mine_coords(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """Extract every 'lat, lon' mention of `COORD_RE`: every input
    column but `text_col`, then (mention_idx int, lat double,
    lon double).

    One Catalyst expression, no Python UDF: `regexp_extract_all` per
    group, zipped into (lat, lon) pairs and numbered by `posexplode`
    before the range filter.  A null or empty text gives no row.  Only
    ASCII digits are mined (see the module docstring)."""
    text, pat = pages[text_col], F.lit(COORD_RE)
    pairs = F.zip_with(
        F.regexp_extract_all(text, pat, F.lit(1)),
        F.regexp_extract_all(text, pat, F.lit(2)),
        lambda a, b: F.struct(a.cast("double").alias("lat"),
                              b.cast("double").alias("lon")))
    return _explode_mentions(pages, text_col, pairs)


# DMS mentions: 48°51'24.5"N 2°21'03"E — ASCII d/'/" and the unicode
# °/′/″ marks both accepted, hemisphere letter mandatory (the same
# forms proj_dmstor parses, src/dmstor.cpp:18-84).  ASCII digits and
# `_WS`, as in COORD_RE.
DMS_RE = ("([0-9]{1,2})[°d]([0-9]{1,2})['′]"
          "([0-9]{1,2}(?:\\.[0-9]+)?)[\"″]([NS])"
          "(?:[,;]|" + _WS + ")+"
          "([0-9]{1,3})[°d]([0-9]{1,2})['′]"
          "([0-9]{1,2}(?:\\.[0-9]+)?)[\"″]([EW])")


def _dms_degrees(d: Column, m: Column, s: Column, hemi: Column,
                 neg: str) -> Column:
    """deg + min/60 + sec/3600 in that order, negated for S/W."""
    v = (d.cast("double") + m.cast("double") / 60.0
         + s.cast("double") / 3600.0)
    return F.when(hemi == neg, -v).otherwise(v)


def mine_coords_dms(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """Extract every DMS 'lat lon' mention: (…, mention_idx, lat, lon)
    in signed decimal degrees (deg + min/60 + sec/3600, S/W negative),
    the columns and types of :func:`mine_coords`.

    One Catalyst expression: one `regexp_extract_all` scans the text,
    and each match is split into its 8 groups by `regexp_extract` on
    the match alone.  Out-of-range pairs are dropped; a null or empty
    text gives no row.  Only ASCII digits are mined."""
    def pair(match: Column) -> Column:
        g = [F.regexp_extract(match, DMS_RE, i) for i in range(1, 9)]
        return F.struct(_dms_degrees(*g[:4], "S").alias("lat"),
                        _dms_degrees(*g[4:], "W").alias("lon"))

    matches = F.regexp_extract_all(pages[text_col], F.lit(DMS_RE), F.lit(0))
    return _explode_mentions(pages, text_col, F.transform(matches, pair))
