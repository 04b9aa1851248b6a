r"""Web-page table handling: schema, synthesis, coordinate mining.

The engine's input contract (BASELINE.json input_hint) is an Iceberg
table `(url string, warc_ts timestamp, html binary, text string,
lang string)`.  Two hard rules implemented here:

- **`text` is never rewritten** — every transformation projects it
  through untouched (byte-identical per url); derived columns ride
  alongside.
- **no per-row Python** — both coordinate miners (decimal and DMS)
  are Catalyst expressions with no higher-order function (no
  `lambdafunction` in the plan): one `regexp_extract_all` pass over
  each text, `posexplode` of the whole matches, and each group cut
  out of its short match by `regexp_extract`.  Nothing crosses into
  Python, and columns no output uses (the `html` copy) are pruned.

The miners' regexes run in Java, whose `\d` and `\s` are ASCII only,
so `COORD_RE` and `DMS_RE` spell both out: digits are ASCII `[0-9]`,
and the whitespace class `_WS` lists exactly the characters Python's
`\s` matches (a NBSP or U+3000 separator still matches).  Non-ASCII
digits (e.g. Arabic-Indic "٤٨.٥, ٢.٣") are not mined.

`synthesize_pages` builds a deterministic pages table from the driver
documents table, appending one coordinate mention to each text
(FIXTURES.md §1).  It reads the documents with a declared schema, so
no parquet footer is inferred on the driver, and hash-partitions them
by `doc_id` over every core before synthesis: the input is one file
with one row group, and the synthesis and the miner behind it would
otherwise run as one task.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .coords import lonlat_sql

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")
# the columns of the driver documents table that synthesis reads
DOCUMENTS_SCHEMA = "doc_id long, text string, lang string"

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
    coordinates of its own).

    The documents are hash-partitioned by `doc_id` into
    `defaultParallelism` partitions first, so synthesis and whatever
    reads the pages run in one task per core.  The lon/lat CASE
    ladders are computed once, in an inner projection that `text` and
    `html` both read."""
    lon, lat = lonlat_sql("doc_id")
    # SQL text, one parse per projection: through the Column API each
    # function call is several py4j round trips (~550 more in all).
    # Fixed %.6f formatting: never scientific notation, always >= 1
    # decimal digit, and reproducible in DuckDB via printf('%.6f', x)
    txt = ("concat(text, ' located at ', format_string('%.6f', _lat), "
           "', ', format_string('%.6f', _lon))")
    return (spark.read.schema(DOCUMENTS_SCHEMA)
            .parquet(f"{sf_dir}/documents.parquet")
            .repartition(spark.sparkContext.defaultParallelism, "doc_id")
            .selectExpr("doc_id", "text", "lang", f"{lon} AS _lon",
                        f"{lat} AS _lat")
            .selectExpr(
                "concat('https://host', CAST(doc_id % 10000 AS STRING), "
                "'.example/', md5(CAST(doc_id AS STRING))) AS url",
                "CAST('2024-01-01 00:00:00' AS TIMESTAMP) + make_interval("
                "0, 0, 0, 0, 0, 0, doc_id % 31536000) AS warc_ts",
                f"encode(concat('<html><body>', {txt}, '</body></html>'), "
                "'UTF-8') AS html",
                f"{txt} AS text", "lang", "doc_id"))


def _mine_matches(pages: DataFrame, pattern: str, lat_lon) -> DataFrame:
    """Every input column but `text`, then (mention_idx int, lat
    double, lon double) for each in-range match of `pattern`.

    One `regexp_extract_all` pass over each text; `posexplode` numbers
    the whole matches before the range filter, so `mention_idx` is the
    match position (as pandas `extractall` numbers it).  `lat_lon`
    maps the pattern's groups, each cut out of the short match by
    `regexp_extract`, to the (lat, lon) columns.  lat must lie in
    [-90, 90] and lon in [-180, 180]; a null or empty text gives no
    row."""
    cols = [pages[c] for c in pages.columns if c != "text"]
    matches = F.regexp_extract_all(pages["text"], F.lit(pattern), F.lit(0))
    m = pages.select(*cols, F.posexplode(matches).alias("mention_idx", "_m"))
    match = F.col("_m")
    lat, lon = lat_lon(*[F.regexp_extract(match, pattern, i)
                         for i in range(1, re.compile(pattern).groups + 1)])
    return (m.select(*cols, "mention_idx", lat.alias("lat"), lon.alias("lon"))
             .where((F.abs("lat") <= 90.0) & (F.abs("lon") <= 180.0)))


def mine_coords(pages: DataFrame) -> DataFrame:
    """Extract every 'lat, lon' mention of `COORD_RE`: every input
    column but `text`, then (mention_idx int, lat double,
    lon double).

    Catalyst expressions only, no Python UDF and no higher-order
    function: one regex pass over the text, then groups 1 and 2 of
    each match.  A null or empty text gives no row.  Only ASCII digits
    are mined (see the module docstring)."""
    return _mine_matches(
        pages, COORD_RE,
        lambda lat, lon: (lat.cast("double"), lon.cast("double")))


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


def mine_coords_dms(pages: DataFrame) -> DataFrame:
    """Extract every DMS 'lat lon' mention: (…, mention_idx, lat, lon)
    in signed decimal degrees (deg + min/60 + sec/3600, S/W negative),
    the columns and types of :func:`mine_coords`.

    The shape of :func:`mine_coords`: one regex pass over the text,
    then the 8 groups of each match.  Out-of-range pairs are dropped;
    a null or empty text gives no row.  Only ASCII digits are
    mined."""
    return _mine_matches(
        pages, DMS_RE,
        lambda *g: (_dms_degrees(*g[:4], "S"), _dms_degrees(*g[4:], "W")))
