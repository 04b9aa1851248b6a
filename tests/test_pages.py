"""Pages table: synthesis, regex mining, text-invariance."""

import numpy as np
from pyspark.sql import functions as F

from proj_4_spark.sources.pages import COORD_RE, mine_coords, synthesize_pages
from proj_4_spark.sources.coords import lonlat_numpy


def test_pages_schema(spark, sf_dir):
    p = synthesize_pages(spark, sf_dir)
    kinds = dict((f.name, f.dataType.simpleString()) for f in p.schema.fields)
    assert kinds["url"] == "string"
    assert kinds["warc_ts"] == "timestamp"
    assert kinds["html"] == "binary"
    assert kinds["text"] == "string"
    assert kinds["lang"] == "string"


def test_mine_coords_recovers_embedded(spark, sf_dir):
    p = synthesize_pages(spark, sf_dir)
    mined = mine_coords(p).select("doc_id", "mention_idx", "lon", "lat")
    rows = mined.collect()
    by_doc = {r["doc_id"]: (r["lon"], r["lat"]) for r in rows}
    # every doc embeds exactly one mention; mined values = embedded
    # (rounded-to-6) coords
    n = p.count()
    assert len(rows) == n
    ids = sorted(by_doc)
    lon, lat = lonlat_numpy(ids)

    got_lon = np.array([by_doc[i][0] for i in ids])
    got_lat = np.array([by_doc[i][1] for i in ids])
    assert np.allclose(got_lon, np.round(lon, 6), atol=1e-9)
    assert np.allclose(got_lat, np.round(lat, 6), atol=1e-9)


def test_text_never_rewritten(spark, sf_dir):
    """The per-row invariant: mining/joins project `text` through
    byte-identical."""
    p = synthesize_pages(spark, sf_dir)
    mined = mine_coords(p)  # text not in output; join back on url
    joined = mined.join(p.select("url", "text"), "url")
    # text survives the round trip byte-identically
    orig = {r["url"]: r["text"] for r in p.select("url", "text").collect()}
    for r in joined.select("url", "text").collect():
        assert r["text"] == orig[r["url"]]


def test_mine_coords_dms_unicode_and_ascii(spark):
    from proj_4_spark.sources.pages import mine_coords_dms

    rows = [
        ("u1", 'Eiffel: 48°51′24.5″N 2°21′03″E fin'),
        ("u2", "Sydney 33d52'04\"S, 151d12'36\"E opera"),
        ("u3", "no coordinates here"),
        ("u4", 'two: 10°30\'00"N 20°00\'00"E and 5°06\'07.2"S 3°02\'01"W'),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    out = {(r["url"], r["mention_idx"]): (r["lat"], r["lon"])
           for r in mine_coords_dms(df).collect()}
    assert abs(out[("u1", 0)][0] - (48 + 51 / 60 + 24.5 / 3600)) < 1e-12
    assert abs(out[("u1", 0)][1] - (2 + 21 / 60 + 3 / 3600)) < 1e-12
    assert abs(out[("u2", 0)][0] + (33 + 52 / 60 + 4 / 3600)) < 1e-12
    assert abs(out[("u2", 0)][1] - (151 + 12 / 60 + 36 / 3600)) < 1e-12
    assert ("u3", 0) not in out
    assert abs(out[("u4", 1)][0] + (5 + 6 / 60 + 7.2 / 3600)) < 1e-12
    assert abs(out[("u4", 1)][1] + (3 + 2 / 60 + 1 / 3600)) < 1e-12
    assert len(out) == 4


def _reference_mine(rows):
    """The pandas `extractall` miner the Catalyst one must equal:
    (url, mention_idx, lat, lon) of every in-range COORD_RE match."""
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["url", "text"])
    ex = pdf["text"].str.extractall(COORD_RE)
    out = []
    for (i, k), (a, b) in ex.iterrows():
        lat, lon = float(a), float(b)
        if abs(lat) <= 90.0 and abs(lon) <= 180.0:
            out.append((pdf["url"][i], int(k), lat, lon))
    return sorted(out)


def _mined(spark, rows):
    df = spark.createDataFrame(rows, "url string, text string")
    return sorted((r["url"], r["mention_idx"], r["lat"], r["lon"])
                  for r in mine_coords(df).collect())


SEPARATORS = [",", ", ", ",\t", ",\n", ",\xa0", ",\u3000", ", \u2009 ",
              ",\x1c", ",\x85", ",\u2028", ",\u205f", ",,", ", -"]


def test_coord_re_whitespace_is_python_whitespace():
    """COORD_RE's explicit whitespace class matches exactly the code
    points Python's Unicode `\\s` matches."""
    import re
    import sys

    from proj_4_spark.sources.pages import _WS

    ws, py = re.compile(_WS), re.compile(r"\s")
    diff = [hex(c) for c in range(sys.maxunicode + 1)
            if bool(ws.fullmatch(chr(c))) != bool(py.fullmatch(chr(c)))]
    assert diff == []


def test_mine_coords_matches_extractall_reference(spark):
    """Seeded texts with several mentions, out-of-range pairs between
    in-range ones, negatives, glued digits, long fractions and every
    kind of separator: same rows as the pandas reference."""
    rng = np.random.default_rng(20261017)

    def num(int_digits, frac_digits):
        s = "".join(rng.choice(list("0123456789"), int_digits))
        f = "".join(rng.choice(list("0123456789"), frac_digits))
        return ("-" if rng.random() < 0.3 else "") + s + "." + f

    rows = []
    for i in range(400):
        parts = []
        for _ in range(rng.integers(0, 6)):
            glue = str(rng.integers(0, 999)) if rng.random() < 0.2 else ""
            sep = SEPARATORS[rng.integers(len(SEPARATORS))]
            parts.append(glue + num(rng.integers(1, 4), rng.integers(0, 12))
                         + sep + num(rng.integers(1, 5), rng.integers(1, 12)))
        rows.append((f"u{i}", " word ".join(parts)))
    fixed = [
        ("multi", "a 1.5, 2.5 b 95.5, 3.5 c 4.5,\t5.5 d -10.25, -170.125"),
        ("lonmax", "edge 90.0, 180.0 and -90.0, -180.0 and 90.0, 180.00001"),
        ("glued", "x123.456, 7.8 y"),
        ("longfrac", "1.123456789012, 2.5 and 3.25, 4.1234567891"),
        ("nbsp", "at 48.858844,\xa02.294351"),
        ("ideo", "at 35.6812,\u300039.7671 and 1.0,\n2.0 and 3.0,4.0"),
        ("none", "no coordinates at all, 1, 2"),
        ("empty", ""),
        ("null", None),
    ]
    rows += fixed
    ref = _reference_mine(rows)
    got = _mined(spark, rows)
    assert got == ref
    # the fixed cases say what they are for
    by_url = {}
    for u, k, lat, lon in got:
        by_url.setdefault(u, []).append((k, lat, lon))
    assert by_url["multi"] == [(0, 1.5, 2.5), (2, 4.5, 5.5),
                               (3, -10.25, -170.125)]
    assert by_url["glued"] == [(0, 23.456, 7.8)]
    assert [k for k, _, _ in by_url["lonmax"]] == [0, 1]
    assert by_url["nbsp"] == [(0, 48.858844, 2.294351)]
    assert [k for k, _, _ in by_url["ideo"]] == [0, 1, 2]
    assert not {"none", "empty", "null"} & set(by_url)
    assert len(got) > 200  # the seeded texts hold many mentions


def test_mine_coords_empty_frame_and_schema(spark):
    p = spark.createDataFrame([], "url string, n int, text string")
    out = mine_coords(p)
    assert out.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("url", "string"), ("n", "int"), ("mention_idx", "int"),
        ("lat", "double"), ("lon", "double")]


def test_mine_coords_ascii_digits_only(spark):
    """Non-ASCII digits are not mined (Java regex classes are ASCII)."""
    rows = [("arabic", "٤٨.٥, ٢.٣"),  # Arabic-Indic digits
            ("fullwidth", "４８.５, ２.３"),
            ("ascii", "48.5, 2.3")]
    assert _mined(spark, rows) == [("ascii", 0, 48.5, 2.3)]


def test_mine_coords_plan_is_catalyst(spark, sf_dir):
    """The job's miner plan has no Python node and prunes `html`;
    neither miner evaluates an interpreted lambda (each makes one
    regex pass over the text and cuts the groups out of the match)."""
    from proj_4_spark.sources.pages import mine_coords_dms

    p = synthesize_pages(spark, sf_dir)
    job = mine_coords(p).select("url", "doc_id", "mention_idx", "lon", "lat")
    plan = job._jdf.queryExecution().optimizedPlan().toString()
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, plan
    assert "html" not in plan, plan
    for miner in (mine_coords, mine_coords_dms):
        plan = miner(p)._jdf.queryExecution().optimizedPlan().toString()
        assert "lambdafunction" not in plan, plan
        assert plan.count("regexp_extract_all") == 1, plan
    assert [f.name for f in mine_coords(p).schema] == [
        "url", "warc_ts", "html", "lang", "doc_id", "mention_idx",
        "lat", "lon"]


def _reference_mine_dms(rows):
    """The pandas `extractall` DMS miner the Catalyst one must equal:
    (url, mention_idx, lat, lon) of every in-range DMS_RE match, in
    decimal degrees (deg + min/60 + sec/3600, negated for S/W)."""
    import pandas as pd

    from proj_4_spark.sources.pages import DMS_RE

    pdf = pd.DataFrame(rows, columns=["url", "text"])
    ex = pdf["text"].str.extractall(DMS_RE)
    out = []
    for (i, k), g in ex.iterrows():
        lat = float(g[0]) + float(g[1]) / 60.0 + float(g[2]) / 3600.0
        lon = float(g[4]) + float(g[5]) / 60.0 + float(g[6]) / 3600.0
        lat = -lat if g[3] == "S" else lat
        lon = -lon if g[7] == "W" else lon
        if abs(lat) <= 90.0 and abs(lon) <= 180.0:
            out.append((pdf["url"][i], int(k), lat, lon))
    return sorted(out)


def _mined_dms(spark, rows):
    from proj_4_spark.sources.pages import mine_coords_dms

    df = spark.createDataFrame(rows, "url string, text string")
    return sorted((r["url"], r["mention_idx"], r["lat"], r["lon"])
                  for r in mine_coords_dms(df).collect())


DMS_SEPARATORS = [" ", ",", ", ", ";", "; ", "\t", "\xa0", "\u3000", ",\n",
                  " ; ", "\x85"]


def test_mine_coords_dms_matches_extractall_reference(spark):
    """Seeded DMS texts (both mark forms, every kind of separator,
    out-of-range degrees and minutes, glued digits, fractional seconds)
    plus fixed cases: exactly the rows of the pandas reference."""
    rng = np.random.default_rng(20261018)

    def digits(n):
        return "".join(rng.choice(list("0123456789"), n))

    def part(deg_digits, hemi):
        marks = ("°", "′", "″") if rng.random() < 0.5 else ("d", "'", '"')
        sec = digits(rng.integers(1, 3))
        if rng.random() < 0.4:
            sec += "." + digits(rng.integers(1, 6))
        return (digits(rng.integers(1, deg_digits + 1)) + marks[0]
                + digits(rng.integers(1, 3)) + marks[1] + sec + marks[2]
                + rng.choice(list(hemi)))

    rows = []
    for i in range(400):
        parts = []
        for _ in range(rng.integers(0, 5)):
            glue = digits(rng.integers(1, 3)) if rng.random() < 0.2 else ""
            sep = DMS_SEPARATORS[rng.integers(len(DMS_SEPARATORS))]
            parts.append(glue + part(2, "NS") + sep + part(3, "EW"))
        rows.append((f"u{i}", " word ".join(parts)))
    fixed = [
        ("marks", "Eiffel 48°51′24.5″N 2°21′03″E and "
                  "48d51'24.5\"N 2d21'03\"E"),
        ("seps", "1°2'3\"N,4°5'6\"E 1°2'3\"N;4°5'6\"E 1°2'3\"N\t4°5'6\"E "
                 "1°2'3\"N\xa04°5'6\"E 1°2'3\"N\u30004°5'6\"E"),
        ("multi", "a 10°30'00\"N 20°00'00\"E b 95°00'00\"N 20°00'00\"E "
                  "c 89°99'00\"N 1°0'0\"E d 12°0'0\"S 181°0'0\"W "
                  "e 5°06'07.2\"S 3°02'01\"W"),
        ("signs", "33d52'04\"S, 151d12'36\"W"),
        ("empty", ""),
        ("null", None),
    ]
    rows += fixed
    ref = _reference_mine_dms(rows)
    got = _mined_dms(spark, rows)
    assert got == ref
    by_url = {}
    for u, k, lat, lon in got:
        by_url.setdefault(u, []).append((k, lat, lon))
    eiffel = (48 + 51 / 60 + 24.5 / 3600, 2 + 21 / 60 + 3 / 3600)
    assert by_url["marks"] == [(0, *eiffel), (1, *eiffel)]
    assert [k for k, _, _ in by_url["seps"]] == [0, 1, 2, 3, 4]
    assert [k for k, _, _ in by_url["multi"]] == [0, 4]
    assert by_url["multi"][1][1:] == (-(5 + 6 / 60 + 7.2 / 3600),
                                      -(3 + 2 / 60 + 1 / 3600))
    assert by_url["signs"] == [(0, -(33 + 52 / 60 + 4 / 3600),
                                -(151 + 12 / 60 + 36 / 3600))]
    assert not {"empty", "null"} & set(by_url)
    assert len(got) > 200  # the seeded texts hold many mentions


def test_mine_coords_dms_ascii_digits_only_and_schema(spark):
    """Non-ASCII digits are not mined; the output has mine_coords'
    columns and types, also for an empty frame."""
    from proj_4_spark.sources.pages import mine_coords_dms

    rows = [("arabic", "٤٨°٥١'٢٤\"N ٢°٢١'٠٣\"E"),  # Arabic-Indic digits
            ("fullwidth", "４８°５１'２４\"N ２°２１'０３\"E"),
            ("ascii", "48°51'24\"N 2°21'03\"E")]
    assert [r[:2] for r in _mined_dms(spark, rows)] == [("ascii", 0)]
    p = spark.createDataFrame([], "url string, n int, text string")
    out = mine_coords_dms(p)
    assert out.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("url", "string"), ("n", "int"), ("mention_idx", "int"),
        ("lat", "double"), ("lon", "double")]
