"""gie-derived golden-fixture tests for the projection kernels.

Fixture values are transcribed verbatim from the reference's gie corpus
(/root/reference/test/gie/builtins.gie — cited per block below); this is
the pytest port of the reference's primary test strategy (gie runner,
/root/reference/src/apps/gie.cpp).

Conventions: fwd fixtures are (lon_deg, lat_deg) -> (x_m, y_m) with a
metric tolerance; inv fixtures are (x_m, y_m) -> (lon_deg, lat_deg) with
a degree tolerance (1e-9 rad ~ 5.7e-8 deg is the north-star parity bar).
"""

import numpy as np
import pytest

from proj_4_spark.proj import compile_projstring

RAD = np.pi / 180.0

# (proj_string, direction, in, expected, tol)  — tol in output units
FIXTURES = [
    # builtins.gie:1783-1808 — etmerc GRS80, tolerance 50 nm
    ("+proj=etmerc +ellps=GRS80", "fwd", (2, 1), (222650.796797586, 110642.229411933), 5e-8),
    ("+proj=etmerc +ellps=GRS80", "fwd", (2, -1), (222650.796797586, -110642.229411933), 5e-8),
    ("+proj=etmerc +ellps=GRS80", "fwd", (-2, 1), (-222650.796797586, 110642.229411933), 5e-8),
    ("+proj=etmerc +ellps=GRS80", "fwd", (30, 89.9999), (5.584698978, 10001956.056248082), 5e-8),
    ("+proj=etmerc +ellps=GRS80", "fwd", (44.69, 35.37), (4168136.489446198, 4985511.302287407), 5e-8),
    ("+proj=etmerc +ellps=GRS80", "inv", (200, 100), (0.00179663056816, 0.00090436947663), 1e-10),
    ("+proj=etmerc +ellps=GRS80", "inv", (200, -100), (0.00179663056816, -0.00090436947663), 1e-10),
    # builtins.gie:6942-6975 — tmerc GRS80 (default algo = poder_engsager)
    ("+proj=tmerc +ellps=GRS80", "fwd", (2, 1), (222650.796797586, 110642.229411933), 5e-8),
    ("+proj=tmerc +ellps=GRS80", "inv", (6, 1.0001e7), (0.35596960759234, 89.99135362646302), 1e-9),
    ("+proj=tmerc +ellps=GRS80", "inv", (4168136.489446198, 4985511.302287407), (44.69, 35.37), 1e-9),
    # builtins.gie:6977-6990 — tmerc sphere
    ("+proj=tmerc +R=6400000", "fwd", (2, 1), (223413.466406322, 111769.145040597), 1e-4),
    ("+proj=tmerc +R=6400000", "fwd", (-2, -1), (-223413.466406322, -111769.145040597), 1e-4),
    # builtins.gie:7204-7232 — tmerc algo=auto
    ("+proj=tmerc +ellps=GRS80 +algo=auto", "fwd", (2.9, 0), (322965.3802, 0.0), 1e-4),
    ("+proj=tmerc +ellps=GRS80 +algo=auto", "fwd", (2.9, 40), (247660.7575, 4433559.6623), 1e-4),
    ("+proj=tmerc +ellps=GRS80 +algo=auto", "fwd", (2.9, 85), (28218.2464, 9444221.7042), 1e-4),
    ("+proj=tmerc +ellps=GRS80 +algo=auto", "fwd", (6, 0), (669149.3483, 0.0), 1e-4),
    ("+proj=tmerc +ellps=GRS80 +algo=auto", "fwd", (6, 40), (512526.6344, 4446813.3655), 1e-4),
    ("+proj=tmerc +ellps=GRS80 +algo=auto", "fwd", (6, 85), (58302.0560, 9446554.0371), 1e-4),
    # builtins.gie:7264-7297 — tmerc algo=evenden_snyder
    ("+proj=tmerc +ellps=GRS80 +algo=evenden_snyder", "fwd", (2.9, 0), (322965.3802, 0.0), 1e-4),
    ("+proj=tmerc +ellps=GRS80 +algo=evenden_snyder", "fwd", (6, 0), (669149.3474, 0.0), 1e-4),
    ("+proj=tmerc +ellps=GRS80 +algo=evenden_snyder", "fwd", (6, 40), (512526.6346, 4446813.3655), 1e-4),
    ("+proj=tmerc +ellps=GRS80 +algo=evenden_snyder", "fwd", (6, 85), (58302.0560, 9446554.0371), 1e-4),
    # builtins.gie:7567-7588 — utm zone 30, tolerance 0.1 mm
    ("+proj=utm +ellps=GRS80 +zone=30", "fwd", (2, 1), (1057002.405491298, 110955.141175949), 1e-4),
    ("+proj=utm +ellps=GRS80 +zone=30", "fwd", (-2, 1), (611263.812278905, 110547.105696804), 1e-4),
    ("+proj=utm +ellps=GRS80 +zone=30", "inv", (200, 100), (-7.486952083, 0.000901940), 1e-8),
    ("+proj=utm +ellps=GRS80 +zone=30", "inv", (-200, -100), (-7.490535682, -0.000901935), 1e-8),
    # builtins.gie:4109-4140 — merc GRS80, tolerance 50 nm
    ("+proj=merc +ellps=GRS80", "fwd", (0, 0), (0.0, 0.0), 0.0),
    ("+proj=merc +ellps=GRS80", "fwd", (2, 1), (222638.981586547, 110579.965218249), 5e-8),
    ("+proj=merc +ellps=GRS80", "fwd", (-2, -1), (-222638.981586547, -110579.965218249), 5e-8),
    ("+proj=merc +ellps=GRS80", "fwd", (0, 89.99999999999999), (0, 235805185.015130176), 3e8),
    ("+proj=merc +ellps=GRS80", "inv", (200, 100), (0.00179663056824, 0.00090436947704), 1e-10),
    ("+proj=merc +ellps=GRS80", "inv", (0, 235805185.015130176), (0, 89.99999999999999), 1e-9),
    # builtins.gie:3597-3620 — lcc 2SP, tolerance 0.1 mm
    ("+proj=lcc +ellps=GRS80 +lat_1=0.5 +lat_2=2", "fwd", (2, 1), (222588.439735968, 110660.533870800), 1e-4),
    ("+proj=lcc +ellps=GRS80 +lat_1=0.5 +lat_2=2", "fwd", (2, -1), (222756.879700279, -110532.797660827), 1e-4),
    ("+proj=lcc +ellps=GRS80 +lat_1=0.5 +lat_2=2", "inv", (200, 100), (0.001796359, 0.000904232), 1e-8),
    ("+proj=lcc +ellps=GRS80 +lat_1=0.5 +lat_2=2", "inv", (-200, -100), (-0.001796358, -0.000904233), 1e-8),
]


@pytest.mark.parametrize("projstr,direction,pin,pexp,tol", FIXTURES)
def test_gie_fixture(projstr, direction, pin, pexp, tol):
    tr = compile_projstring(projstr)
    x, y, _, _ = tr.transform_deg(
        np.array([pin[0]], dtype=np.float64),
        np.array([pin[1]], dtype=np.float64),
        direction=direction,
    )
    tol = max(tol, 1e-12)
    assert abs(x[0] - pexp[0]) <= tol, f"{projstr} {direction} x: {x[0]} != {pexp[0]}"
    assert abs(y[0] - pexp[1]) <= tol, f"{projstr} {direction} y: {y[0]} != {pexp[1]}"


def test_utm32_4d():
    # builtins.gie:7590-7600 — tolerance 0.001 mm, both algos
    for extra in ("", " +approx"):
        tr = compile_projstring("+proj=utm +zone=32" + extra)
        x, y, z, t = tr.transform_deg(
            np.array([12.0]), np.array([56.0]), np.array([0.0]), np.array([2000.0])
        )
        assert abs(x[0] - 687071.43910944) <= 1e-6
        assert abs(y[0] - 6210141.32674801) <= 1e-6
        assert z[0] == 0.0 and t[0] == 2000.0


def test_cart_to_meter_roundtrip():
    # 4D-API_cs2cs-style.gie:485-497 — cart honors to_meter
    for proj in ("cart", "geocent"):
        tr = compile_projstring(f"+proj={proj} +a=1000 +b=1000 +to_meter=1000")
        x, y, z, _ = tr.transform_deg(np.array([90.0]), np.array([0.0]), np.array([0.0]))
        assert abs(x[0] - 0.0) <= 1e-9
        assert abs(y[0] - 1.0) <= 1e-9
        lon, lat, h, _ = tr.transform(np.array([0.0]), np.array([1.0]), np.array([0.0]), direction="inv")
        assert abs(lon[0] / RAD - 90.0) <= 1e-9
        assert abs(lat[0] / RAD - 0.0) <= 1e-9


def test_pipeline_push_pop_affine():
    # builtins.gie (pipeline section): datum shift in cartesian space
    # keeping the height via push/pop v_3; note duplicate +xoff -> first wins
    tr = compile_projstring(
        "+proj=pipeline +ellps=GRS80 "
        "+step +proj=push +v_3 "
        "+step +proj=cart "
        "+step +proj=affine +xoff=1000 +yoff=2000 +xoff=3000 "
        "+step +proj=cart +inv "
        "+step +proj=pop +v_3"
    )
    lon, lat, z, _ = tr.transform_deg(np.array([12.0]), np.array([56.0]), np.array([0.0]))
    assert abs(lon[0] - 12.0280112877) < 0.5 / 111320.0
    assert abs(lat[0] - 55.9896187413) < 0.5 / 111320.0
    assert abs(z[0]) < 1e-9  # height restored by pop


def test_pipeline_cart_helmert_roundtrip():
    # cs2cs-style cart|helmert|inv-cart pipeline roundtrips to 1e-9 rad
    tr = compile_projstring(
        "+proj=pipeline "
        "+step +proj=cart +ellps=WGS84 "
        "+step +proj=helmert +x=674.374 +y=15.056 +z=405.346 +inv "
        "+step +proj=cart +ellps=bessel +inv"
    )
    lon0 = np.array([7.438632495])
    lat0 = np.array([46.951082877])
    lon, lat, _, _ = tr.transform_deg(lon0, lat0, np.array([0.0]))
    back_lon, back_lat, _, _ = tr.transform_deg(lon, lat, np.array([0.0]), direction="inv")
    assert abs(back_lon[0] - lon0[0]) * RAD < 1e-9
    assert abs(back_lat[0] - lat0[0]) * RAD < 1e-9


@pytest.mark.parametrize(
    "projstr,lat_cap",
    [
        ("+proj=merc +ellps=GRS80", 85),
        ("+proj=webmerc", 85),
        ("+proj=tmerc +ellps=GRS80", 85),
        ("+proj=tmerc +ellps=GRS80 +algo=auto", 85),
        ("+proj=etmerc +ellps=GRS80", 85),
        ("+proj=utm +zone=32", 84),
        ("+proj=lcc +ellps=GRS80 +lat_1=33 +lat_2=45", 85),
    ],
)
def test_roundtrip_lattice(projstr, lat_cap):
    """gie 'roundtrip' verb analogue: |inv(fwd(p)) - p| < 1e-9 rad on a
    5-degree lattice clipped to the projection domain."""
    tr = compile_projstring(projstr)
    lons = np.arange(-30.0, 31.0, 5.0)
    lats = np.arange(-float(lat_cap), float(lat_cap) + 1, 5.0)
    LO, LA = np.meshgrid(lons, lats)
    lo = LO.ravel()
    la = LA.ravel()
    x, y, _, _ = tr.transform_deg(lo, la)
    blo, bla, _, _ = tr.transform_deg(x, y, direction="inv")
    assert np.isfinite(x).all()
    np.testing.assert_allclose(blo * RAD, lo * RAD, atol=2e-9, rtol=0)
    np.testing.assert_allclose(bla * RAD, la * RAD, atol=2e-9, rtol=0)


def test_unitconvert_linear():
    tr = compile_projstring("+proj=unitconvert +xy_in=m +xy_out=us-ft")
    x, y, _, _ = tr.transform(np.array([1200.0 / 3937.0]), np.array([0.0]))
    assert abs(x[0] - 1.0) < 1e-15


def test_compile_projstring_returns_transform_unchanged():
    tr = compile_projstring("+proj=merc +ellps=GRS80")
    assert compile_projstring(tr) is tr


def test_axisswap():
    tr = compile_projstring("+proj=axisswap +order=2,1")
    x, y, _, _ = tr.transform(np.array([1.0]), np.array([2.0]))
    assert (x[0], y[0]) == (2.0, 1.0)
    x, y, _, _ = tr.transform(np.array([2.0]), np.array([1.0]), direction="inv")
    assert (x[0], y[0]) == (1.0, 2.0)
    tr = compile_projstring("+proj=axisswap +order=2,-1")
    x, y, _, _ = tr.transform(np.array([1.0]), np.array([2.0]))
    assert (x[0], y[0]) == (2.0, -1.0)
    xb, yb, _, _ = tr.transform(np.array([x[0]]), np.array([y[0]]), direction="inv")
    assert (xb[0], yb[0]) == (1.0, 2.0)


def test_error_inband_nan():
    """PROJ signals per-point failure in-band (HUGE_VAL,
    src/trans.cpp:377-415); we use NaN. Other points are unaffected."""
    tr = compile_projstring("+proj=merc +ellps=GRS80")
    x, y, _, _ = tr.transform(
        np.array([0.1, np.nan, 0.2]), np.array([0.1, 0.1, np.nan])
    )
    assert np.isfinite(x[0]) and np.isfinite(y[0])
    assert np.isnan(x[1]) and np.isnan(y[1])
    assert np.isnan(x[2]) and np.isnan(y[2])


def test_pipeline_rewrites():
    """Pipeline compiler applies PROJ's formatter simplifications
    (/root/reference/src/iso19111/io.cpp:8654+): noop/identity-unitconvert/
    zero-helmert dropped, adjacent fwd+inv pairs cancelled."""
    tr = compile_projstring(
        "+proj=pipeline "
        "+step +proj=noop "
        "+step +proj=unitconvert +xy_in=m +xy_out=m "
        "+step +proj=helmert +x=0 +y=0 +z=0 "
        "+step +proj=axisswap +order=1,2 "
        "+step +proj=cart +ellps=GRS80 "
        "+step +proj=cart +ellps=GRS80 +inv "
        "+step +proj=merc +ellps=GRS80"
    )
    assert [op.proj_id for op in tr.ops] == ["merc"]


class TestAxisParam:
    """+axis= classic orientation — goldens from
    test/gie/axisswap.gie:55-72 and the implicit per-CRS axisswap
    (create.cpp:76-86, fwd.cpp:172-173)."""

    def test_axisswap_axis_goldens(self):
        import numpy as np

        from proj_4_spark.proj import compile_projstring

        cases = [("neu", (1.0, 2.0, 3.0), (2.0, 1.0, 3.0)),
                 ("nue", (1.0, 2.0, 3.0), (2.0, 3.0, 1.0)),
                 ("swd", (1.0, 2.0, 3.0), (-2.0, -1.0, -3.0))]
        for spec, inp, exp in cases:
            tr = compile_projstring(f"+proj=axisswap +axis={spec}")
            x, y, z, _ = tr.transform(np.array([inp[0]]),
                                      np.array([inp[1]]),
                                      np.array([inp[2]]))
            assert (x[0], y[0], z[0]) == exp, spec
            xi, yi, zi, _ = tr.transform(x, y, z, direction="inv")
            assert (xi[0], yi[0], zi[0]) == inp, spec

    def test_axis_and_order_mutually_exclusive(self):
        import pytest as _pytest

        from proj_4_spark.proj import compile_projstring

        with _pytest.raises(ValueError, match="mutually exclusive"):
            compile_projstring("+proj=axisswap +order=1,2 +axis=enu")
        with _pytest.raises(ValueError, match="invalid|repeats"):
            compile_projstring("+proj=axisswap +axis=een")

    def test_crs_level_axis_wsu(self):
        import numpy as np

        from proj_4_spark.proj import compile_projstring

        base = ("+proj=tmerc +lat_0=0 +lon_0=29 +k=1 "
                "+x_0=0 +y_0=0 +ellps=WGS84")
        plain = compile_projstring(base)
        wsu = compile_projstring(base + " +axis=wsu")
        lon, lat = np.array([28.28]), np.array([-25.73])
        xp, yp = plain.transform_deg(lon.copy(), lat.copy())[:2]
        xw, yw = wsu.transform_deg(lon.copy(), lat.copy())[:2]
        assert abs(xw[0] + xp[0]) < 1e-9
        assert abs(yw[0] + yp[0]) < 1e-9
        # inverse restores the geographic input
        li, pi = wsu.transform_deg(xw.copy(), yw.copy(),
                                   direction="inv")[:2]
        assert abs(li[0] - lon[0]) < 1e-9
        assert abs(pi[0] - lat[0]) < 1e-9

    def test_crs_level_axis_neu_latlong(self):
        import numpy as np

        from proj_4_spark.proj import compile_projstring

        tr = compile_projstring("+proj=latlong +ellps=WGS84 +axis=neu")
        x, y = tr.transform_deg(np.array([12.0]), np.array([55.0]))[:2]
        assert (x[0], y[0]) == (55.0, 12.0)

    def test_axis_enu_is_identity(self):
        from proj_4_spark.proj import compile_projstring

        tr = compile_projstring("+proj=utm +zone=32 +axis=enu")
        assert len(tr.ops) == 1
