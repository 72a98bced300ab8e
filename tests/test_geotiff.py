"""From-scratch GeoTIFF codec: writer→reader round-trips, strip-parallel
Spark decode equals the in-memory array, and the decoded pixel table is
bit-identical to the synthetic raster built from the same formula."""

import numpy as np
import pytest

from giga_spatial_spark.operators.raster import RasterMeta, synthetic_raster
from giga_spatial_spark.sources.geotiff import (
    decode_strip,
    read_tiff_meta,
    tiff_pixel_table,
    write_tiff,
)


def _synthetic_array(meta: RasterMeta, band: int = 1, nodata: float = -9999.0):
    """Same formula as operators.raster.synthetic_raster, as a numpy grid
    ordered north→south (TIFF row order)."""
    px = np.arange(meta.width)[None, :]
    py = np.arange(meta.height)[:, None]  # py counted from the south edge
    vals = ((px * 31 + py * 17 + band) % 997) / 10.0
    vals = np.where((px * 7 + py * 13) % 23 == 0, nodata, vals)
    return vals[::-1]  # row 0 = north


@pytest.mark.parametrize("compression", [1, 8])
def test_write_read_roundtrip(tmp_path, compression):
    rng = np.random.RandomState(5)
    arr = rng.uniform(-50, 50, size=(37, 53))  # heights not multiple of rps
    path = str(tmp_path / f"t{compression}.tif")
    write_tiff(path, arr, lon0=-10.0, lat1=20.0, dx=0.25, dy=0.5,
               nodata=None, rows_per_strip=16, compression=compression)
    meta = read_tiff_meta(path)
    assert (meta.width, meta.height) == (53, 37)
    assert meta.dx == 0.25 and meta.dy == 0.5
    assert meta.lon0 == -10.0 and meta.lat1 == 20.0
    got = np.vstack([
        decode_strip(meta, i, open(path, "rb").read()[
            meta.strip_offsets[i]: meta.strip_offsets[i] + meta.strip_byte_counts[i]
        ])
        for i in range(meta.n_strips)
    ])
    assert np.array_equal(got, arr)  # float64 samples round-trip bit-exactly


def test_spark_pixel_table_matches_synthetic(spark, tmp_path):
    """Decoded-from-TIFF pixel table == synthetic_raster: same px/py/lon/
    lat/value on every pixel, NULLs where the nodata sentinel was written."""
    meta = RasterMeta(width=90, height=40)
    arr = _synthetic_array(meta)
    path = str(tmp_path / "synth.tif")
    write_tiff(path, arr, lon0=meta.lon0, lat1=meta.lat1, dx=meta.dx,
               dy=meta.dy, nodata=-9999.0, rows_per_strip=16)

    got = tiff_pixel_table(spark, path).toPandas().sort_values(["py", "px"]).reset_index(drop=True)
    want = synthetic_raster(spark, meta).toPandas().sort_values(["py", "px"]).reset_index(drop=True)
    assert len(got) == len(want) == meta.width * meta.height
    for col in ["band", "px", "py", "lon", "lat"]:
        assert (got[col].to_numpy() == want[col].to_numpy()).all(), col
    gv, wv = got["value"].to_numpy(), want["value"].to_numpy()
    assert np.array_equal(np.isnan(gv.astype(float)), np.isnan(wv.astype(float)))
    m = ~np.isnan(wv.astype(float))
    assert np.array_equal(gv[m].astype(float), wv[m].astype(float))


def test_multiband_chunky_roundtrip(spark, tmp_path):
    """3-band chunky-interleaved GeoTIFF → pixel table with a band column;
    per-band values equal the source planes, nodata masked per sample."""
    rng = np.random.RandomState(11)
    arr = rng.uniform(0, 99, size=(24, 30, 3))
    arr[3, 5, 1] = -1.0  # nodata in band 2 only
    path = str(tmp_path / "mb.tif")
    write_tiff(path, arr, lon0=0.0, lat1=12.0, dx=0.5, dy=0.5,
               nodata=-1.0, rows_per_strip=10)
    meta = read_tiff_meta(path)
    assert meta.samples_per_pixel == 3
    pdf = tiff_pixel_table(spark, path).toPandas()
    assert sorted(pdf["band"].unique()) == [1, 2, 3]
    assert len(pdf) == 24 * 30 * 3
    # spot-check: band b at tiff row r, col c == arr[r, c, b-1]
    for b in (1, 2, 3):
        sub = pdf[pdf["band"] == b].set_index(["py", "px"])["value"]
        for r, c in ((0, 0), (10, 7), (23, 29)):
            want = arr[r, c, b - 1]
            got = sub.loc[(24 - 1 - r, c)]
            if want == -1.0:
                assert np.isnan(got)
            else:
                assert got == want
    # the planted nodata hits exactly one (band, pixel)
    assert int(pdf["value"].isna().sum()) == 1


def test_tiled_layout_roundtrip(spark, tmp_path):
    """COG-style tiled layout: padded edge tiles crop correctly and the
    tile-parallel pixel table equals the strip-layout one."""
    meta = RasterMeta(width=70, height=34)  # not multiples of the tile size
    arr = _synthetic_array(meta)
    p_tiled = str(tmp_path / "tiled.tif")
    p_strip = str(tmp_path / "strip.tif")
    for p, kw in ((p_tiled, {"tile_size": (32, 16)}), (p_strip, {})):
        write_tiff(p, arr, lon0=meta.lon0, lat1=meta.lat1, dx=meta.dx,
                   dy=meta.dy, nodata=-9999.0, **kw)
    m = read_tiff_meta(p_tiled)
    assert m.tile_width == 32 and m.tiles_across == 3 and m.tiles_down == 3
    a = tiff_pixel_table(spark, p_tiled).toPandas().sort_values(["py", "px"]).reset_index(drop=True)
    b = tiff_pixel_table(spark, p_strip).toPandas().sort_values(["py", "px"]).reset_index(drop=True)
    assert len(a) == len(b) == meta.width * meta.height
    assert a.equals(b)


def test_big_endian_rejection_and_errors(tmp_path):
    p = str(tmp_path / "x.bin")
    with open(p, "wb") as f:
        f.write(b"XX\x00\x00garbage")
    with pytest.raises(ValueError, match="not a TIFF"):
        read_tiff_meta(p)


# --------------------------------------------------- projected CRS (r4)
def test_mollweide_forward_inverse_roundtrip():
    import numpy as np

    from giga_spatial_spark.functions import mollweide as M

    rng = np.random.RandomState(4)
    lon = rng.uniform(-179, 179, 500)
    lat = rng.uniform(-89, 89, 500)
    x, y = M.forward(lon, lat)
    lon2, lat2 = M.inverse(x, y)
    assert np.max(np.abs(lon2 - lon)) < 1e-9
    assert np.max(np.abs(lat2 - lat)) < 1e-9
    # fixed points of the projection
    xe, _ = M.forward(np.array([180.0]), np.array([0.0]))
    assert abs(xe[0] - 2 * 2**0.5 * M.R_MOLLWEIDE) < 1e-3
    _, yp = M.forward(np.array([0.0]), np.array([90.0]))
    assert abs(yp[0] - 2**0.5 * M.R_MOLLWEIDE) < 1e-3


def test_geokey_crs_roundtrip_and_mollweide_pixels(spark, tmp_path):
    import numpy as np

    from giga_spatial_spark.functions import mollweide as M
    from giga_spatial_spark.sources.geotiff import (
        read_tiff_meta,
        tiff_pixel_table,
        write_tiff,
    )

    # explicit EPSG:4326 geokeys and no geokeys both read as 4326
    p = str(tmp_path / "geo.tif")
    write_tiff(p, np.ones((2, 3)), lon0=0, lat1=1, dx=1, dy=1, crs="EPSG:4326")
    assert read_tiff_meta(p).crs == "EPSG:4326"
    p2 = str(tmp_path / "bare.tif")
    write_tiff(p2, np.ones((2, 3)), lon0=0, lat1=1, dx=1, dy=1)
    assert read_tiff_meta(p2).crs == "EPSG:4326"
    # mollweide-tagged file: pixel centers inverse-project to lon/lat
    x0, y1 = M.forward(np.array([20.0]), np.array([10.0]))
    pm = str(tmp_path / "moll.tif")
    write_tiff(
        pm, np.arange(12.0).reshape(3, 4),
        lon0=float(x0[0]), lat1=float(y1[0]), dx=1000.0, dy=1000.0,
        crs="ESRI:54009",
    )
    meta = read_tiff_meta(pm)
    assert meta.crs == "ESRI:54009"
    pdf = tiff_pixel_table(spark, pm).toPandas()
    elon, elat = M.inverse(
        float(x0[0]) + 0.5 * 1000.0, float(y1[0]) - 0.5 * 1000.0
    )
    got = pdf[(pdf.px == 0) & (pdf.py == 2)].iloc[0]
    assert abs(got.lon - float(elon)) < 1e-9
    assert abs(got.lat - float(elat)) < 1e-9
    # values decode unchanged under a projected transform
    assert sorted(pdf["value"]) == [float(v) for v in range(12)]


def test_web_mercator_crs_pixels(spark, tmp_path):
    """EPSG:3857 grids: closed-form spherical inverse of pixel centers."""
    import math

    import numpy as np

    from giga_spatial_spark.sources.geotiff import tiff_pixel_table, write_tiff

    R = 6378137.0
    x0 = math.radians(12.0) * R
    y1 = R * math.asinh(math.tan(math.radians(48.0)))
    p = str(tmp_path / "web.tif")
    write_tiff(
        p, np.arange(6.0).reshape(2, 3),
        lon0=x0, lat1=y1, dx=500.0, dy=500.0, crs="EPSG:3857",
    )
    pdf = tiff_pixel_table(spark, p).toPandas()
    got = pdf[(pdf.px == 0) & (pdf.py == 1)].iloc[0]
    elon = math.degrees((x0 + 250.0) / R)
    elat = math.degrees(math.atan(math.sinh((y1 - 250.0) / R)))
    assert abs(got.lon - elon) < 1e-9 and abs(got.lat - elat) < 1e-9
    assert sorted(pdf["value"]) == [float(v) for v in range(6)]


def test_unsupported_crs_raises(spark, tmp_path):
    import numpy as np
    import pytest as _pytest

    from giga_spatial_spark.sources.geotiff import tiff_pixel_table, write_tiff

    # EPSG:2154 gained a real leg in round 5; 27700 (OSGB) has none
    p = str(tmp_path / "osgb.tif")
    write_tiff(p, np.ones((2, 2)), lon0=0, lat1=1, dx=1, dy=1, crs="EPSG:27700")
    with _pytest.raises(ValueError, match="unsupported raster CRS"):
        tiff_pixel_table(spark, p)


def test_corrupt_tiff_raises_clear_valueerror(tmp_path):
    """Random corruption of a valid TIFF must surface as ValueError (clear
    message), never as opaque KeyError/struct.error/TypeError/IndexError
    (fuzz-measured failure modes of the raw tag decoding)."""
    import numpy as np

    from giga_spatial_spark.sources.geotiff import read_tiff_meta, write_tiff

    p = str(tmp_path / "t.tif")
    write_tiff(p, np.ones((4, 5)), lon0=0, lat1=4, dx=1, dy=1)
    base = open(p, "rb").read()
    rng = np.random.RandomState(1)
    p2 = str(tmp_path / "m.tif")
    for _ in range(800):
        b = bytearray(base)
        for _ in range(rng.randint(1, 5)):
            b[rng.randint(len(b))] = rng.randint(256)
        open(p2, "wb").write(bytes(b))
        try:
            read_tiff_meta(p2)
        except ValueError:
            pass


def test_laea_europe_crs_leg():
    """EPSG:3035 (ellipsoidal LAEA Europe, functions/laea): false origin
    exact, forward/inverse round trip < 1e-8 deg across Europe, the
    equal-area property holds to 1e-7, and transform_points routes it."""
    import numpy as np

    from giga_spatial_spark.functions import laea
    from giga_spatial_spark.functions.crs import transform_points

    x, y = laea.forward(np.array([10.0]), np.array([52.0]))
    assert abs(x[0] - 4321000.0) < 1e-6 and abs(y[0] - 3210000.0) < 1e-6
    rng = np.random.RandomState(0)
    lon = rng.uniform(-10, 35, 5000)
    lat = rng.uniform(34, 71, 5000)
    fx, fy = transform_points(lon, lat, "EPSG:4326", "EPSG:3035")
    lo2, la2 = transform_points(fx, fy, "EPSG:3035", "EPSG:4326")
    assert np.abs(lo2 - lon).max() < 1e-8
    assert np.abs(la2 - lat).max() < 1e-8
    # equal-area: jacobian of a tiny cell matches the ellipsoidal patch
    import math

    d = 1e-4
    x0, y0 = laea.forward(np.array([5.0]), np.array([50.0]))
    x1, y1 = laea.forward(np.array([5.0 + d]), np.array([50.0]))
    x2, y2 = laea.forward(np.array([5.0]), np.array([50.0 + d]))
    ja = abs((x1[0] - x0[0]) * (y2[0] - y0[0]) - (x2[0] - x0[0]) * (y1[0] - y0[0]))
    phi = math.radians(50.0)
    a, e2 = laea.A_GRS80, laea.E2
    m = a * (1 - e2) / (1 - e2 * math.sin(phi) ** 2) ** 1.5
    n = a / (1 - e2 * math.sin(phi) ** 2) ** 0.5
    truth = m * math.radians(d) * n * math.cos(phi) * math.radians(d)
    assert abs(ja / truth - 1) < 1e-6


def test_laea_geotiff_round_trip(spark, tmp_path):
    """A GeoTIFF tagged EPSG:3035 decodes with pixel centers
    inverse-projected through the ellipsoidal LAEA."""
    import numpy as np

    from giga_spatial_spark.functions import laea
    from giga_spatial_spark.sources.geotiff import tiff_pixel_table, write_tiff

    vals = (np.arange(12, dtype=np.float64).reshape(3, 4) + 1.0)
    x0, y1 = laea.forward(np.array([10.0]), np.array([52.0]))
    path = str(tmp_path / "laea.tif")
    write_tiff(path, vals, lon0=float(x0[0]), lat1=float(y1[0]),
               dx=10000.0, dy=10000.0, crs="EPSG:3035")
    pdf = tiff_pixel_table(spark, path).toPandas().sort_values(["py", "px"])
    assert len(pdf) == 12
    # pixel (0,0) center = anchor + half pixel, inverse-projected
    want_lon, want_lat = laea.inverse(
        np.array([float(x0[0]) + 5000.0]), np.array([float(y1[0]) - 5000.0])
    )
    top = pdf[(pdf.px == 0) & (pdf.py == 2)].iloc[0]
    assert abs(top.lon - want_lon[0]) < 1e-12
    assert abs(top.lat - want_lat[0]) < 1e-12


def test_albers_conus_crs_leg():
    """EPSG:5070 (ellipsoidal Conus Albers, functions/albers): projection
    origin exact, scale along both standard parallels exactly 1,
    forward/inverse round trip < 1e-7 deg across CONUS, the equal-area
    property holds to 1e-6, and transform_points routes it."""
    import math

    import numpy as np

    from giga_spatial_spark.functions import albers
    from giga_spatial_spark.functions.crs import transform_points

    x, y = albers.forward(np.array([-96.0]), np.array([23.0]))
    assert abs(x[0]) < 1e-6 and abs(y[0]) < 1e-6
    # the defining property of the conic: k = 1 on both standard parallels
    for phi_d in (29.5, 45.5):
        phi = math.radians(phi_d)
        _, fy = albers.forward(np.array([-96.0]), np.array([phi_d]))
        rho = albers._RHO0 - fy[0]
        m = math.cos(phi) / math.sqrt(1 - albers.E2 * math.sin(phi) ** 2)
        assert abs(rho * albers._N / (albers.A_GRS80 * m) - 1) < 1e-12
    rng = np.random.RandomState(0)
    lon = rng.uniform(-125, -66, 5000)
    lat = rng.uniform(24, 50, 5000)
    fx, fy = transform_points(lon, lat, "EPSG:4326", "EPSG:5070")
    lo2, la2 = transform_points(fx, fy, "EPSG:5070", "EPSG:4326")
    assert np.abs(lo2 - lon).max() < 1e-7
    assert np.abs(la2 - lat).max() < 1e-7
    # equal-area: jacobian of a tiny cell matches the ellipsoidal patch
    d = 1e-4
    x0, y0 = albers.forward(np.array([-105.0]), np.array([39.7]))
    x1, y1 = albers.forward(np.array([-105.0 + d]), np.array([39.7]))
    x2, y2 = albers.forward(np.array([-105.0]), np.array([39.7 + d]))
    ja = abs(
        (x1[0] - x0[0]) * (y2[0] - y0[0]) - (x2[0] - x0[0]) * (y1[0] - y0[0])
    )
    phi = math.radians(39.7)
    a, e2 = albers.A_GRS80, albers.E2
    m = a * (1 - e2) / (1 - e2 * math.sin(phi) ** 2) ** 1.5
    n = a / (1 - e2 * math.sin(phi) ** 2) ** 0.5
    truth = m * math.radians(d) * n * math.cos(phi) * math.radians(d)
    assert abs(ja / truth - 1) < 1e-6


def test_albers_geotiff_round_trip(spark, tmp_path):
    """A GeoTIFF tagged EPSG:5070 decodes with pixel centers
    inverse-projected through the ellipsoidal Albers."""
    import numpy as np

    from giga_spatial_spark.functions import albers
    from giga_spatial_spark.sources.geotiff import tiff_pixel_table, write_tiff

    vals = (np.arange(12, dtype=np.float64).reshape(3, 4) + 1.0)
    x0, y1 = albers.forward(np.array([-105.0]), np.array([39.7]))
    path = str(tmp_path / "albers.tif")
    write_tiff(path, vals, lon0=float(x0[0]), lat1=float(y1[0]),
               dx=10000.0, dy=10000.0, crs="EPSG:5070")
    pdf = tiff_pixel_table(spark, path).toPandas().sort_values(["py", "px"])
    assert len(pdf) == 12
    want_lon, want_lat = albers.inverse(
        np.array([float(x0[0]) + 5000.0]), np.array([float(y1[0]) - 5000.0])
    )
    top = pdf[(pdf.px == 0) & (pdf.py == 2)].iloc[0]
    assert abs(top.lon - want_lon[0]) < 1e-12
    assert abs(top.lat - want_lat[0]) < 1e-12


def test_lcc_lambert93_crs_leg():
    """EPSG:2154 (ellipsoidal Lambert conformal conic, functions/lcc):
    false origin exact, forward matches the PUBLISHED Lambert-93
    coordinates of Paris to the centimeter, scale exactly 1 on both
    standard parallels, conformality (isotropic local scale) to 1e-7,
    round trip < 1e-9 deg, and transform_points routes it."""
    import math

    import numpy as np

    from giga_spatial_spark.functions import lcc
    from giga_spatial_spark.functions.crs import transform_points

    x, y = lcc.forward(np.array([3.0]), np.array([46.5]))
    assert abs(x[0] - 700000.0) < 1e-6 and abs(y[0] - 6600000.0) < 1e-6
    # public external anchor: Paris (2.3522 E, 48.8566 N) in Lambert-93
    x, y = lcc.forward(np.array([2.3522]), np.array([48.8566]))
    assert abs(x[0] - 652469.02) < 0.01
    assert abs(y[0] - 6862035.26) < 0.01
    # k = 1 on both standard parallels (defining property of the conic)
    for phi_d in (44.0, 49.0):
        phi = math.radians(phi_d)
        _, fy = lcc.forward(np.array([3.0]), np.array([phi_d]))
        rho = lcc._RHO0 - (fy[0] - lcc.Y_0)
        m = math.cos(phi) / math.sqrt(1 - lcc.E2 * math.sin(phi) ** 2)
        assert abs(rho * lcc._N / (lcc.A_GRS80 * m) - 1) < 1e-12
    rng = np.random.RandomState(0)
    lon = rng.uniform(-5, 10, 5000)
    lat = rng.uniform(41, 52, 5000)
    fx, fy = transform_points(lon, lat, "EPSG:4326", "EPSG:2154")
    lo2, la2 = transform_points(fx, fy, "EPSG:2154", "EPSG:4326")
    assert np.abs(lo2 - lon).max() < 1e-9
    assert np.abs(la2 - lat).max() < 1e-9
    # conformality: meridian scale == parallel scale at a random point
    d = 1e-6
    x0, y0 = lcc.forward(np.array([5.0]), np.array([47.0]))
    x1, y1 = lcc.forward(np.array([5.0 + d]), np.array([47.0]))
    x2, y2 = lcc.forward(np.array([5.0]), np.array([47.0 + d]))
    phi = math.radians(47.0)
    a, e2 = lcc.A_GRS80, lcc.E2
    m = a * (1 - e2) / (1 - e2 * math.sin(phi) ** 2) ** 1.5
    n = a / (1 - e2 * math.sin(phi) ** 2) ** 0.5
    kp = math.hypot(x1[0] - x0[0], y1[0] - y0[0]) / (
        n * math.cos(phi) * math.radians(d)
    )
    km = math.hypot(x2[0] - x0[0], y2[0] - y0[0]) / (m * math.radians(d))
    assert abs(kp / km - 1) < 1e-7


def test_lcc_geotiff_round_trip(spark, tmp_path):
    """A GeoTIFF tagged EPSG:2154 decodes with pixel centers
    inverse-projected through the ellipsoidal Lambert conformal conic."""
    import numpy as np

    from giga_spatial_spark.functions import lcc
    from giga_spatial_spark.sources.geotiff import tiff_pixel_table, write_tiff

    vals = (np.arange(12, dtype=np.float64).reshape(3, 4) + 1.0)
    x0, y1 = lcc.forward(np.array([2.3522]), np.array([48.8566]))
    path = str(tmp_path / "lcc.tif")
    write_tiff(path, vals, lon0=float(x0[0]), lat1=float(y1[0]),
               dx=10000.0, dy=10000.0, crs="EPSG:2154")
    pdf = tiff_pixel_table(spark, path).toPandas().sort_values(["py", "px"])
    assert len(pdf) == 12
    want_lon, want_lat = lcc.inverse(
        np.array([float(x0[0]) + 5000.0]), np.array([float(y1[0]) - 5000.0])
    )
    top = pdf[(pdf.px == 0) & (pdf.py == 2)].iloc[0]
    assert abs(top.lon - want_lon[0]) < 1e-12
    assert abs(top.lat - want_lat[0]) < 1e-12


def test_write_cog_structure_and_overviews(spark, tmp_path):
    """write_cog emits a structurally valid COG: full IFD chain up front
    (header → IFDs → tag values → tile data), overview IFDs flagged
    reduced-resolution with their own scaled geo tags, tile data ordered
    smallest-overview-first / full-res-last, every level's pixels exact
    (level 0 bit-identical to the input; each overview equal to the
    nodata-aware ((a+b)+(c+d))/n block average of the previous level),
    and tiff_pixel_table(level=k) decoding any level tile-parallel."""
    import numpy as np

    from giga_spatial_spark.sources.geotiff import (
        downsample2_mean,
        read_tiff_ifds,
        tiff_pixel_table,
        write_cog,
    )

    rng = np.random.RandomState(7)
    vals = np.round(rng.uniform(0, 99, (300, 420)), 1)
    vals[rng.uniform(size=vals.shape) < 0.15] = -9999.0
    path = str(tmp_path / "cog.tif")
    write_cog(path, vals, lon0=-10.0, lat1=20.0, dx=0.05, dy=0.05,
              nodata=-9999.0, crs="EPSG:4326", min_overview_size=64,
              tile_size=(128, 128))
    ifds = read_tiff_ifds(path)
    # pyramid: 420x300 -> 210x150 -> 105x75 -> 53x38 (<=64 stops)
    assert [(m.width, m.height) for m in ifds] == [
        (420, 300), (210, 150), (105, 75), (53, 38)]
    assert all(m.tile_width == 128 for m in ifds)
    assert all(m.crs == "EPSG:4326" and m.nodata == -9999.0 for m in ifds)
    # overview geo tags: same top-left corner, doubled pixel size
    for k, m in enumerate(ifds):
        assert m.dx == 0.05 * 2 ** k and m.lon0 == -10.0 and m.lat1 == 20.0
    # COG layout: all IFDs + tag blobs before any tile data; smallest
    # overview's tile data first, full-res last
    first_data = min(min(m.strip_offsets) for m in ifds)
    import os
    assert first_data > 8 and min(ifds[-1].strip_offsets) == first_data
    assert max(
        off + cnt
        for off, cnt in zip(ifds[0].strip_offsets, ifds[0].strip_byte_counts)
    ) == os.path.getsize(path)
    # pixel exactness per level via the Spark pixel table
    want = vals.astype(np.float64)
    for k, m in enumerate(ifds):
        pdf = tiff_pixel_table(spark, path, level=k).toPandas()
        assert len(pdf) == m.width * m.height
        got = np.full((m.height, m.width), np.nan)
        rows = (m.height - 1 - pdf.py.values).astype(int)
        got[rows, pdf.px.values.astype(int)] = pdf.value.values
        masked = np.where(want == -9999.0, np.nan, want)
        assert np.array_equal(got, masked, equal_nan=True), k
        if k + 1 <= len(ifds) - 1:
            want = downsample2_mean(want, -9999.0)
    # asking past the chain raises the clear error
    import pytest as _p

    with _p.raises(ValueError, match="overview level"):
        tiff_pixel_table(spark, path, level=len(ifds))


def test_write_cog_fuzz_corruption(tmp_path):
    """Truncations and random single-byte flips of a COG fail only with
    the normalized ValueError (read_tiff_meta fuzz pattern) — the IFD
    chain walk never surfaces opaque struct/Key/Index errors."""
    import numpy as np

    from giga_spatial_spark.sources.geotiff import read_tiff_ifds, write_cog

    vals = np.arange(80 * 60, dtype=np.float64).reshape(60, 80)
    path = str(tmp_path / "cog_fuzz.tif")
    write_cog(path, vals, lon0=0.0, lat1=10.0, dx=0.1, dy=0.1,
              min_overview_size=32, tile_size=(32, 32))
    data = open(path, "rb").read()
    rng = np.random.RandomState(0)
    for cut in [7, 20, 120, len(data) // 2]:
        p2 = str(tmp_path / "cut.tif")
        open(p2, "wb").write(data[:cut])
        try:
            read_tiff_ifds(p2)
        except ValueError:
            pass
    for _ in range(48):
        b = bytearray(data)
        b[rng.randint(min(len(b), 4000))] = rng.randint(256)
        p3 = str(tmp_path / "flip.tif")
        open(p3, "wb").write(bytes(b))
        try:
            read_tiff_ifds(p3)
        except ValueError:
            pass


def test_user_defined_geokey_projection(spark, tmp_path):
    """A GeoTIFF with ProjectedCSTypeGeoKey=32767 and explicit
    GeoDoubleParams (the way rasters with no EPSG code ship) round-trips
    its parameters bit-exactly and decodes with pixel centers
    inverse-projected through the rebuilt parameterized conic — the
    reference's any-rasterio-CRS behavior (tif_processor.py)."""
    import numpy as np

    from giga_spatial_spark.functions.crs import projection_from_params
    from giga_spatial_spark.functions.lcc import LambertConformal
    from giga_spatial_spark.sources.geotiff import (
        read_tiff_meta,
        tiff_pixel_table,
        write_tiff,
    )

    params = {"ct": 8, "sp1": 39.9333333333, "sp2": 40.9666666667,
              "lat0": 39.3333333333, "lon0": -77.75,
              "x0": 600000.0, "y0": 0.0}
    pj = LambertConformal(params["sp1"], params["sp2"], params["lat0"],
                          params["lon0"], params["x0"], params["y0"])
    x0, y1 = pj.forward(np.array([-77.0]), np.array([40.3]))
    vals = np.arange(12, dtype=np.float64).reshape(3, 4) + 1.0
    path = str(tmp_path / "user.tif")
    write_tiff(path, vals, lon0=float(x0[0]), lat1=float(y1[0]),
               dx=500.0, dy=500.0, crs=params)
    m = read_tiff_meta(path)
    assert m.crs == "USER"
    for k, v in params.items():
        assert m.proj[k] == v, k  # GeoDoubleParams round-trip bit-exact
    pdf = tiff_pixel_table(spark, path).toPandas().sort_values(["py", "px"])
    assert len(pdf) == 12
    want_lon, want_lat = pj.inverse(
        np.array([float(x0[0]) + 250.0]), np.array([float(y1[0]) - 250.0])
    )
    top = pdf[(pdf.px == 0) & (pdf.py == 2)].iloc[0]
    assert top.lon == want_lon[0] and top.lat == want_lat[0]
    # rebuilding from the parsed keys gives the identical projection
    pj2 = projection_from_params(m.proj)
    fx, fy = pj2.forward(np.array([-77.3]), np.array([40.1]))
    fx0, fy0 = pj.forward(np.array([-77.3]), np.array([40.1]))
    assert fx[0] == fx0[0] and fy[0] == fy0[0]
    # unsupported transformation code fails loudly at driver time
    import pytest as _p

    bad = dict(params)
    bad["ct"] = 7  # Mercator — not a user-defined family here
    p2 = str(tmp_path / "badct.tif")
    write_tiff(p2, vals, lon0=0.0, lat1=1.0, dx=1.0, dy=1.0, crs=bad)
    with _p.raises(ValueError, match="ProjCoordTransGeoKey"):
        tiff_pixel_table(spark, p2)


def test_parameterized_conics_southern_cones():
    """The parameterized families handle n < 0 (southern cones) and
    arbitrary ellipsoids: round trips, equal-area/conformal invariants,
    and scale exactly 1 on the standard parallels."""
    import math

    import numpy as np

    from giga_spatial_spark.functions.albers import AlbersConic
    from giga_spatial_spark.functions.ellipsoid import E2_WGS84
    from giga_spatial_spark.functions.lcc import LambertConformal

    rng = np.random.RandomState(3)
    lon = rng.uniform(100, 160, 4000)
    lat = rng.uniform(-55, -5, 4000)
    # southern Albers (GDA-style) on WGS84
    alb = AlbersConic(-18.0, -36.0, -25.0, 132.0, 0.0, 0.0, e2=E2_WGS84)
    assert alb.n < 0
    fx, fy = alb.forward(lon, lat)
    lo, la = alb.inverse(fx, fy)
    assert np.abs(lo - lon).max() < 1e-7 and np.abs(la - lat).max() < 1e-7
    for phi_d in (-18.0, -36.0):
        phi = math.radians(phi_d)
        _, fy1 = alb.forward(np.array([132.0]), np.array([phi_d]))
        rho = alb.rho0 - fy1[0]  # signed; k = |rho·n| / (a·m) must be 1
        m = math.cos(phi) / math.sqrt(1 - alb.e2 * math.sin(phi) ** 2)
        assert abs(abs(rho * alb.n) / (alb.a * m) - 1) < 1e-9
    # southern LCC round-trips too
    lcc_s = LambertConformal(-10.0, -40.0, -25.0, 135.0, 1e6, 2e6)
    assert lcc_s.n < 0
    fx, fy = lcc_s.forward(lon, lat)
    lo, la = lcc_s.inverse(fx, fy)
    assert np.abs(lo - lon).max() < 1e-9 and np.abs(la - lat).max() < 1e-9


def test_raster_and_vector_share_one_crs_registry(spark, tmp_path):
    """Every CRS with a raster meaning decodes through the same projection
    object as transform_points: a 3x4 GeoTIFF per registry entry (each
    named code, one UTM zone per hemisphere, one user-defined GeoKey
    parameter dict) yields pixel-center lon/lat bit-identical to
    transform_points(x, y, crs, "EPSG:4326")."""
    from giga_spatial_spark.functions.crs import transform_points

    lcc_params = {"ct": 8, "sp1": 39.9333333333, "sp2": 40.9666666667,
                  "lat0": 39.3333333333, "lon0": -77.75,
                  "x0": 600000.0, "y0": 0.0}
    cases = [  # (crs, anchor lon, lat, pixel size in CRS units)
        ("EPSG:4326", 12.5, 41.75, 0.01),
        ("EPSG:3857", 10.0, 45.0, 1000.0),
        ("ESRI:54009", 20.0, 10.0, 1000.0),
        ("EPSG:3035", 10.0, 52.0, 1000.0),
        ("EPSG:5070", -96.0, 40.0, 1000.0),
        ("EPSG:2154", 3.0, 46.5, 1000.0),
        ("EPSG:3413", -45.0, 75.0, 1000.0),
        ("EPSG:3031", 0.0, -75.0, 1000.0),
        ("EPSG:32632", 9.0, 45.0, 1000.0),
        ("EPSG:32733", 15.0, -20.0, 1000.0),
        (lcc_params, -77.0, 40.3, 500.0),
    ]
    vals = np.arange(12, dtype=np.float64).reshape(3, 4)
    for k, (crs, lon, lat, d) in enumerate(cases):
        x, y = transform_points([lon], [lat], "EPSG:4326", crs)
        x0, y1 = float(x[0]), float(y[0])
        path = str(tmp_path / f"crs{k}.tif")
        write_tiff(path, vals, lon0=x0, lat1=y1, dx=d, dy=d, crs=crs)
        pdf = tiff_pixel_table(spark, path).toPandas()
        assert len(pdf) == 12, crs
        row = 2 - pdf["py"].to_numpy()  # py counts from the south edge
        want_lon, want_lat = transform_points(
            x0 + (pdf["px"].to_numpy() + 0.5) * d, y1 - (row + 0.5) * d,
            crs, "EPSG:4326",
        )
        assert pdf["lon"].to_numpy().tobytes() == want_lon.tobytes(), crs
        assert pdf["lat"].to_numpy().tobytes() == want_lat.tobytes(), crs


def test_register_crs_vector_side(spark):
    """crs.register_crs makes a parameterized projection usable by name
    in transform_points and reproject_rings (the arbitrary-CRS pyproj
    cache role, zonal/base.py:448-461), including on executors."""
    import numpy as np
    from pyspark.sql import functions as F

    from giga_spatial_spark.functions.albers import AlbersConic
    from giga_spatial_spark.functions.crs import (
        register_crs,
        reproject_rings,
        transform_points,
    )

    pj = AlbersConic(-18.0, -36.0, -25.0, 132.0, 0.0, 0.0)
    register_crs("gda_albers_role", pj)
    lon = np.array([140.0, 150.0])
    lat = np.array([-30.0, -20.0])
    x, y = transform_points(lon, lat, "EPSG:4326", "gda_albers_role")
    wx, wy = pj.forward(lon, lat)
    assert np.array_equal(x, wx) and np.array_equal(y, wy)
    lo, la = transform_points(x, y, "gda_albers_role", "EPSG:4326")
    assert np.abs(lo - lon).max() < 1e-7 and np.abs(la - lat).max() < 1e-7
    ring = [[[140.0, -30.0], [150.0, -30.0], [145.0, -20.0], [140.0, -30.0]]]
    df = spark.createDataFrame(
        [(1, ring)], "fid int, rings array<array<array<double>>>"
    )
    out = reproject_rings(df, "EPSG:4326", "gda_albers_role").collect()[0]
    got = np.array(out.rings[0])
    want = np.column_stack(pj.forward(
        np.array(ring[0])[:, 0], np.array(ring[0])[:, 1]))
    assert np.abs(got - want).max() < 1e-6


def test_polar_stereographic_crs_legs(spark, tmp_path):
    """EPSG:3413/3031 (NSIDC polar stereographic, functions/polar):
    pole maps to the origin, scale exactly 1 at the standard parallel
    (1e-7 numeric), conformality, round trips both aspects, and a
    GeoKey-tagged GeoTIFF decodes through the inverse — incl. a pixel
    grid containing the pole (ρ→0 branch)."""
    import math

    import numpy as np

    from giga_spatial_spark.functions.crs import transform_points
    from giga_spatial_spark.functions.polar import EPSG_3031, EPSG_3413
    from giga_spatial_spark.sources.geotiff import tiff_pixel_table, write_tiff

    for pj, pole, lat_ts in ((EPSG_3413, 90.0, 70.0), (EPSG_3031, -90.0, -71.0)):
        x, y = pj.forward(np.array([123.0]), np.array([pole]))
        assert abs(x[0]) < 1e-6 and abs(y[0]) < 1e-6
        d = 1e-6
        x0, y0 = pj.forward(np.array([10.0]), np.array([lat_ts]))
        x1, y1 = pj.forward(np.array([10.0 + d]), np.array([lat_ts]))
        phi = math.radians(lat_ts)
        nn = pj.a / math.sqrt(1 - pj.e2 * math.sin(phi) ** 2)
        kp = math.hypot(x1[0] - x0[0], y1[0] - y0[0]) / (
            nn * math.cos(phi) * math.radians(d)
        )
        assert abs(kp - 1) < 1e-7
    rng = np.random.RandomState(0)
    lon = rng.uniform(-180, 180, 4000)
    lat = rng.uniform(35, 89.5, 4000)
    fx, fy = transform_points(lon, lat, "EPSG:4326", "EPSG:3413")
    lo, la = transform_points(fx, fy, "EPSG:3413", "EPSG:4326")
    assert np.abs((lo - lon + 180) % 360 - 180).max() < 1e-9
    assert np.abs(la - lat).max() < 1e-9
    fx, fy = transform_points(lon, -lat, "EPSG:4326", "EPSG:3031")
    lo, la = transform_points(fx, fy, "EPSG:3031", "EPSG:4326")
    assert np.abs((lo - lon + 180) % 360 - 180).max() < 1e-9
    assert np.abs(la + lat).max() < 1e-9
    # GeoTIFF round trip with the pole inside the grid
    vals = np.arange(16, dtype=np.float64).reshape(4, 4) + 1.0
    path = str(tmp_path / "polar.tif")
    write_tiff(path, vals, lon0=-200000.0, lat1=200000.0,
               dx=100000.0, dy=100000.0, crs="EPSG:3413")
    pdf = tiff_pixel_table(spark, path).toPandas()
    assert len(pdf) == 16
    want_lon, want_lat = EPSG_3413.inverse(
        np.array([-150000.0]), np.array([150000.0])
    )
    top = pdf[(pdf.px == 0) & (pdf.py == 3)].iloc[0]
    assert top.lon == want_lon[0] and top.lat == want_lat[0]
    assert pdf.lat.max() > 89.0  # a pixel center lands near the pole


def test_transverse_mercator_osgb_anchor(spark, tmp_path):
    """Parameterized TransverseMercator reproduces the PUBLISHED OSGB
    worked example (OS 'A guide to coordinate systems in Great Britain':
    52°39'27.2531\"N 1°43'4.5177\"E → E 651409.903 N 313177.270, Airy
    1830) to half a millimeter — an external anchor across ellipsoid,
    lat0 arc offset, scale and false origin — and a user-defined
    GeoKey TM raster (ct=1 + ellipsoid doubles) decodes through it."""
    import numpy as np

    from giga_spatial_spark.functions.crs import projection_from_params
    from giga_spatial_spark.functions.utm import OSGB36
    from giga_spatial_spark.sources.geotiff import (
        read_tiff_meta,
        tiff_pixel_table,
        write_tiff,
    )

    lat = 52 + 39 / 60 + 27.2531 / 3600
    lon = 1 + 43 / 60 + 4.5177 / 3600
    x, y = OSGB36.forward(np.array([lon]), np.array([lat]))
    assert abs(x[0] - 651409.903) < 5e-4
    assert abs(y[0] - 313177.270) < 5e-4
    lo, la = OSGB36.inverse(x, y)
    assert abs(lo[0] - lon) < 1e-11 and abs(la[0] - lat) < 1e-11
    params = {"ct": 1, "lat0": 49.0, "lon0": -2.0, "k0": 0.9996012717,
              "x0": 400000.0, "y0": -100000.0,
              "a": 6377563.396, "inv_f": 299.3249646}
    vals = np.arange(12, dtype=np.float64).reshape(3, 4) + 1.0
    path = str(tmp_path / "osgb_user.tif")
    write_tiff(path, vals, lon0=float(x[0]), lat1=float(y[0]),
               dx=1000.0, dy=1000.0, crs=params)
    m = read_tiff_meta(path)
    assert m.crs == "USER" and m.proj["k0"] == params["k0"]
    assert m.proj["a"] == params["a"] and m.proj["inv_f"] == params["inv_f"]
    pj = projection_from_params(m.proj)
    pdf = tiff_pixel_table(spark, path).toPandas()
    want_lon, want_lat = pj.inverse(
        np.array([float(x[0]) + 500.0]), np.array([float(y[0]) - 500.0])
    )
    top = pdf[(pdf.px == 0) & (pdf.py == 2)].iloc[0]
    assert top.lon == want_lon[0] and top.lat == want_lat[0]
    # the writer emits NatOrigin GeoKeys (3080-3083) for TM — the slots
    # GDAL-family readers consult — not the conic FalseOrigin keys
    import struct

    data = open(path, "rb").read()
    (first_ifd,) = struct.unpack_from("<I", data, 4)
    (n_tags,) = struct.unpack_from("<H", data, first_ifd)
    key_ids: set = set()
    for i in range(n_tags):
        off = first_ifd + 2 + 12 * i
        tag, typ, cnt, val = struct.unpack_from("<HHII", data, off)
        if tag == 34735:
            shorts_off = val if cnt * 2 > 4 else off + 8
            shorts = struct.unpack_from(f"<{cnt}H", data, shorts_off)
            key_ids = {
                shorts[4 + 4 * k] for k in range((len(shorts) - 4) // 4)
            }
    assert {3080, 3081, 3082, 3083} <= key_ids
    assert not ({3084, 3085, 3086, 3087} & key_ids)


def test_pixel_table_to_cog_round_trip(spark, tmp_path):
    """DataFrame pixel table → COG → pixel table is the identity (nodata
    and missing pixels both become NULL), and the canvas guard raises
    with the multi-tile guidance before any collect."""
    import numpy as np
    import pytest as _p

    from giga_spatial_spark.operators.raster import RasterMeta, synthetic_raster
    from giga_spatial_spark.sources.geotiff import (
        pixel_table_to_cog,
        read_tiff_ifds,
        tiff_pixel_table,
    )

    meta = RasterMeta(width=90, height=40)
    pixels = synthetic_raster(spark, meta)
    path = str(tmp_path / "from_df.tif")
    pixel_table_to_cog(
        pixels, path, width=meta.width, height=meta.height,
        lon0=meta.lon0, lat1=meta.lat1, dx=meta.dx, dy=meta.dy,
        nodata=-9999.0, crs="EPSG:4326", min_overview_size=32,
    )
    assert len(read_tiff_ifds(path)) >= 2  # pyramid built
    back = tiff_pixel_table(spark, path).toPandas().sort_values(["py", "px"])
    want = synthetic_raster(spark, meta).toPandas().sort_values(["py", "px"])
    gv = back["value"].to_numpy(dtype=float)
    wv = want["value"].to_numpy(dtype=float)
    assert np.array_equal(np.isnan(gv), np.isnan(wv))
    assert np.array_equal(gv[~np.isnan(gv)], wv[~np.isnan(wv)])
    with _p.raises(ValueError, match="multiple COG tiles"):
        pixel_table_to_cog(
            pixels, path, width=100_000, height=100_000,
            lon0=0, lat1=0, dx=1, dy=1,
        )
    # out-of-canvas pixels fail loudly instead of wrapping: py == height
    # would silently write the south-edge row via negative indexing
    bad = spark.createDataFrame(
        [(0, meta.height, 1.0), (-1, 0, 2.0)], "px int, py int, value double"
    )
    with _p.raises(ValueError, match="outside the"):
        pixel_table_to_cog(
            bad, str(tmp_path / "oob.tif"), width=meta.width,
            height=meta.height, lon0=meta.lon0, lat1=meta.lat1,
            dx=meta.dx, dy=meta.dy,
        )


def test_writer_dtypes(tmp_path):
    """write_tiff emits float32 and uint8/16/32 samples (the reader's
    full dtype family); write_cog emits float32 pyramids, and integer
    pyramids under the documented round-half-up integer average."""
    import numpy as np
    import pytest as _p

    from giga_spatial_spark.sources.geotiff import (
        decode_strip,
        read_tiff_ifds,
        read_tiff_meta,
        write_cog,
        write_tiff,
    )

    def full_read(p):
        m = read_tiff_meta(p)
        data = open(p, "rb").read()
        rows = [
            decode_strip(
                m, i,
                data[m.strip_offsets[i]:m.strip_offsets[i] + m.strip_byte_counts[i]],
            )
            for i in range(m.n_strips)
        ]
        return m, np.vstack(rows)

    for dtype, bits, sfmt, vals in [
        ("float32", 32, 3, np.arange(120, dtype=np.float64).reshape(10, 12) * 0.5),
        ("uint8", 8, 1, (np.arange(120).reshape(10, 12) % 250).astype(np.float64)),
        ("uint16", 16, 1, (np.arange(120).reshape(10, 12) * 7 % 60000).astype(np.float64)),
        ("uint32", 32, 1, (np.arange(120).reshape(10, 12) * 1000).astype(np.float64)),
    ]:
        p = str(tmp_path / f"t_{dtype}.tif")
        write_tiff(p, vals, lon0=0, lat1=10, dx=1, dy=1, dtype=dtype)
        m, got = full_read(p)
        assert (m.bits, m.sample_format) == (bits, sfmt), dtype
        assert np.array_equal(got, vals), dtype
    p = str(tmp_path / "cog_f4.tif")
    vals = np.round(np.random.RandomState(0).uniform(0, 99, (130, 150)), 1)
    write_cog(p, vals, lon0=0, lat1=10, dx=0.1, dy=0.1, nodata=-9999.0,
              min_overview_size=64, dtype="float32")
    ifds = read_tiff_ifds(p)
    assert [m.bits for m in ifds] == [32, 32, 32]
    with _p.raises(ValueError, match="integral nodata"):
        write_cog(p, vals, lon0=0, lat1=10, dx=1, dy=1, dtype="uint16",
                  nodata=-9999.5)
    with _p.raises(ValueError, match="unsupported write dtype"):
        write_tiff(p, vals, lon0=0, lat1=10, dx=1, dy=1, dtype="int64")


def test_write_cog_integer_pyramid(tmp_path):
    """uint8 COG pyramid round-trip: level 0 is the identity; every
    overview pixel equals the documented round-half-up integer average
    (2*sum + n) // (2*n) over its 2x2 block's valid pixels — replayed
    here by an independent pure-python loop, nodata holes included."""
    import numpy as np

    from giga_spatial_spark.sources.geotiff import (
        downsample2_mean_int,
        read_tiff_ifds,
        write_cog,
    )
    from giga_spatial_spark.sources import geotiff as G

    rs = np.random.RandomState(7)
    vals = rs.randint(0, 250, size=(130, 150)).astype(np.uint8)
    vals[(np.add.outer(np.arange(130) * 5, np.arange(150) * 7) % 23) == 0] = 255
    p = str(tmp_path / "cog_u1.tif")
    write_cog(p, vals, lon0=0, lat1=13, dx=0.1, dy=0.1, nodata=255,
              min_overview_size=64, dtype="uint8")
    ifds = read_tiff_ifds(p)
    assert [m.bits for m in ifds] == [8, 8, 8] and [
        m.sample_format for m in ifds
    ] == [1, 1, 1]

    def full_read(m):
        data = open(p, "rb").read()
        h, w = m.height, m.width
        tw, tl = m.tile_width, m.tile_length
        out = np.zeros((((h + tl - 1) // tl) * tl, ((w + tw - 1) // tw) * tw))
        i = 0
        for r0 in range(0, h, tl):
            for c0 in range(0, w, tw):
                raw = data[
                    m.strip_offsets[i]: m.strip_offsets[i] + m.strip_byte_counts[i]
                ]
                out[r0:r0 + tl, c0:c0 + tw] = G.decode_strip(m, i, raw)
                i += 1
        return out[:h, :w]

    assert np.array_equal(full_read(ifds[0]), vals)
    got1 = full_read(ifds[1])
    # independent replay of the policy (scalar loop, no shared code path)
    h1, w1 = got1.shape
    for r in range(0, h1, 17):  # sampled rows — full row set via vectorized twin below
        for c in range(0, w1, 13):
            block = [
                int(vals[rr, cc])
                for rr in (2 * r, 2 * r + 1)
                for cc in (2 * c, 2 * c + 1)
                if rr < 130 and cc < 150 and vals[rr, cc] != 255
            ]
            want = (
                (2 * sum(block) + len(block)) // (2 * len(block))
                if block
                else 255
            )
            assert got1[r, c] == want, (r, c)
    # and the vectorized twin agrees everywhere
    assert np.array_equal(got1, downsample2_mean_int(vals, 255))


def test_downsample2_mean_int_no_nodata_odd_edges():
    """nodata=None with odd dimensions: edge blocks must average only the
    in-bounds pixels — zero padding previously leaked into the mean
    (round-6 advisory: a 3x3 all-10 raster yielded 5 and 3 at the edges)."""
    import numpy as np

    from giga_spatial_spark.sources.geotiff import (
        downsample2_mean,
        downsample2_mean_int,
    )

    arr = np.full((3, 3), 10, dtype=np.int64)
    got = downsample2_mean_int(arr, None)
    assert np.array_equal(got, np.full((2, 2), 10)), got
    # parity with the float twin on an asymmetric odd-edge case
    rs = np.random.RandomState(3)
    a2 = rs.randint(0, 200, size=(7, 9)).astype(np.int64)
    gi = downsample2_mean_int(a2, None)
    gf = downsample2_mean(a2.astype(np.float64), None)
    # same valid-pixel sets: integer result == round-half-up of float mean
    assert np.array_equal(gi, np.floor(gf + 0.5).astype(np.int64))
    # scalar replay over every block
    for r in range(4):
        for c in range(5):
            blk = [
                int(a2[rr, cc])
                for rr in (2 * r, 2 * r + 1)
                for cc in (2 * c, 2 * c + 1)
                if rr < 7 and cc < 9
            ]
            assert gi[r, c] == (2 * sum(blk) + len(blk)) // (2 * len(blk))


_FIXTURE_CHUNKS = 40


def _fixture_chunk(i: int) -> bytes:
    return bytes([i % 251]) * 4096


def _slow_fixture_build(stage: str) -> None:
    """Writes a known payload slowly, in chunks, so concurrent builds of one
    fixture overlap in time."""
    import time

    with open(stage, "wb") as f:
        for i in range(_FIXTURE_CHUNKS):
            f.write(_fixture_chunk(i))
            f.flush()
            time.sleep(0.005)


def _cached_fixture_worker(params: str, barrier, out) -> None:
    import __spark_entry__ as E

    barrier.wait(timeout=120)
    path = E._cached_fixture(params, _slow_fixture_build, ".bin")
    with open(path, "rb") as f:
        out.put((path, f.read()))  # what this caller sees on return


def test_cached_fixture_concurrent_builders_agree():
    """More spawn-context processes than cores build ONE fixture key at the
    same moment: every caller gets the same path, the file equals one clean
    build (no torn or interleaved writes) and no staging file is left."""
    import multiprocessing as mp
    import os
    import queue
    import time
    import uuid

    ctx = mp.get_context("spawn")
    n = len(os.sched_getaffinity(0)) + 2
    params = f"test-concurrent-build|{uuid.uuid4().hex}"
    barrier = ctx.Barrier(n)
    out = ctx.Queue()
    procs = [
        ctx.Process(target=_cached_fixture_worker, args=(params, barrier, out))
        for _ in range(n)
    ]
    for p in procs:
        p.start()
    results = []
    deadline = time.monotonic() + 180
    try:
        while len(results) < n and time.monotonic() < deadline:
            try:
                results.append(out.get(timeout=1))
            except queue.Empty:
                if not any(p.is_alive() for p in procs):
                    break
    finally:
        for p in procs:
            p.join(timeout=60)
        for p in procs:
            if p.is_alive():
                p.kill()
    paths = {path for path, _ in results}
    try:
        assert not any(p.is_alive() for p in procs)
        assert [p.exitcode for p in procs] == [0] * n
        assert len(results) == n and len(paths) == 1, paths
        clean = b"".join(_fixture_chunk(i) for i in range(_FIXTURE_CHUNKS))
        assert all(seen == clean for _, seen in results)
        with open(results[0][0], "rb") as f:
            assert f.read() == clean
        d, name = os.path.split(results[0][0])
        key = os.path.splitext(name)[0]
        leftovers = [e for e in os.listdir(d) if key in e and e != name]
        assert leftovers == [], leftovers
    finally:
        for path in paths:
            os.remove(path)
