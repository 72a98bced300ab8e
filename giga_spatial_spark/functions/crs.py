"""Coordinate reference system transforms — vector-side reprojection.

Reference: zonal/base.py:448-461 caches pyproj transformers and reprojects
zone GeoDataFrames between arbitrary CRSs; tif_processor.py:205 reprojects
rasters. pyproj/GDAL are absent here, so the engine supports the CRS set
its own from-scratch projections cover — the ones the reference's flows
actually touch:

  EPSG:4326   geographic lon/lat (the engine's canonical frame)
  EPSG:3857   spherical web mercator (tile pyramids)
  ESRI:54009  Mollweide (GHSL grids) — functions/mollweide.py
  EPSG:3035   LAEA Europe (CORINE / EU grids) — functions/laea.py
  EPSG:5070   Conus Albers (NLCD / LANDFIRE grids) — functions/albers.py
  EPSG:2154   Lambert-93 (French national grids) — functions/lcc.py
  EPSG:3413 / 3031     NSIDC polar stereographic — functions/polar.py
  EPSG:326xx / 327xx   UTM north/south zones — functions/utm.py (Krüger)
  register_crs() names and user-defined GeoKey parameter dicts

`projection(crs)` is the one place a CRS name (or parameter dict) becomes
a projection object with vectorized forward/inverse; the GeoTIFF reader,
the vector transforms and the query layer all resolve through it. All
transforms route through 4326 (exact composition of exact legs).
`transform_points` is the numpy kernel; `reproject_rings` lifts it over a
normalized feature table's `rings` column inside one Arrow pass.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import albers, laea, lcc, mollweide, polar, utm

_R_WEB = 6378137.0

# user-registered projection objects (anything with forward/inverse over
# degree/meter arrays — LambertConformal, AlbersConic, LaeaAzimuthal
# instances): the role of the reference's cached arbitrary-CRS pyproj
# transformers (zonal/base.py:448-461) for parameters no EPSG code names
_CUSTOM: dict[str, object] = {}


def register_crs(name: str, projection) -> None:
    """Register a parameterized projection instance under a name usable
    anywhere a CRS string is accepted (projection(), so transform_points,
    reproject_rings and the GeoTIFF reader).
    ``projection`` needs vectorized forward(lon, lat)->(x, y) and
    inverse(x, y)->(lon, lat) in degrees/meters."""
    key = name.upper().replace(" ", "")
    for attr in ("forward", "inverse"):
        if not callable(getattr(projection, attr, None)):
            raise TypeError(f"projection must define {attr}(…)")
    _CUSTOM[key] = projection


# GeoTIFF ProjCoordTransGeoKey codes → parameterized families
_CT_TM = 1
_CT_LCC_2SP = 8
_CT_LAEA = 10
_CT_ALBERS = 11
_CT_POLAR_STEREO = 15


def projection_from_params(p: dict):
    """Build a projection instance from user-defined GeoTIFF GeoKey
    parameters: {"ct": coord-trans code, "sp1", "sp2", "lat0", "lon0",
    "x0", "y0"[, "k0", "a", "e2" | "inv_f"]}. Supports the families the
    engine implements from scratch: Transverse Mercator (1), LCC 2SP (8),
    LAEA (10), Albers (11) and polar stereographic (15)."""
    ct = int(p["ct"])

    def need(*names):
        missing = [n for n in names if p.get(n) is None]
        if missing:
            raise ValueError(
                f"user-defined projection (ProjCoordTransGeoKey {ct}) is "
                f"missing required GeoKey parameter(s): {missing} — the "
                "GeoDoubleParams tag must carry them"
            )

    kw = {}
    if "a" in p:
        kw["a"] = float(p["a"])
    if "e2" in p:
        kw["e2"] = float(p["e2"])
    elif "inv_f" in p:
        f = 1.0 / float(p["inv_f"])
        kw["e2"] = f * (2.0 - f)
    if ct == _CT_TM:
        need("lat0", "lon0")
        tm_kw = {}
        if "a" in p:
            tm_kw["a"] = float(p["a"])
        if "inv_f" in p:
            tm_kw["inv_f"] = float(p["inv_f"])
        return utm.TransverseMercator(
            p["lat0"], p["lon0"], p.get("k0", 1.0),
            p.get("x0", 0.0), p.get("y0", 0.0), **tm_kw,
        )
    if ct == _CT_LCC_2SP:
        need("sp1", "sp2", "lat0", "lon0")
        return lcc.LambertConformal(
            p["sp1"], p["sp2"], p["lat0"], p["lon0"],
            p.get("x0", 0.0), p.get("y0", 0.0), **kw,
        )
    if ct == _CT_ALBERS:
        need("sp1", "sp2", "lat0", "lon0")
        return albers.AlbersConic(
            p["sp1"], p["sp2"], p["lat0"], p["lon0"],
            p.get("x0", 0.0), p.get("y0", 0.0), **kw,
        )
    if ct == _CT_LAEA:
        need("lat0", "lon0")
        return laea.LaeaAzimuthal(
            p["lat0"], p["lon0"], p.get("x0", 0.0), p.get("y0", 0.0), **kw,
        )
    if ct == _CT_POLAR_STEREO:
        # lat_ts arrives in sp1 (ProjStdParallel1GeoKey) per GeoTIFF
        # convention; fall back to lat0 for writers that use NatOriginLat
        lat_ts = p.get("sp1")
        if lat_ts is None:
            need("lat0")
            lat_ts = p["lat0"]
        return polar.PolarStereographic(
            lat_ts, p["lon0"], p.get("x0", 0.0), p.get("y0", 0.0), **kw,
        )
    raise ValueError(
        f"unsupported ProjCoordTransGeoKey {ct} — user-defined GeoTIFF "
        "projections are supported for TM (1), LCC 2SP (8), LAEA (10), "
        "Albers (11) and polar stereographic (15); named EPSG codes "
        "cover the other families"
    )


class _Geographic:
    """EPSG:4326: lon/lat degrees are already the engine's frame."""

    @staticmethod
    def forward(lon, lat):
        return lon, lat

    inverse = forward


class _WebMercator:
    """EPSG:3857: spherical web mercator (tile pyramids), closed form."""

    @staticmethod
    def forward(lon, lat):
        x = np.radians(lon) * _R_WEB
        lat_c = np.clip(lat, -85.05112878, 85.05112878)
        return x, _R_WEB * np.arcsinh(np.tan(np.radians(lat_c)))

    @staticmethod
    def inverse(x, y):
        return np.degrees(x / _R_WEB), np.degrees(np.arctan(np.sinh(y / _R_WEB)))


class _Utm:
    """EPSG:326zz (north) / 327zz (south): UTM zone zz (functions/utm.py)."""

    def __init__(self, zone: int, south: bool):
        self.zone, self.south = zone, south

    def forward(self, lon, lat):
        e, n = utm.utm_forward(lon, lat, self.zone)
        if not self.south:
            # keep the standard false-northing convention: southern points
            # in a northern-zone frame go negative (consistent planar frame)
            n = np.where(np.asarray(lat) < 0, n - 10_000_000.0, n)
        return e, n

    def inverse(self, x, y):
        return utm.utm_inverse(x, y, self.zone, south=self.south)


# the one name → projection table; bare codes are accepted for the
# named systems, UTM zones resolve by pattern in projection()
_NAMED: dict[str, object] = {
    name: pj
    for names, pj in (
        (("EPSG:4326", "WGS84", "4326"), _Geographic()),
        (("EPSG:3857", "EPSG:900913", "3857"), _WebMercator()),
        (("ESRI:54009", "54009"), mollweide),
        (("EPSG:3035", "3035"), laea),
        (("EPSG:5070", "5070"), albers),
        (("EPSG:2154", "2154"), lcc),
        (("EPSG:3413", "3413"), polar.EPSG_3413),
        (("EPSG:3031", "3031"), polar.EPSG_3031),
    )
    for name in names
}


def projection(crs: str | dict):
    """The projection object a CRS means: a name (register_crs names
    first, then the named EPSG/ESRI codes and UTM zones) or a
    user-defined GeoKey parameter dict (projection_from_params). The
    object has vectorized forward(lon, lat) -> (x, y) and inverse(x, y)
    -> (lon, lat) in degrees/meters."""
    if isinstance(crs, dict):
        return projection_from_params(crs)
    c = crs.upper().replace(" ", "")
    if c in _CUSTOM:
        return _CUSTOM[c]
    if c in _NAMED:
        return _NAMED[c]
    zone = c[8:]
    if c[:8] in ("EPSG:326", "EPSG:327") and len(zone) == 2 and zone.isdigit():
        if 1 <= int(zone) <= 60:
            return _Utm(int(zone), south=c[7] == "7")
    raise ValueError(
        f"unsupported crs {crs!r} — supported: EPSG:4326, EPSG:3857, "
        "ESRI:54009, EPSG:3035 (LAEA Europe), EPSG:5070 (Conus Albers), "
        "EPSG:2154 (Lambert-93), EPSG:3413/3031 (polar stereographic), "
        "EPSG:32601-32660/32701-32760 (UTM), and register_crs() custom "
        "projections"
    )


def transform_points(
    xs, ys, from_crs: str | dict = "EPSG:4326", to_crs: str | dict = "EPSG:4326"
):
    """Vectorized CRS transform; routes through geographic lon/lat. Either
    CRS is anything projection() resolves."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    return projection(to_crs).forward(*projection(from_crs).inverse(xs, ys))


def reproject_rings(
    df, from_crs: str, to_crs: str, rings_col: str = "rings"
):
    """Normalized feature table → same table with `rings` reprojected.
    Mirrors the reference's gdf.to_crs() over zone layers
    (zonal/base.py:448-461). The rings cross into Python as JSON STRINGS
    (native to_json / from_json wrap the scalar Arrow UDF): this Spark
    build's Arrow deserializer SEGFAULTS on nested-array/map UDF inputs
    when a partition is empty or the column is all-null in a batch
    (measured — minimal repro in tests), while primitive string columns
    are safe. Every other column (incl. map-typed properties) stays
    JVM-side untouched."""
    import json

    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    # resolve now, on the driver: custom-registered projections live in
    # the driver's _CUSTOM registry, which does NOT exist on executors —
    # the resolved (picklable) projection objects ship in the closure
    src, dst = projection(from_crs), projection(to_crs)

    @F.pandas_udf(StringType())
    def kernel(col: pd.Series) -> pd.Series:
        def go(doc):
            if doc is None:
                return None
            rings = json.loads(doc)
            nr = []
            for ring in rings:
                arr = np.asarray(ring, dtype=np.float64)
                if len(arr):
                    x, y = dst.forward(*src.inverse(arr[:, 0], arr[:, 1]))
                    nr.append(np.column_stack([x, y]).tolist())
                else:
                    nr.append([])
            return json.dumps(nr)

        return col.map(go)

    rings_t = "array<array<array<double>>>"
    return df.withColumn(
        rings_col,
        F.from_json(kernel(F.to_json(F.col(rings_col))), rings_t),
    )
