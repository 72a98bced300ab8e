"""Geo-format IO: Shapefile (.shp/.shx/.dbf/.prj), GeoPackage, KML/KMZ
readers and GeoJSON/GeoJSONL/GPKG/GeoParquet writers — reference
core/io/readers.py:122-175 (GEO_READERS) and writers.py:31-133
(GEO_WRITERS), reimplemented from the public format specs (no GDAL)."""

import json
import os
import struct
import zipfile

import numpy as np
import pytest

from giga_spatial_spark import synth
from giga_spatial_spark.sources.gpkg import (
    gpkg_blob,
    list_feature_tables,
    parse_gpkg_blob,
    read_gpkg,
    write_gpkg,
)
from giga_spatial_spark.sources.kml import parse_kml_features, read_kml, read_kmz
from giga_spatial_spark.sources.readers import read_dataset, write_dataset
from giga_spatial_spark.sources.shapefile import (
    decode_record,
    read_shapefile,
    read_shp_meta,
    write_shapefile,
)

POLYS = synth.make_admin_polygons()
WGS84 = 'GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563]]]'


def canon_ring(a):
    """Cycle+direction-invariant canonical form of a ring."""
    a = np.asarray(a, dtype=np.float64)
    best = None
    for cand in (a, a[::-1]):
        i = np.lexsort((cand[:, 1], cand[:, 0]))[0]
        rolled = np.roll(cand, -i, axis=0).tobytes()
        best = rolled if best is None or rolled < best else best
    return best


@pytest.fixture(scope="module")
def admin_shp(tmp_path_factory):
    d = tmp_path_factory.mktemp("shp")
    path = str(d / "admin.shp")
    feats = [
        ("Polygon", p, {"zone_id": zid, "name": f"zone {zid}"})
        for zid, p in sorted(POLYS.items())
    ]
    write_shapefile(feats, path, crs_wkt=WGS84)
    return path


def test_shp_meta_and_sidecars(admin_shp):
    m = read_shp_meta(admin_shp)
    assert m.n_records == len(POLYS) and m.shape_type == 5
    assert [f[0] for f in m.dbf_fields] == ["zone_id", "name"]
    assert m.crs_wkt.startswith("GEOGCS")
    assert len(m.offsets) == m.n_records


def test_shp_roundtrip_rings_and_dbf(spark, admin_shp):
    rows = {int(r["properties"]["zone_id"]): r
            for r in read_shapefile(spark, admin_shp).collect()}
    assert len(rows) == len(POLYS)
    for zid, poly in POLYS.items():
        r = rows[zid]
        assert r["geom_type"] == "Polygon"
        assert canon_ring(r["rings"][0]) == canon_ring(poly)
        assert r["properties"]["name"] == f"zone {zid}"


def test_shp_without_shx_falls_back_to_scan(spark, admin_shp, tmp_path):
    import shutil

    dst = str(tmp_path / "noidx.shp")
    shutil.copy(admin_shp, dst)
    shutil.copy(admin_shp[:-4] + ".dbf", dst[:-4] + ".dbf")
    assert read_shapefile(spark, dst).count() == len(POLYS)


def test_shp_polygon_with_hole_and_multipolygon(spark, tmp_path):
    outer = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 8.0], [0.0, 8.0]])
    hole = np.array([[2.0, 2.0], [4.0, 2.0], [4.0, 4.0], [2.0, 4.0]])
    island = np.array([[20.0, 20.0], [24.0, 20.0], [22.0, 23.0]])
    path = str(tmp_path / "multi.shp")
    write_shapefile(
        [
            ("Polygon", [outer, hole], {"id": 1}),
            ("MultiPolygon", [[outer], [island]], {"id": 2}),
        ],
        path,
    )
    rows = {int(r["properties"]["id"]): r for r in read_shapefile(spark, path).collect()}
    assert rows[1]["geom_type"] == "Polygon" and len(rows[1]["rings"]) == 2
    assert canon_ring(rows[1]["rings"][1]) == canon_ring(hole)
    assert rows[2]["geom_type"] == "MultiPolygon" and len(rows[2]["rings"]) == 2


def test_shp_handpacked_z_and_null_records():
    # PointZ (type 11) — x,y then z(+m): decode must take only x,y
    content = struct.pack("<iddd", 11, 3.5, -1.25, 99.0)
    gt, rings = decode_record(content)
    assert gt == "Point" and rings == [[[3.5, -1.25]]]
    # Null shape
    assert decode_record(struct.pack("<i", 0)) == (None, None)
    # MultiPoint
    mp = struct.pack("<i4di", 8, 0, 0, 2, 2, 2) + struct.pack("<4d", 0, 0, 2, 2)
    gt, rings = decode_record(mp)
    assert gt == "MultiPoint" and rings == [[[0.0, 0.0], [2.0, 2.0]]]
    # PolyLine with two parts → MultiLineString
    pts = np.array([[0, 0], [1, 1], [5, 5], [6, 5]], dtype="<f8")
    pl = (
        struct.pack("<i4d2i", 3, 0, 0, 6, 5, 2, 4)
        + np.array([0, 2], dtype="<i4").tobytes()
        + pts.tobytes()
    )
    gt, rings = decode_record(pl)
    assert gt == "MultiLineString" and len(rings) == 2 and rings[1][0] == [5.0, 5.0]


def _fuzz_shapefile(src_shp: str, workdir: str, seed: int, rounds: int) -> None:
    """Corrupt 1-4 random bytes of the .shp (and, on odd rounds, of the
    .shx) past the file header, then parse the index and decode every
    record the way the executors do. Only ValueError may escape. Even
    rounds drop the .shx, so the reader scans the record headers."""
    import shutil

    rng = np.random.RandomState(seed)
    base = {ext: open(src_shp[:-4] + ext, "rb").read() for ext in (".shp", ".shx")}
    dst = os.path.join(workdir, "fuzz.shp")
    for k in range(rounds):
        shutil.rmtree(workdir)
        os.makedirs(workdir)
        exts = (".shp", ".shx") if k % 2 else (".shp",)
        for ext in exts:
            b = bytearray(base[ext])
            if ext == ".shp" or rng.randint(2):
                for _ in range(rng.randint(1, 5)):
                    b[rng.randint(100, len(b))] = rng.randint(256)
            open(dst[:-4] + ext, "wb").write(bytes(b))
        try:
            m = read_shp_meta(dst)
            data = open(dst, "rb").read()
            for off, n in zip(m.offsets.tolist(), m.lengths.tolist()):
                decode_record(data[off + 8: off + 8 + n])
        except ValueError:
            pass


def _run_child(code: str, timeout: float = 30.0):
    """Run ``code`` in a fresh interpreter on this tree; a hang fails the
    test at the timeout instead of blocking the suite."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return subprocess.run(
        [sys.executable, "-c", code], cwd=repo, capture_output=True,
        text=True, timeout=timeout,
    )


def test_shp_corrupt_sizes_raise_valueerror(admin_shp, tmp_path):
    """Sizes read from .shp record headers and the .shx index are checked
    against the real file and record lengths: corruption ends in a clear
    ValueError, never a hang, struct.error or a short executor read."""
    import shutil

    # no .shx and a record content length of -4: the header scan must
    # stop with ValueError (a scan that never advances would hang)
    noidx = str(tmp_path / "neg.shp")
    b = bytearray(open(admin_shp, "rb").read())
    b[104:108] = struct.pack(">i", -4)
    open(noidx, "wb").write(bytes(b))
    out = _run_child(
        "from giga_spatial_spark.sources.shapefile import read_shp_meta\n"
        "try:\n"
        f"    read_shp_meta({noidx!r})\n"
        "except ValueError as e:\n"
        "    print('ValueError:', e)\n"
    )
    assert out.returncode == 0 and "ValueError: corrupt .shp" in out.stdout, out

    # a .shx entry pointing past the end of the .shp
    far = str(tmp_path / "far.shp")
    shutil.copy(admin_shp, far)
    shx = bytearray(open(admin_shp[:-4] + ".shx", "rb").read())
    shx[104:108] = struct.pack(">i", 10**6)
    open(far[:-4] + ".shx", "wb").write(bytes(shx))
    with pytest.raises(ValueError, match="outside"):
        read_shp_meta(far)

    # truncated record content (polygon header, point, part/point arrays)
    poly = struct.pack("<i4d2i", 5, 0, 0, 1, 1, 1, 3) + struct.pack("<i", 0)
    for cut in (2, 20, len(poly), len(poly) + 40):
        content = (poly + np.zeros(6, "<f8").tobytes())[:cut]
        with pytest.raises(ValueError, match="truncated"):
            decode_record(content)
    with pytest.raises(ValueError, match="truncated"):
        decode_record(struct.pack("<id", 1, 0.5))

    # seeded byte corruption, with and without .shx, in a child process
    work = str(tmp_path / "fuzz")
    os.makedirs(work)
    out = _run_child(
        "from tests.test_geo_formats import _fuzz_shapefile\n"
        f"_fuzz_shapefile({admin_shp!r}, {work!r}, seed=7, rounds=400)\n"
        "print('done')\n",
        timeout=60.0,
    )
    assert out.returncode == 0 and "done" in out.stdout, out.stderr[-2000:]


def test_gpkg_roundtrip(spark, admin_shp, tmp_path):
    base = read_shapefile(spark, admin_shp)
    path = str(tmp_path / "admin.gpkg")
    write_gpkg(base, path, table="admin")
    assert list_feature_tables(path) == ["admin"]
    back = {int(r["properties"]["zone_id"]): r
            for r in read_gpkg(spark, path).collect()}
    for zid, poly in POLYS.items():
        assert canon_ring(back[zid]["rings"][0]) == canon_ring(poly)
        assert back[zid]["geom_type"] == "Polygon"
        assert back[zid]["properties"]["name"] == f"zone {zid}"


def test_gpkg_blob_parse_edges():
    from giga_spatial_spark.functions import wkb

    blob = gpkg_blob(wkb.dump_point(1.5, 2.5))
    assert parse_gpkg_blob(blob)[0] == "Point"
    # envelope-carrying blob (indicator 1 → 4 doubles)
    env = b"GP" + bytes([0, 0x03]) + struct.pack("<i", 4326)
    env += struct.pack("<4d", 0, 0, 1, 1) + wkb.dump_point(0.5, 0.5)
    t, c = parse_gpkg_blob(env)
    assert t == "Point" and c[0] == 0.5
    # empty-flag blob and garbage → None
    assert parse_gpkg_blob(b"GP" + bytes([0, 0x11]) + struct.pack("<i", 0)) is None
    assert parse_gpkg_blob(b"NOPE") is None and parse_gpkg_blob(None) is None


def test_kml_and_kmz(spark, tmp_path):
    kml = """<?xml version="1.0" encoding="UTF-8"?>
<kml xmlns="http://www.opengis.net/kml/2.2"><Document>
<Placemark><name>pt</name><ExtendedData><Data name="kind"><value>school</value></Data></ExtendedData>
<Point><coordinates>10.5,-3.25,0</coordinates></Point></Placemark>
<Placemark><name>zone</name><Polygon><outerBoundaryIs><LinearRing>
<coordinates>0,0 4,0 4,3 0,3 0,0</coordinates></LinearRing></outerBoundaryIs>
<innerBoundaryIs><LinearRing><coordinates>1,1 2,1 2,2 1,2 1,1</coordinates></LinearRing></innerBoundaryIs>
</Polygon></Placemark>
<Placemark><name>multi</name><MultiGeometry>
<Polygon><outerBoundaryIs><LinearRing><coordinates>0,0 1,0 1,1 0,1 0,0</coordinates></LinearRing></outerBoundaryIs></Polygon>
<Polygon><outerBoundaryIs><LinearRing><coordinates>5,5 6,5 6,6 5,6 5,5</coordinates></LinearRing></outerBoundaryIs></Polygon>
</MultiGeometry></Placemark>
<Placemark><name>attrs</name><ExtendedData><SchemaData>
<SimpleData name="pop">1234</SimpleData></SchemaData></ExtendedData>
<LineString><coordinates>0,0 1,1 2,0.5</coordinates></LineString></Placemark>
</Document></kml>"""
    feats = parse_kml_features(kml)
    assert [f["geom_type"] for f in feats] == [
        "Point", "Polygon", "MultiPolygon", "LineString",
    ]
    assert feats[0]["properties"] == {"name": "pt", "kind": "school"}
    # rings are winding-normalized at parse (outer CW, hole CCW)
    from giga_spatial_spark.winding import ring_cw

    assert canon_ring(feats[1]["rings"][0]) == canon_ring(
        [[0.0, 0.0], [4.0, 0.0], [4.0, 3.0], [0.0, 3.0]]
    )
    assert canon_ring(feats[1]["rings"][1]) == canon_ring(
        [[1.0, 1.0], [2.0, 1.0], [2.0, 2.0], [1.0, 2.0]]
    )
    assert ring_cw(feats[1]["rings"][0]) and not ring_cw(feats[1]["rings"][1])
    assert feats[3]["properties"]["pop"] == "1234"

    kml_path = str(tmp_path / "t.kml")
    with open(kml_path, "w") as f:
        f.write(kml)
    assert read_kml(spark, kml_path).count() == 4
    kmz_path = str(tmp_path / "t.kmz")
    with zipfile.ZipFile(kmz_path, "w") as z:
        z.writestr("styles/ignored.txt", "x")
        z.writestr("doc.kml", kml)
    assert read_kmz(spark, kmz_path).count() == 4


def test_geojson_write_read_roundtrip(spark, admin_shp, tmp_path):
    base = read_shapefile(spark, admin_shp)
    path = str(tmp_path / "admin.geojson")
    write_dataset(base, path)
    doc = json.load(open(path))
    assert doc["type"] == "FeatureCollection" and len(doc["features"]) == len(POLYS)
    # polygon rings are closed in the document
    ring0 = doc["features"][0]["geometry"]["coordinates"][0]
    assert ring0[0] == ring0[-1]
    back = {int(r["properties"]["zone_id"]): r
            for r in read_dataset(spark, path).collect()}
    for zid, poly in POLYS.items():
        assert canon_ring(back[zid]["rings"][0]) == canon_ring(poly)


def test_geojsonl_distributed_roundtrip(spark, admin_shp, tmp_path):
    base = read_shapefile(spark, admin_shp)
    path = str(tmp_path / "admin.geojsonl")
    write_dataset(base, path, fmt="geojsonl")
    assert os.path.isdir(path)  # distributed text write, no driver collect
    back = read_dataset(spark, path)
    got = {int(r["properties"]["zone_id"]): r for r in back.collect()}
    assert len(got) == len(POLYS)
    assert canon_ring(got[5]["rings"][0]) == canon_ring(POLYS[5])


def test_geoparquet_write_read_roundtrip(spark, admin_shp, tmp_path):
    base = read_shapefile(spark, admin_shp)
    path = str(tmp_path / "admin.geoparquet")
    write_dataset(base, path)
    back = read_dataset(spark, path)
    assert "rings" in back.columns and "geometry" in back.columns
    got = {int(r["properties"]["zone_id"]): r for r in back.collect()}
    for zid, poly in POLYS.items():
        assert canon_ring(np.asarray(got[zid]["rings"][0])) == canon_ring(poly)


def test_geojson_multipolygon_regrouping_by_winding(spark, tmp_path):
    """MultiPolygon members regroup from the flattened rings by winding:
    write → read must preserve member count and holes."""
    from giga_spatial_spark.sources.geo_writers import (
        group_rings,
        rings_to_geojson_geometry,
    )

    outer1 = [[0.0, 0.0], [10.0, 0.0], [10.0, 8.0], [0.0, 8.0]]  # CCW
    hole1 = [[2.0, 2.0], [2.0, 4.0], [4.0, 4.0], [4.0, 2.0]]  # CW
    outer2 = [[20.0, 20.0], [24.0, 20.0], [22.0, 23.0]]  # CCW
    members = group_rings([outer1, hole1, outer2])
    assert [len(m) for m in members] == [2, 1]
    geom = rings_to_geojson_geometry("MultiPolygon", [outer1, hole1, outer2])
    assert len(geom["coordinates"]) == 2 and len(geom["coordinates"][0]) == 2


def test_fgb_roundtrip_no_index(spark, tmp_path):
    """FlatGeobuf (from-scratch flatbuffer codec, sources/fgb.py; reference
    GEO_READERS['.fgb']): mixed geometries, holes, string properties."""
    from giga_spatial_spark.sources.fgb import read_fgb_meta, write_fgb

    outer = [[0.0, 0.0], [10.0, 0.0], [10.0, 8.0], [0.0, 8.0]]
    hole = [[2.0, 2.0], [2.0, 4.0], [4.0, 4.0], [4.0, 2.0]]
    island = [[20.0, 20.0], [24.0, 20.0], [22.0, 23.0]]
    feats = [
        ("Polygon", [p.tolist()], {"zone_id": str(z)})
        for z, p in sorted(POLYS.items())
    ] + [
        ("Polygon", [outer, hole], {"zone_id": "77"}),
        ("MultiPolygon", [outer, hole, island], {"zone_id": "78"}),
        ("Point", [[[1.5, -2.5]]], {"zone_id": "79"}),
        ("LineString", [[[0.0, 0.0], [1.0, 1.0], [2.0, 0.5]]], {"zone_id": "80"}),
    ]
    path = str(tmp_path / "t.fgb")
    write_fgb(feats, path)
    m = read_fgb_meta(path)
    assert m.features_count == len(feats) and m.index_node_size == 0
    assert m.columns == [("zone_id", 11)]
    rows = {int(r["properties"]["zone_id"]): r
            for r in read_dataset(spark, path).collect()}
    for zid, poly in POLYS.items():
        assert rows[zid]["geom_type"] == "Polygon"
        assert canon_ring(rows[zid]["rings"][0]) == canon_ring(poly)
    assert rows[77]["geom_type"] == "Polygon" and len(rows[77]["rings"]) == 2
    assert canon_ring(rows[77]["rings"][1]) == canon_ring(hole)
    assert rows[78]["geom_type"] == "MultiPolygon" and len(rows[78]["rings"]) == 3
    assert list(rows[79]["rings"][0][0]) == [1.5, -2.5]
    assert rows[80]["geom_type"] == "LineString"


def test_fgb_indexed_reader_uses_leaf_offsets(spark, tmp_path):
    """With a packed-R-tree index present, the reader must derive feature
    offsets from the index LEAF nodes (skipping the index bytes)."""
    from giga_spatial_spark.sources.fgb import read_fgb_meta, write_fgb

    feats = [
        ("Polygon", [p.tolist()], {"zone_id": str(z)})
        for z, p in sorted(POLYS.items())
    ]
    plain = str(tmp_path / "plain.fgb")
    indexed = str(tmp_path / "indexed.fgb")
    write_fgb(feats, plain)
    write_fgb(feats, indexed, index_node_size=4)
    m = read_fgb_meta(indexed)
    assert m.index_node_size == 4 and len(m.feature_offsets) == len(POLYS)
    a = sorted(
        (r["geom_type"], r["properties"]["zone_id"])
        for r in read_dataset(spark, plain).collect()
    )
    b = sorted(
        (r["geom_type"], r["properties"]["zone_id"])
        for r in read_dataset(spark, indexed).collect()
    )
    assert a == b
    ra = {r["properties"]["zone_id"]: r["rings"]
          for r in read_dataset(spark, indexed).collect()}
    assert canon_ring(ra["3"][0]) == canon_ring(POLYS[3])


def test_fgb_randomized_roundtrip_stress(spark, tmp_path):
    """Seeded randomized feature sets through the flatbuffer builder/parser:
    vertex doubles, property strings (incl. unicode + empty), ring counts
    and geometry mix must survive exactly, with and without the index."""
    rng = np.random.RandomState(99)
    feats = []
    for i in range(120):
        kind = i % 4
        props = {
            "id": str(i),
            "name": ["", "héllo wörld", "a" * (i % 37), "x,y\tz"][i % 4],
        }
        if kind == 0:
            feats.append(
                ("Point", [[[float(rng.uniform(-180, 180)),
                             float(rng.uniform(-85, 85))]]], props)
            )
        elif kind == 1:
            n = rng.randint(2, 12)
            feats.append(
                ("LineString",
                 [rng.uniform(-100, 100, (n, 2)).tolist()], props)
            )
        else:
            n = rng.randint(3, 9)
            ang = np.sort(rng.uniform(0, 2 * np.pi, n))
            cx, cy = rng.uniform(-90, 90, 2)
            ring = np.column_stack(
                [cx + np.cos(ang) * rng.uniform(0.5, 3),
                 cy + np.sin(ang) * rng.uniform(0.5, 3)]
            ).tolist()
            feats.append(("Polygon", [ring], props))
    for node_size in (0, 7):
        path = str(tmp_path / f"stress_{node_size}.fgb")
        from giga_spatial_spark.sources.fgb import write_fgb

        write_fgb(feats, path, index_node_size=node_size)
        back = {int(r["properties"]["id"]): r
                for r in read_dataset(spark, path).collect()}
        assert len(back) == len(feats)
        for i, (gt, rings, props) in enumerate(feats):
            r = back[i]
            assert r["geom_type"] == gt
            assert r["properties"]["name"] == props["name"]
            got = np.asarray([[list(v) for v in ring] for ring in r["rings"]][0])
            want = np.asarray(rings[0])
            assert got.shape == want.shape, i
            # polygons are winding-normalized at read; doubles still exact
            assert np.array_equal(got, want) or np.array_equal(got, want[::-1]), i


def test_write_dataset_shp_raises(spark):
    df = spark.range(1)
    with pytest.raises(ValueError, match="write_shapefile"):
        write_dataset(df, "/tmp/x.shp")


def test_zipped_shapefile(spark, admin_shp, tmp_path):
    """GEO_READERS['.zip'] parity: a zip archive holding .shp + sidecars
    reads like the bare shapefile."""
    zpath = str(tmp_path / "admin.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for ext in (".shp", ".shx", ".dbf", ".prj"):
            z.write(admin_shp[:-4] + ext, "layers/admin" + ext)
        z.writestr("readme.txt", "not a sidecar")
    back = {int(r["properties"]["zone_id"]): r
            for r in read_dataset(spark, zpath).collect()}
    assert len(back) == len(POLYS)
    assert canon_ring(back[7]["rings"][0]) == canon_ring(POLYS[7])
    with pytest.raises(ValueError, match="no .shp member"):
        bad = str(tmp_path / "noshp.zip")
        with zipfile.ZipFile(bad, "w") as z:
            z.writestr("a.txt", "x")
        read_dataset(spark, bad)


def test_gpkg_duplicate_feature_ids_fall_back_to_rownum(spark, tmp_path):
    """feature_id is only carried into the fid PRIMARY KEY when unique —
    multi-file reads restart ids at 0 per file."""
    rows = [
        (0, "Point", [[[1.0, 2.0]]], {"tag": "a"}),
        (0, "Point", [[[3.0, 4.0]]], {"tag": "b"}),
    ]
    df = spark.createDataFrame(
        rows,
        "feature_id long, geom_type string, "
        "rings array<array<array<double>>>, properties map<string,string>",
    )
    path = str(tmp_path / "dup.gpkg")
    write_gpkg(df, path)
    back = read_gpkg(spark, path).collect()
    assert sorted(r["properties"]["tag"] for r in back) == ["a", "b"]
    assert sorted(r["feature_id"] for r in back) == [1, 2]  # row numbers


def test_shapefile_mixed_types_rejected(tmp_path):
    with pytest.raises(ValueError, match="ONE shape type"):
        write_shapefile(
            [
                ("Point", (0.0, 0.0), {"id": 1}),
                ("Polygon", np.array([[0.0, 0.0], [1.0, 0.0], [0.5, 1.0]]), {"id": 2}),
            ],
            str(tmp_path / "mixed.shp"),
        )


def test_poi_view_geo_export(spark, tmp_path):
    """save_view persists a geometry-bearing point view in every geo format
    (VERDICT r2 item #2)."""
    from giga_spatial_spark.views import PoiViewGenerator

    pts = spark.createDataFrame(
        [(1, 10.5, -3.25, "a"), (2, -20.0, 40.0, "b")],
        "poi_id long, lon double, lat double, tag string",
    )
    gen = PoiViewGenerator(pts)
    for fmt in ("geojson", "geojsonl", "gpkg", "geoparquet"):
        path = str(tmp_path / f"poi.{fmt}")
        gen.save_view(path, fmt=fmt)
        back = read_dataset(spark, path).collect()
        assert len(back) == 2
        by_tag = {r["properties"]["tag"]: r for r in back}
        assert by_tag["a"]["geom_type"] == "Point"
        assert list(by_tag["a"]["rings"][0][0]) == [10.5, -3.25]
        assert by_tag["b"]["properties"]["poi_id"] == "2"


def test_zonal_and_hex_view_geo_export(spark, tmp_path):
    from giga_spatial_spark.views import HexViewGenerator, ZonalViewGenerator

    zones_dim = spark.createDataFrame([(z,) for z in sorted(POLYS)], "zone_id int")
    zpath = str(tmp_path / "zones.geojson")
    ZonalViewGenerator(zones_dim, POLYS).save_view(zpath, fmt="geojson")
    zback = {int(r["properties"]["zone_id"]): r
             for r in read_dataset(spark, zpath).collect()}
    assert len(zback) == len(POLYS)
    assert zback[3]["geom_type"] == "Polygon"
    assert canon_ring(zback[3]["rings"][0]) == canon_ring(POLYS[3])

    boundary = np.array([[0.0, 0.0], [8.0, 0.0], [8.0, 6.0], [0.0, 6.0]])
    hgen = HexViewGenerator(spark, boundary, resolution=3)
    hpath = str(tmp_path / "hex.gpkg")
    hgen.save_view(hpath, fmt="gpkg")
    hback = read_dataset(spark, hpath).collect()
    assert len(hback) == len(hgen.cells) > 0
    # true-H3 boundaries: >= 6 vertices (cross-face cells gain distortion
    # vertices; pentagons would have 5, none polyfill this box)
    assert all(r["geom_type"] == "Polygon" and len(r["rings"][0]) >= 5 for r in hback)


def test_mixed_winding_geojson_normalized_and_exports_correctly(spark, tmp_path):
    """Advisor r3 (medium): real-world GeoJSON violating RFC 7946 winding —
    here ALL rings wound the same way — must still regroup into the right
    MultiPolygon members on export, because readers normalize winding
    (outer CW, holes CCW) while member structure is still explicit."""
    from giga_spatial_spark.winding import ring_cw
    from giga_spatial_spark.sources.geo_writers import group_rings

    outer1 = [[0.0, 0.0], [10.0, 0.0], [10.0, 8.0], [0.0, 8.0]]  # CCW
    hole1 = [[2.0, 2.0], [4.0, 2.0], [4.0, 4.0], [2.0, 4.0]]  # CCW (violates)
    outer2 = [[20.0, 20.0], [24.0, 20.0], [22.0, 23.0]]  # CCW
    feat = {
        "type": "Feature",
        "geometry": {
            "type": "MultiPolygon",
            "coordinates": [
                [
                    [[*v] for v in outer1 + outer1[:1]],
                    [[*v] for v in hole1 + hole1[:1]],
                ],
                [[[*v] for v in outer2 + outer2[:1]]],
            ],
        },
        "properties": {"zone_id": "1"},
    }
    src = tmp_path / "mixed.geojson"
    src.write_text(json.dumps({"type": "FeatureCollection", "features": [feat]}))
    rows = read_dataset(spark, str(src)).collect()
    assert len(rows) == 1
    rings = rows[0]["rings"]
    # normalized: outers CW, hole CCW regardless of source winding
    assert ring_cw(rings[0]) and not ring_cw(rings[1]) and ring_cw(rings[2])
    members = group_rings(rings)
    assert [len(m) for m in members] == [2, 1]
    # and the full write→read cycle through gpkg preserves member structure
    df = read_dataset(spark, str(src))
    out = str(tmp_path / "mixed.gpkg")
    write_gpkg(df, out)
    back = read_dataset(spark, out).collect()
    assert len(back) == 1 and back[0]["geom_type"] == "MultiPolygon"
    m2 = group_rings(back[0]["rings"])
    assert [len(m) for m in m2] == [2, 1]
    assert canon_ring(m2[0][1]) == canon_ring(hole1)


def test_fgb_parent_nodes_carry_child_byte_offsets(tmp_path):
    """Advisor r3: interior packed-R-tree nodes must store the byte offset
    of their first child node within the index block (FlatGeobuf spec), so
    external tree-traversing readers can descend."""
    from giga_spatial_spark.sources.fgb import (
        MAGIC, _index_size, read_fgb_meta, write_fgb,
    )

    n, node_size = 20, 4
    feats = [
        (
            "Point",
            [[[float(i), float(i) / 2.0]]],
            {"zone_id": str(i)},
        )
        for i in range(n)
    ]
    path = str(tmp_path / "idx.fgb")
    write_fgb(feats, path, index_node_size=node_size)
    meta = read_fgb_meta(path)
    assert len(meta.feature_offsets) == n
    buf = open(path, "rb").read()
    # locate the index block: after magic + size-prefixed header
    (hsize,) = struct.unpack_from("<I", buf, 8)
    idx_start = 8 + 4 + hsize
    idx_bytes = _index_size(n, node_size)
    # levels top-down: 2 (root=ceil(5/4)... root 2? compute), derive sizes
    sizes = []
    m = n
    while True:
        sizes.insert(0, m)
        if m == 1:
            break
        m = (m + node_size - 1) // node_size
    # walk every interior node and check its offset points at its first
    # child node's byte position within the index block
    starts = []
    acc = 0
    for s in sizes:
        starts.append(acc)
        acc += s
    assert acc * 40 == idx_bytes
    for li in range(len(sizes) - 1):  # all interior levels
        for p in range(sizes[li]):
            node_off = idx_start + (starts[li] + p) * 40
            (child,) = struct.unpack_from("<Q", buf, node_off + 32)
            expected = (starts[li + 1] + p * node_size) * 40
            assert child == expected, (li, p, child, expected)
    # leaf offsets must still point into the feature section (reader works)
    first_leaf_off = struct.unpack_from(
        "<Q", buf, idx_start + starts[-1] * 40 + 32
    )[0]
    assert first_leaf_off == 0  # relative to feature-section start


def test_zipped_shapefile_partial_extract_recovers(spark, admin_shp, tmp_path):
    """Advisor r3: a crash that left a partial extraction dir (only .shp,
    sidecars missing) must NOT be reused — the atomic re-extract restores
    the sidecars so attributes survive."""
    import getpass
    import hashlib
    import shutil

    d = os.path.dirname(admin_shp)
    zpath = str(tmp_path / "admin.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for f in os.listdir(d):
            if f.startswith("admin."):
                z.write(os.path.join(d, f), arcname=f)
    h = hashlib.sha256()
    with open(zpath, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    dest = f"/tmp/spark_graft_zipshp_{getpass.getuser()}/{h.hexdigest()[:16]}"
    shutil.rmtree(dest, ignore_errors=True)
    # simulate the crashed extractor: dir exists with ONLY the .shp member
    os.makedirs(dest, exist_ok=True)
    with zipfile.ZipFile(zpath) as z:
        z.extract("admin.shp", dest)
    assert not os.path.exists(os.path.join(dest, "admin.dbf"))
    rows = read_dataset(spark, zpath).collect()
    assert os.path.exists(os.path.join(dest, "admin.dbf"))  # re-extracted
    assert len(rows) == len(POLYS)
    assert {r["properties"]["zone_id"] for r in rows} == {
        str(z) for z in POLYS
    }
    shutil.rmtree(dest, ignore_errors=True)


def test_gpkg_missing_geometry_columns_entry_raises_clearly(spark, tmp_path):
    import sqlite3

    path = str(tmp_path / "broken.gpkg")
    con = sqlite3.connect(path)
    con.executescript(
        """
        CREATE TABLE gpkg_contents (
            table_name TEXT, data_type TEXT, identifier TEXT);
        CREATE TABLE gpkg_geometry_columns (
            table_name TEXT, column_name TEXT);
        CREATE TABLE feats (fid INTEGER PRIMARY KEY, geom BLOB, name TEXT);
        INSERT INTO gpkg_contents VALUES ('feats', 'features', 'feats');
        """
    )
    con.commit()
    con.close()
    with pytest.raises(ValueError, match="gpkg_geometry_columns"):
        read_gpkg(spark, path)
