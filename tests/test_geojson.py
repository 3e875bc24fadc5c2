"""GeoJSON interchange: bit-exact roundtrip, nesting semantics, rejection."""

import json
import os

import numpy as np
import pytest

from go_shapefile_spark.functions.geojson import (
    features_to_geojson, geojson_to_features, geojson_to_geometry,
    geometry_to_geojson,
)
from go_shapefile_spark.sources import shapefile_core as core
from go_shapefile_spark.sources.shapefile import read_shapefile_df


def test_polygon_nesting_with_hole():
    """A polygon with a hole maps to MultiPolygon [[outer, hole]] — the
    hole stays attached to ITS polygon, not promoted to a sibling."""
    outer = [0.0, 0.0, 0.0, 10.0, 10.0, 10.0, 10.0, 0.0, 0.0, 0.0]
    hole = [2.0, 2.0, 4.0, 2.0, 4.0, 4.0, 2.0, 4.0, 2.0, 2.0]
    g = geometry_to_geojson(core.SHAPE_TYPE_POLYGON, "XY", outer + hole,
                            ends=[10, 20], rings=[2])
    assert g["type"] == "MultiPolygon"
    assert len(g["coordinates"]) == 1          # one polygon
    assert len(g["coordinates"][0]) == 2       # outer + hole
    assert g["coordinates"][0][0][0] == [0.0, 0.0]
    assert g["coordinates"][0][1][0] == [2.0, 2.0]
    st, layout, coords, ends, rings = geojson_to_geometry(g)
    assert (st, layout) == (core.SHAPE_TYPE_POLYGON, "XY")
    assert coords == outer + hole and ends == [10, 20] and rings == [2]


def test_point_line_multipoint_roundtrip():
    cases = [
        (core.SHAPE_TYPE_POINT, [3.5, -7.25], [], []),
        (core.SHAPE_TYPE_MULTIPOINT, [1.0, 2.0, 3.0, 4.0], [], []),
        (core.SHAPE_TYPE_POLYLINE, [0.0, 0.0, 1.0, 1.0, 5.0, 5.0, 6.0, 7.0],
         [4, 8], []),
    ]
    for st, coords, ends, rings in cases:
        g = geometry_to_geojson(st, "XY", coords, ends, rings)
        st2, _, c2, e2, r2 = geojson_to_geometry(g)
        assert (st2, c2, e2, r2) == (st, coords, ends, rings)


def test_geojson_rejects_unsupported():
    with pytest.raises(ValueError):
        geojson_to_geometry({"type": "GeometryCollection", "geometries": []})
    with pytest.raises(ValueError):
        geojson_to_geometry({"type": "Point",
                             "coordinates": [1.0, 2.0, 3.0]})
    with pytest.raises(ValueError):
        geometry_to_geojson(core.SHAPE_TYPE_MULTIPATCH, "XY", [], [], [])


def test_countries_roundtrip_bit_exact(spark, ref_testdata):
    """Full ne_110m corpus: export → parse → every coordinate, ring end,
    and polygon grouping identical; Feature properties carried."""
    feats = read_shapefile_df(
        spark, os.path.join(ref_testdata, "110m-admin-0-countries.zip"))
    gj = features_to_geojson(feats, props=["NAME"])
    sample = json.loads(gj.first().geojson)
    assert sample["type"] == "Feature" and "NAME" in sample["properties"]
    back = {r.fid: r for r in geojson_to_features(gj).collect()}
    orig = {r.fid: r for r in feats.select("fid", "geometry").collect()}
    assert set(back) == set(orig) and len(back) == 177
    for fid, o in orig.items():
        b = back[fid]
        assert list(o.geometry.coords) == list(b.geometry.coords)
        assert list(o.geometry.ends) == list(b.geometry.ends)
        assert list(o.geometry.rings) == list(b.geometry.rings)


def test_geojson_null_geometry_and_arity_contracts():
    """RFC 7946 corner cases: null geometry round-trips as the NULL
    shape; 3-arity (elevation) coordinates are rejected everywhere, not
    silently flattened; Z/M layouts refuse to export."""
    st, layout, coords, ends, rings = geojson_to_geometry(None)
    assert st == core.SHAPE_TYPE_NULL and coords == []
    assert geometry_to_geojson(core.SHAPE_TYPE_NULL, "XY", [], [], []) is None
    for bad in [
        {"type": "LineString", "coordinates": [[0, 0, 5], [1, 1, 5]]},
        {"type": "MultiPoint", "coordinates": [[0, 0, 5]]},
        {"type": "Polygon",
         "coordinates": [[[0, 0, 1], [1, 0, 1], [0, 1, 1], [0, 0, 1]]]},
    ]:
        with pytest.raises(ValueError, match="2-arity"):
            geojson_to_geometry(bad)
    with pytest.raises(ValueError, match="XY-only"):
        geometry_to_geojson(core.SHAPE_TYPE_POINT_Z, "XYZM",
                            [1.0, 2.0, 3.0, 4.0], [], [])


def test_features_to_geojson_null_rows(spark):
    """A corpus containing a null shape exports a null-geometry Feature
    and survives the round trip."""
    import pandas as pd

    pdf = pd.DataFrame({
        "fid": [1, 2],
        "shape_type": [core.SHAPE_TYPE_POINT, None],
        "geometry": [{"layout": "XY", "coords": [3.0, 4.0],
                      "ends": [], "rings": []}, None],
    })
    df = spark.createDataFrame(
        pdf, schema="fid long, shape_type int, geometry struct<"
                    "layout:string,coords:array<double>,ends:array<int>,"
                    "rings:array<int>>")
    gj = {r.fid: r.geojson for r in features_to_geojson(df).collect()}
    assert json.loads(gj[2])["geometry"] is None
    back = {r.fid: r for r in
            geojson_to_features(
                features_to_geojson(df)).collect()}
    assert back[1].geometry.coords == [3.0, 4.0]
    assert back[2].shape_type == core.SHAPE_TYPE_NULL


def test_jvm_export_byte_equal_on_countries(spark, ref_testdata):
    """The JVM fast path must be BYTE-identical to the Python exporter
    on the full ne_110m corpus (no props — ASCII-only content)."""
    from go_shapefile_spark.functions.geojson import features_to_geojson_jvm
    from go_shapefile_spark.plans.audit import PYTHON_NODES, executed_plan

    df = read_shapefile_df(
        spark, os.path.join(ref_testdata, "110m-admin-0-countries.zip"))
    py = {r.fid: r.geojson for r in features_to_geojson(df).collect()}
    jvm = {r.fid: r.geojson for r in features_to_geojson_jvm(df).collect()}
    assert jvm == py and len(jvm) == 177
    # and the plan carries no Python worker nodes beyond the shapefile
    # scan's own
    plan = executed_plan(features_to_geojson_jvm(df))
    assert sum(plan.count(m) for m in PYTHON_NODES) \
        == sum(executed_plan(df).count(m) for m in PYTHON_NODES), plan


def test_jvm_export_props_and_unicode_parse_equal(spark, ref_testdata):
    """With properties (ne_110m has non-ASCII names), the outputs are
    serialization variants: json.dumps \\u-escapes, Jackson emits raw
    UTF-8 — both must PARSE to identical features."""
    from go_shapefile_spark.functions.geojson import features_to_geojson_jvm

    df = read_shapefile_df(
        spark, os.path.join(ref_testdata, "110m-admin-0-countries.zip"))
    py = {r.fid: json.loads(r.geojson) for r in
          features_to_geojson(df, props=["NAME", "POP_EST"]).collect()}
    jvm = {r.fid: json.loads(r.geojson) for r in
           features_to_geojson_jvm(df, props=["NAME", "POP_EST"]).collect()}
    assert jvm == py and len(jvm) == 177


def test_jvm_export_null_geometry_and_string_id(spark):
    from go_shapefile_spark.functions.geojson import features_to_geojson_jvm

    rows = [("a\"b", core.SHAPE_TYPE_NULL, None),
            ("c", core.SHAPE_TYPE_POLYGON,
             {"layout": "XY",
              "coords": [0.0, 0.0, 0.0, 1.0, 1.0, 1.0, 0.0, 0.0],
              "ends": [8], "rings": [1]})]
    df = spark.createDataFrame(
        rows, "fid string, shape_type int, geometry "
              "struct<layout:string,coords:array<double>,"
              "ends:array<int>,rings:array<int>>")
    got = {r.fid: r.geojson for r in
           features_to_geojson_jvm(df, id_col="fid").collect()}
    a = json.loads(got['a"b'])
    assert a["id"] == 'a"b' and a["geometry"] is None
    c = json.loads(got["c"])
    assert c["geometry"]["type"] == "MultiPolygon"
    assert c["geometry"]["coordinates"] == [[[[0.0, 0.0], [0.0, 1.0],
                                              [1.0, 1.0], [0.0, 0.0]]]]


def test_jvm_export_rejects_non_polygon(spark):
    from go_shapefile_spark.functions.geojson import features_to_geojson_jvm

    df = spark.createDataFrame(
        [(1, core.SHAPE_TYPE_POINT,
          {"layout": "XY", "coords": [1.0, 2.0], "ends": [], "rings": []})],
        "fid long, shape_type int, geometry "
        "struct<layout:string,coords:array<double>,"
        "ends:array<int>,rings:array<int>>")
    with pytest.raises(Exception, match="polygon/null"):
        features_to_geojson_jvm(df).collect()


def test_jvm_export_degenerate_polygons_match_python(spark):
    """r5 review: rings=[] (empty MultiPolygon), rings=[0] (polygon with
    zero rings), and zero-length rings must serialize like the Python
    path instead of throwing from descending/negative sequence()."""
    from go_shapefile_spark.functions.geojson import features_to_geojson_jvm

    rows = [
        (1, core.SHAPE_TYPE_POLYGON,
         {"layout": "XY", "coords": [], "ends": [], "rings": []}),
        (2, core.SHAPE_TYPE_POLYGON,
         {"layout": "XY", "coords": [], "ends": [], "rings": [0]}),
        (3, core.SHAPE_TYPE_POLYGON,
         {"layout": "XY",
          "coords": [0.0, 0.0, 0.0, 1.0, 1.0, 1.0, 0.0, 0.0],
          "ends": [8], "rings": [1]}),
    ]
    schema = ("fid long, shape_type int, geometry "
              "struct<layout:string,coords:array<double>,"
              "ends:array<int>,rings:array<int>>")
    df = spark.createDataFrame(rows, schema)
    py = {r.fid: json.loads(r.geojson)
          for r in features_to_geojson(df).collect()}
    jvm = {r.fid: json.loads(r.geojson)
           for r in features_to_geojson_jvm(df).collect()}
    assert jvm == py
    assert jvm[1]["geometry"]["coordinates"] == []
    assert jvm[2]["geometry"]["coordinates"] == [[]]
