"""The one split emitter (``sources.shapefile.read_split``) on hand-packed
files: every record the kernels decline reads back as the core parser
returns it, a NaN ordinate stays NaN through every read, and a read
schema selects columns by name."""

import math
import os
import shutil
import struct
import zipfile

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql.datasource import GreaterThan
from pyspark.sql.pandas.types import to_arrow_schema

from go_shapefile_spark.sources import shapefile_core as core
from go_shapefile_spark.sources.shapefile import (
    features_schema, flat_points_schema, plan_shapefile, read_shapefile_df,
    read_split, split_bounds)
from go_shapefile_spark.sources.shapefile_writer import (
    _shx_header, write_dbf, write_points, write_polygons, write_polylines)

_FIELDS = [("NAME", "C", 8), ("VAL", "N", 10, 2), ("CNT", "N", 5)]


def _body(shape_type: int, xy, parts=None, z=None, m=None) -> bytes:
    """One record body: Point types carry bare ordinates, the others a
    bbox, optional parts, points and the Z/M blocks (shp.go:66-217)."""
    xy = np.asarray(xy, dtype=np.float64)
    if shape_type in core.POINT_TYPES:
        ords = list(xy) + ([] if z is None else list(z)) + \
            ([] if m is None else list(m))
        return struct.pack(f"<I{len(ords)}d", shape_type, *ords)
    x, y = xy[0::2], xy[1::2]
    out = struct.pack("<I4d", shape_type, x.min(), y.min(), x.max(), y.max())
    if parts is not None:
        out += struct.pack("<I", len(parts))
    out += struct.pack("<I", len(x))
    if parts is not None:
        out += np.asarray(parts, dtype="<u4").tobytes()
    out += xy.astype("<f8").tobytes()
    for block in (z, m):
        if block is not None:
            b = np.asarray(block, dtype=np.float64)
            out += struct.pack("<2d", b.min(), b.max()) + b.astype("<f8").tobytes()
    return out


def _write(base: str, shape_type: int, bodies: list[bytes],
           rows: list[list], deleted: set[int]) -> None:
    """``.shp``/``.shx`` from record bodies, and a ``.dbf`` whose rows in
    ``deleted`` carry the deleted flag."""
    recs, index, pos = [], [], 100
    for i, body in enumerate(bodies):
        recs.append(struct.pack(">II", i + 1, len(body) // 2) + body)
        index.append(struct.pack(">II", pos // 2, len(body) // 2))
        pos += 8 + len(body)
    bbox = (-10.0, -10.0, 10.0, 10.0)
    payload = b"".join(recs)
    with open(base + ".shp", "wb") as f:
        f.write(_shx_header(shape_type, 100 + len(payload), bbox) + payload)
    shx = b"".join(index)
    with open(base + ".shx", "wb") as f:
        f.write(_shx_header(shape_type, 100 + len(shx), bbox) + shx)
    write_dbf(base + ".dbf", _FIELDS, rows)
    raw = bytearray(open(base + ".dbf", "rb").read())
    header_size, record_size = struct.unpack_from("<HH", raw, 8)
    for i in deleted:
        raw[header_size + i * record_size] = ord("*")
    with open(base + ".dbf", "wb") as f:
        f.write(raw)


_NULL = struct.pack("<I", 0)
_SQ = [0, 0, 0, 4, 4, 4, 4, 0, 0, 0]                   # clockwise outer
_HOLE = [1, 1, 3, 1, 3, 3, 1, 3, 1, 1]                 # counter-clockwise
_SQ2 = [6, 0, 6, 2, 8, 2, 8, 0, 6, 0]

_CASES = {
    "pointm": (core.SHAPE_TYPE_POINT_M, [
        _body(21, [1.5, 2.5], m=[7.0]), _NULL,
        _body(21, [-3.0, 4.0], m=[-1.0]), _body(21, [0.0, 0.0], m=[0.5])]),
    "pointz": (core.SHAPE_TYPE_POINT_Z, [
        _body(11, [1.0, 2.0], z=[3.0], m=[4.0]),
        _body(11, [-1.0, -2.0], z=[-3.0], m=[-4.0]), _NULL,
        _body(11, [5.0, 6.0], z=[7.0], m=[8.0])]),
    "multipoint": (core.SHAPE_TYPE_MULTIPOINT, [
        _body(8, [0, 0, 1, 1, 2, 0]), _NULL, _body(8, [5, 5]),
        _body(8, [-1, 3, 4, -2])]),
    "polylinez": (core.SHAPE_TYPE_POLYLINE_Z, [
        _body(13, [0, 0, 1, 1, 2, 0, 3, 3], parts=[0, 2],
              z=[1, 2, 3, 4], m=[0, 0, 1, 1]),
        _NULL,
        _body(13, [5, 5, 6, 7], parts=[0], z=[9, 8], m=[2, 3]),
        _body(13, [-1, -1, -2, -3, -4, 0], parts=[0], z=[0, 0, 0],
              m=[5, 6, 7])]),
    "polygonm": (core.SHAPE_TYPE_POLYGON_M, [
        _body(25, _SQ + _HOLE, parts=[0, 5], m=list(range(10))),
        _body(25, _SQ + _SQ2, parts=[0, 5], m=[1.0] * 10),
        _NULL,
        _body(25, _SQ2, parts=[0], m=[2, 2, 3, 3, 2])]),
}
_ROWS = [["a", 1.25, 3], ["b", None, 7], ["c", -2.5, None], ["d", 9.0, 1]]
_DELETED = {1}
# position of each record-bounds ordinate, (mins..., maxs...), in the
# bbox struct (xmin ymin xmax ymax zmin zmax mmin mmax)
_BBOX_NAMES = ["xmin", "ymin", "xmax", "ymax", "zmin", "zmax", "mmin", "mmax"]
_BOUNDS_AT = {"XY": [0, 1, 2, 3], "XYM": [0, 1, 6, 2, 3, 7],
              "XYZM": [0, 1, 4, 6, 2, 3, 5, 7]}


def _expected_bbox(rec: core.SHPRecord) -> dict:
    box = dict.fromkeys(_BBOX_NAMES)
    if rec.layout is None:
        return box
    bounds = rec.bounds if rec.bounds is not None else \
        tuple(rec.coords.tolist()) * 2       # a point's degenerate bbox
    for v, at in zip(bounds, _BOUNDS_AT[rec.layout]):
        box[_BBOX_NAMES[at]] = v
    return box


def _expected_rows(base: str) -> list[dict]:
    ref = core.read_shapefile(base)
    rows = []
    for i, rec in enumerate(ref.shp.records):
        attrs = ref.dbf.records[i]
        row = {"fid": i + 1, "deleted": attrs is None}
        row.update(zip([f[0] for f in _FIELDS], attrs or [None] * 3))
        row["shape_type"] = rec.shape_type
        row["geometry"] = {"layout": rec.layout,
                           "coords": rec.coords.tolist(),
                           "ends": [int(e) for e in rec.ends],
                           "rings": [len(e) for e in rec.endss]}
        row["bbox"] = _expected_bbox(rec)
        rows.append(row)
    return rows


def _forms(base: str, tmp_path) -> dict[str, str]:
    """The SHX basename, a copy without ``.shx`` and a zip bundle."""
    name = os.path.basename(base)
    bare = str(tmp_path / f"{name}_noshx")
    for ext in ("shp", "dbf"):
        shutil.copy(f"{base}.{ext}", f"{bare}.{ext}")
    zpath = str(tmp_path / f"{name}.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for ext in ("shp", "shx", "dbf"):
            zf.write(f"{base}.{ext}", f"{name}.{ext}")
    return {"shx": base, "noshx": bare, "zip": zpath}


def _read_rows(path: str, attr_filters=()) -> list[dict]:
    plan = plan_shapefile(path)
    schema = to_arrow_schema(features_schema(plan))
    return [row for a, b in split_bounds(plan, 3)
            for row in read_split(plan, a, b, schema,
                                  attr_filters=attr_filters).to_pylist()]


@pytest.mark.parametrize("name", sorted(_CASES))
def test_parser_records_read_as_core_records(name, tmp_path):
    """Types no kernel takes (PointM, PointZ and MultiPoint, PolyLineZ,
    PolygonM), Null shapes and deleted DBF rows: ``read_split`` rows
    equal the core parser's records field by field, whether the file
    range-reads, has no ``.shx`` or sits in a zip, and with a pushed
    attribute filter (NULL fails it)."""
    shape_type, bodies = _CASES[name]
    base = str(tmp_path / name)
    _write(base, shape_type, bodies, _ROWS, _DELETED)
    exp = _expected_rows(base)
    assert any(r["geometry"]["layout"] is None for r in exp)
    kept = [r for r in exp if r["CNT"] is not None and r["CNT"] > 2]
    assert 0 < len(kept) < len(exp)
    for form, path in _forms(base, tmp_path).items():
        assert _read_rows(path) == exp, form
        assert _read_rows(path, [GreaterThan(("CNT",), 2)]) == kept, form


@pytest.mark.parametrize("name, ords", [("pointm", ["x", "y", "m"]),
                                        ("pointz", ["x", "y", "z", "m"])])
def test_flat_points_from_parser_records(name, ords, tmp_path):
    """Flat ordinates of Point files the point kernel declines (a Null
    shape among the records): the core parser's ordinates, NULL for the
    Null shape, in every form of the file."""
    shape_type, bodies = _CASES[name]
    base = str(tmp_path / name)
    _write(base, shape_type, bodies, _ROWS, _DELETED)
    exp = [dict(zip(ords, r["geometry"]["coords"])) if r["geometry"]["layout"]
           else dict.fromkeys(ords) for r in _expected_rows(base)]
    for form, path in _forms(base, tmp_path).items():
        plan = plan_shapefile(path)
        schema = to_arrow_schema(flat_points_schema(plan))
        got = [{c: row[c] for c in ords} for a, b in split_bounds(plan, 3)
               for row in read_split(plan, a, b, schema, flat=True).to_pylist()]
        assert got == exp, form


@pytest.fixture(scope="module")
def ds_spark(spark):
    from go_shapefile_spark.sources.datasource import ShapefileDataSource

    spark.dataSource.register(ShapefileDataSource)
    return spark


@pytest.fixture(scope="module")
def nan_corpus(tmp_path_factory):
    """A polyline whose second x is NaN and a point whose x is NaN, as
    basenames; the polylines also without ``.shx`` and in a zip."""
    d = tmp_path_factory.mktemp("nan")
    fields, rows = [("NAME", "C", 4)], [["a"], ["b"]]
    write_polylines(str(d / "lines"),
                    [{"coords": [0.0, 0.0, math.nan, 1.0, 2.0, 2.0],
                      "ends": [6]},
                     {"coords": [5.0, 5.0, 6.0, 6.0], "ends": [4]}],
                    fields, rows)
    write_points(str(d / "pts"), np.array([math.nan, 1.0]),
                 np.array([0.0, 1.0]), fields, rows)
    _forms(str(d / "lines"), d)
    return d


_NAN_CASES = {                      # case → (file, where, flat)
    "basename": ("lines", None, False),
    "attr_filter": ("lines", "NAME = 'a'", False),
    "zip": ("lines.zip", None, False),
    "no_shx": ("lines_noshx", None, False),
    "points": ("pts", None, False),
    "flat_points": ("pts", None, True),
}


@pytest.mark.parametrize("case", sorted(_NAN_CASES))
def test_nan_ordinate_reads_back_nan(ds_spark, nan_corpus, case):
    """A NaN ordinate is NaN, never NULL, in ``geometry.coords`` and in
    ``bbox`` (or in the flat ``x``) through both front doors, whichever
    decoder reads the record and whether or not an attribute filter is
    pushed."""
    name, where, flat = _NAN_CASES[case]
    path = str(nan_corpus / name)
    fmt = ds_spark.read.format("shapefile").option("path", path)
    if flat:
        fmt = fmt.option("flat_points", "true")
    for df in (fmt.load(), read_shapefile_df(ds_spark, path, flat_points=flat)):
        if where:
            df = df.where(where)
        [row] = [r for r in df.collect() if r.fid == 1]
        if flat:
            assert math.isnan(row.x) and row.y == 0.0
        elif name == "pts":
            assert math.isnan(row.geometry.coords[0])
            assert math.isnan(row.bbox.xmin) and math.isnan(row.bbox.xmax)
        else:
            coords = row.geometry.coords
            assert coords[:2] == [0.0, 0.0] and math.isnan(coords[2])
            assert math.isnan(row.bbox.xmin)


def test_nan_ordinate_renders_wkt(spark, tmp_path):
    """A polygon with a NaN x renders to WKT from its geometry struct
    (the ``shapefile_poly`` gate's digest input) and parses back NaN;
    ±Inf render and parse as Go's strconv spells them."""
    from go_shapefile_spark.functions.wkt import parse_wkt, wkt_from_struct

    base = str(tmp_path / "poly")
    write_polygons(base, [{"coords": [0.0, 0.0, math.nan, 1.0, 1.0, 1.0,
                                      1.0, 0.0, 0.0, 0.0], "ends": [10]}])
    [row] = read_shapefile_df(spark, base).collect()
    g = row.geometry
    text = wkt_from_struct(row.shape_type, g.layout, g.coords, g.ends,
                           g.rings)
    kind, _, polys = parse_wkt(text)
    ring = polys[0][0]
    assert kind == "MULTIPOLYGON" and "NaN" in text
    assert ring[0] == [0.0, 0.0] and math.isnan(ring[1][0])
    assert ring[1][1] == 1.0 and ring[2:] == [[1.0, 1.0], [1.0, 0.0],
                                              [0.0, 0.0]]
    text = wkt_from_struct(1, "XY", [math.inf, -math.inf], [], [])
    assert text == "POINT (+Inf -Inf)"
    assert parse_wkt(text)[2] == [math.inf, -math.inf]


def test_read_schema_selects_columns_by_name(ds_spark, tmp_path):
    """A read schema that prunes and reorders the columns."""
    base = str(tmp_path / "named")
    write_polygons(
        base,
        [{"coords": [i, 0, i, 1, i + 1, 1, i + 1, 0, i, 0], "ends": [10]}
         for i in range(3)],
        fields=[("NAME", "C", 4)], rows=[["a"], ["b"], ["c"]])
    got = (ds_spark.read.format("shapefile").schema("NAME string, fid long")
           .option("path", base).load().collect())
    assert got == [Row(NAME="a", fid=1), Row(NAME="b", fid=2),
                   Row(NAME="c", fid=3)]
