"""GeoJSON interchange for the flat-coordinate geometry model.

Export renders the engine's geometry struct (layout, flat coords, ring
``ends``, per-polygon ring counts ``rings``) as RFC 7946 geometry /
Feature objects; import parses GeoJSON back into the same struct.
Shapefile ring semantics carry over the way every converter does it:
each polygon's first ring is the outer boundary and the rest are holes,
so a shapefile MULTIPOLYGON maps 1:1 onto GeoJSON ``MultiPolygon``
coordinate nesting (rings are closed point lists in both models — no
re-closing needed).

Float formatting uses Python's shortest round-trip repr, so an
export→import round trip reproduces every coordinate bit-exactly
(tested against the full ne_110m corpus).  JSON formatting is a
serialization boundary like the image codecs, so the DataFrame
operators run Arrow-batched ``mapInArrow``; this is not a hot
analytic path.

Reference parity: the reference exposes geometry as go-geom objects
that callers marshal (shp.go:196-208); GeoJSON is the interchange
format those callers most commonly marshal to.
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import DataFrame

from ..operators import local
from ..sources import shapefile_core as core


def _pts(coords, start: int, end: int, stride: int) -> list:
    return [[float(v) for v in coords[i:i + stride]]
            for i in range(start, end, stride)]


def geometry_to_geojson(shape_type: int, layout: str, coords,
                        ends, rings) -> dict | None:
    """One geometry struct → a GeoJSON geometry object (as a dict).

    XY layouts only: RFC 7946 allows an optional third (elevation)
    position but forbids M, and the importer targets the XY shapefile
    struct — so Z/M layouts are rejected loudly rather than exported as
    something the round trip cannot represent.  Null shapes map to a
    ``null`` geometry (RFC 7946 §3.2)."""
    if shape_type == core.SHAPE_TYPE_NULL:
        return None
    if (layout or "XY") != "XY":
        raise ValueError(
            f"GeoJSON interchange is XY-only (got layout {layout!r}); "
            f"RFC 7946 has no M position")
    stride = 2
    coords = np.asarray(coords, dtype=np.float64)
    if shape_type in core.POINT_TYPES:
        return {"type": "Point", "coordinates": [float(v) for v in coords]}
    if shape_type in core.MULTIPOINT_TYPES:
        return {"type": "MultiPoint",
                "coordinates": _pts(coords, 0, len(coords), stride)}
    if shape_type in core.POLYLINE_TYPES:
        lines, prev = [], 0
        for end in ends:
            lines.append(_pts(coords, prev, int(end), stride))
            prev = int(end)
        return {"type": "MultiLineString", "coordinates": lines}
    if shape_type in core.POLYGON_TYPES:
        polys, prev, ei = [], 0, 0
        for n_rings in rings:
            poly = []
            for _ in range(int(n_rings)):
                end = int(ends[ei])
                poly.append(_pts(coords, prev, end, stride))
                prev, ei = end, ei + 1
            polys.append(poly)
        return {"type": "MultiPolygon", "coordinates": polys}
    raise ValueError(f"unsupported shape type {shape_type}")


def _xy(p) -> tuple[float, float]:
    if len(p) != 2:
        raise ValueError(
            f"only 2-arity coordinates supported (got {len(p)} values); "
            f"elevation-bearing GeoJSON has no shapefile XY mapping here")
    return float(p[0]), float(p[1])


def geojson_to_geometry(obj: dict | None) -> tuple[int, str, list, list,
                                                   list]:
    """GeoJSON geometry dict (or ``null``) → (shape_type, layout,
    coords, ends, rings).  Strictly 2-arity positions — a 3-arity
    (elevation) coordinate anywhere raises rather than silently
    corrupting the flat-coordinate offsets."""
    if obj is None:                         # RFC 7946 §3.2: null geometry
        return core.SHAPE_TYPE_NULL, "XY", [], [], []
    t = obj.get("type")
    cs = obj.get("coordinates")
    if t == "Point":
        return core.SHAPE_TYPE_POINT, "XY", list(_xy(cs)), [], []
    if t == "MultiPoint":
        flat = [v for p in cs for v in _xy(p)]
        return core.SHAPE_TYPE_MULTIPOINT, "XY", flat, [], []
    if t in ("LineString", "MultiLineString"):
        lines = [cs] if t == "LineString" else cs
        flat, ends, pos = [], [], 0
        for line in lines:
            for p in line:
                flat.extend(_xy(p))
                pos += 2
            ends.append(pos)
        return core.SHAPE_TYPE_POLYLINE, "XY", flat, ends, []
    if t in ("Polygon", "MultiPolygon"):
        polys = [cs] if t == "Polygon" else cs
        flat, ends, rings, pos = [], [], [], 0
        for poly in polys:
            rings.append(len(poly))
            for ring in poly:
                for p in ring:
                    flat.extend(_xy(p))
                    pos += 2
                ends.append(pos)
        return core.SHAPE_TYPE_POLYGON, "XY", flat, ends, rings
    raise ValueError(f"unsupported GeoJSON geometry type {t!r}")


def features_to_geojson(df: DataFrame, id_col: str = "fid",
                        props: list[str] | None = None) -> DataFrame:
    """features DataFrame → (fid, geojson) with one RFC 7946 Feature
    string per row.  ``props`` selects attribute columns to embed as
    Feature properties."""
    props = props or []
    cols = [id_col, "shape_type", "geometry"] + props
    id_type = df.schema[id_col].dataType.simpleString()

    def run(batches):
        for rb in batches:
            docs = []
            for fid, st, g, *vals in zip(
                    *(local.values(rb.column(c)) for c in cols)):
                if g is None or st is None:
                    geom = None          # null shape → null geometry
                else:
                    geom = geometry_to_geojson(
                        st, g["layout"], g["coords"], g["ends"], g["rings"])
                feat = {"type": "Feature",
                        "id": fid,
                        "geometry": geom,
                        "properties": dict(zip(props, vals))}
                docs.append(json.dumps(feat, separators=(",", ":")))
            yield {id_col: rb.column(id_col), "geojson": docs}

    return local.map_arrow(df.select(*cols), run,
                           f"{id_col} {id_type}, geojson string")


def features_to_geojson_jvm(df: DataFrame, id_col: str = "fid",
                            props: list[str] | None = None) -> DataFrame:
    """JVM fast path of :func:`features_to_geojson` for XY polygon
    corpora (VERDICT r4 #6): the nested ``coordinates`` arrays are
    rebuilt with higher-order functions over the flat geometry struct
    and serialized by ``to_json`` — no Python worker, no per-row
    ``json.dumps`` loop, so a millions-of-features export scales with
    executors instead of a Python hot loop.

    Output contract: byte-identical to the Python path for ASCII
    property values and coordinates in Java/Python's shared
    shortest-round-trip range (the full ne_110m corpus is byte-equal —
    parity-tested); outside that, differences are pure serialization
    variants the round trip absorbs — Jackson writes raw UTF-8 where
    ``json.dumps`` writes ``\\uXXXX`` escapes, and the scientific-
    notation thresholds differ (``1.0E-4`` vs ``0.0001``) — both parse
    to identical values (RFC 7946 mandates neither choice).

    Polygon/null shapes only (the shapefile corpus shape this engine
    exports at scale); any other shape type or a non-XY layout raises
    at execution, mirroring the Python path's ValueError."""
    from pyspark.sql import functions as F

    props = props or []
    poly_types = ", ".join(str(t) for t in sorted(core.POLYGON_TYPES))
    roffs = ("aggregate(geometry.rings, array(0), "
             "(a, x) -> array_append(a, element_at(a, -1) + x))")
    ring_start = "IF(ri = 1, 0, element_at(geometry.ends, ri - 1))"
    # zip_with over the offset array's (start, end) pairs keeps the
    # prefix-sum aggregate to two evaluations per FEATURE (linear) —
    # referencing it inside the per-polygon lambda would recompute it
    # per polygon index (interpreted HOFs have no CSE; CLAUDE.md).
    # The IF guards cover degenerate inputs the Python path accepts:
    # rings=[...,0,...] (empty polygon) and zero-length rings —
    # sequence(a, b) with a > b counts DOWN in Spark, and a negative
    # span with step 2 throws, so both must short-circuit to array().
    coords = f"""
      zip_with(
        slice({roffs}, 1, size(geometry.rings)),
        slice({roffs}, 2, size(geometry.rings)),
        (rs, re) -> IF(re < rs + 1, array(),
          transform(sequence(rs + 1, re), ri ->
            IF(element_at(geometry.ends, ri) - 2 < {ring_start}, array(),
              transform(sequence({ring_start},
                                 element_at(geometry.ends, ri) - 2, 2), j ->
                array(geometry.coords[j], geometry.coords[j + 1]))))))"""
    geom_json = f"""
      CASE
        WHEN geometry IS NULL OR shape_type = {core.SHAPE_TYPE_NULL}
          THEN 'null'
        WHEN shape_type NOT IN ({poly_types})
          THEN raise_error(concat('features_to_geojson_jvm supports ',
                                  'polygon/null shapes only (got type ',
                                  CAST(shape_type AS STRING), ')'))
        WHEN geometry.layout IS NOT NULL AND geometry.layout <> 'XY'
          THEN raise_error(concat('GeoJSON interchange is XY-only ',
                                  '(got layout ', geometry.layout, ')'))
        ELSE to_json(named_struct('type', 'MultiPolygon',
                                  'coordinates', {coords}))
      END"""
    id_type = df.schema[id_col].dataType.simpleString()
    if id_type == "string":
        # JSON string escaping via to_json: ["v"] → trim the brackets
        id_json = (f"substring(to_json(array({id_col})), 2, "
                   f"length(to_json(array({id_col}))) - 2)")
    else:
        id_json = f"CAST({id_col} AS STRING)"
    if props:
        fields = ", ".join(f"'{p}', {p}" for p in props)
        props_json = (f"to_json(named_struct({fields}), "
                      f"map('ignoreNullFields', 'false'))")
    else:
        props_json = "'{}'"
    feature = (f"concat('{{\"type\":\"Feature\",\"id\":', {id_json}, "
               f"',\"geometry\":', {geom_json}, "
               f"',\"properties\":', {props_json}, '}}')")
    return df.select(F.col(id_col), F.expr(feature).alias("geojson"))


def geojson_to_features(df: DataFrame, json_col: str = "geojson",
                        id_col: str = "fid") -> DataFrame:
    """(fid, geojson) → features-shaped rows (fid, shape_type, geometry)."""
    id_type = df.schema[id_col].dataType.simpleString()

    def run(batches):
        for rb in batches:
            parsed = [geojson_to_geometry(json.loads(doc)["geometry"])
                      for doc in rb.column(json_col).to_pylist()]
            yield {id_col: rb.column(id_col),
                   "shape_type": [p[0] for p in parsed],
                   "geometry": [dict(zip(("layout", "coords", "ends", "rings"),
                                         p[1:])) for p in parsed]}

    return local.map_arrow(
        df, run, f"{id_col} {id_type}, shape_type int, geometry "
                 "struct<layout:string,coords:array<double>,"
                 "ends:array<int>,rings:array<int>>")
